package graft.engine

import graft.SparkSpec

/** Pins the [[Tables.fanout]] contract (round-18 optimization): fires
  * only on narrow under-parallel scan pipelines, is a structural no-op
  * everywhere else, and never changes what a frame computes. */
class FanoutSpec extends SparkSpec {

  private def tmpParquet(rows: Int): String = {
    val d = tempDir("fanout_spec_")
    val s = spark
    import s.implicits._
    // coalesce(1): one file, one row group — the under-parallel shape
    // the fixture tables ship in
    (0 until rows).map(i => (i.toLong, s"doc $i word"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(d)
    d
  }

  test("under-parallel narrow scan is repartitioned to default parallelism") {
    val df = spark.read.parquet(tmpParquet(100))
    assert(df.rdd.getNumPartitions == 1)
    val fanned = Tables.fanout(df)
    assert(fanned.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("fanout changes partitioning, never the rows") {
    val s = spark
    import s.implicits._
    val df = spark.read.parquet(tmpParquet(100))
      .filter($"doc_id" % 3 === 0).select($"doc_id", $"text")
    val plain = df.collect().map(_.toSeq).toSet
    val fanned = Tables.fanout(df).collect().map(_.toSeq).toSet
    assert(fanned == plain)
  }

  test("already-shuffled frames pass through untouched") {
    val s = spark
    import s.implicits._
    val agg = spark.read.parquet(tmpParquet(100))
      .groupBy($"doc_id" % 7).count()
    // non-narrow plan: returned as-is (same object), no extra exchange
    assert(Tables.fanout(agg) eq agg)
  }

  test("already-parallel scans pass through untouched") {
    val s = spark
    import s.implicits._
    // a multi-partition in-memory frame at/above default parallelism
    val par = spark.range(0, 100,
      1, spark.sparkContext.defaultParallelism).toDF("id")
    assert(Tables.fanout(par) eq par)
  }

  test("streaming frames pass through untouched") {
    val stream = spark.readStream.format("rate").load()
    assert(Tables.fanout(stream) eq stream)
  }

  test("filters above a fanout still push down to the parquet scan") {
    val s = spark
    import s.implicits._
    val q = Tables.fanout(spark.read.parquet(tmpParquet(100)))
      .filter($"doc_id" > 42)
    val formatted = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the optimizer pushes the predicate below the repartition into the
    // scan — fanout must not cost the read its pushdown
    assert(formatted.contains("PushedFilters: [IsNotNull(doc_id), " +
      "GreaterThan(doc_id,42)]"), formatted)
  }
}
