package graft.engine

import java.io.File
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.{SourceGuard, SparkSpec}

/** The one parquet loader: the schema it reads from a footer on the
  * driver is the schema Spark infers, and a load launches no job. */
class TablesLoaderSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("the footer schema equals the inferred schema") {
    val tables = new File(sf).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    assert(tables.size >= Tables.all.size, tables)
    tables.foreach { p =>
      assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema, p)
    }

    // the `_b=` layout arrival staging writes: partition columns are
    // still discovered from the directory names
    val staged = s"${tempDir("loader_part_")}/staged"
    spark.range(12).selectExpr("id", "CAST(id AS STRING) AS s",
      "CAST(id % 3 AS INT) AS _b").write.partitionBy("_b").parquet(staged)
    val partitioned = spark.read.parquet(staged).schema
    assert(partitioned.fieldNames.last == "_b")
    assert(Tables.parquet(spark, staged).schema == partitioned)

    // several paths: Spark reads the first data file by full path, here
    // under `a`, whose schema lacks `b`'s extra column
    val root = tempDir("loader_multi_")
    spark.range(5).selectExpr("id").write.parquet(s"$root/a")
    spark.range(5).selectExpr("id", "id * 2 AS extra").write.parquet(s"$root/b")
    Seq(Seq(s"$root/a", s"$root/b"), Seq(s"$root/b", s"$root/a")).foreach { ps =>
      assert(Tables.loadMulti(spark, ps).schema == spark.read.parquet(ps: _*).schema, ps)
    }
  }

  test("a path with no footer fails with Spark's own error") {
    val missing = s"${tempDir("loader_missing_")}/none.parquet"
    val ours = intercept[Exception](Tables.parquet(spark, missing))
    val spark0 = intercept[Exception](spark.read.parquet(missing))
    assert(ours.getClass == spark0.getClass && ours.getMessage == spark0.getMessage)
  }

  test("a load and its schema launch no Spark job") {
    val sc = spark.sparkContext
    val marker = "graft.test.marker"
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties).flatMap(p => Option(p.getProperty(marker)))
          .getOrElse(s"job ${e.jobId}"))
    }
    sc.addSparkListener(listener)
    try {
      Tables.load(spark, sf, "lineitem").schema
      Tables.load(spark, sf, "events").schema
      // events reach listeners in order: once this marked job is seen,
      // every job the loads started has been seen too
      sc.setLocalProperty(marker, "end")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(marker, null)
      val seen = Iterator.continually(starts.poll(60, TimeUnit.SECONDS))
        .takeWhile(e => e != null && e != "end").toList
      assert(seen.isEmpty, seen)
    } finally sc.removeSparkListener(listener)
  }

  test("the merged read unions the generations' schemas") {
    val s = spark
    import s.implicits._
    val staged = tempDir("loader_merge_")
    Seq((1L, 10L)).toDF("id", "n").write.parquet(s"$staged/gen=0")
    Seq((2L, 20L, "en")).toDF("id", "n", "lang").write.parquet(s"$staged/gen=1")
    val df = Tables.parquetMerged(spark, staged)
    assert(df.columns.toSeq == Seq("id", "n", "lang", "gen"))
    assert(df.orderBy($"id").as[(Long, Long, Option[String], Int)].collect().toSeq ==
      Seq((1L, 10L, None, 0), (2L, 20L, Some("en"), 1)))
  }

  /** The one-loader property cannot erode: parquet is read only here,
    * the schema-merging read included. */
  test("no read.parquet outside engine/Tables") {
    val home = Some("graft/engine/Tables.scala")
    val offenders = SourceGuard.offenders(Seq(
      "read.parquet(" -> home,
      "mergeSchema" -> home))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** Queries call `Tables.load` directly: a per-module one-line copy of
    * the loader is allowed nowhere. */
  test("no private copy of the table loader") {
    val offenders = SourceGuard.offenders(Seq(
      "def t(s: SparkSession, dir: String, name: String)" -> None))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
