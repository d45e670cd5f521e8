package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.{col, explode, sequence, lit}

import graft.SparkSpec
import graft.plans.PlanInspector

/** `SmallSort`: a small global sort runs in one partition, so its input
  * is evaluated once; the cases where the rewrite would cost or the size
  * estimate is not an upper bound are left alone. */
class SmallSortSpec extends SparkSpec {

  private def repartitions(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case r: Repartition => r }.size

  private def lower(df: DataFrame): String =
    PlanInspector.formatted(df).toLowerCase

  test("a typed map under a small sort runs once per row") {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("small_sort_map")
    val df = spark.range(0, 1000).as[Long]
      .map { x => acc.add(1); (x * 7919) % 1000 }
      .toDF("k").orderBy($"k")
    val rows = df.collect().map(_.getLong(0))
    assert(rows.toSeq == (0L until 1000L))
    // the range-bounds sampling job would run the map a second time
    assert(acc.value == 1000L)
    assert(!PlanInspector.executed(df).toLowerCase.contains("rangepartitioning"))
  }

  test("the rewrite is idempotent") {
    import spark.implicits._
    val plan = spark.range(0, 1000).toDF("k").orderBy($"k").queryExecution.optimizedPlan
    assert(plan.collect { case r: Repartition => r }.size == 1)
    assert(SmallSort(plan) eq plan)
  }

  test("a sort under a limit stays a TakeOrderedAndProject") {
    import spark.implicits._
    val df = spark.range(0, 1000).toDF("k").orderBy($"k".desc).limit(5)
    val p = PlanInspector.formatted(df)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SinglePartition"), p)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(999L, 998L, 997L, 996L, 995L))
  }

  test("a large input keeps the range-partitioned sort") {
    import spark.implicits._
    // 8 TB estimated: planned only, never executed (descending, or the
    // optimizer drops a sort the range already satisfies)
    val df = spark.range(0, 1L << 40).toDF("k").orderBy($"k".desc)
    assert(repartitions(df) == 0)
    assert(lower(df).contains("rangepartitioning"))
  }

  test("a sort above explode of a small input is not rewritten") {
    import spark.implicits._
    val df = spark.range(0, 10).toDF("n")
      .select(explode(sequence(lit(0L), col("n"))).as("k"))
      .orderBy($"k")
    assert(repartitions(df) == 0)
    assert(lower(df).contains("rangepartitioning"))
    assert(df.count() == 55L)
  }

  test("a sort above a typed mapPartitions of a small input is not rewritten") {
    import spark.implicits._
    // mapPartitions may emit any number of rows per input row, so the
    // input's size estimate bounds nothing
    val df = spark.range(0, 1000).as[Long]
      .mapPartitions(it => it.map(x => (x * 7919) % 1000))
      .toDF("k").orderBy($"k")
    assert(repartitions(df) == 0)
    assert(lower(df).contains("rangepartitioning"))
    assert(df.collect().map(_.getLong(0)).toSeq == (0L until 1000L))
  }

  test("a sort above a materialized small stage is rewritten at runtime") {
    import spark.implicits._
    // an RDD-backed frame has no size estimate (Long.MaxValue): only the
    // aggregate stage's real output size lets the runtime rule fire
    val rdd = spark.sparkContext.parallelize(0 until 1000).map(i => (i % 10, i))
    val df = rdd.toDF("g", "v").groupBy($"g").count().orderBy($"g")
    assert(repartitions(df) == 0)
    val p = PlanInspector.executed(df).toLowerCase
    val finalPlan = p.substring(0, p.indexOf("== initial plan =="))
    assert(p.contains("rangepartitioning"), p)
    assert(!finalPlan.contains("rangepartitioning"), p)
    assert(finalPlan.contains("singlepartition"), p)
    assert(df.collect().map(_.getInt(0)).toSeq == (0 until 10))
  }

  test("a streaming aggregation's plan gains no Repartition") {
    import spark.implicits._
    val input = MemoryStream[Int](spark)
    input.addData(3, 1, 2, 3, 1)
    val q = input.toDF().groupBy($"value").count().orderBy($"value")
      .writeStream.format("memory").queryName("small_sort_stream")
      .option("checkpointLocation", tempDir("small_sort_ckpt_"))
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      assert(exec.optimizedPlan.collect { case r: Repartition => r }.isEmpty,
        exec.optimizedPlan.treeString)
      assert(spark.table("small_sort_stream").as[(Int, Long)].collect().toSeq ==
        Seq((1, 2L), (2, 1L), (3, 2L)))
    } finally {
      q.stop()
      spark.catalog.dropTempView("small_sort_stream")
    }
  }
}
