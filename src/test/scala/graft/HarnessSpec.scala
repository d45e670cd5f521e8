package graft

import java.util.concurrent.TimeoutException

import org.apache.spark.storage.StorageLevel

import graft.streaming.Run

/** The one guarded runner every harness main shares: its watchdog, its
  * error reporting, its between-query reset, and guards that keep
  * session setup, job groups, function registration and stream starts
  * from growing back outside their one home. */
class HarnessSpec extends SparkSpec {

  test("a body that outlives its timeout is cancelled; the next run still runs") {
    val stuck = Harness.runOne(spark, "harness-stuck", timeoutMs = 1000) {
      // a Spark job whose tasks sleep: only the job-group cancel
      // (interruptOnCancel) or the worker interrupt can end it early
      spark.range(0, 2, 1, 2).foreach(_ => Thread.sleep(120000))
    }
    assert(stuck.error.exists(_.isInstanceOf[TimeoutException]), stuck)
    assert(stuck.seconds >= 1.0 && stuck.seconds < 20.0, stuck)
    assert(!stuck.zombie)
    var n = 0L
    val next = Harness.runOne(spark, "harness-next", timeoutMs = 60000) {
      n = spark.range(1000).count()
    }
    assert(next.error.isEmpty, next)
    assert(n == 1000)
  }

  test("a body that throws returns its error") {
    val run = Harness.runOne(spark, "harness-throws", timeoutMs = 60000) {
      throw new IllegalStateException("boom")
    }
    assert(run.error.exists(e =>
      e.isInstanceOf[IllegalStateException] && e.getMessage == "boom"), run)
    assert(!run.zombie)
  }

  test("reset releases cached frames, persisted RDDs and graft_bkt_ tables") {
    val df = spark.range(100).toDF("id").cache()
    df.count()
    val rdd = spark.sparkContext.parallelize(1 to 10).persist()
    rdd.count()
    val table = "graft_bkt_harness_spec"
    spark.range(10).write.mode("overwrite").saveAsTable(table)
    val view = Run.ViewPrefix + "harness_spec"
    spark.range(3).createOrReplaceTempView(view)
    assert(df.storageLevel != StorageLevel.NONE)
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    assert(spark.catalog.tableExists(table))
    assert(spark.catalog.tableExists(view))
    Harness.reset(spark)
    assert(df.storageLevel == StorageLevel.NONE)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    assert(!spark.catalog.tableExists(table))
    assert(!spark.catalog.tableExists(view))
  }

  /** Each duplicated piece has one home: sessions are built only in
    * engine/GraftSession.scala, job groups are set only by Harness, and
    * functions reach sessions only through GraftExtensions. */
  test("no session builder, job group or function registration outside its home") {
    val offenders = SourceGuard.offenders(Seq(
      "createOrReplaceTempFunction" -> None,
      "setJobGroup(" -> Some("graft/Harness.scala"),
      "cancelJobGroup(" -> Some("graft/Harness.scala"),
      "SparkSession.builder()" -> Some("graft/engine/GraftSession.scala")))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** Streams start only in streaming/Run.scala, which owns the
    * checkpoint, the trigger, the state partitions and the provider. */
  test("no stream start, trigger or state-store provider outside streaming/Run") {
    val home = Some("graft/streaming/Run.scala")
    val offenders = SourceGuard.offenders(Seq(
      "writeStream" -> home,
      "Trigger.AvailableNow" -> home,
      "stateStore.providerClass" -> home))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
