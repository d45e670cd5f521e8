package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException,
  StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent,
  QueryStartedEvent, QueryTerminatedEvent}

import graft.SparkSpec
import graft.engine.GraftSession

/** Pins the two claims q168 makes: the RocksDB provider actually backs
  * the state store (progress metrics say so), and results are identical
  * to the default provider — provider choice is config, not semantics.
  * Also pins the posture [[Run]] gives every stream: the checkpoint
  * records 8 state partitions and the chosen provider, and both session
  * confs are back at their earlier values once the run returns, also
  * when the stream fails. */
class StreamingRocksDbSpec extends SparkSpec {

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val PartitionsKey = "spark.sql.shuffle.partitions"
  private val Provider = "org.apache.spark.sql.execution.streaming.state."
  private val RocksDb = Provider + "RocksDBStateStoreProvider"
  private val Default = Provider + "HDFSBackedStateStoreProvider"

  private def confs = Seq(PartitionsKey, ProviderKey).map(spark.conf.getOption)

  private def source(): DataFrame = {
    import spark.implicits._
    val src = graft.engine.TempDir("rocks_src_")
    (1L to 100L).map(i => (i % 7, i)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(src)
    spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
  }

  private def checkpoints: Set[File] =
    new File(GraftSession.scratchRoot).listFiles().filter(_.getName.startsWith("ckpt_")).toSet

  /** A keyed count through [[Run.complete]]: the last progress event's
    * JSON, the rows, and line 2 of the checkpoint's `offsets/0` (the
    * batch metadata with the session confs the stream runs under). */
  private def runCounts(rocksDb: Boolean): (String, Seq[(Long, Long)], String) = {
    import spark.implicits._
    // progress events reach listeners asynchronously; a query's
    // terminated event comes after all of its progress events
    val progress = new ConcurrentHashMap[String, String]
    val terminated = ConcurrentHashMap.newKeySet[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        progress.put(e.progress.id.toString, e.progress.json); ()
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
        terminated.add(e.id.toString); ()
      }
    }
    val (before, earlier) = (confs, checkpoints)
    spark.streams.addListener(listener)
    try {
      val rows = Run.complete(source().groupBy($"k").agg(count(lit(1)).as("n")),
        rocksDb).as[(Long, Long)].collect().sorted.toSeq
      assert(confs == before)
      // the fresh checkpoint the run made under the scratch root
      val ckpt = (checkpoints -- earlier).toList match {
        case List(c) => c.getPath
        case cs => fail(s"expected one new checkpoint, found $cs")
      }
      val id = """"id":"([^"]+)"""".r
        .findFirstMatchIn(Files.readString(Paths.get(ckpt, "metadata")))
        .map(_.group(1)).getOrElse(fail("no query id in the checkpoint"))
      val deadline = System.nanoTime() + 60000000000L
      while (!terminated.contains(id) && System.nanoTime() < deadline)
        Thread.sleep(20)
      val offsets = Files.readAllLines(Paths.get(ckpt, "offsets", "0")).get(1)
      (Option(progress.get(id)).getOrElse(""), rows, offsets)
    } finally spark.streams.removeListener(listener)
  }

  test("RocksDB provider backs the state store and matches default results") {
    val (defaultMetrics, defaultRows, defaultOffsets) = runCounts(rocksDb = false)
    assert(!defaultMetrics.contains("rocksdb"))
    val (metrics, rows, offsets) = runCounts(rocksDb = true)
    // provider is live: RocksDB custom metrics appear in progress
    assert(metrics.contains("rocksdb"), s"no rocksdb metrics in $metrics")
    // semantics unchanged: same counts as the default provider
    assert(rows == defaultRows)
    assert(rows.map(_._2).sum == 100L)
    // Run's posture, as the checkpoint records it
    for ((o, provider) <- Seq(defaultOffsets -> Default, offsets -> RocksDb)) {
      assert(o.contains(s""""$PartitionsKey":"8""""), o)
      assert(o.contains(s""""$ProviderKey":"$provider""""), o)
    }
  }

  test("a foreachBatch body that throws fails the run and restores both confs") {
    val before = confs
    val e = intercept[StreamingQueryException] {
      Run.foreachBatch(source(), OutputMode.Append(), rocksDb = true) { (_, _) =>
        throw new IllegalStateException("sink down")
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "sink down"), e)
    assert(confs == before)
  }
}
