package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

import graft.engine.{Tables, TempDir}

/** The one place a graft stream starts. Every stream runs under one
  * posture:
  *  - a fresh checkpoint under the scratch root, unless the caller
  *    resumes one on purpose (a re-run that must find every file seen);
  *  - `Trigger.AvailableNow`: catch up on every file present, then stop;
  *  - 8 state partitions;
  *  - the default (HDFS-backed) or the RocksDB state store, the one
  *    setting the caller chooses.
  * Both session confs are restored when the stream ends, failed or not,
  * so batch queries in the same session keep the session default. The
  * four sink forms return what the caller reads back: a parquet
  * directory, a complete-mode memory table, or nothing (`foreachBatch`,
  * `noop`). */
object Run {

  /** State partition count. The session default (shuffle.partitions =
    * cores, the batch posture) would also fix the number of state-store
    * instances per stateful operator, each paying per-micro-batch
    * open/commit/snapshot I/O against the checkpoint. The count should
    * track state size, not cores: at fixture scale 8 partitions hold the
    * state easily. It is pinned into the checkpoint at first start (a
    * restarted stream keeps its original partitioning), so at corpus
    * scale size it for the target state up front. */
  private val StatePartitions = 8

  private val PartitionsKey = "spark.sql.shuffle.partitions"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  private def provider(rocksDb: Boolean): String =
    "org.apache.spark.sql.execution.streaming.state." +
      (if (rocksDb) "RocksDBStateStoreProvider" else "HDFSBackedStateStoreProvider")

  /** Prefix of the temp view each complete-mode memory sink registers;
    * `graft.Harness.reset` drops them, and with them the result rows the
    * sink holds on the driver. */
  val ViewPrefix = "graft_stream_"

  /** Runs `df` into the parquet directory `out` (append mode, the file
    * sink's only mode) and reads the directory back. */
  def parquet(df: DataFrame, out: String = TempDir("sink_"),
      checkpoint: String = TempDir("ckpt_")): DataFrame = {
    start(df, checkpoint, rocksDb = false)(_.format("parquet").option("path", out))
    Tables.parquet(df.sparkSession, out)
  }

  /** Runs an aggregation stream to a complete-mode memory sink and
    * returns the final table. */
  def complete(df: DataFrame, rocksDb: Boolean = false): DataFrame = {
    val view = ViewPrefix + UUID.randomUUID().toString.replace("-", "")
    start(df, TempDir("ckpt_"), rocksDb)(
      _.outputMode(OutputMode.Complete()).format("memory").queryName(view))
    df.sparkSession.table(view)
  }

  /** Hands each micro-batch and its checkpoint-stable batch id to `body`. */
  def foreachBatch(df: DataFrame, mode: OutputMode,
      checkpoint: String = TempDir("ckpt_"), rocksDb: Boolean = false)(
      body: (DataFrame, Long) => Unit): Unit =
    start(df, checkpoint, rocksDb)(_.outputMode(mode).foreachBatch(body))

  /** Runs every batch and discards the rows: for a stream whose product
    * is a side effect, such as its observed metrics. */
  def noop(df: DataFrame): Unit =
    start(df, TempDir("ckpt_"), rocksDb = false)(_.format("noop"))

  private def start(df: DataFrame, checkpoint: String, rocksDb: Boolean)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val conf = df.sparkSession.conf
    val prev = Seq(PartitionsKey, ProviderKey).map(k => k -> conf.getOption(k))
    conf.set(PartitionsKey, StatePartitions.toString)
    conf.set(ProviderKey, provider(rocksDb))
    try sink(df.writeStream)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    finally prev.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }
}
