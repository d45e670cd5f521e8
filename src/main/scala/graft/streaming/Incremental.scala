package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.engine.Tables

/** Incrementally-maintained state over a growing directory of files —
  * the reference's whole "incrementation" design point
  * (f(A+B) = f(A) + f(B)) plus its per-file `hold_state` tracking,
  * re-expressed as: streaming file source (checkpoint = the seen-set) +
  * algebraic merge of the new batch's partial state into a persisted,
  * versioned state table.
  *
  * What is kept is set by the two functions: `partial` turns one batch
  * of new rows into a partial state, and `merge` folds a partial into
  * the previous state (valid for any commutative-monoid state: keyed
  * sums, the quantile histogram, the bottom-k sketch, the JSON census,
  * the per-file manifest — each kind's pair lives beside its math in
  * `Maintenance`, `Json` and `DataSkipping`).
  *
  * Each `update()` call:
  *   1. processes ONLY files the checkpoint has not seen
  *      (Trigger.AvailableNow through [[Run]], exactly-once);
  *   2. computes `partial` over just those files;
  *   3. merges it into the previous state;
  *   4. writes the merged state to a NEW version directory `v<batchId>`
  *      and flips the `_LATEST` pointer — readers never observe a
  *      half-written state — then prunes to the newest
  *      `retainVersions`, the previous version kept for rollback.
  *
  * State size is the state's own (|distinct keys|, ≤ k per key, one row
  * per file), not |input|: the input is scanned once per file. */
final class Incremental(
    spark: SparkSession,
    inputDir: String,
    schema: StructType,
    checkpointDir: String,
    stateDir: String,
    partial: DataFrame => DataFrame,
    merge: (DataFrame, DataFrame) => DataFrame,
    retainVersions: Int = 2) {
  require(retainVersions >= 2,
    "retainVersions >= 2: the previous version is the documented rollback")

  private val pointer = Paths.get(stateDir, "_LATEST")

  private def current(): Option[String] =
    if (Files.exists(pointer)) Some(Files.readString(pointer).trim) else None

  /** The state the pointer names; None before the first fold. */
  def state(): Option[DataFrame] = current().map(stateAt)

  /** All retained state versions, oldest first. */
  def versions(): Seq[String] = Incremental.listVersions(stateDir)

  /** A retained state version (from [[versions]]). With append-only
    * inputs an old version is a snapshot of the state at that fold. */
  def stateAt(version: String): DataFrame =
    Tables.parquet(spark, Paths.get(stateDir, version).toString)

  /** The retained version one flip behind the pointer — None before
    * the second fold, or when the pointer was rolled back to the
    * oldest retained version. */
  def previousState(): Option[DataFrame] =
    current().flatMap(cur =>
      versions().reverse.dropWhile(_ != cur).drop(1).headOption)
      .map(stateAt)

  /** Fold newly-arrived files into the state.
    *
    * IDEMPOTENT against foreachBatch REPLAY: batch ids are
    * checkpoint-stable, so if the pointer already names `v<batchId>`
    * the state write + flip for this batch completed before a crash
    * that lost the checkpoint commit — folding again would double-count
    * every row of the batch (the exactly-once law
    * IncrementalQuantileSpec pins). Such a replayed batch is skipped.
    * The other crash window (state written, pointer NOT yet flipped) is
    * safe without a guard: the re-fold reads the same prev state and
    * overwrites the same version. */
  def update(): Unit = {
    Files.createDirectories(Paths.get(stateDir))
    val stream = spark.readStream.schema(schema).parquet(inputDir)
    Run.foreachBatch(stream, OutputMode.Append(), checkpointDir) { (batch, batchId) =>
      val version = s"v$batchId"
      if (!current().contains(version)) {
        val p = partial(batch)
        val merged = state() match {
          case Some(prev) => merge(prev, p)
          case None => p
        }
        merged.write.mode("overwrite")
          .parquet(Paths.get(stateDir, version).toString)
        Incremental.flipPointer(pointer, version)
        Incremental.pruneVersions(stateDir, pointer, retainVersions)
      }
    }
  }
}

object Incremental {

  /** Retained version directory names in ASCENDING batch order (v10
    * outranks v9 numerically, not lexicographically). */
  private def listVersions(stateDir: String): Seq[String] = {
    val dir = Paths.get(stateDir)
    if (!Files.exists(dir)) return Seq.empty
    val listing = Files.list(dir)
    try {
      val it = listing.iterator()
      val buf = scala.collection.mutable.ListBuffer.empty[String]
      while (it.hasNext) {
        val n = it.next().getFileName.toString
        if (n.matches("v\\d+")) buf += n
      }
      buf.toList.sortBy(_.drop(1).toLong)
    } finally listing.close()
  }

  /** Keep-last-N retention, run ONLY after a successful pointer flip:
    * version directories beyond the newest `retain` (numeric batch-id
    * order — v10 outranks v9, not "v1 < v9" lexicographics) are
    * deleted. Two invariants, both defensive against operator error
    * and crash interleavings:
    *  - the pointer target is NEVER deleted, even if a manual rollback
    *    flipped the pointer at an old version outside the newest N;
    *  - versions NEWER than the newest retained are impossible here
    *    (prune runs post-flip, the flipped version is the newest), but
    *    a version written by a crashed run that never flipped sorts
    *    newest and is retained — the replaying batch overwrites it.
    * A crash DURING prune just leaves extra versions; the next
    * successful fold re-prunes. */
  private[streaming] def pruneVersions(stateDir: String, pointer: Path,
      retain: Int): Unit = {
    if (!Files.exists(pointer)) return
    val current = Files.readString(pointer).trim
    listVersions(stateDir).reverse
      .drop(retain)
      .filterNot(_ == current)
      .foreach { v =>
        val walk = Files.walk(Paths.get(stateDir, v))
        try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
        finally walk.close()
      }
  }

  /** Flip the `_LATEST` pointer via write-temp + atomic rename: a crash
    * mid-write can never leave readers a torn pointer — they see either
    * the old version or the new one, never a partial string. */
  private[streaming] def flipPointer(pointer: Path, version: String): Unit = {
    val tmp = pointer.resolveSibling("_LATEST.tmp")
    Files.writeString(tmp, version)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE)
  }
}
