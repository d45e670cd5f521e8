package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.engine.Tables

/** Incrementally-maintained aggregate over a growing directory of files —
  * the reference's whole "incrementation" design point
  * (f(A+B) = f(A) + f(B), /root/reference/README.txt:18) plus its
  * per-file `hold_state` tracking (/root/reference/mapper.py:110-143),
  * re-expressed as: streaming file source (checkpoint = the seen-set) +
  * algebraic merge of the new batch's partial aggregate into a persisted
  * state table.
  *
  * Each `update()` call:
  *   1. processes ONLY files the checkpoint has not seen
  *      (Trigger.AvailableNow, exactly-once);
  *   2. partially aggregates just those files;
  *   3. merges into the previous state by union + re-aggregate (valid for
  *      any commutative-monoid aggregate: sum/count/min/max — store
  *      sum+count to derive avg);
  *   4. writes the merged state to a NEW versioned directory and flips a
  *      pointer file — readers never observe a half-written state, and
  *      the previous version remains for rollback.
  *
  * State size is |distinct keys|, not |input| — at 100 TB the state stays
  * dimension-sized while the input only ever gets scanned once per file.
  */
final class IncrementalAgg(
    spark: SparkSession,
    inputDir: String,
    schema: StructType,
    checkpointDir: String,
    stateDir: String,
    keys: Seq[String],
    sumCols: Seq[String],
    retainVersions: Int = 2) {

  private val pointer = IncrementalAgg.pointerOf(stateDir)

  /** Current merged state (empty frame with the right columns if no run
    * has happened yet). */
  def state(): Option[DataFrame] = IncrementalAgg.readState(spark, stateDir)

  private def aggregate(df: DataFrame): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        sum(col(sumCols.head)).as(s"sum_${sumCols.head}"),
        (sumCols.tail.map(c => sum(col(c)).as(s"sum_$c")) :+
          count(lit(1)).as("n")): _*)

  private def merge(prev: DataFrame, partial: DataFrame): DataFrame = {
    val aggCols = sumCols.map(c => s"sum_$c") :+ "n"
    prev.unionByName(partial)
      .groupBy(keys.map(col): _*)
      .agg(
        sum(col(aggCols.head)).as(aggCols.head),
        aggCols.tail.map(c => sum(col(c)).as(c)): _*)
  }

  /** Process newly-arrived files and fold them into the state. Returns
    * the merged state. */
  def update(): DataFrame = {
    IncrementalAgg.foldNewArrivals(spark, inputDir, schema, checkpointDir,
      stateDir, pointer, aggregate, merge, () => state(), retainVersions)
    state().getOrElse(aggregate(
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        schema)))
  }
}

/** The quantile sibling of [[IncrementalAgg]]: incrementally-maintained
  * per-key PERCENTILES over a growing directory, using the mergeable
  * fixed-grid quantile state (q231,
  * [[graft.operators.Maintenance.quantileState]]). Same machinery —
  * streaming file source (checkpoint = the seen-set, exactly-once),
  * per-batch partial state, exact counter-add merge into a versioned
  * state table behind an atomic pointer — but the state is a sparse
  * (key, bin, count) histogram, so ANY percentile is answerable from
  * state alone, within the pinned half-bin-width contract, without
  * ever re-reading history. State size: one row per OCCUPIED
  * (key, bin) cell — min(values seen, bins) per key, however much
  * history arrived (the dense-array form was measured 4x slower on
  * the sf1 fold: 97% zeros, parquet writes dominated). */
final class IncrementalQuantile(
    spark: SparkSession,
    inputDir: String,
    schema: StructType,
    checkpointDir: String,
    stateDir: String,
    keyCol: String,
    valueCol: String,
    lo: Double, hi: Double, bins: Int,
    retainVersions: Int = 2) {

  private val pointer = IncrementalAgg.pointerOf(stateDir)

  def state(): Option[DataFrame] = IncrementalAgg.readState(spark, stateDir)

  /** Process newly-arrived files, fold their quantile state in. */
  def update(): Unit =
    IncrementalAgg.foldNewArrivals(spark, inputDir, schema, checkpointDir,
      stateDir, pointer,
      batch => graft.operators.Maintenance.quantileState(
        batch, col(keyCol), col(valueCol), lo, hi, bins),
      graft.operators.Maintenance.mergeQuantileState,
      () => state(), retainVersions)

  /** p-quantile per key from the CURRENT state only (adds n and q
    * columns — see `Maintenance.quantileFromState`). */
  def quantile(p: Double): Option[DataFrame] =
    state().map(st => graft.operators.Maintenance
      .quantileFromState(st, p, lo, (hi - lo) / bins))

  /** The retained PREVIOUS state version (the keep-last-N rollback,
    * one flip behind the pointer) — None before the second fold. What
    * retention buys beyond rollback: version-over-version monitoring.
    * [[driftSincePreviousVersion]] compares it against the current
    * state with `Maintenance.psiDrift`/`ksFromStates`, answering "did
    * the arrivals since the last fold shift the distribution?" from
    * two on-disk histograms — no period is ever re-read. */
  def previousState(): Option[DataFrame] = {
    if (!Files.exists(pointer)) return None
    val current = Files.readString(pointer).trim
    IncrementalAgg.listVersions(stateDir).reverse
      .dropWhile(_ != current).drop(1).headOption
      .map(v => Tables.parquet(spark, Paths.get(stateDir, v).toString))
  }

  /** PSI between the previous retained state version and the current
    * one — per-key drift contributed by everything folded since the
    * last flip. None before two versions exist. */
  def driftSincePreviousVersion(): Option[DataFrame] =
    for (prev <- previousState(); cur <- state())
      yield graft.operators.Maintenance.psiDrift(prev, cur)

  /** All retained state versions, oldest first. */
  def versions(): Seq[String] = IncrementalAgg.listVersions(stateDir)

  /** A specific retained state version. */
  def stateAt(version: String): DataFrame =
    Tables.parquet(spark, Paths.get(stateDir, version).toString)

  /** The N-version drift SERIES (round 12 — q245 generalized past its
    * consecutive pair): with retainVersions > 2, every adjacent
    * retained pair (v_i, v_{i+1}) yields a per-key PSI, tagged with
    * its fold index — "which arrival batch moved each key's
    * distribution, and by how much", computed entirely from on-disk
    * histograms (no period re-read, the retention family's whole
    * point). None before two versions exist. */
  def driftSeries(): Option[DataFrame] = {
    val vs = versions()
    if (vs.size < 2) return None
    val folds = vs.zip(vs.tail).zipWithIndex.map { case ((a, b), i) =>
      graft.operators.Maintenance.psiDrift(stateAt(a), stateAt(b))
        .withColumn("fold", lit(i + 1).cast("long"))
    }
    Some(folds.reduce(_.unionByName(_)))
  }
}

/** The bottom-k sibling of [[IncrementalQuantile]]: an incrementally-
  * maintained per-key KMV sketch (uniform distinct sample + distinct
  * estimator, [[graft.operators.Maintenance.bottomKState]]) over a
  * growing directory. Same harness — checkpointed seen-set, versioned
  * state behind an atomic pointer — and the state's merge is EXACT
  * (min-k(A∪B) = min-k(min-k(A)∪min-k(B))), so the folded sketch is
  * bit-for-bit the single-pass sketch of everything that ever arrived.
  * Unlike the counter states, the set state is also idempotent under a
  * hypothetical double-fold (union+distinct), but the harness's replay
  * guard still applies uniformly. State size: ≤ k rows per key,
  * however much history arrived. */
final class IncrementalBottomK(
    spark: SparkSession,
    inputDir: String,
    schema: StructType,
    checkpointDir: String,
    stateDir: String,
    keyCol: String,
    valueCol: String,
    k: Int,
    retainVersions: Int = 2) {

  private val pointer = IncrementalAgg.pointerOf(stateDir)

  def state(): Option[DataFrame] = IncrementalAgg.readState(spark, stateDir)

  /** Process newly-arrived files, fold their sketches in. */
  def update(): Unit =
    IncrementalAgg.foldNewArrivals(spark, inputDir, schema, checkpointDir,
      stateDir, pointer,
      batch => graft.operators.Maintenance.bottomKState(
        batch, col(keyCol), col(valueCol), k),
      (prev, delta) => graft.operators.Maintenance
        .mergeBottomK(prev, delta, k),
      () => state(), retainVersions)

  /** Distinct-count estimate per key from the CURRENT state only. */
  def distinctEstimate(): Option[DataFrame] =
    state().map(st =>
      graft.operators.Maintenance.distinctFromBottomK(st, k))
}

/** Incrementally-maintained JSON schema census
  * ([[graft.operators.Json.schemaProfile]] kept fresh by the shared
  * exactly-once fold harness): each newly-arrived JSONL file is walked
  * once, its (path, type) partial census merges into the persisted
  * state by keyed sum (docs live in exactly one arrival batch, so the
  * fold never double-counts), and the retained versions give
  * version-over-version SCHEMA DRIFT for free — the producer-change
  * alarm evaluated on census states alone, no corpus re-read. State
  * size is ǀdistinct (path, type)ǀ — schema-sized at any corpus size. */
final class IncrementalJsonCensus(
    spark: SparkSession,
    inputDir: String,
    schema: StructType,
    checkpointDir: String,
    stateDir: String,
    idCol: String = "doc_id",
    jsonCol: String = "json",
    retainVersions: Int = 2) {

  private val pointer = IncrementalAgg.pointerOf(stateDir)

  def state(): Option[DataFrame] = IncrementalAgg.readState(spark, stateDir)

  private def partial(batch: DataFrame): DataFrame =
    graft.operators.Json.schemaProfile(batch, idCol, jsonCol)

  private def merge(prev: DataFrame, delta: DataFrame): DataFrame =
    prev.unionByName(delta)
      .groupBy(col("path"), col("type"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_values")).as("n_values"))

  def update(): Unit =
    IncrementalAgg.foldNewArrivals(spark, inputDir, schema, checkpointDir,
      stateDir, pointer, partial, merge, () => state(), retainVersions)

  def versions(): Seq[String] = IncrementalAgg.listVersions(stateDir)

  def stateAt(version: String): DataFrame =
    Tables.parquet(spark, Paths.get(stateDir, version).toString)

  /** Version-over-version census drift (shared scaffold:
    * [[graft.operators.Json.censusOuter]]). Cumulative counts never
    * shrink (append-only corpus), so the states are `new` (path/type
    * absent before), `stale` (count stopped growing — the field
    * stopped arriving: a rename or drop on the producer side), or
    * `growing` (healthy). A type shift surfaces as a stale+new pair
    * on one path. */
  def driftBetween(vOld: String, vNew: String): DataFrame =
    graft.operators.Json.censusOuter(stateAt(vOld), stateAt(vNew))
      .withColumn("status",
        when(col("n_docs_a") === 0, "new")
          .when(col("n_docs_b") === col("n_docs_a"), "stale")
          .otherwise("growing"))
}

/** An incrementally-maintained data-skipping index: the per-FILE
  * (path, n_rows, mn, mx) stats manifest of
  * [[graft.operators.DataSkipping]], kept fresh by the same
  * checkpointed fold harness — each newly-arrived file is scanned
  * exactly once for its stats, and the manifest is the union of
  * per-file rows (a file lives in exactly one arrival batch, so the
  * merge is a plain keyed re-aggregate that never double-counts under
  * the replay guard). The production loop this models: ingest appends
  * files, the index pass stats ONLY the new ones, and every range
  * query thereafter prunes against the manifest without re-scanning
  * history ([[graft.operators.DataSkipping.skippingFileRangeScan]]). */
final class IncrementalManifest(
    spark: SparkSession,
    inputDir: String,
    schema: StructType,
    checkpointDir: String,
    stateDir: String,
    statsCol: String,
    retainVersions: Int = 2) {

  private val pointer = IncrementalAgg.pointerOf(stateDir)

  def state(): Option[DataFrame] = IncrementalAgg.readState(spark, stateDir)

  private def partial(batch: DataFrame): DataFrame =
    batch.withColumn("f", input_file_name())
      .groupBy(col("f"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(statsCol)).as("mn"), max(col(statsCol)).as("mx"))

  private def merge(prev: DataFrame, delta: DataFrame): DataFrame =
    prev.unionByName(delta)
      .groupBy(col("f"))
      .agg(sum(col("n_rows")).as("n_rows"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"))

  /** Stat newly-arrived files and fold them into the manifest. */
  def update(): Unit =
    IncrementalAgg.foldNewArrivals(spark, inputDir, schema, checkpointDir,
      stateDir, pointer, partial, merge, () => state(), retainVersions)

  /** Retained manifest versions, oldest first. With append-only data
    * files, an OLD manifest version IS a snapshot: scanning through it
    * sees exactly the files that existed at that fold — time travel
    * for free out of the keep-last-N retention. */
  def versions(): Seq[String] = IncrementalAgg.listVersions(stateDir)

  /** The manifest as of a retained version (from [[versions]]). */
  def stateAt(version: String): DataFrame =
    Tables.parquet(spark, Paths.get(stateDir, version).toString)
}

object IncrementalAgg {

  /** Shared state-dir plumbing for the four incremental maintainers —
    * ONE pointer convention, ONE pointer-follow read, ONE version
    * listing, so a fix (pointer-read race, version regex) lands
    * everywhere at once. */
  private[streaming] def pointerOf(stateDir: String): Path =
    Paths.get(stateDir, "_LATEST")

  private[streaming] def readState(spark: SparkSession,
      stateDir: String): Option[DataFrame] = {
    val pointer = pointerOf(stateDir)
    if (Files.exists(pointer))
      Some(Tables.parquet(spark, 
        Paths.get(stateDir, Files.readString(pointer).trim).toString))
    else None
  }

  /** Retained version directory names in ASCENDING batch order (v10
    * outranks v9 numerically, not lexicographically). */
  private[streaming] def listVersions(stateDir: String): Seq[String] = {
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

  /** The shared fold harness behind [[IncrementalAgg]] and
    * [[IncrementalQuantile]]: stream newly-arrived files through [[Run]]
    * (Trigger.AvailableNow — the checkpoint is the seen-set), fold each
    * micro-batch into the versioned state table, flip the pointer.
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
  private[streaming] def foldNewArrivals(
      spark: SparkSession, inputDir: String, schema: StructType,
      checkpointDir: String, stateDir: String, pointer: Path,
      partial: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame,
      state: () => Option[DataFrame],
      retainVersions: Int = 2): Unit = {
    require(retainVersions >= 2,
      "retainVersions >= 2: the previous version is the documented rollback")
    Files.createDirectories(Paths.get(stateDir))
    val stream = spark.readStream.schema(schema).parquet(inputDir)
    Run.foreachBatch(stream, OutputMode.Append(), checkpointDir) { (batch, batchId) =>
      val version = s"v$batchId"
      val alreadyFolded = Files.exists(pointer) &&
        Files.readString(pointer).trim == version
      if (!alreadyFolded) {
        val p = partial(batch)
        val merged = state() match {
          case Some(prev) => merge(prev, p)
          case None => p
        }
        merged.write.mode("overwrite")
          .parquet(Paths.get(stateDir, version).toString)
        flipPointer(pointer, version)
        pruneVersions(stateDir, pointer, retainVersions)
      }
    }
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
      .map(v => Paths.get(stateDir, v))
      .foreach(deleteRecursively)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val listing = Files.list(p)
      try {
        val it = listing.iterator()
        while (it.hasNext) deleteRecursively(it.next())
      } finally listing.close()
    }
    Files.deleteIfExists(p)
  }

  /** Flip the `_LATEST` pointer via write-temp + atomic rename: a crash
    * mid-write can never leave readers a torn pointer — they see either
    * the old version or the new one, never a partial string. */
  private[streaming] def flipPointer(
      pointer: java.nio.file.Path, version: String): Unit = {
    val tmp = pointer.resolveSibling(s"_LATEST.tmp")
    Files.writeString(tmp, version)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE)
  }
}
