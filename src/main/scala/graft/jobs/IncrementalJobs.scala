package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.Tables
import graft.operators.Dedup

/** The reference's operational story for incremental pipelines — a
  * scheduler job that processes each new batch against persisted state
  * (`hold_state`: /root/reference/README.txt:18, mapper.py:110-143,
  * scheduler.py:496-533) — wired end-to-end on Spark: one [[SparkJob]]
  * per arriving batch runs [[Dedup.incrementalNearDedup]] against the
  * persisted MinHash band index, writes the surviving docs, and appends
  * the survivors' band keys to the index for every later batch.
  *
  * State layout: `indexDir/batch=<name>/` parquet per batch, so
  *  - a batch job is idempotent (overwrite of its own partition — a
  *    retried/re-forced job cannot double its keys),
  *  - `Tables.parquet(spark, indexDir)` unions all history via partition
  *    discovery with no manifest to maintain,
  *  - the state stays O(kept docs): ≤ 4 band keys per survivor, no
  *    text, no shingles — at 100 TB the index is GB-scale while the
  *    corpus it summarizes is not.
  *
  * Recompute discipline: survivors are WRITTEN first and the band index
  * is computed from the files just written, so the dedup plan runs
  * exactly once per batch (the index build re-reads columnar survivors,
  * never re-runs the anti-join). Failure semantics come from the queue:
  * jobs share a `groupName`, so a failed batch cascades away queued
  * later batches rather than letting them dedup against a hole in the
  * index.
  */
object IncrementalJobs {

  /** Build the per-batch job. `batchName` keys the index partition and
    * the output subdir; jobs for one pipeline share `group` so the
    * queue's failure cascade covers the whole chain. Names are
    * restricted to word chars so they map 1:1 onto `batch=<name>`
    * partition directories (no URL-escaping, no partition-value
    * canonicalization surprises). */
  def nearDupBatchJob(batchName: String, batchDir: String, indexDir: String,
      outDir: String, threshold: Double, group: String = "neardup",
      priority: Int = 0): SparkJob = {
    require(batchName.matches("[A-Za-z0-9_-]+"),
      s"batch name must be [A-Za-z0-9_-]+: $batchName")
    SparkJob(
      name = s"neardup_$batchName",
      run = s => runBatch(s, batchName, batchDir, indexDir, outDir, threshold),
      priority = priority,
      groupName = Some(group))
  }

  /** One batch pass: read batch, dedup against history, write survivors,
    * extend the index. Public for direct (non-queued) use.
    *
    * History EXCLUDES this batch's own index partition AND every
    * later-sequenced partition: each index partition carries a constant
    * `seq` column assigned at first write (max existing + 1, reused on
    * replay), and the history read keeps only partitions with a strictly
    * smaller seq. A retried or force-rerun job therefore dedups against
    * exactly the state it originally saw — replay is a true no-op for
    * ANY batch, not just the most recent (a band-key collision with a
    * later survivor can no longer change a replayed batch's survivor
    * set). */
  def runBatch(spark: SparkSession, batchName: String, batchDir: String,
      indexDir: String, outDir: String, threshold: Double): Unit = {
    import spark.implicits._
    val newDocs = Tables.parquet(spark, batchDir)
    val seq = batchSeq(spark, indexDir, batchName)
    val survivors = Dedup.incrementalNearDedup(newDocs,
      readIndexParts(spark, indexDir, beforeSeq = Some(seq)),
      threshold)
    val outPath = s"$outDir/batch=$batchName"
    survivors.write.mode("overwrite").parquet(outPath)
    // index of the survivors just written. The band keys come from the
    // SAME cached lineage incrementalNearDedup pinned (hashedShingles ->
    // bandKeys over newDocs), semi-joined to the survivor ids from the
    // files just written — so the expensive shingle+minhash pass is NOT
    // re-run over the survivor text (it was the third such pass per
    // batch), and a crash between the two writes still leaves a
    // rerunnable job (both writes are overwrite-idempotent per batch
    // partition, and the semi-join reads the survivor FILES, not the
    // pre-write plan).
    val survivorIds = Tables.parquet(spark, outPath).select($"doc_id")
    Dedup.bandKeysOf(newDocs)
      .join(survivorIds, Seq("doc_id"), "left_semi")
      .select($"band", $"bk").distinct()
      .withColumn("seq", org.apache.spark.sql.functions.lit(seq))
      .write.mode("overwrite").parquet(s"$indexDir/batch=$batchName")
    // per-batch cache hygiene: the dedup operators pin their shared
    // shingle/band frames for the session (Dedup scaladoc); in a
    // long-lived scheduler session those accumulate ~6 cached frames per
    // batch unless released after the batch's terminal writes — the
    // exact block-manager creep Bench/Verify defend against per query
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Sequence number for a batch: reuse the stored seq on replay (the
    * partition already exists), else one past the max existing seq.
    * Reads one parquet footer row per decision — index partitions are
    * KB-scale by design. */
  private def batchSeq(spark: SparkSession, indexDir: String,
      batchName: String): Long = {
    import spark.implicits._
    val own = new org.apache.hadoop.fs.Path(s"$indexDir/batch=$batchName")
    val fs = own.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(own)) {
      val prior = Tables.parquet(spark, own.toString)
      if (prior.columns.contains("seq"))
        return prior.select($"seq").head(1).headOption
          .map(_.getLong(0)).getOrElse(0L)
    }
    val parts = listParts(spark, indexDir).filterNot(
      _.getName == s"batch=$batchName")
    if (parts.isEmpty) 0L
    else {
      val hist = Tables.parquet(spark, parts.map(_.toString).toIndexedSeq: _*)
      if (!hist.columns.contains("seq")) parts.length.toLong
      else hist.agg(org.apache.spark.sql.functions.max($"seq")).head()
        .getLong(0) + 1L
    }
  }

  /** All persisted band keys across batches; empty-seeded before the
    * first batch ever lands. */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    readIndexParts(spark, indexDir, beforeSeq = None)

  /** Index partition dirs, by PATH, not by a filter on the inferred
    * partition column: partition-value type inference canonicalizes
    * numeric names ("007" reads back as 7), so a column compare would
    * fail to match a batch's own partition on retry. */
  private def listParts(spark: SparkSession,
      indexDir: String): Array[org.apache.hadoop.fs.Path] = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      fs.listStatus(p).filter(_.isDirectory)
        .map(_.getPath).filter(_.getName.startsWith("batch="))
    else Array.empty
  }

  private def readIndexParts(spark: SparkSession, indexDir: String,
      beforeSeq: Option[Long]): DataFrame = {
    import spark.implicits._
    val parts = listParts(spark, indexDir)
    if (parts.nonEmpty) {
      val all = Tables.parquet(spark, parts.map(_.toString).toIndexedSeq: _*)
      val scoped = beforeSeq match {
        // seq-scoped history; a legacy partition without the column
        // (pre-ordering layout) counts as oldest history
        case Some(s) if all.columns.contains("seq") => all.filter($"seq" < s)
        case Some(s) if s <= 0 => all.limit(0)
        case _ => all
      }
      scoped.select("band", "bk")
    } else Seq.empty[(Int, String)].toDF("band", "bk")
  }
}
