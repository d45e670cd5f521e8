package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec
import graft.operators.Dedup

/** Streaming incremental near-dup dedup: the composition of the
  * foreachBatch idempotent-sink pattern (q134) with the persisted
  * MinHash band index (q152) — micro-batches of documents arrive, each
  * batch dedups against ALL previously kept docs via the band index
  * (never re-reading history text), survivors and their band keys are
  * appended, and a checkpoint replay cannot double-apply a batch. This
  * is the full streaming analogue of the reference's `hold_state`
  * incremental pitch (/root/reference/README.txt:18): state = a compact
  * digest of what was processed, new data only is touched per run. */
class StreamingNearDedupSpec extends SparkSpec {

  test("foreachBatch near-dedup with a persisted band index is incremental and idempotent") {
    import spark.implicits._

    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"tok$i").mkString(" ") + " tokX"
    val fresh = (200 to 240).map(i => s"u$i").mkString(" ")

    // two arriving files -> two deterministic micro-batches
    // (maxFilesPerTrigger=1; modification times force the order)
    val srcDir = tempPath("neardup_src_")
    val batch1 = Seq((1L, base)).toDF("doc_id", "text")
    val batch2 = Seq((11L, base), (12L, nearDup), (13L, fresh))
      .toDF("doc_id", "text")
    batch1.coalesce(1).write.parquet(srcDir.resolve("b1").toString)
    Thread.sleep(1100) // distinct mtime seconds -> stable file order
    batch2.coalesce(1).write.parquet(srcDir.resolve("b2").toString)

    val outDir = tempPath("neardup_out_").toString
    val idxDir = tempPath("neardup_idx_").toString
    val ckpt = tempPath("neardup_ckpt_").toString
    val schema = batch1.schema

    def runStream(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$srcDir/*")
        .writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          // the index lands in batch=N subdirs (hive-style partition
          // discovery reads them back as one table)
          val seen =
            if (new java.io.File(idxDir).listFiles().exists(_.getName.startsWith("batch=")))
              spark.read.parquet(idxDir).select($"band", $"bk")
            else Seq.empty[(Int, String)].toDF("band", "bk")
          val survivors = Dedup
            .incrementalNearDedup(batch, seen, 0.5)
            .cache()
          // per-batchId subdir = the q134 idempotent-sink recipe: a
          // replayed batch overwrites its own output, never duplicates
          survivors.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          Dedup.minhashBandIndex(survivors)
            .write.mode("overwrite").parquet(s"$idxDir/batch=$batchId")
          survivors.unpersist()
          ()
        }
        .start()
      q.awaitTermination()
    }

    runStream()
    val kept = spark.read.option("recursiveFileLookup", "true").parquet(outDir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    // batch1 keeps 1 (nothing seen); batch2 drops 11 (exact dup of
    // history) and 12 (near-dup of history via band collision), keeps 13
    assert(kept == Set(1L, 13L))

    // replay on the same checkpoint: AvailableNow finds no new files;
    // the kept set is unchanged (exactly-once over the file source)
    runStream()
    val kept2 = spark.read.option("recursiveFileLookup", "true").parquet(outDir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(1L, 13L))

    // a third file arrives: a near-dup of batch2's survivor must now be
    // dropped against the GROWN index without re-reading batch-2 text
    val freshDup = (200 to 239).map(i => s"u$i").mkString(" ") + " uZ"
    Thread.sleep(1100)
    Seq((21L, freshDup), (22L, "totally new content here entirely"))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(srcDir.resolve("b3").toString)
    runStream()
    val kept3 = spark.read.option("recursiveFileLookup", "true").parquet(outDir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept3 == Set(1L, 13L, 22L))
  }
}
