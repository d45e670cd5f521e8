package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec
import graft.operators.DataSkipping

/** Laws behind q276's incrementally-maintained skipping index: the
  * folded manifest equals the one-shot per-file stats, and the file
  * scan it drives returns exactly the full-scan filter result. */
class IncrementalManifestSpec extends SparkSpec {
  import spark.implicits._

  test("folded manifest equals one-shot per-file stats; the range scan " +
      "opens only intersecting files and stays exact") {
    val input = tempDir("mf_in_")
    val inc = new Incremental(
      spark, input,
      StructType(Seq(StructField("k", LongType), StructField("p", LongType))),
      tempDir("mf_ck_"), tempDir("mf_st_"),
      DataSkipping.fileManifest(_, "k"), DataSkipping.mergeFileManifest)
    val batches = Seq(0L until 100L, 100L until 250L, 250L until 400L)
    batches.foreach { r =>
      r.map(i => (i, i * 3)).toDF("k", "p")
        .repartition(1).write.mode("append").parquet(input)
      inc.update()
    }
    val manifest = inc.state().get
    // one row per file, stats exact
    val oneShot = spark.read.parquet(input)
      .withColumn("f", input_file_name())
      .groupBy($"f")
      .agg(count(lit(1)).as("n_rows"), min($"k").as("mn"), max($"k").as("mx"))
    assert(manifest.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(manifest).isEmpty)
    assert(manifest.count() === 3L)
    // range inside batch 2 only
    val all = spark.read.parquet(input)
    val (rows, nSel, nTot) = DataSkipping.skippingFileRangeScan(
      spark, manifest, "k", 120L, 200L, emptyLike = all)
    assert(nTot === 3L && nSel === 1L)
    val expected = all.filter($"k".between(120, 200))
    assert(rows.exceptAll(expected).isEmpty &&
      expected.exceptAll(rows).isEmpty)
    // a range spanning two files opens exactly those two
    val (_, n2, _) = DataSkipping.skippingFileRangeScan(
      spark, manifest, "k", 90L, 240L, emptyLike = all)
    assert(n2 === 2L)
    // outside every file: zero files, typed empty
    val (empty, n0, _) = DataSkipping.skippingFileRangeScan(
      spark, manifest, "k", 5000L, 6000L, emptyLike = all)
    assert(n0 === 0L && empty.count() === 0L)
  }
}
