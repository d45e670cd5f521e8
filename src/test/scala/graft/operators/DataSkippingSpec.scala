package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import DataSkipping._

class DataSkippingSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(tag: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_skip_spec_$tag").getAbsolutePath

  private lazy val df = spark.range(10000)
    .selectExpr("id AS k", "id % 97 AS probe_col", "id * 3 AS payload")

  test("skipping range scan returns exactly the full-scan filter result " +
      "and opens only the intersecting groups") {
    val out = tmp("range")
    writeClustered(df, $"k", span = 1000L, out)
    val manifest = statsManifest(spark, out, "k")
    val (rows, nSel, nTot) = skippingRangeScan(spark, manifest, out, "k",
      2500L, 4200L)
    val expected = df.filter($"k".between(2500, 4200))
    assert(rows.select($"k", $"probe_col", $"payload")
      .exceptAll(expected).isEmpty)
    assert(expected.exceptAll(rows.select($"k", $"probe_col", $"payload"))
      .isEmpty)
    assert(nTot === 10L)
    assert(nSel === 3L, "groups 2, 3, 4 intersect [2500, 4200]")
  }

  test("a range outside every group prunes ALL files and yields a typed " +
      "empty frame") {
    val out = tmp("empty")
    writeClustered(df, $"k", span = 1000L, out)
    val manifest = statsManifest(spark, out, "k")
    val (rows, nSel, _) = skippingRangeScan(spark, manifest, out, "k",
      50000L, 60000L)
    assert(nSel === 0L)
    assert(rows.count() === 0L)
    assert(rows.columns.contains("k"))
  }

  test("a file manifest's range scan opens only intersecting files and " +
      "stays exact") {
    val input = tempDir("file_manifest_")
    Seq(0L until 100L, 100L until 250L, 250L until 400L).foreach { r =>
      r.map(i => (i, i * 3)).toDF("k", "p")
        .repartition(1).write.mode("append").parquet(input)
    }
    val all = spark.read.parquet(input)
    val manifest = fileManifest(all, "k")
    // range inside the second file only
    val (rows, nSel, nTot) = skippingFileRangeScan(
      spark, manifest, "k", 120L, 200L, emptyLike = all)
    assert(nTot === 3L && nSel === 1L)
    val expected = all.filter($"k".between(120, 200))
    assert(rows.exceptAll(expected).isEmpty &&
      expected.exceptAll(rows).isEmpty)
    // a range spanning two files opens exactly those two
    val (_, n2, _) = skippingFileRangeScan(
      spark, manifest, "k", 90L, 240L, emptyLike = all)
    assert(n2 === 2L)
    // outside every file: zero files, typed empty
    val (empty, n0, _) = skippingFileRangeScan(
      spark, manifest, "k", 5000L, 6000L, emptyLike = all)
    assert(n0 === 0L && empty.count() === 0L)
  }

  test("membership point lookup is exact (false positives filtered) and " +
      "scans fewer groups than the layout holds") {
    val out = tmp("member")
    writeClustered(df, $"k", span = 250L, out)
    val membership = membershipManifest(spark, out, "probe_col", 4096)
    val nTot = spark.read.parquet(out).select($"fg").distinct().count()
    val (rows, nSel) = membershipPointScan(spark, membership, out,
      "probe_col", probe = 41L, buckets = 4096, nGroupsTotal = nTot)
    val expected = df.filter($"probe_col" === 41)
    assert(rows.select($"k", $"probe_col", $"payload")
      .exceptAll(expected).isEmpty)
    assert(expected.exceptAll(rows.select($"k", $"probe_col", $"payload"))
      .isEmpty)
    // probe_col cycles mod 97, so every 250-row group holds 41 — here
    // membership CANNOT prune (every group is a true positive): the
    // honest negative control...
    assert(nSel === nTot)
    // ...and the pruning positive: a probe value that appears nowhere
    // can survive only as a hash collision, which 4096 buckets vs ~97
    // occupied make rare
    val (rows2, nSel2) = membershipPointScan(spark, membership, out,
      "probe_col", probe = 1234567L, buckets = 4096, nGroupsTotal = nTot)
    assert(rows2.count() === 0L)
    assert(nSel2 < nTot / 2,
      s"absent probe should prune most groups, scanned $nSel2 of $nTot")
  }

  test("2D box scan equals the full filter, and a z-ordered layout " +
      "prunes where a linear one cannot") {
    // a 64×64 grid of points: x and y independent, so a box filter has
    // both dimensions selective
    val grid = spark.range(4096)
      .selectExpr("id % 64 AS x", "id DIV 64 AS y", "id AS payload")
      .withColumn("z", ZOrder.mortonZ($"x", $"y", 6))
    val outZ = tmp("boxz")
    val outL = tmp("boxl")
    writeClustered(grid.select($"x", $"y", $"payload", $"z"),
      $"z", span = 256L, outZ) // 16 z-tiles
    writeClustered(grid.select($"x", $"y", $"payload", $"x".as("xs")),
      $"xs", span = 4L, outL) // 16 x-stripes
    val expected = grid.filter($"x".between(10, 20) && $"y".between(10, 20))
      .select($"x", $"y", $"payload")
    def run(out: String) =
      skippingBoxScan(spark, statsManifest2(spark, out, "x", "y"), out,
        "x", 10L, 20L, "y", 10L, 20L)
    val (zr, zSel, zTot) = run(outZ)
    val (lr, lSel, lTot) = run(outL)
    Seq(zr, lr).foreach { r =>
      assert(r.select($"x", $"y", $"payload").exceptAll(expected).isEmpty)
      assert(expected.exceptAll(r.select($"x", $"y", $"payload")).isEmpty)
    }
    assert(zTot === 16L && lTot === 16L)
    // z-tiles are 16×16 rectangles: the 11×11 box touches ≤ 4; linear
    // stripes span all y, so every x-intersecting stripe opens (3-4) —
    // and on a Y-ONLY box linear opens everything while z stays partial
    assert(zSel <= 4L)
    val (_, zSelY, _) = skippingBoxScan(spark,
      statsManifest2(spark, outZ, "x", "y"), outZ,
      "x", 0L, 63L, "y", 10L, 20L)
    val (_, lSelY, _) = skippingBoxScan(spark,
      statsManifest2(spark, outL, "x", "y"), outL,
      "x", 0L, 63L, "y", 10L, 20L)
    assert(lSelY === 16L, "linear layout cannot prune a y-only predicate")
    assert(zSelY < 16L, s"z layout must prune a y-only predicate, got $zSelY")
  }

  test("major compaction: compacted layout equals the tombstone-applied " +
      "scan, only affected groups rewrite, untouched files copy intact") {
    val out = tmp("compact_in")
    val compacted = tmp("compact_out")
    writeClustered(df, $"k", span = 2000L, out) // 5 groups
    val tombs = df.filter($"k" % 7 === 0 && $"k" < 4000)
      .select(floor($"k" / 2000L).as("fg"), $"k")
      .withColumnRenamed("k", "k")
      .select($"fg", col("k").as("k"))
    val (nRw, nCp) = majorCompaction(spark, out, tombs, "k", compacted)
    assert(nRw === 2L, "deleted keys live in groups 0 and 1 only")
    assert(nCp === 3L)
    val expected = scanWithDeletes(spark, out, tombs, "k")
      .select($"k", $"probe_col", $"payload")
    val clean = spark.read.parquet(compacted)
      .select($"k", $"probe_col", $"payload")
    assert(clean.exceptAll(expected).isEmpty &&
      expected.exceptAll(clean).isEmpty)
    // untouched groups round-trip byte-identically (files were copied,
    // not decoded): group 4 content matches the source exactly
    val srcG4 = spark.read.parquet(s"$out/fg=4")
    val dstG4 = spark.read.parquet(s"$compacted/fg=4")
    assert(srcG4.exceptAll(dstG4).isEmpty && dstG4.exceptAll(srcG4).isEmpty)
  }

  test("membership prunes by content: a probe localized to few groups " +
      "opens few groups") {
    // values localized by construction: probe_col equals the group id,
    // so each value lives in exactly one group (+ collisions)
    val local = spark.range(10000)
      .selectExpr("id AS k", "id DIV 500 AS probe_col", "id AS payload")
    val out = tmp("local")
    writeClustered(local, $"k", span = 500L, out)
    val membership = membershipManifest(spark, out, "probe_col", 4096)
    val nTot = spark.read.parquet(out).select($"fg").distinct().count()
    val (rows, nSel) = membershipPointScan(spark, membership, out,
      "probe_col", probe = 7L, buckets = 4096, nGroupsTotal = nTot)
    assert(rows.count() === 500L)
    assert(nSel >= 1L && nSel <= 3L,
      s"localized probe should open ~1 group, opened $nSel of $nTot")
  }

  test("manifest pruning: the driver-collect and distributed paths " +
      "compute identical receipts either side of the threshold") {
    val grid = spark.range(4096)
      .selectExpr("id % 64 AS x", "id DIV 64 AS y", "id AS payload")
      .withColumn("z", ZOrder.mortonZ($"x", $"y", 6))
    val out = tmp("prune_switch")
    writeClustered(grid.select($"x", $"y", $"payload", $"z"),
      $"z", span = 256L, out)
    val manifest = statsManifest2(spark, out, "x", "y")
    // threshold far above the 16-group manifest -> driver collect;
    // threshold 0 -> distributed filter; receipts must be identical
    val (rC, selC, totC) = skippingBoxScan(spark, manifest, out,
      "x", 10L, 20L, "y", 10L, 20L, collectThreshold = 1000000L)
    val (rD, selD, totD) = skippingBoxScan(spark, manifest, out,
      "x", 10L, 20L, "y", 10L, 20L, collectThreshold = 0L)
    assert(selC === selD && totC === totD)
    assert(rC.exceptAll(rD).isEmpty && rD.exceptAll(rC).isEmpty)
    // file-path variant: null-stats rows skip identically in both
    import org.apache.spark.sql.functions.lit
    val files = spark.read.parquet(out).inputFiles.sorted
    val stats = spark.read.parquet(files: _*)
      .groupBy(org.apache.spark.sql.functions
        .input_file_name().as("f"))
      .agg(org.apache.spark.sql.functions.min($"x").as("mn"),
        org.apache.spark.sql.functions.max($"x").as("mx"))
      .unionByName(spark.range(1).select(lit("bogus").as("f"),
        lit(null).cast("long").as("mn"),
        lit(null).cast("long").as("mx")))
    def emptyLike = spark.read.parquet(files.head).filter(lit(false))
    val (fC, fSelC, fTotC) = skippingFileRangeScan(spark, stats, "x",
      10L, 20L, emptyLike, collectThreshold = 1000000L)
    val (fD, fSelD, fTotD) = skippingFileRangeScan(spark, stats, "x",
      10L, 20L, emptyLike, collectThreshold = 0L)
    assert(fSelC === fSelD && fTotC === fTotD)
    assert(fC.exceptAll(fD).isEmpty && fD.exceptAll(fC).isEmpty)
  }
  test("writeClusteredCached reuses an identical layout and rewrites " +
      "on any receipt mismatch") {
    val out = tempPath("graft_skip_cache")
      .toFile.getAbsolutePath + "/layout"
    val data = spark.range(2000).select($"id".as("k"),
      ($"id" * 3).as("v"))
    writeClusteredCached(data, $"k", span = 100L, out)
    val part = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("fg=")).head.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val t1 = part.lastModified()
    Thread.sleep(20)
    // identical input: the guard must SKIP the write
    writeClusteredCached(data, $"k", span = 100L, out)
    assert(part.lastModified() === t1, "cached layout was rewritten")
    // changed span: receipt mismatch must rewrite
    writeClusteredCached(data, $"k", span = 200L, out)
    assert(new java.io.File(out).listFiles()
      .count(_.getName.startsWith("fg=")) === 10)
    // changed data: receipt mismatch must rewrite
    writeClusteredCached(data.filter($"k" < 1000), $"k", span = 200L, out)
    assert(spark.read.parquet(out).count() === 1000)
    // SAME key column, DIFFERENT payload values: the fingerprint
    // covers all written columns, so this must rewrite too
    val payloadChanged = spark.range(1000).select($"id".as("k"),
      ($"id" * 7).as("v"))
    writeClusteredCached(payloadChanged, $"k", span = 200L, out)
    assert(spark.read.parquet(out).agg(sum($"v")).head.getLong(0)
      === (0L until 1000L).map(_ * 7).sum, "stale payload reused")
    // SAME values, DIFFERENT schema (renamed payload col): rewrite
    writeClusteredCached(payloadChanged.withColumnRenamed("v", "w"),
      $"k", span = 200L, out)
    assert(spark.read.parquet(out).columns.contains("w"))
  }

}
