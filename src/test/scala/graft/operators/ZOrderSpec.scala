package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ZOrderSpec extends SparkSpec {

  test("mortonZ is a bijection on the 8-bit grid and preserves locality") {
    import spark.implicits._
    val grid = spark.range(256 * 256)
      .select((col("id") % 256).as("xs"), (col("id") / 256).cast("long").as("ys"))
      .withColumn("z", ZOrder.mortonZ(col("xs"), col("ys")))
    // bijection: 65536 distinct z values on the full 256x256 grid
    assert(grid.select("z").distinct().count() == 256L * 256L)
    // range: z stays within 16 bits
    val Array(zmin, zmax) = grid.agg(min("z"), max("z")).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    assert(zmin == 0L && zmax == 256L * 256L - 1)
    // locality (the point of the curve): any aligned 1024-z block is a
    // 32x32 rectangle — both coordinate spans are exactly 31
    val spans = grid.groupBy(expr("z DIV 1024").as("b"))
      .agg((max("xs") - min("xs")).as("xspan"),
        (max("ys") - min("ys")).as("yspan"))
      .agg(max("xspan"), max("yspan")).collect()(0)
    assert(spans.getLong(0) == 31L && spans.getLong(1) == 31L)
  }

  test("z-order file layout keeps parquet min/max narrow on BOTH dims") {
    import spark.implicits._
    // a 128x128 uniform grid of (x, y) points, written two ways
    val pts = spark.range(128 * 128)
      .select((col("id") % 128).as("x"), (col("id") / 128).cast("long").as("y"))
    val base = tempPath("zorder_")
    def fileSpans(path: String): (Double, Double) = {
      val perFile = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max("x") - min("x")).as("xs"), (max("y") - min("y")).as("ys"))
      val r = perFile.agg(avg("xs"), avg("ys")).collect()(0)
      (r.getDouble(0), r.getDouble(1))
    }
    // linear layout: range-partitioned by x — y is full-width per file
    pts.repartitionByRange(16, $"x")
      .sortWithinPartitions($"x").write.parquet(s"$base/linear")
    // z-order layout: range-partitioned by the interleaved key
    pts.withColumn("z", ZOrder.mortonZ($"x", $"y", bits = 7))
      .repartitionByRange(16, $"z")
      .sortWithinPartitions($"z").drop("z").write.parquet(s"$base/zorder")
    val (lx, ly) = fileSpans(s"$base/linear")
    val (zx, zy) = fileSpans(s"$base/zorder")
    // linear: x narrow but y spans the whole 0..127 range in every file
    assert(lx < 16 && ly > 120,
      s"linear layout spans: x=$lx y=$ly")
    // z-order: BOTH dims narrow — each file covers at most ~2 adjacent
    // 32x32 z-tiles (range boundaries are sampled, not tile-aligned), so
    // a min/max footer prunes scans on either predicate column. < 64
    // means every file is under half-width in both dims; linear is
    // full-width (>120) in y.
    assert(zx < 64 && zy < 64,
      s"zorder layout spans: x=$zx y=$zy")
  }
}
