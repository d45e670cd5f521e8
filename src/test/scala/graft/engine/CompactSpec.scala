package graft.engine

import graft.SparkSpec

class CompactSpec extends SparkSpec {

  test("compact collapses many small files into few, preserving rows exactly") {
    import spark.implicits._
    val base = tempPath("compact_")
    val in = s"$base/in"
    val out = s"$base/out"
    // 64 tiny files — the post-streaming-ingest pathology
    (1 to 6400).map(i => (i.toLong, s"row$i")).toDF("id", "v")
      .repartition(64)
      .write.parquet(in)
    val inFiles = new java.io.File(in).listFiles()
      .count(_.getName.startsWith("part-"))
    assert(inFiles == 64)
    // target far above the total input size -> everything fits one file
    val outFiles = Compact.compact(spark, in, out, targetBytes = 1L << 30)
    assert(outFiles == 1)
    val a = spark.read.parquet(in).collect().map(_.getLong(0)).sorted
    val b = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b)) // rows preserved exactly
  }

  test("compact refuses in-place and nested targets before touching data") {
    import spark.implicits._
    val base = tempPath("compact3_")
    val in = s"$base/in"
    Seq((1L, "a")).toDF("id", "v").write.parquet(in)
    intercept[IllegalArgumentException] {
      Compact.compact(spark, in, in)
    }
    intercept[IllegalArgumentException] {
      Compact.compact(spark, in, s"$in/compacted")
    }
    // source untouched after the refused calls
    assert(spark.read.parquet(in).count() == 1)
  }

  test("compact splits output near the byte target") {
    import spark.implicits._
    val base = tempPath("compact2_")
    val in = s"$base/in"
    (1 to 20000).map(i => (i.toLong, "x" * 50)).toDF("id", "v")
      .coalesce(1).write.parquet(in)
    val inputBytes = new java.io.File(in).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length).sum
    // target = ~third of the input -> expect ceil(input/target) = 3 files
    val outFiles = Compact.compact(spark, in, s"$base/out",
      targetBytes = inputBytes / 3 + 1)
    assert(outFiles == 3, s"got $outFiles files")
  }
}
