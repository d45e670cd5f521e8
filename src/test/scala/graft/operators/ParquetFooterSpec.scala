package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ParquetFooterSpec extends SparkSpec {

  private def writeOne(df: org.apache.spark.sql.DataFrame,
      codec: String): String = {
    val tmp = tempDir("pqfooter")
    df.coalesce(1).write.mode("overwrite")
      .option("compression", codec).parquet(tmp)
    new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
  }

  test("footer walk agrees with what Spark wrote") {
    val s = spark
    import s.implicits._
    val df = (1 to 1000).map(i => (i.toLong, s"row $i", i % 7))
      .toDF("id", "label", "bucket")
    val path = writeOne(df, "snappy")
    val Some(m) = ParquetFooter.readFooter(path)
      .flatMap(ParquetFooter.parseFooter)
    assert(m.numRows == 1000)
    assert(m.rowsViaGroups == 1000, "row-group walk disagrees with scalar")
    assert(m.leafColumns.sorted == Seq("bucket", "id", "label"))
    assert(m.codecs == Set("SNAPPY"))
    assert(m.valueCounts == 3000L) // 3 columns x 1000 values
    assert(m.createdBy.toLowerCase.contains("parquet"))
  }

  test("codec and nesting are read from the footer, not assumed") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Seq("a", "b"), ("x", 2L)))
      .toDF("id", "tags", "pair")
    val path = writeOne(df, "gzip")
    val Some(m) = ParquetFooter.readFooter(path)
      .flatMap(ParquetFooter.parseFooter)
    assert(m.codecs == Set("GZIP"))
    assert(m.numRows == 1)
    // nested schema: leaves are the primitive columns, incl. the list
    // element and struct fields — the root and group nodes are not
    assert(m.leafColumns.contains("id"))
    assert(!m.leafColumns.contains("pair")) // group node, not a leaf
  }

  test("corrupt footers yield None") {
    assert(ParquetFooter.parseFooter(Array.empty[Byte]).isEmpty)
    assert(ParquetFooter.parseFooter("garbage bytes".getBytes).isEmpty)
    val s = spark
    import s.implicits._
    val path = writeOne(Seq((1, 2)).toDF("a", "b"), "snappy")
    val Some(footer) = ParquetFooter.readFooter(path)
    // truncated footer throws inside -> None
    assert(ParquetFooter.parseFooter(footer.take(footer.length / 2)).isEmpty)
    // non-parquet file tail
    val f = new java.io.File(tempDir("notpq"), "notpq.parquet")
    java.nio.file.Files.write(f.toPath, "just some text".getBytes)
    assert(ParquetFooter.readFooter(f.getAbsolutePath).isEmpty)
  }
}
