package graft.streaming

import java.io.{File, IOException}
import java.nio.file.Files

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

import graft.SparkSpec

/** Arrival staging checks its file-system side effects: a move the
  * file system refuses fails the delivery instead of dropping the
  * batch. */
class StageArrivalsSpec extends SparkSpec {
  import StageArrivalsSpec._

  private def batches = spark.range(6).selectExpr("id", "CAST(id % 2 AS INT) AS _b")

  private def parquetFiles(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.endsWith(".parquet")).sorted

  test("each delivery moves its batch's files into the input directory") {
    val in = new File(tempDir("arrivals_"), "in").getPath
    val (deliver, schema) = StreamingQueries.stageArrivals(batches, in)
    assert(schema.fieldNames.toSeq == Seq("id"))
    deliver(0)
    assert(parquetFiles(in).nonEmpty && parquetFiles(in).forall(_.startsWith("b0_")))
    deliver(1)
    assert(spark.read.parquet(in).count() == 6)
  }

  test("a rename refused because the destination exists fails the delivery, " +
      "naming the path") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.hdfsrename.impl", classOf[HdfsRenameFs].getName)
    conf.setBoolean("fs.hdfsrename.impl.disable.cache", true)
    val in = new File(tempDir("arrivals_"), "in").getPath
    val (deliver, _) = StreamingQueries.stageArrivals(batches, s"hdfsrename:$in")
    // the staging directory this call just wrote
    val staging = new File(graft.engine.GraftSession.scratchRoot).listFiles()
      .filter(_.getName.startsWith("arrstage_")).maxBy(_.lastModified)
    val staged = parquetFiles(new File(staging, "_b=0").getPath)
    assert(staged.nonEmpty)
    staged.foreach(n => Files.write(new File(in, s"b0_$n").toPath, Array[Byte](1)))
    val e = intercept[IOException](deliver(0))
    assert(staged.exists(n => e.getMessage.contains(s"$in/b0_$n")), e.getMessage)
  }

  test("a NULL batch key fails staging, naming the directory it landed in") {
    val in = new File(tempDir("arrivals_"), "in").getPath
    val withNull = spark.range(6).selectExpr("id",
      "CASE WHEN id = 5 THEN NULL ELSE CAST(id % 2 AS INT) END AS _b")
    val e = intercept[IOException](StreamingQueries.stageArrivals(withNull, in))
    assert(e.getMessage.contains("_b=__HIVE_DEFAULT_PARTITION__"), e.getMessage)
  }

  test("an input path that is a file fails staging") {
    val in = Files.createFile(new File(tempDir("arrivals_"), "in").toPath).toString
    val e = intercept[IOException](StreamingQueries.stageArrivals(batches, in))
    assert(e.getMessage.contains(in), e.getMessage)
  }
}

object StageArrivalsSpec {
  /** The local file system with HDFS's rename rule: a rename onto an
    * existing path returns false (the local one replaces the file). */
  class HdfsRenameFs extends RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("hdfsrename:///")
    override def rename(src: Path, dst: Path): Boolean =
      !exists(dst) && super.rename(src, dst)
  }
}
