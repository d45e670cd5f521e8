package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession

/** Shared local SparkSession for specs (one JVM-wide session; ScalaTest
  * runs suites sequentially in the forked test JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val tempDirs = ArrayBuffer.empty[Path]

  /** A fresh directory in java.io.tmpdir, deleted with everything in it
    * once the suite has run. */
  def tempDir(prefix: String): String = synchronized {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d.toString
  }

  override protected def afterAll(): Unit =
    try synchronized(tempDirs.foreach(SparkSpec.deleteTree))
    finally super.afterAll()
}

object SparkSpec {
  private def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach { x => Files.deleteIfExists(x); () }
    finally walk.close()
  }

  lazy val session: SparkSession = {
    // the local codegen settings every GraftSession.builder session gets
    val s = GraftSession.localCodegen(SparkSession.builder())
      .master("local[2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // keep bucketed saveAsTable staging out of the repo working copy
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft_warehouse_test")
      .config("spark.ui.enabled", "false")
      // the native functions, as every GraftSession gets them
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
