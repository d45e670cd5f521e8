package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession

/** Temporary files for a suite, without a session: each in a fresh
  * directory in java.io.tmpdir, deleted with everything in it once the
  * suite has run. The one place the test tree makes temporary files
  * (`TempDirSpec` guards it). */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val tempDirs = ArrayBuffer.empty[Path]

  /** A fresh, empty directory. */
  def tempPath(prefix: String): Path = synchronized {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d
  }

  def tempDir(prefix: String): String = tempPath(prefix).toString

  /** A fresh, empty file `prefix + suffix` in a fresh directory. */
  def tempFile(prefix: String, suffix: String): Path =
    Files.createFile(tempPath(prefix).resolve(prefix + suffix))

  override protected def afterAll(): Unit =
    try synchronized(tempDirs.foreach(TempDirs.deleteTree))
    finally super.afterAll()
}

object TempDirs {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach { x => Files.deleteIfExists(x); () }
    finally walk.close()
  }
}

/** Shared local SparkSession for specs (one JVM-wide session; ScalaTest
  * runs suites sequentially in the forked test JVM). */
trait SparkSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {

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
