package graft.engine

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec
import graft.streaming.Run

/** The local session's `file:` file system forks no process for the
  * file operations a parquet write and a stateful stream make, and
  * keeps Hadoop's answers: permission bits, link status, `.crc` files. */
class LocalFsSpec extends SparkSpec {

  /** The command lines of every process the JVM starts during `body`,
    * as JFR's `jdk.ProcessStart` events record them. */
  private def spawns(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = tempPath("jfr_").resolve("spawns.jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally rec.close()
  }

  test("a parquet write and a stream on each state store spawn no chmod " +
      "or readlink") {
    import spark.implicits._
    val src = tempPath("spawn_src_").resolve("in").toString
    val commands = spawns {
      (1L to 200L).map(i => (i % 7, i)).toDF("k", "v")
        .coalesce(2).write.parquet(src)
      val schema = spark.read.parquet(src).schema
      Seq(false, true).foreach { rocksDb =>
        val counts = Run.complete(spark.readStream.schema(schema).parquet(src)
          .groupBy($"k").count(), rocksDb)
        assert(counts.as[(Long, Long)].collect().map(_._2).sum == 200L)
      }
    }
    val forked = commands.filter(c => c.startsWith("chmod") ||
      c.startsWith("readlink") || c.contains("/chmod ") ||
      c.contains("/readlink "))
    assert(forked.isEmpty, s"${forked.size} of ${commands.size} spawns: " +
      forked.take(5).mkString("; "))
  }

  test("the session's file: paths go through LocalFs in both Hadoop APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(new URI("file:///"), conf)
      .isInstanceOf[LocalFs.Checksummed])
    val fc = FileContext.getFileContext(new URI("file:///"), conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[LocalFs.Context])
  }

  private def raw(): LocalFs.Raw = {
    val fs = new LocalFs.Raw
    fs.initialize(new URI("file:///"), new Configuration())
    fs
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("permission bits: rwx bits through java.nio, the sticky bit " +
      "through Hadoop") {
    val fs = raw()
    val f = Files.createFile(tempPath("perm_").resolve("f"))
    Seq(0x1a0, 0x1ff, 0x124, 0x0).foreach { bits =>
      fs.setPermission(new Path(f.toUri), new FsPermission(bits.toShort))
      assert(mode(f) == bits, f"0$bits%o")
      assert(fs.getFileStatus(new Path(f.toUri)).getPermission.toShort == bits)
    }
    val d = tempPath("sticky_")
    fs.setPermission(new Path(d.toUri), new FsPermission(0x3ff.toShort))
    assert(mode(d) == 0x3ff)
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(d)) ==
      "rwxrwxrwx")
    intercept[java.io.IOException](fs.setPermission(
      new Path(d.resolve("missing").toUri), new FsPermission(0x1a4.toShort)))
  }

  test("link status: a qualified path gets its file status, as readlink " +
      "gave it; an unqualified one still sees the link") {
    val fs = raw()
    val dir = tempPath("link_")
    val target = Files.write(dir.resolve("t"), Array.fill[Byte](5)(1))
    val link = Files.createSymbolicLink(dir.resolve("l"), target)
    val q = fs.getFileLinkStatus(new Path(link.toUri))
    assert(!q.isSymlink && q.isFile && q.getLen == 5)
    assert(fs.getFileLinkStatus(new Path(target.toUri)).getLen == 5)
    assert(fs.getFileLinkStatus(new Path(link.toString)).isSymlink)
    intercept[java.io.FileNotFoundException](
      fs.getFileLinkStatus(new Path(dir.resolve("none").toUri)))
  }

  test("checksum files stay: a create through the session file system " +
      "writes its .crc") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = tempPath("crc_")
    val p = new Path(dir.resolve("data.bin").toUri)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p)
    try out.write(Array.fill[Byte](100)(7)) finally out.close()
    assert(Files.exists(dir.resolve(".data.bin.crc")))
    val in = fs.open(p)
    try assert(in.readAllBytes().length == 100) finally in.close()
  }
}
