package graft.engine

import java.io.File
import java.nio.file.{Files, Paths}

import graft.SourceGuard
import org.scalatest.funsuite.AnyFunSuite

/** The engine's temporary directories live under the per-process
  * scratch root, and nothing else in the engine makes one; the test
  * specs make theirs only through [[graft.TempDirs]]. */
class TempDirSpec extends AnyFunSuite {

  test("a temp dir is made under the scratch root") {
    val d = TempDir("tempdir_spec_")
    try {
      assert(Paths.get(d).getParent == Paths.get(GraftSession.scratchRoot))
      assert(new File(d).getName.startsWith("tempdir_spec_"))
    } finally TempDir.delete(new File(d))
  }

  test("drainParts reads the part files in name order, then deletes the dir") {
    val d = TempDir("tempdir_parts_")
    Files.write(Paths.get(d, "part-00001-x.parquet"), Array[Byte](2))
    Files.write(Paths.get(d, "part-00000-x.parquet"), Array[Byte](1))
    Files.write(Paths.get(d, ".part-00000-x.parquet.crc"), Array[Byte](9))
    Files.write(Paths.get(d, "_SUCCESS"), Array.emptyByteArray)
    Files.createDirectory(Paths.get(d, "sub"))
    assert(TempDir.drainParts(d, ".parquet").map(_.toSeq) ==
      Seq(Seq[Byte](1), Seq[Byte](2)))
    assert(!new File(d).exists())
  }

  test("no createTempDirectory outside engine/TempDir") {
    val offenders = SourceGuard.offenders(Seq(
      "createTempDirectory(" -> Some("graft/engine/TempDir.scala")))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("test specs make temporary files only through graft.TempDirs") {
    // the needles are split so that this line does not hold them
    val calls = Seq("Directory(", "File(").map(".createTemp" + _)
    val offenders = SourceGuard.offenders(
      calls.map(_ -> Some("graft/SparkSpec.scala")), tree = "src/test/scala")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
