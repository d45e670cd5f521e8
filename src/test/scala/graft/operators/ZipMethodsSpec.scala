package graft.operators

import java.nio.file.{Files, Path}

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** Modern zip compression methods (12 = bzip2, 14 = LZMA), refereed
  * by CPython's zipfile (libbz2 + liblzma under the hood): its
  * archives decode here entry-exactly, and our emitted archives
  * extract there byte-exactly. */
class ZipMethodsSpec extends AnyFunSuite with TempDirs {

  private val py = {
    val mc = new java.io.File("/root/miniconda/bin/python3")
    if (mc.canExecute) mc else new java.io.File("/usr/bin/python3")
  }

  private def sh(cwd: Path, cmd: String*): String = {
    val out = new StringBuilder
    val code = Process(cmd, cwd.toFile)
      .!(ProcessLogger(l => { out ++= l; out += '\n' }, l => { out ++= l; out += '\n' }))
    assert(code == 0, s"$cmd failed:\n$out")
    out.toString
  }

  test("python-built ZIP_BZIP2 and ZIP_LZMA archives decode here " +
      "entry-exactly") {
    assume(py.canExecute, "python3 not in container")
    val dir = tempPath("zipm")
    val script =
      """import zipfile, sys
        |z = zipfile.ZipFile(sys.argv[1], 'w')
        |data = b'referee payload ' * 400
        |z.writestr('store.txt', data, compress_type=zipfile.ZIP_STORED)
        |z.writestr('bz.txt', data + b'b', compress_type=zipfile.ZIP_BZIP2)
        |z.writestr('lz.txt', data + b'l', compress_type=zipfile.ZIP_LZMA)
        |z.close()
        |""".stripMargin
    Files.write(dir.resolve("mk.py"), script.getBytes("UTF-8"))
    sh(dir, py.getAbsolutePath, "mk.py", "ref.zip")
    val zip = Files.readAllBytes(dir.resolve("ref.zip"))
    val entries = Archive.zipEntries(zip).get
    assert(entries.map(e => (e.name, e.method)).toSet ==
      Set(("store.txt", 0), ("bz.txt", 12), ("lz.txt", 14)))
    val data = ("referee payload " * 400).getBytes("US-ASCII")
    val byName = entries.map(e => e.name -> Archive.unzipEntry(zip, e)).toMap
    assert(byName("store.txt").get.sameElements(data))
    assert(byName("bz.txt").get.sameElements(data :+ 'b'.toByte))
    assert(byName("lz.txt").get.sameElements(data :+ 'l'.toByte))
  }

  test("our method-12/14 archives extract byte-exactly through " +
      "python zipfile") {
    assume(py.canExecute, "python3 not in container")
    val dir = tempPath("zipm2")
    val payload = ("emitted payload " * 300).getBytes("US-ASCII")
    val zip = Archive.encodeZipMethods(Seq(
      ("store.txt", payload, 0),
      ("bz.txt", payload ++ Array('b'.toByte), 12),
      ("lz.txt", payload ++ Array('l'.toByte), 14)))
    Files.write(dir.resolve("ours.zip"), zip)
    val script =
      """import zipfile, sys
        |z = zipfile.ZipFile(sys.argv[1])
        |assert z.testzip() is None
        |base = b'emitted payload ' * 300
        |assert z.read('store.txt') == base
        |assert z.read('bz.txt') == base + b'b'
        |assert z.read('lz.txt') == base + b'l'
        |print('PY-OK')
        |""".stripMargin
    Files.write(dir.resolve("rd.py"), script.getBytes("UTF-8"))
    val out = sh(dir, py.getAbsolutePath, "rd.py", "ours.zip")
    assert(out.contains("PY-OK"))
    // and our own reader round-trips them too
    val entries = Archive.zipEntries(zip).get
    assert(entries.forall(e => Archive.unzipEntry(zip, e).isDefined))
    // non-ASCII member name: length fields must count UTF-8 BYTES
    // (name.length in UTF-16 chars produced a torn local header)
    val uzip = Archive.encodeZipMethods(Seq(("bücher-日本.txt", payload, 12)))
    Files.write(dir.resolve("uni.zip"), uzip)
    val uscript =
      """import zipfile, sys
        |z = zipfile.ZipFile(sys.argv[1])
        |assert z.testzip() is None
        |n = z.namelist()[0]
        |assert n.encode('cp437', 'replace') is not None
        |assert z.read(n) == b'emitted payload ' * 300
        |print('PY-UNI-OK')
        |""".stripMargin
    Files.write(dir.resolve("ru.py"), uscript.getBytes("UTF-8"))
    assert(sh(dir, py.getAbsolutePath, "ru.py", "uni.zip")
      .contains("PY-UNI-OK"))
    val ue = Archive.zipEntries(uzip).get
    assert(ue.size == 1 &&
      Archive.unzipEntry(uzip, ue.head).get.sameElements(payload))
  }

  test("hostile method-12/14 payloads reject: CRC lies, torn streams, " +
      "unknown methods") {
    val payload = "abc ".getBytes("US-ASCII")
    val zip = Archive.encodeZipMethods(Seq(("a.txt", payload, 12)))
    val entries = Archive.zipEntries(zip).get
    // flip a byte inside the bzip2 stream: entry decode must reject
    val bad = zip.clone()
    bad(40) = (bad(40) ^ 0x10).toByte
    Archive.zipEntries(bad).foreach(_.foreach(e =>
      assert(Archive.unzipEntry(bad, e).isEmpty ||
        Archive.unzipEntry(bad, e).get.sameElements(payload))))
    // unknown method rejects at entry decode
    val e0 = entries.head
    assert(Archive.unzipEntry(zip, e0.copy(method = 97)).isEmpty)
    // torn compressed payload
    assert(Archive.unzipEntry(zip.take(zip.length / 2),
      e0.copy(compSize = zip.length.toLong)).isEmpty)
  }
}
