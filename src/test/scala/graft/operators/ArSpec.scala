package graft.operators

import java.nio.file.{Files, Path}

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

import Ar._

/** ar/.deb conformance, refereed by `/usr/bin/ar` and
  * `/usr/bin/dpkg-deb`: system-built archives parse here with
  * identical member lists and bytes; archives built here list and
  * extract identically through the system tools, and our emitted
  * .deb satisfies dpkg-deb --info/--contents. */
class ArSpec extends AnyFunSuite with TempDirs {

  private def sh(cwd: Path, cmd: String*): String = {
    val out = new StringBuilder
    val code = Process(cmd, cwd.toFile)
      .!(ProcessLogger(l => { out ++= l; out += '\n' }, l => ()))
    assert(code == 0, s"$cmd failed:\n$out")
    out.toString
  }

  test("round-trip: short and GNU-long names, odd sizes padded, " +
      "member bytes exact") {
    val members = Seq(
      ("short.txt", "hello".getBytes("UTF-8")), // odd size -> padding
      ("a-very-long-member-name-over-16-chars.dat",
        Array.tabulate(100)(_.toByte)),
      ("x", Array.emptyByteArray),
      ("another-extremely-long-name-for-the-table.bin",
        "data2".getBytes("UTF-8")))
    val ar = encodeAr(members)
    val parsed = arMembers(ar).get
    assert(parsed.map(_.name) == members.map(_._1).toVector)
    parsed.zip(members).foreach { case (m, (_, data)) =>
      assert(memberBytes(ar, m).sameElements(data))
    }
  }

  test("system ar reads our archives and we read system ar's") {
    val bin = new java.io.File("/usr/bin/ar")
    assume(bin.canExecute, "ar not in container")
    val dir = tempPath("arref")
    // ours -> system
    val ours = encodeAr(Seq(("m1.txt", "alpha\n".getBytes),
      ("m2.bin", Array.tabulate(64)(_.toByte))))
    Files.write(dir.resolve("ours.a"), ours)
    val listing = sh(dir, "ar", "t", "ours.a")
    assert(listing.linesIterator.toSeq == Seq("m1.txt", "m2.bin"))
    sh(dir, "ar", "x", "ours.a")
    assert(Files.readAllBytes(dir.resolve("m1.txt"))
      .sameElements("alpha\n".getBytes))
    // system -> ours (force GNU long names with a >15-char member)
    Files.write(dir.resolve("first-member.txt"), "one\n".getBytes)
    Files.write(dir.resolve("a-much-longer-member-name.txt"),
      "two\n".getBytes)
    sh(dir, "ar", "rc", "sys.a", "first-member.txt",
      "a-much-longer-member-name.txt")
    val sys = Files.readAllBytes(dir.resolve("sys.a"))
    val parsed = arMembers(sys).get
    assert(parsed.map(_.name) ==
      Vector("first-member.txt", "a-much-longer-member-name.txt"))
    assert(memberBytes(sys, parsed(1)).sameElements("two\n".getBytes))
  }

  test("dpkg-deb builds a real package we walk end-to-end, and our " +
      ".deb satisfies dpkg-deb --info/--contents") {
    val bin = new java.io.File("/usr/bin/dpkg-deb")
    assume(bin.canExecute, "dpkg-deb not in container")
    val dir = tempPath("debref")
    // real dpkg-built package
    val root = dir.resolve("pkgroot")
    Files.createDirectories(root.resolve("DEBIAN"))
    Files.createDirectories(root.resolve("usr/share/doc/refpkg"))
    Files.write(root.resolve("DEBIAN/control"),
      ("Package: refpkg\nVersion: 1.0\nArchitecture: all\n" +
        "Maintainer: a <a@x.test>\nDescription: referee fixture\n")
        .getBytes("UTF-8"))
    Files.write(root.resolve("usr/share/doc/refpkg/README"),
      "reference readme\n".getBytes("UTF-8"))
    sh(dir, "dpkg-deb", "-b", "pkgroot", "ref.deb")
    val deb = Files.readAllBytes(dir.resolve("ref.deb"))
    val members = arMembers(deb).get
    assert(members.head.name == "debian-binary")
    assert(new String(memberBytes(deb, members.head), "UTF-8") == "2.0\n")
    val dataM = members.find(_.name.startsWith("data.tar")).get
    val dataRaw = dataM.name match {
      case n if n.endsWith(".xz") =>
        XzCodec.xzDecompress(memberBytes(deb, dataM)).get
      case n if n.endsWith(".gz") =>
        Compression.gunzip(memberBytes(deb, dataM)).get
      case n if n.endsWith(".zst") =>
        ZstdCodec.zstdDecompress(memberBytes(deb, dataM)).get
      case n => fail(s"unexpected data member $n")
    }
    val files = Archive.tarMembers(dataRaw)
    assert(files.exists(_.name.endsWith("usr/share/doc/refpkg/README")))
    // our .deb through the system tool
    val controlTar = Archive.encodeTar(Seq(Archive.TarEntry("./control",
      ("Package: ourpkg\nVersion: 2.0\nArchitecture: all\n" +
        "Maintainer: a <a@x.test>\nDescription: emitted fixture\n")
        .getBytes("UTF-8"), 1L)))
    val dataTar = Archive.encodeTar(Seq(Archive.TarEntry(
      "./usr/share/doc/ourpkg/README", "ours\n".getBytes("UTF-8"), 2L)))
    Files.write(dir.resolve("ours.deb"),
      encodeDeb(controlTar, dataTar, dataXz = true))
    val info = sh(dir, "dpkg-deb", "--info", "ours.deb")
    assert(info.contains("Package: ourpkg"))
    val contents = sh(dir, "dpkg-deb", "--contents", "ours.deb")
    assert(contents.contains("usr/share/doc/ourpkg/README"))
  }

  test("hostile input: bad magic, torn header, size lie, bad long-name " +
      "ref, truncation sweep") {
    assert(arMembers(null).isEmpty)
    assert(arMembers("!<arch>x".getBytes).isEmpty)
    assert(arMembers("not an archive at all".getBytes).isEmpty)
    val ok = encodeAr(Seq(("m.txt", "payload".getBytes)))
    (0 until ok.length by 2).foreach(k => arMembers(ok.take(k)))
    // size field lies beyond the buffer
    val lie = ok.clone()
    // size field at header offset 48, header starts at 8
    "9999999".getBytes.zipWithIndex.foreach { case (c, k) =>
      lie(8 + 48 + k) = c
    }
    assert(arMembers(lie).isEmpty)
    // long-name reference with no table
    val badRef = encodeAr(Seq(("m.txt", "x".getBytes)))
    badRef(8) = '/'; badRef(9) = '5'; badRef(10) = ' '
    assert(arMembers(badRef).isEmpty)
    // missing terminator
    val term = ok.clone()
    term(8 + 58) = 'X'
    assert(arMembers(term).isEmpty)
  }
}
