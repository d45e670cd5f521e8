package graft.operators

import java.io.ByteArrayInputStream
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec
import Archive._

/** Archive codecs: property round-trips, hostile input, and two
  * INDEPENDENT referees — GNU tar (decode our archives, produce
  * archives we decode) and the JDK's ZipOutputStream/ZipInputStream. */
class ArchiveSpec extends SparkSpec {

  private def checkProp(p: Prop, n: Int = 60): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private val nameGen: Gen[String] = for {
    depth <- Gen.choose(0, 3)
    parts <- Gen.listOfN(depth + 1, Gen.alphaNumStr.map(_.take(12)).suchThat(_.nonEmpty))
  } yield parts.mkString("/")

  private val payloadGen: Gen[Array[Byte]] =
    Gen.choose(0, 2000).flatMap(n => Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))

  // ------------------------------------------------------------ tar

  test("tar round-trip: names, sizes, mtimes, typeflags survive") {
    checkProp(Prop.forAll(Gen.listOfN(5, Gen.zip(nameGen, payloadGen))) { es =>
      val entries = es.zipWithIndex.map { case ((n, p), i) =>
        TarEntry(s"d$i/" + n, p, 1234567000L + i)
      }
      val ms = tarMembers(encodeTar(entries))
      ms.size == entries.size && ms.zip(entries).forall { case (m, e) =>
        m.name == e.name && m.size == e.payload.length &&
          m.mtime == e.mtime && m.typeflag == '0' && m.nameSource == "ustar"
      }
    })
  }

  test("tar: headerOffset + 512 addresses the payload exactly") {
    val entries = Seq(
      TarEntry("a.bin", Array.tabulate(700)(_.toByte), 1L),
      TarEntry("b.bin", Array.tabulate(13)(i => (i * 7).toByte), 2L),
      TarEntry("deep/" * 24 + "c.bin", Array.tabulate(513)(_.toByte), 3L))
    val blob = encodeTar(entries)
    val ms = tarMembers(blob)
    assert(ms.size == 3)
    ms.zip(entries).foreach { case (m, e) =>
      val start = (m.headerOffset + 512).toInt
      val got = java.util.Arrays.copyOfRange(blob, start, start + e.payload.length)
      assert(got.sameElements(e.payload), m.name)
    }
    assert(ms(2).nameSource == "pax" && ms(2).name.startsWith("deep/deep/"))
  }

  test("tar: names >100 bytes travel via PAX (auto) and GNU 'L' modes") {
    val long = "x" * 180 + ".txt"
    for (mode <- Seq("pax", "gnu")) {
      val ms = tarMembers(encodeTar(Seq(
        TarEntry(long, "hi".getBytes, 9L, mode),
        TarEntry("short.txt", "yo".getBytes, 10L))))
      assert(ms.map(_.name) == Vector(long, "short.txt"), mode)
      assert(ms.head.nameSource == mode)
    }
  }

  test("tar: corrupt mid-archive header yields the verified prefix") {
    val blob = encodeTar(Seq(
      TarEntry("ok.txt", "one".getBytes, 1L),
      TarEntry("bad.txt", "two".getBytes, 2L)))
    val second = tarMembers(blob)(1).headerOffset.toInt
    blob(second + 148) = '9' // break the checksum field
    assert(tarMembers(blob).map(_.name) == Vector("ok.txt"))
  }

  test("tar: truncated payload ends the walk without the torn member") {
    val blob = encodeTar(Seq(
      TarEntry("ok.txt", "one".getBytes, 1L),
      TarEntry("torn.txt", Array.fill(900)('z'.toByte), 2L)))
    val cut = java.util.Arrays.copyOf(blob, blob.length - 1200)
    assert(tarMembers(cut).map(_.name) == Vector("ok.txt"))
  }

  test("tar: GNU base-256 size field parses") {
    // craft a header whose size field uses the binary escape
    val blob = encodeTar(Seq(TarEntry("n.bin", Array.fill(600)(1.toByte), 5L)))
    val o = 0
    java.util.Arrays.fill(blob, o + 124, o + 136, 0.toByte)
    blob(o + 124) = 0x80.toByte
    blob(o + 134) = ((600 >> 8) & 0xff).toByte
    blob(o + 135) = (600 & 0xff).toByte
    // re-checksum
    java.util.Arrays.fill(blob, o + 148, o + 156, ' '.toByte)
    var sum = 0L
    for (i <- 0 until 512) sum += blob(o + i) & 0xff
    var x = sum; for (i <- 5 to 0 by -1) { blob(o + 148 + i) = ('0' + (x & 7)).toByte; x >>= 3 }
    blob(o + 154) = 0; blob(o + 155) = ' '
    val ms = tarMembers(blob)
    assert(ms.size == 1 && ms.head.size == 600L)
  }

  test("tar: PAX record parser rejects malformed records") {
    assert(parsePaxRecords("27 path=some/long/name.txt\n".getBytes).contains(
      Map("path" -> "some/long/name.txt")))
    assert(parsePaxRecords("9 path=x\n".getBytes).contains(Map("path" -> "x")))
    assert(parsePaxRecords("8 path=x\n".getBytes).isEmpty) // wrong length
    assert(parsePaxRecords("9 pathxx\n".getBytes).isEmpty) // no '='
    assert(parsePaxRecords("11 path=x".getBytes).isEmpty) // no newline
    assert(parsePaxRecords("garbage".getBytes).isEmpty)
  }

  test("tar referee: GNU tar reads our archives (pax + plain names)") {
    val tmp = tempFile("graft_arch", ".tar")
    try {
      val long = "p/" * 70 + "longname.txt"
      Files.write(tmp, encodeTar(Seq(
        TarEntry("plain.txt", "alpha".getBytes, 1111L),
        TarEntry(long, "beta".getBytes, 2222L))))
      val out = runTool("tar", "-tf", tmp.toString)
      assert(out.exists(_.trim == "plain.txt"), out.mkString("|"))
      assert(out.exists(_.trim == long), out.mkString("|"))
    } finally Files.deleteIfExists(tmp)
  }

  test("tar referee: we read GNU-tar-produced archives (incl. long name)") {
    val dir = tempPath("graft_tarsrc")
    val tarF = tempFile("graft_gnu", ".tar")
    try {
      val longRel = "sub/" + "y" * 140 + ".dat"
      Files.createDirectories(dir.resolve("sub"))
      Files.write(dir.resolve("short.txt"), "hello".getBytes)
      Files.write(dir.resolve(longRel), Array.tabulate(777)(_.toByte))
      // --format=pax and default gnu both must parse
      for (fmt <- Seq("pax", "gnu", "ustar")) {
        val files =
          if (fmt == "ustar") Seq("short.txt") else Seq("short.txt", longRel)
        runTool(Seq("tar", s"--format=$fmt", "-cf", tarF.toString,
          "-C", dir.toString) ++ files: _*)
        val ms = tarMembers(Files.readAllBytes(tarF))
        assert(ms.exists(m => m.name == "short.txt" && m.size == 5), fmt)
        if (fmt != "ustar")
          assert(ms.exists(m => m.name == longRel && m.size == 777), fmt)
      }
    } finally {
      Files.deleteIfExists(tarF)
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    }
  }

  private def runTool(cmd: String*): Seq[String] = {
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    assert(p.waitFor() == 0, s"${cmd.mkString(" ")} -> $out")
    out
  }

  // ------------------------------------------------------------ zip

  test("zip round-trip: store + deflate entries extract and verify") {
    checkProp(Prop.forAll(Gen.listOfN(4,
        Gen.zip(nameGen, payloadGen, Gen.oneOf(true, false)))) { es =>
      val entries = es.zipWithIndex.map { case ((n, p, d), i) => (s"e$i/$n", p, d) }
      val blob = encodeZip(entries)
      zipEntries(blob).exists { ms =>
        ms.size == entries.size && ms.zip(entries).forall { case (m, (n, p, d)) =>
          m.name == n && m.method == (if (d) 8 else 0) &&
            m.uncompSize == p.length &&
            unzipEntry(blob, m).exists(_.sameElements(p))
        }
      }
    })
  }

  test("zip referee: JDK ZipInputStream reads our archives byte-exact") {
    val payloadA = Array.tabulate(1500)(i => (i * 31).toByte)
    val blob = encodeZip(Seq(
      ("a/data.bin", payloadA, true), ("b.txt", "stored".getBytes, false)))
    val zin = new ZipInputStream(new ByteArrayInputStream(blob))
    val got = Iterator.continually(zin.getNextEntry).takeWhile(_ != null).map { e =>
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = zin.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = zin.read(buf) }
      e.getName -> bos.toByteArray
    }.toMap
    assert(got.keySet == Set("a/data.bin", "b.txt"))
    assert(got("a/data.bin").sameElements(payloadA))
    assert(got("b.txt").sameElements("stored".getBytes))
  }

  test("zip referee: we read JDK-ZipOutputStream-produced archives") {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    val pay = Array.tabulate(4000)(i => (i ^ (i >> 3)).toByte)
    zos.putNextEntry(new ZipEntry("jdk/deflated.bin")); zos.write(pay); zos.closeEntry()
    val st = new ZipEntry("jdk/stored.txt")
    val sp = "plain".getBytes
    st.setMethod(ZipEntry.STORED); st.setSize(sp.length.toLong)
    val c = new java.util.zip.CRC32(); c.update(sp); st.setCrc(c.getValue)
    zos.putNextEntry(st); zos.write(sp); zos.closeEntry()
    zos.close()
    val blob = bos.toByteArray
    val ms = zipEntries(blob).getOrElse(fail("no entries"))
    assert(ms.map(_.name) == Vector("jdk/deflated.bin", "jdk/stored.txt"))
    assert(unzipEntry(blob, ms(0)).exists(_.sameElements(pay)))
    assert(unzipEntry(blob, ms(1)).exists(_.sameElements(sp)))
  }

  test("zip: EOCD found through a trailing archive comment") {
    val base = encodeZip(Seq(("x.txt", "x".getBytes, false)))
    // splice a comment: patch the EOCD comment-length field and append
    val eocd = base.length - 22
    val comment = "trailing junk PK inside".getBytes
    val withC = java.util.Arrays.copyOf(base, base.length + comment.length)
    System.arraycopy(comment, 0, withC, base.length, comment.length)
    withC(eocd + 20) = (comment.length & 0xff).toByte
    withC(eocd + 21) = ((comment.length >> 8) & 0xff).toByte
    val ms = zipEntries(withC)
    assert(ms.exists(_.map(_.name) == Vector("x.txt")))
  }

  test("zip: forged CRC and torn stream both fail the verified extract") {
    val blob = encodeZip(Seq(("d.bin", Array.tabulate(600)(_.toByte), true)))
    val ms = zipEntries(blob).get
    assert(unzipEntry(blob, ms.head).isDefined)
    assert(unzipEntry(blob, ms.head.copy(crc32 = ms.head.crc32 ^ 1)).isEmpty)
    assert(unzipEntry(java.util.Arrays.copyOf(blob, 40), ms.head).isEmpty)
    assert(zipEntries(java.util.Arrays.copyOf(blob, blob.length - 3)).isEmpty)
  }

  test("zip: null and garbage input yield None, never a throw") {
    assert(zipEntries(null).isEmpty)
    assert(zipEntries(Array.fill(100)('z'.toByte)).isEmpty)
    assert(tarMembers(null).isEmpty)
    assert(tarMembers(Array.fill(700)('z'.toByte)).isEmpty)
  }

  // ------------------------------------------- webdataset grouping

  test("webdatasetSamples groups by first-dot key with multi-dot exts") {
    val s = spark
    import s.implicits._
    val members = Seq(
      (0L, "s0.img", 10L), (0L, "s0.cap.txt", 4L), (0L, "s0.json", 2L),
      (0L, "s1.img", 7L), // incomplete: no cap.txt
      (1L, "dir/s2.img", 5L), (1L, "dir/s2.cap.txt", 3L))
      .toDF("shard_id", "member_name", "n_bytes")
    val out = Archive.webdatasetSamples(members, Seq("img", "cap.txt"))
      .orderBy("shard_id", "sample_key")
      .collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getString(3), r.getLong(4), r.getBoolean(5))).toSeq == Seq(
      (0L, "s0", 3L, "cap.txt,img,json", 16L, true),
      (0L, "s1", 1L, "img", 7L, false),
      (1L, "s2", 2L, "cap.txt,img", 8L, true)))
  }

  // ---- ZIP64 -----------------------------------------------------------

  private val zip64Entries = Seq(
    ("big/a.bin", Array.tabulate(1000)(i => (i * 7).toByte), true),
    ("big/b.txt", "zip64 store payload".getBytes("UTF-8"), false))

  test("zip64: forced-ZIP64 archive walks through the 64-bit path") {
    val blob = Archive.encodeZip64(zip64Entries)
    val Some(es) = Archive.zipEntries(blob)
    assert(es.map(_.name) == Vector("big/a.bin", "big/b.txt"))
    assert(es.map(_.uncompSize) == Vector(1000L, 19L))
    for ((e, (_, payload, _)) <- es.zip(zip64Entries)) {
      val Some(data) = Archive.unzipEntry(blob, e)
      assert(data.toSeq == payload.toSeq)
    }
  }

  test("zip64: JDK ZipFile referees the emitter's layout") {
    val blob = Archive.encodeZip64(zip64Entries)
    val f = tempFile("graft-zip64", ".zip").toFile
    try {
      java.nio.file.Files.write(f.toPath, blob)
      val zf = new java.util.zip.ZipFile(f)
      try {
        val names = zf.entries()
        val got = Iterator.continually(names)
          .takeWhile(_.hasMoreElements).map(_.nextElement()).toList
        assert(got.map(_.getName) == List("big/a.bin", "big/b.txt"))
        for ((ze, (_, payload, _)) <- got.zip(zip64Entries)) {
          assert(ze.getSize == payload.length,
            s"${ze.getName}: JDK read size ${ze.getSize}")
          val in = zf.getInputStream(ze)
          val data = in.readAllBytes(); in.close()
          assert(data.toSeq == payload.toSeq, s"${ze.getName} payload")
        }
      } finally zf.close()
    } finally { f.delete(); () }
  }

  test("zip64: classic 65,535-entry archive (pinned n, no locator) falls back") {
    // APPNOTE pins the ZIP64 record as authoritative only when the
    // locator EXISTS: a classic archive with exactly 0xFFFF entries is
    // legal and must parse through the classic EOCD fields
    val blob = Archive.encodeZip(
      (0 until 65535).map(i => (f"e$i%05d", Array.empty[Byte], false)))
    val Some(es) = Archive.zipEntries(blob)
    assert(es.size == 65535)
    assert(es.head.name == "e00000" && es.last.name == "e65534")
  }

  test("zip64: torn locator / missing zip64 EOCD rejects, classic still works") {
    val blob = Archive.encodeZip64(zip64Entries)
    // overwrite the locator signature: the pinned EOCD now has no
    // resolvable 64-bit record
    val locAt = blob.length - 22 - 20
    assert(blob(locAt) == 'P' && blob(locAt + 3) == 7)
    val torn = blob.clone(); torn(locAt + 3) = 9
    assert(Archive.zipEntries(torn).isEmpty)
    // the classic writer's output still parses (no regression)
    val classic = Archive.encodeZip(Seq(("c.txt", "hi".getBytes, false)))
    assert(Archive.zipEntries(classic).exists(_.map(_.name) == Vector("c.txt")))
  }
}
