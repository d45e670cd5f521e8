package graft.operators

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

import Cpio._

/** cpio conformance: own encode↔decode round-trips for all three
  * forms (newc, newc+CRC, odc), refereed BOTH directions against
  * libarchive's bsdcpio when present, plus hostile-input sweeps. */
class CpioSpec extends AnyFunSuite with TempDirs {

  private val bsdcpio = new java.io.File("/root/miniconda/bin/bsdcpio")

  private def sampleEntries(n: Int, seed: Long): Seq[CpioEntry] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { k =>
      val data = new Array[Byte](rnd.nextInt(600))
      rnd.nextBytes(data)
      CpioEntry(s"dir$k/file-$k.bin", 0x81a4, 1000L + k, data)
    }
  }

  private def same(a: Seq[CpioEntry], b: Seq[CpioEntry]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.name == y.name && x.mtime == y.mtime &&
        java.util.Arrays.equals(x.data, y.data)
    }

  test("own encode -> own decode round-trips, all three forms, " +
      "including empty files and empty archives") {
    (1L to 5L).foreach { seed =>
      val es = sampleEntries(6, seed) :+
        CpioEntry("empty.txt", 0x81a4, 7L, Array.emptyByteArray)
      assert(same(decode(encodeNewc(es)).get, es), s"newc seed=$seed")
      assert(same(decode(encodeNewc(es, withCrc = true)).get, es),
        s"crc seed=$seed")
      assert(same(decode(encodeOdc(es)).get, es), s"odc seed=$seed")
    }
    assert(decode(encodeNewc(Seq.empty)).get.isEmpty)
    assert(decode(encodeOdc(Seq.empty)).get.isEmpty)
  }

  test("bsdcpio referee: archives it builds decode here (newc + odc " +
      "+ crc); archives built here list and extract through it") {
    assume(bsdcpio.canExecute, "bsdcpio not in container")
    val dir = tempPath("cpioref")
    def run(cwd: Path, in: Option[Path], out: Option[Path],
        args: String*): Int = {
      val pb = new ProcessBuilder((bsdcpio.getAbsolutePath +: args): _*)
      pb.directory(cwd.toFile)
      in.foreach(p => pb.redirectInput(p.toFile))
      out.foreach(p => pb.redirectOutput(p.toFile))
      pb.redirectErrorStream(false)
      pb.start().waitFor()
    }
    // fixture files
    val src = dir.resolve("src"); Files.createDirectories(src)
    val payloads = (0 until 4).map { k =>
      val p = s"f$k.dat"
      val data = (s"payload-$k-" * (k * 37 + 1)).getBytes("UTF-8")
      Files.write(src.resolve(p), data)
      p -> data
    }
    val listing = dir.resolve("list.txt")
    Files.write(listing,
      payloads.map(_._1).mkString("", "\n", "\n").getBytes("UTF-8"))
    // (bsdcpio WRITES newc and odc; the 070702 crc form is read-only
    // in libarchive, so its referee direction is ours->bsdcpio below)
    Seq("newc", "odc").foreach { fmt =>
      val arch = dir.resolve(s"ref-$fmt.cpio")
      assert(run(src, Some(listing), Some(arch),
        "-o", "--format", fmt) == 0, fmt)
      val got = decode(Files.readAllBytes(arch))
        .getOrElse(fail(s"decode failed for bsdcpio $fmt"))
      val files = got.filter(e => (e.mode & 0xf000) == 0x8000)
      assert(files.map(_.name).sorted == payloads.map(_._1).sorted, fmt)
      payloads.foreach { case (n, d) =>
        assert(files.find(_.name == n).get.data.sameElements(d),
          s"$fmt/$n")
      }
    }
    // our archives through bsdcpio: -it lists, -i extracts byte-exact
    val es = sampleEntries(5, 99L)
    Seq[(String, Array[Byte])](
      ("newc", encodeNewc(es)),
      ("crc", encodeNewc(es, withCrc = true)),
      ("odc", encodeOdc(es))).foreach { case (fmt, bytes) =>
      val arch = dir.resolve(s"ours-$fmt.cpio")
      Files.write(arch, bytes)
      val lst = dir.resolve(s"ours-$fmt.lst")
      assert(run(dir, Some(arch), Some(lst), "-it") == 0, fmt)
      val names = new String(Files.readAllBytes(lst), "UTF-8")
        .linesIterator.toVector
      assert(names.sorted == es.map(_.name).sorted.toVector, fmt)
      val ext = dir.resolve(s"x-$fmt"); Files.createDirectories(ext)
      assert(run(ext, Some(arch), None, "-i", "-d") == 0, fmt)
      es.foreach { e =>
        assert(Files.readAllBytes(ext.resolve(e.name))
          .sameElements(e.data), s"$fmt/${e.name}")
      }
    }
  }

  test("hostile input: truncation sweeps never throw, CRC lies " +
      "reject, hostile sizes reject, junk after trailer rejects") {
    val es = sampleEntries(4, 5L)
    Seq(encodeNewc(es), encodeNewc(es, withCrc = true), encodeOdc(es))
      .foreach { arch =>
        (0 until arch.length by 7).foreach(k => decode(arch.take(k)))
      }
    assert(decode(null).isEmpty)
    assert(decode(Array.fill[Byte](200)('x')).isEmpty)
    // CRC form: flip one data byte -> None (the check catches it)
    val ce = Seq(CpioEntry("c.bin", 0x81a4, 1L,
      "checksummed-payload".getBytes("US-ASCII")))
    val crc = encodeNewc(ce, withCrc = true)
    val nameOff = 110 + ce.head.name.length + 1
    val dataAt = ((nameOff + 3) / 4) * 4 + 2
    val bad = crc.clone()
    bad(dataAt) = (bad(dataAt) ^ 0x01).toByte
    assert(decode(bad).isEmpty)
    // hostile namesize (huge hex) -> None before allocation
    val h = encodeNewc(es)
    val evil = h.clone()
    System.arraycopy("7fffffff".getBytes("US-ASCII"), 0, evil, 94, 8)
    assert(decode(evil).isEmpty)
    // junk after trailer
    val tail = encodeNewc(es) ++ Array[Byte]('J', 'U', 'N', 'K')
    assert(decode(tail).isEmpty)
  }
}
