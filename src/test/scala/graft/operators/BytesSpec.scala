package graft.operators

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, Paths}
import java.util.zip.Deflater

import scala.jdk.CollectionConverters._

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

class BytesSpec extends AnyFunSuite {

  private def checkProp(p: Prop, n: Int = 100): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private def deflate(b: Array[Byte], nowrap: Boolean): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, nowrap)
    d.setInput(b); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  test("inflate round-trips zlib and raw deflate and reports the bytes " +
      "the stream occupied, whatever follows it") {
    checkProp(Prop.forAll(Gen.listOf(Gen.choose(0, 3).map(_.toByte)),
        Gen.oneOf(true, false), Gen.choose(0, 20)) { (data, nowrap, tail) =>
      val raw = data.toArray
      val z = deflate(raw, nowrap)
      val framed = Array[Byte](9, 9) ++ z ++ Array.fill(tail)(7.toByte)
      Bytes.inflate(framed, 2, framed.length - 2, nowrap = nowrap)
        .exists { case (out, used) => out.sameElements(raw) && used == z.length }
    })
  }

  test("output is capped: at the cap it decodes, one byte past it is None") {
    val raw = Array.tabulate(10000)(i => (i % 13).toByte)
    val z = deflate(raw, nowrap = false)
    assert(Bytes.inflate(z, 0, z.length, cap = 10000).exists(_._1.sameElements(raw)))
    assert(Bytes.inflate(z, 0, z.length, cap = 9999).isEmpty)
    assert(Bytes.inflate(z, 0, z.length, cap = 0).isEmpty)
    assert(Bytes.inflate(deflate(Array.emptyByteArray, false), 0, 8, cap = 0)
      .exists(_._1.isEmpty))
  }

  test("truncated, dictionary-asking, corrupt and out-of-range input is None") {
    val z = deflate(Array.fill(5000)(1.toByte) ++ "tail".getBytes, false)
    (0 until z.length).foreach(n => assert(Bytes.inflate(z, 0, n).isEmpty, n))
    val raw = deflate("truncated raw stream".getBytes, nowrap = true)
    assert(Bytes.inflate(raw, 0, raw.length - 1, nowrap = true).isEmpty)
    val fdict = Array[Byte](0x78, 0x20, 0, 0, 0, 1, 0x4b, 0x4c, 0, 0)
    assert(Bytes.inflate(fdict, 0, fdict.length).isEmpty)
    assert(Bytes.inflate(Array[Byte](0x78, 0x9c.toByte, -1, -1, -1), 0, 5).isEmpty)
    assert(Bytes.inflate(z, -1, 4).isEmpty)
    assert(Bytes.inflate(z, 4, z.length).isEmpty)
    assert(Bytes.inflate(null, 0, 0).isEmpty)
  }

  test("fixed-width readers and writers agree, in both byte orders") {
    checkProp(Prop.forAll { (v: Long) =>
      val out = new ByteArrayOutputStream()
      Bytes.le16(out, v.toInt); Bytes.be16(out, v.toInt)
      Bytes.le24(out, v.toInt)
      Bytes.le32(out, v); Bytes.be32(out, v)
      Bytes.w16(out, v.toInt, be = true); Bytes.w32(out, v, be = false)
      Bytes.le64(out, v)
      val b = out.toByteArray
      val u16 = (v & 0xffff).toInt
      val u32 = v & 0xffffffffL
      b.length == 29 &&
        Bytes.u16le(b, 0) == u16 && Bytes.u16be(b, 2) == u16 &&
        Bytes.u24le(b, 4) == (v & 0xffffff).toInt &&
        Bytes.u32le(b, 7) == u32 && Bytes.u32be(b, 11) == u32 &&
        Bytes.i32le(b, 7) == v.toInt && Bytes.i32be(b, 11) == v.toInt &&
        Bytes.u16(b, 15, be = true) == u16 && Bytes.u32(b, 17, be = false) == u32 &&
        Bytes.i64le(b, 21) == v
    })
    val b = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
    assert(Bytes.u24be(b, 0) == 0x010203)
    assert(Bytes.i64le(b, 0) == 0x0807060504030201L)
    assert(Bytes.i64be(b, 0) == 0x0102030405060708L)
    val p = new Array[Byte](8)
    Bytes.putLe32(p, 0, 0x01020304L); Bytes.putBe32(p, 4, 0x01020304L)
    assert(p.sameElements(Array[Byte](4, 3, 2, 1, 1, 2, 3, 4)))
    intercept[ArrayIndexOutOfBoundsException](Bytes.u32le(b, 6))
  }

  test("varint round-trips every value in at most ten bytes") {
    checkProp(Prop.forAll { (v: Long) =>
      val out = new ByteArrayOutputStream()
      out.write(0x55)
      Bytes.putVarint(out, v)
      val b = out.toByteArray
      Bytes.varint(b, 1).contains((v, b.length)) && b.length <= 11
    })
    assert(Bytes.varint(Array[Byte](0xac.toByte, 0x02), 0).contains((300L, 2)))
    assert(Bytes.varint(Array[Byte](0x80.toByte), 0).isEmpty) // torn
    assert(Bytes.varint(Array.fill(11)(0x80.toByte), 0).isEmpty) // > 10 bytes
    assert(Bytes.varint(Array[Byte](1), -1).isEmpty)
  }

  test("bit reader reads MSB-first across bytes and aligns") {
    val r = new Bytes.BitReader(Array[Byte](0, 0xa5.toByte, 0x0f), startByte = 1)
    assert(r.bits(3) == 5 && r.bit() == 0 && !r.aligned)
    assert(r.bitsLong(8) == 0x50L && r.bytePos == 2)
    r.alignByte()
    assert(r.aligned && r.bytePos == 3)
    intercept[ArrayIndexOutOfBoundsException](r.bit())
  }

  /** Copies cannot grow back: the main sources inflate and define
    * fixed-width readers and writers only in operators/Bytes.scala. */
  test("no Inflater or fixed-width endian helper outside operators/Bytes") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val helper = ("""^\s*(private(\[\w+\])? )?def (""" +
      """[ui](16|24|32|64)(le|be)?|(le|be|w)(16|24|32|64)|""" +
      """(put|read|write)(U|I)?(Le|Be)?(16|24|32|64)(le|be)?)\(""").r
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filterNot(_.endsWith(Paths.get("graft/operators/Bytes.scala")))
        .flatMap { (f: Path) =>
          Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (line, i) if line.contains("Inflater(") ||
                helper.findFirstIn(line).isDefined => s"$f:${i + 1}: $line"
          }
        }.toList
      finally walk.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
