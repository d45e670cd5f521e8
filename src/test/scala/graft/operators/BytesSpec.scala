package graft.operators

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, Paths}
import java.util.zip.Deflater

import scala.jdk.CollectionConverters._

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.SourceGuard

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

  test("deflate writes zlib's default-level stream, with or without the " +
      "zlib wrapper, and inflate reverses it") {
    checkProp(Prop.forAll(Gen.choose(0, 70000), Gen.choose(1, 255),
        Gen.oneOf(true, false)) { (n, alphabet, nowrap) =>
      val raw = Array.tabulate(n)(i => ((i * 31 + i / 7) % alphabet).toByte)
      val z = Bytes.deflate(raw, nowrap)
      z.sameElements(deflate(raw, nowrap)) &&
        Bytes.inflate(z, 0, z.length, nowrap = nowrap)
          .exists(_._1.sameElements(raw))
    }, n = 30)
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

  private val PC = Bytes.PrefixCode

  /** Bits in the given order, packed MSB-first. */
  private def msb(bits: String): Array[Byte] =
    bits.padTo((bits.length + 7) / 8 * 8, '0').grouped(8)
      .map(g => Integer.parseInt(g, 2).toByte).toArray

  test("prefix code: over-subscribed codes and lengths out of range are " +
      "rejected") {
    assert(PC.fromLengths(Array(1, 1, 1), 15).isEmpty)
    assert(PC.fromLengths(Array(1, 2, 2, 2), 15).isEmpty)
    assert(PC.fromLengths(Array(16, 1), 15).isEmpty)
    assert(PC.fromLengths(Array(21, 1), 20).isEmpty)
    assert(PC.fromLengths(Array(-1, 1), 15).isEmpty)
    assert(PC.fromLengths(Array(20, 1), 20).isDefined)
    val bits = new Array[Int](17); bits(1) = 3
    assert(PC.fromCounts(bits, Array(0, 1, 2), 16).isEmpty)
    assert(PC.fromCounts(bits, Array(0, 1), 16).isEmpty) // count != symbols
  }

  test("prefix code: an incomplete code is built, says so, and a bit " +
      "string outside it ends within maxLen bits") {
    val c = PC.fromLengths(Array(1, 2), 15).get
    assert(!c.complete)
    assert(PC.fromLengths(Array(1, 2, 2), 15).get.complete)
    assert(!PC.fromLengths(Array(0, 0), 15).get.complete) // empty
    val r = new Bytes.BitReader(msb("0" + "10" + "1" * 16))
    assert(c.decode(r) == 0 && c.decode(r) == 1)
    assert(c.decode(r) == -1 && r.pos == 3 + 15)
  }

  test("prefix code: a lone symbol reads zero bits") {
    val c = PC.fromLengths(Array(0, 0, 5, 0), 15).get
    assert(c.complete)
    val r = new Bytes.LsbBitReader(Array[Byte](0x5a), 0, 1)
    assert(c.decode(r) == 2 && c.decode(r) == 2)
    assert(r.bits(8) == 0x5a)
    // in the count-per-length form a lone symbol keeps its length
    val bits = new Array[Int](17); bits(1) = 1
    val j = PC.fromCounts(bits, Array(9), 16).get
    val m = new Bytes.BitReader(msb("01" + "1" * 15))
    assert(j.decode(m) == 9 && j.decode(m) == -1)
  }

  test("prefix code: the count-per-length constructor decodes T.81 " +
      "Table K.3 (luminance DC)") {
    val counts = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
    val k3 = Seq("00", "010", "011", "100", "101", "110", "1110", "11110",
      "111110", "1111110", "11111110", "111111110")
    val c = PC.fromCounts(counts, Array.tabulate(12)(identity), 16).get
    assert(!c.complete) // T.81 leaves the all-ones code unused
    val order = Seq(11, 0, 5, 6, 1, 10, 2, 9, 3, 8, 4, 7)
    val r = new Bytes.BitReader(msb(order.map(k3).mkString))
    assert(order.map(_ => c.decode(r)) == order)
    val lengths = k3.map(_.length).toArray
    assert(PC.codes(lengths).toSeq ==
      k3.map(Integer.parseInt(_, 2)))
  }

  test("Huffman lengths never exceed maxLen, form a complete code, and " +
      "round-trip through the LSB-first writer and reader") {
    val gen = for {
      maxLen <- Gen.choose(2, 20)
      n <- Gen.choose(1, math.min(300, 1 << maxLen))
      skew <- Gen.oneOf(true, false)
      freq <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(0),
        4 -> Gen.choose(1, 1 << 20)))
    } yield (maxLen, if (skew) freq.zipWithIndex.map { case (f, i) =>
      if (f == 0) 0 else 1 + (f >>> math.min(20, i)) } else freq)
    checkProp(Prop.forAll(gen) { case (maxLen, freq) =>
      val f = freq.toArray
      val lens = PC.huffmanLengths(f, maxLen)
      val used = f.indices.filter(f(_) > 0)
      val code = PC.fromLengths(lens, maxLen)
      lens.forall(_ <= maxLen) && f.indices.forall(i => (lens(i) > 0) == (f(i) > 0)) &&
        (used.isEmpty || code.exists(_.complete)) && (used.size < 2 || {
          val codes = PC.codes(lens)
          val w = new Bytes.LsbBitWriter
          used.foreach(s => w.writeCode(codes(s), lens(s)))
          val b = w.toBytes
          val r = new Bytes.LsbBitReader(b, 0, b.length)
          used.forall(s => code.get.decode(r) == s)
        })
    }, 200)
    // Fibonacci frequencies force the halving pass
    val fib = Array.iterate((1, 1), 30) { case (a, b) => (b, a + b) }.map(_._1)
    assert(PC.huffmanLengths(fib, 29).max == 29)
    val lens = PC.huffmanLengths(fib, 15)
    assert(lens.max <= 15 && PC.fromLengths(lens, 15).exists(_.complete))
  }

  test("LSB-first and MSB-first writers round-trip through their readers") {
    val fields = Gen.listOf(Gen.choose(0, 32).flatMap(n =>
      Gen.choose(0L, (1L << n) - 1).map(v => (v, n))))
    checkProp(Prop.forAll(fields) { fs =>
      val lw = new Bytes.LsbBitWriter
      val mw = new Bytes.BitWriter
      fs.foreach { case (v, n) => lw.bits(v.toInt, n); mw.bits(v, n) }
      val lb = lw.toBytes
      val mb = mw.toBytes
      val lr = new Bytes.LsbBitReader(lb, 0, lb.length)
      val mr = new Bytes.BitReader(mb)
      val total = fs.map(_._2).sum
      lb.length == (total + 7) / 8 && mb.length == lb.length &&
        fs.forall { case (v, n) =>
          (lr.bits(n) & 0xffffffffL) == v && mr.bitsLong(n) == v }
    })
    val w = new Bytes.LsbBitWriter
    w.bits(1, 3); w.alignByte(); w.bytes(Array[Byte](7, 8)); w.bits(0x1ff, 9)
    val b = w.toBytes
    assert(b.toSeq == Seq[Byte](1, 7, 8, -1, 1))
    val r = new Bytes.LsbBitReader(Array[Byte](0, 5) ++ b, 2, 7)
    assert(r.bits(2) == 1 && r.alignByte() == 0)
    val out = new Array[Byte](2)
    r.copyBytes(out, 0, 2)
    assert(out.toSeq == Seq[Byte](7, 8) && !r.exhausted)
    r.skipBytes(2)
    assert(r.exhausted)
    intercept[ArrayIndexOutOfBoundsException](r.bit())
    intercept[ArrayIndexOutOfBoundsException](r.skipBytes(1))
  }

  /** `file:line: text` of every line under src/main/scala outside
    * operators/Bytes.scala that `offends`. */
  private def outsideBytes(offends: String => Boolean): List[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("graft/operators/Bytes.scala")))
      .flatMap { (f: Path) =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if offends(line) => s"$f:${i + 1}: $line"
        }
      }.toList
    finally walk.close()
  }

  /** Copies cannot grow back: the main sources inflate and define
    * fixed-width readers and writers only in operators/Bytes.scala. */
  test("no Inflater or fixed-width endian helper outside operators/Bytes") {
    val helper = ("""^\s*(private(\[\w+\])? )?def (""" +
      """[ui](16|24|32|64)(le|be)?|(le|be|w)(16|24|32|64)|""" +
      """(put|read|write)(U|I)?(Le|Be)?(16|24|32|64)(le|be)?)\(""").r
    val offenders = outsideBytes(line => line.contains("Inflater(") ||
      helper.findFirstIn(line).isDefined)
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** The encoders' kernels: the one deflate loop and every CRC-32 live
    * in operators/Bytes.scala, the one LZW coder (the ClearCode and
    * end-code arithmetic) in operators/Lzw.scala. Snappy's CRC-32C is
    * another checksum. */
  test("no Deflater or CRC32 outside operators/Bytes, no LZW coder " +
      "outside operators/Lzw") {
    val offenders = SourceGuard.matching(Seq(
      ("""Deflater\(|\bnew (java\.util\.zip\.)?CRC32\b|""" +
        """java\.util\.zip\.(\{[^}]*)?\bCRC32\b""").r ->
        Some("graft/operators/Bytes.scala"),
      """(?i)\b(clear|eoi|eod)(code)?\s*=\s*(25[67]\b|1\s*<<)""".r ->
        Some("graft/operators/Lzw.scala")))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** Bit readers and writers, prefix-code classes and Huffman length
    * builders live only in operators/Bytes.scala. Allowed by name:
    * JPEG's entropy-segment reader (byte stuffing and marker stops)
    * and zstd's backward and forward bit streams and Huffman table
    * (RFC 8878 reads backward and gives long codes small values). */
  test("no bit IO class, prefix-code class or Huffman builder outside " +
      "operators/Bytes") {
    val offending = ("""\b(class|trait)\s+(\w*Bit\w*|\w*Huf\w*|""" +
      """\w*PrefixCode|SimpleCode|Code)\b|""" +
      """(?i)\bdef\s+\w*(huf\w*len|canonical\w*codes|assigncodes)""").r
    val allowed = Set("ScanBits", "FwdBits", "BackBits", "HufTable")
    val offenders = outsideBytes(line => offending.findAllMatchIn(line)
      .exists(m => m.group(2) == null || !allowed(m.group(2))))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
