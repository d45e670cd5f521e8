package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.TempDirs

import Brotli._

/** Brotli conformance, refereed by the reference implementation
  * (google/brotli via the system libbrotli):
  *  - decode direction: committed reference encodings at qualities
  *    0/2/5/9/11 and windows 10–24 over text / HTML / UTF-8 /
  *    repetitive / random / zero / mixed payloads (dictionary words,
  *    transforms, context modes, block switching, backward refs all
  *    exercised) must reproduce the exact plaintext;
  *  - encode direction: our fixture encoders' streams are decompressed
  *    by the live reference when present in the container (skipped
  *    cleanly otherwise — the committed vectors keep the decode
  *    direction pinned either way).
  */
class BrotliSpec extends AnyFunSuite with TempDirs {

  private def checkProp(p: Prop, n: Int = 60): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/brotli/$name")
    assert(in != null, s"missing test resource $name")
    try in.readAllBytes() finally in.close()
  }

  private val vectorNames = Seq("text_q11", "text_q5", "text_q2",
    "html_q11", "utf8_q11", "rep_q11", "rand_q9", "zeros_q9",
    "mixed_q11", "empty_q11", "one_q1", "text_w10", "mixed_w24",
    "text_q0", "rand_q0")

  for (name <- vectorNames)
    test(s"reference encoding $name decodes to the exact plaintext") {
      val comp = resource(s"$name.br")
      val want = resource(s"$name.raw")
      val got = decompress(comp, 1 << 22)
      assert(got.isDefined, s"$name failed to decode")
      assert(got.get.sameElements(want), s"$name decoded to wrong bytes")
    }

  test("own encoders round-trip: stored and fixed-huffman forms over " +
      "arbitrary byte content and sizes") {
    checkProp(Prop.forAll(Gen.choose(0, 3000), Gen.choose(0L, 99999L)) {
      (n, seed) =>
        val rnd = new scala.util.Random(seed)
        val data = new Array[Byte](n)
        rnd.nextBytes(data)
        val viaStored = decompress(encodeStored(data), n + 16)
        val viaFixed = decompress(encodeFixed(data), n + 16)
        viaStored.exists(_.sameElements(data)) &&
          viaFixed.exists(_.sameElements(data))
    })
    // size edges the generator rarely lands on
    for (n <- Seq(0, 1, 2, 65535, 65536, 65537, 200001)) {
      val data = Array.tabulate(n)(i => ((i * 31 + 7) & 0xff).toByte)
      assert(decompress(encodeStored(data), n + 16)
        .exists(_.sameElements(data)), s"stored n=$n")
      assert(decompress(encodeFixed(data), n + 16)
        .exists(_.sameElements(data)), s"fixed n=$n")
    }
  }

  test("own encoder output is accepted by the LIVE reference " +
      "implementation (skipped when absent)") {
    val python = new java.io.File("/root/miniconda/bin/python3")
    assume(python.isFile, "reference brotli not present in container")
    def refereeDecodes(blob: Array[Byte], want: Array[Byte]): Boolean = {
      val dir = tempPath("graft_br")
      val in = dir.resolve("in.br")
      val out = dir.resolve("out.raw")
      java.nio.file.Files.write(in, blob)
      val script = "import brotlicffi,sys\n" +
        s"d=brotlicffi.decompress(open('$in','rb').read())\n" +
        s"open('$out','wb').write(d)\n"
      val p = new ProcessBuilder(python.getAbsolutePath, "-c", script)
        .redirectErrorStream(true).start()
      val rc = p.waitFor()
      val ok = rc == 0 &&
        java.nio.file.Files.readAllBytes(out).sameElements(want)
      java.nio.file.Files.deleteIfExists(in)
      java.nio.file.Files.deleteIfExists(out)
      java.nio.file.Files.deleteIfExists(dir)
      ok
    }
    val samples = Seq(
      Array.emptyByteArray,
      "hello brotli world".getBytes("UTF-8"),
      Array.tabulate(70000)(i => ((i * 131 + 17) & 0xff).toByte))
    samples.foreach { s =>
      assert(refereeDecodes(encodeStored(s), s), s"stored n=${s.length}")
      assert(refereeDecodes(encodeFixed(s), s), s"fixed n=${s.length}")
    }
  }

  test("metadata blocks skip transparently (reference encoders never " +
      "emit them, so this path needs a hand-built stream)") {
    // hand-assembled LSB-first bit stream: WBITS 16, a metadata block
    // (ISLAST=0, MNIBBLES-code 3, reserved 0, MSKIPBYTES=1, length
    // byte, pad, skipped payload), a stored block with "hi", last-empty
    val bits = new java.io.ByteArrayOutputStream()
    var acc = 0L
    var n = 0
    def put(v: Int, w: Int): Unit = {
      acc |= (v.toLong & ((1L << w) - 1)) << n
      n += w
      while (n >= 8) { bits.write((acc & 0xff).toInt); acc >>>= 8; n -= 8 }
    }
    def alignZ(): Unit = if (n > 0) put(0, 8 - n)
    put(0, 1) // WBITS = 16
    put(0, 1) // ISLAST = 0
    put(3, 2) // MNIBBLES code 3 => metadata
    put(0, 1) // reserved
    put(1, 2) // MSKIPBYTES = 1
    put(4, 8) // MSKIPLEN - 1 = 4 -> skip 5 bytes
    alignZ()
    "SKIP!".getBytes("ISO-8859-1").foreach(b => bits.write(b & 0xff))
    put(0, 1) // ISLAST = 0
    put(0, 2) // MNIBBLES = 4
    put(1, 16) // MLEN - 1 = 1 -> 2 bytes
    put(1, 1) // ISUNCOMPRESSED
    alignZ()
    "hi".getBytes("ISO-8859-1").foreach(b => bits.write(b & 0xff))
    put(1, 1); put(1, 1) // ISLAST + ISLASTEMPTY
    alignZ()
    val stream = bits.toByteArray
    assert(decompress(stream, 16).map(new String(_, "ISO-8859-1"))
      === Some("hi"))
    // a LAST metadata block is malformed per RFC 9.2
    val badBits = new java.io.ByteArrayOutputStream()
    acc = 0L; n = 0
    def put2(v: Int, w: Int): Unit = {
      acc |= (v.toLong & ((1L << w) - 1)) << n
      n += w
      while (n >= 8) { badBits.write((acc & 0xff).toInt); acc >>>= 8; n -= 8 }
    }
    put2(0, 1); put2(1, 1) // ISLAST = 1
    put2(0, 1) // not empty
    put2(3, 2) // metadata
    if (n > 0) put2(0, 8 - n)
    assert(decompress(badBits.toByteArray, 16) === None)
  }

  test("malformed streams: truncation sweep, bit flips, trailing " +
      "garbage, output cap — None, never a throw") {
    val good = resource("mixed_q11.br")
    val want = resource("mixed_q11.raw")
    (1 until good.length by 7).foreach { n =>
      decompress(good.take(n), 1 << 22) // must not throw
    }
    assert(decompress(good.take(good.length - 1), 1 << 22) === None)
    // trailing garbage after a complete stream rejects
    assert(decompress(good ++ Array[Byte](1), 1 << 22) === None)
    // output cap: a stream bigger than maxOut rejects, never truncates
    assert(decompress(good, want.length - 1) === None)
    assert(decompress(good, want.length).isDefined)
    // bit flips must reject or produce different bytes, never throw
    (0 until good.length by 3).foreach { i =>
      val bad = good.clone
      bad(i) = (bad(i) ^ 0x10).toByte
      decompress(bad, 1 << 22)
    }
    assert(decompress(null, 10) === None)
    assert(decompress(Array.emptyByteArray, 10) === None)
  }
}
