package graft.operators

import java.nio.file.{Files, Path}

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.TempDirs

import PdfFilters._

/** PDF filter conformance. ASCII85 is refereed against CPython's
  * base64.a85decode/a85encode (the adobe framing), ASCIIHex against
  * binascii, FlateDecode against zlib — both directions each.
  * RunLength carries the TIFF-PackBits hand vectors plus property
  * round-trips; LZW referees live in LzwSpec. */
class PdfFiltersSpec extends AnyFunSuite with TempDirs {

  private val py = {
    val mc = new java.io.File("/root/miniconda/bin/python3")
    if (mc.canExecute) mc else new java.io.File("/usr/bin/python3")
  }

  private def checkProp(p: Prop, n: Int = 60): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private def payload(kind: Int, n: Int, seed: Long): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    kind match {
      case 0 => Array.fill(n)(rnd.nextInt(256).toByte)
      case 1 => Array.fill(n)(0.toByte) // z-group stress for a85
      case 2 => Array.fill(n)('q'.toByte)
      case _ => Array.tabulate(n)(i => ((i * 31 + seed) & 0xff).toByte)
    }
  }

  test("own round-trips: hex, a85 (all tail lengths + z groups), " +
      "runlength (runs across the 128 boundary), chains") {
    checkProp(Prop.forAll(Gen.choose(0, 3), Gen.choose(0, 3000),
        Gen.choose(0L, 9999L)) { (kind, n, seed) =>
      val data = payload(kind, n, seed)
      asciiHexDecode(asciiHexEncode(data)).exists(_.sameElements(data)) &&
        ascii85Decode(ascii85Encode(data)).exists(_.sameElements(data)) &&
        runLengthDecode(runLengthEncode(data)).exists(_.sameElements(data)) &&
        decodeChain(ascii85Encode(runLengthEncode(data)),
          Seq("ASCII85Decode", "RunLengthDecode"))
          .exists(_.sameElements(data))
    })
  }

  test("python referee: a85 and hex both directions, zlib for flate") {
    assume(py.canExecute, "python3 not in container")
    val dir = tempPath("pdff")
    val data = payload(3, 5000, 7L) ++ payload(1, 37, 1L) ++
      payload(0, 333, 2L)
    Files.write(dir.resolve("raw"), data)
    // python encodes -> we decode
    val script1 =
      """import base64, binascii, zlib, sys
        |raw = open(sys.argv[1], 'rb').read()
        |open(sys.argv[2], 'wb').write(base64.a85encode(raw, adobe=True))
        |open(sys.argv[3], 'wb').write(binascii.hexlify(raw) + b'>')
        |open(sys.argv[4], 'wb').write(zlib.compress(raw, 6))
        |""".stripMargin
    Files.write(dir.resolve("enc.py"), script1.getBytes("UTF-8"))
    val run1 = Process(Seq(py.getAbsolutePath, "enc.py", "raw",
      "a85", "hex", "zz"), dir.toFile).!
    assert(run1 == 0)
    // python's adobe framing opens with <~ — the PDF form omits it
    val a85 = Files.readAllBytes(dir.resolve("a85")).drop(2)
    assert(ascii85Decode(a85).exists(_.sameElements(data)))
    assert(asciiHexDecode(Files.readAllBytes(dir.resolve("hex")))
      .exists(_.sameElements(data)))
    assert(decodeChain(Files.readAllBytes(dir.resolve("zz")),
      Seq("FlateDecode")).exists(_.sameElements(data)))
    // we encode -> python decodes
    Files.write(dir.resolve("mine85"), "<~".getBytes ++ ascii85Encode(data))
    Files.write(dir.resolve("minehex"), asciiHexEncode(data))
    val script2 =
      """import base64, binascii, sys
        |raw = open(sys.argv[1], 'rb').read()
        |a = base64.a85decode(open(sys.argv[2], 'rb').read(), adobe=True)
        |assert a == raw, 'a85 mismatch'
        |h = binascii.unhexlify(open(sys.argv[3], 'rb').read()[:-1])
        |assert h == raw, 'hex mismatch'
        |print('PY-OK')
        |""".stripMargin
    Files.write(dir.resolve("dec.py"), script2.getBytes("UTF-8"))
    val out = new StringBuilder
    val run2 = Process(Seq(py.getAbsolutePath, "dec.py", "raw",
      "mine85", "minehex"), dir.toFile)
      .!(ProcessLogger(l => out ++= l, l => out ++= l))
    assert(run2 == 0 && out.toString.contains("PY-OK"), out.toString)
  }

  test("spec vectors and malformed rejects") {
    // ISO 32000-1 examples / hand vectors
    assert(asciiHexDecode("48656C6C6F>".getBytes)
      .exists(_.sameElements("Hello".getBytes)))
    assert(asciiHexDecode("48 65 6C 6C 6F 7>".getBytes) // odd digit -> 0x70
      .exists(_.sameElements("Hellop".getBytes)))
    assert(asciiHexDecode("48656C6C6F".getBytes).isEmpty) // no EOD
    assert(asciiHexDecode("4x>".getBytes).isEmpty)
    // a85: 'z' shortcut and tail handling
    assert(ascii85Decode("z~>".getBytes)
      .exists(_.sameElements(Array[Byte](0, 0, 0, 0))))
    assert(ascii85Decode("!!z~>".getBytes).isEmpty) // z mid-group
    assert(ascii85Decode("!~>".getBytes).isEmpty)   // single digit tail
    assert(ascii85Decode("s8W-!~>".getBytes) // exactly 0xFFFFFFFF: legal
      .exists(_.sameElements(Array[Byte](-1, -1, -1, -1))))
    assert(ascii85Decode("s8W-\"~>".getBytes).isEmpty) // 2^32: overflow
    assert(ascii85Decode("87cUR~>".getBytes)
      .exists(_.sameElements("Hell".getBytes)))
    assert(ascii85Decode("87cUR".getBytes).isEmpty) // no EOD
    // runlength: literal + repeat + EOD; truncation rejects
    assert(runLengthDecode(Array[Byte](2, 'a', 'b', 'c', (257 - 4).toByte,
      'x', 128.toByte)).exists(_.sameElements("abcxxxx".getBytes)))
    assert(runLengthDecode(Array[Byte](2, 'a', 'b')).isEmpty)
    assert(runLengthDecode(Array[Byte](254.toByte)).isEmpty)
    assert(runLengthDecode(Array[Byte](0, 'a')).isEmpty) // no EOD
    // chains reject unknown filters
    assert(decodeChain("00>".getBytes, Seq("NoSuchDecode")).isEmpty)
  }
}
