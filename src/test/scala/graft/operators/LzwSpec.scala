package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The one LZW codec: property round-trips of both variants across the
  * width bumps and dictionary resets, the TIFF variant refereed against
  * ImageIO's own LZW-compressed TIFF output (the GIF variant and the JDK
  * TIFF reader are refereed through the image codecs in PixelsSpec),
  * and hostile input. */
class LzwSpec extends AnyFunSuite {

  private def checkProp(p: Prop, n: Int = 40): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private def payload(kind: Int, n: Int, seed: Long): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    kind match {
      case 0 => Array.fill(n)(rnd.nextInt(256).toByte)
      case 1 =>
        val words = Seq("aaa", "abab", "lzw", "tiff", "strip")
        Iterator.continually(words(rnd.nextInt(words.length)))
          .flatMap(_.getBytes).take(n).toArray
      case 2 => Array.fill(n)('z'.toByte) // KwKwK ladders
      case _ => Array.tabulate(n)(i => ((i * 7 + seed) & 0x0f).toByte)
    }
  }

  test("round-trips across width bumps and dictionary resets (payloads " +
      "past 4096 entries), both earlyChange settings") {
    checkProp(Prop.forAll(Gen.choose(0, 3), Gen.choose(0, 60000),
        Gen.choose(0L, 9999L), Gen.oneOf(0, 1)) { (kind, n, seed, early) =>
      val data = payload(kind, n, seed)
      Lzw.decode(Lzw.encode(data, Lzw.pdf(early)), Lzw.pdf(early))
        .exists(_.sameElements(data))
    })
  }

  test("GIF variant round-trips at every minimum code size, and the " +
      "output cap holds at the exact length") {
    checkProp(Prop.forAll(Gen.choose(2, 8), Gen.choose(0, 3),
        Gen.choose(0, 40000), Gen.choose(0L, 9999L)) { (mc, kind, n, seed) =>
      val data = payload(kind, n, seed).map(b => (b & ((1 << mc) - 1)).toByte)
      val enc = Lzw.encode(data, Lzw.gif(mc))
      Lzw.decode(enc, Lzw.gif(mc), data.length).exists(_.sameElements(data)) &&
        Lzw.decode(enc, Lzw.gif(mc), data.length - 1).isEmpty
    })
  }

  test("ImageIO LZW TIFF strips decode directly") {
    import javax.imageio.{ImageIO, ImageWriteParam}
    import java.awt.image.BufferedImage
    val it = ImageIO.getImageWritersByFormatName("tiff")
    assume(it.hasNext, "no TIFF writer in this JDK")
    val writer = it.next()
    val img = new BufferedImage(64, 48, BufferedImage.TYPE_BYTE_GRAY)
    val px = Array.tabulate(64 * 48)(i => ((i * 13 + i / 64) & 0xff))
    img.getRaster.setPixels(0, 0, 64, 48, px)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("LZW")
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    ios.close()
    val tiff = bos.toByteArray
    // the repo's own TIFF walk finds the LZW strips, decodes each with
    // Lzw and reassembles the raster
    val decoded = Pixels.decodeGrayTiff(tiff)
    assume(decoded.isDefined, "Pixels TIFF walk handles this layout")
    val (w, h, gray) = decoded.get
    assert(w == 64 && h == 48)
    assert(gray.toSeq == px.toSeq)
  }

  test("hostile input: truncation sweep, missing EOD, bad first code, " +
      "reference past table, output cap") {
    val data = payload(1, 5000, 3L)
    val enc = Lzw.encode(data, Lzw.Tiff)
    (0 until enc.length by 3).foreach(k => Lzw.decode(enc.take(k), Lzw.Tiff))
    assert(Lzw.decode(null, Lzw.Tiff).isEmpty)
    assert(Lzw.decode(Array.emptyByteArray, Lzw.Tiff).isEmpty)
    // stream that never reaches EOD
    assert(Lzw.decode(enc.dropRight(2), Lzw.Tiff).isEmpty)
    // first code after clear must be a literal: craft 9-bit codes
    // [256 (clear), 300 (dynamic)] -> 100000000 100101100 padded
    val bad = Array[Byte](0x80.toByte, 0x4b, 0x00)
    assert(Lzw.decode(bad, Lzw.Tiff).isEmpty)
    assert(Lzw.decode(enc, Lzw.Tiff, maxOut = 100).isEmpty)
  }
}
