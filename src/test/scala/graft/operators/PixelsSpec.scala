package graft.operators

import org.scalatest.funsuite.AnyFunSuite

class PixelsSpec extends AnyFunSuite {

  private def ramp(w: Int, h: Int, seed: Long): Array[Int] =
    Array.tabulate(w * h)(i =>
      ((seed * 31 + (i % w) * 7 + (i / w) * 13) % 256).toInt)

  test("PNG round trip recovers pixels exactly across all five filters") {
    // height 10 cycles the filter sequence 0..4 twice
    for (w <- Seq(8, 16, 40); h <- Seq(10, 16)) {
      val px = ramp(w, h, w * 1000L + h)
      val bytes = Pixels.encodeGrayPng(w, h, px, "meta".getBytes)
      val Some((dw, dh, dpx)) = Pixels.decodeGrayPng(bytes)
      assert(dw == w && dh == h)
      assert(dpx.toSeq == px.toSeq)
    }
  }

  test("round trip survives extreme pixel values (wraparound deltas)") {
    val px = Array.tabulate(8 * 8)(i => if (i % 2 == 0) 0 else 255)
    val Some((_, _, dpx)) =
      Pixels.decodeGrayPng(Pixels.encodeGrayPng(8, 8, px, Array.empty))
    assert(dpx.toSeq == px.toSeq)
  }

  test("corrupt blobs yield None, never throw") {
    val good = Pixels.encodeGrayPng(16, 16, ramp(16, 16, 7), "x".getBytes)
    assert(Pixels.decodeGrayPng(Array.empty[Byte]).isEmpty)
    assert(Pixels.decodeGrayPng("not a png at all, really".getBytes).isEmpty)
    assert(Pixels.decodeGrayPng(good.take(30)).isEmpty) // truncated mid-IHDR
    // flip a byte inside the IDAT: chunk CRC must catch it
    val flipped = good.clone()
    flipped(good.length - 20) = (flipped(good.length - 20) ^ 0x5a).toByte
    assert(Pixels.decodeGrayPng(flipped).isEmpty)
    // truecolor PNGs (color type 2) are out of contract -> None
    val rgb = ImageHeaders.encodePng(4, 4, 8, Array[Byte](1, 2, 3))
    assert(Pixels.decodeGrayPng(rgb).isEmpty)
  }

  test("cell grid is the exact integer box average") {
    // 16x16 constant image: every cell is that constant
    val flat = Array.fill(16 * 16)(77)
    assert(Pixels.cellGrid(16, 16, flat).toSeq == Seq.fill(64)(77))
    // 8x8 identity grid: each pixel IS its cell
    val ident = Array.tabulate(64)(identity)
    assert(Pixels.cellGrid(8, 8, ident).toSeq == (0 until 64))
  }

  test("aHash thresholds on the floor mean; gHash wraps the torus") {
    val cells = Array.tabulate(64)(i => if (i < 32) 10 else 20)
    // mean = 15; first half 0, second half 1
    assert(Pixels.aHash(cells) == "0" * 32 + "1" * 32)
    // constant cells: no gradient anywhere
    assert(Pixels.gHash(Array.fill(64)(5)) == "0" * 64)
    // single spike at column 0: bit set at (row0,col0) vs col1 only
    val spike = Array.fill(64)(0); spike(0) = 9
    val g = Pixels.gHash(spike)
    assert(g(0) == '1' && g.count(_ == '1') == 1)
  }

  // ---- GIF -----------------------------------------------------------

  private def lcgPixels(w: Int, h: Int, seed: Long): Array[Int] = {
    var s = seed
    Array.fill(w * h) {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 33) % 256).toInt
    }
  }

  test("GIF round trip recovers pixels exactly (incl. table resets)") {
    for ((w, h) <- Seq((8, 8), (40, 16), (300, 300))) {
      // 300x300 of LCG noise drives the LZW dictionary past 4096 and
      // through the clear-and-reset path on both sides
      val px = lcgPixels(w, h, w * 7919L + h)
      val bytes = Pixels.encodeGrayGif(w, h, px, "comment meta".getBytes)
      val Some((dw, dh, dpx)) = Pixels.decodeGrayGif(bytes)
      assert(dw == w && dh == h)
      assert(dpx.toSeq == px.toSeq)
    }
  }

  test("GIF interop: JDK ImageIO reads our encoder's output") {
    val (w, h) = (120, 90)
    val px = lcgPixels(w, h, 42)
    val bytes = Pixels.encodeGrayGif(w, h, px, "x".getBytes)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO rejected our GIF")
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w)
      assert((img.getRGB(x, y) & 0xff) == px(y * w + x),
        s"pixel mismatch at ($x,$y)")
  }

  test("GIF interop: our decoder reads JDK ImageIO's output") {
    import java.awt.image.{BufferedImage, DataBuffer, IndexColorModel}
    val (w, h) = (160, 120)
    val px = lcgPixels(w, h, 7)
    // force a full 256-gray palette so ImageIO writes min code size 8
    val cmap = Array.tabulate(256)(i => (0xff << 24) | (i << 16) | (i << 8) | i)
    val icm = new IndexColorModel(8, 256, cmap, 0, false, -1,
      DataBuffer.TYPE_BYTE)
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, icm)
    for (y <- 0 until h; x <- 0 until w)
      bi.getRaster.setSample(x, y, 0, px(y * w + x))
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "gif", out))
    val Some((dw, dh, dpx)) = Pixels.decodeGrayGif(out.toByteArray)
    assert(dw == w && dh == h)
    assert(dpx.toSeq == px.toSeq)
  }

  test("corrupt GIFs yield None, never throw") {
    assert(Pixels.decodeGrayGif(Array.empty[Byte]).isEmpty)
    assert(Pixels.decodeGrayGif("GIF89a but not really a gif".getBytes).isEmpty)
    val good = Pixels.encodeGrayGif(16, 16, ramp(16, 16, 3), "m".getBytes)
    assert(Pixels.decodeGrayGif(good.take(good.length / 2)).isEmpty)
    // PNG bytes through the GIF decoder
    val png = Pixels.encodeGrayPng(16, 16, ramp(16, 16, 3), "m".getBytes)
    assert(Pixels.decodeGrayGif(png).isEmpty)
  }

  test("2x2 box downsample is the exact floor average") {
    // 4x2 image: cells (0,1,4,5) and (2,3,6,7)
    val (tw, th, t) = Pixels.downsample2x(4, 2, Array(0, 1, 4, 5, 2, 3, 6, 7))
    assert(tw == 2 && th == 1)
    assert(t.toSeq == Seq((0 + 1 + 2 + 3) / 4, (4 + 5 + 6 + 7) / 4))
    // thumbnail survives the full re-encode -> re-decode round trip
    val px = ramp(16, 16, 9)
    val (w2, h2, small) = Pixels.downsample2x(16, 16, px)
    val Some((dw, dh, dpx)) =
      Pixels.decodeGrayPng(Pixels.encodeGrayPng(w2, h2, small, Array.empty))
    assert(dw == 8 && dh == 8 && dpx.toSeq == small.toSeq)
  }

  test("truecolor PNG: 3-byte filter stride round trip + exact luma") {
    val (w, h) = (24, 10) // height 10 cycles all five filters twice
    val rgb = Array.tabulate(w * h) { i =>
      val r = (i * 7) % 256; val g = (i * 13) % 256; val b = (i * 29) % 256
      (r << 16) | (g << 8) | b
    }
    val bytes = Pixels.encodeRgbPng(w, h, rgb, "c".getBytes)
    val Some((dw, dh, luma)) = Pixels.decodePngLuma(bytes)
    assert(dw == w && dh == h)
    val expected = rgb.map { v =>
      (77 * ((v >> 16) & 0xff) + 151 * ((v >> 8) & 0xff) + 28 * (v & 0xff)) >> 8
    }
    assert(luma.toSeq == expected.toSeq)
    // the gray-only decoder must REJECT truecolor (its pinned contract)
    assert(Pixels.decodeGrayPng(bytes).isEmpty)
    // while the luma decoder passes gray through unchanged
    val gray = Pixels.encodeGrayPng(8, 8, ramp(8, 8, 3), Array.empty)
    assert(Pixels.decodePngLuma(gray).exists(_._3.toSeq == ramp(8, 8, 3).toSeq))
  }

  test("palette PNG: PLTE lookup then luma; ImageIO interop") {
    val pal = Array.tabulate(40)(p => (p * 6 << 16) | (p * 3 << 8) | p)
    val idx = Array.tabulate(16 * 16)(i => (i * 7) % 40)
    val bytes = Pixels.encodePalettePng(16, 16, idx, pal, "c".getBytes)
    val Some((w, h, luma)) = Pixels.decodePngLuma(bytes)
    assert(w == 16 && h == 16)
    val expected = idx.map { i =>
      val c = pal(i)
      (77 * ((c >> 16) & 0xff) + 151 * ((c >> 8) & 0xff) + 28 * (c & 0xff)) >> 8
    }
    assert(luma.toSeq == expected.toSeq)
    // gray-only decoder rejects type 3
    assert(Pixels.decodeGrayPng(bytes).isEmpty)
    // ImageIO reads our palette PNG with identical colors
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(img != null)
    for (i <- Seq(0, 17, 100, 255))
      assert((img.getRGB(i % 16, i / 16) & 0xffffff) == pal(idx(i)),
        s"ImageIO color mismatch at $i")
    // type-3 stream without a PLTE is corrupt
    assert(Pixels.decodePngLuma(
      bytes.patch(0, Array.empty[Byte], 0)).nonEmpty) // sanity: intact ok
  }

  test("border trim stops exactly at content on all four sides") {
    // 2 top, 1 bottom, 3 left, 0 right borders of 0 around a 4x3 ramp
    val iw = 4; val ih = 3
    val (bl, br, bt, bb) = (3, 0, 2, 1)
    val w = iw + bl + br; val h = ih + bt + bb
    val inner = Array.tabulate(iw * ih)(i => 1 + i)
    val px = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      if (x < bl || x >= bl + iw || y < bt || y >= bt + ih) 0
      else inner((y - bt) * iw + (x - bl))
    }
    val (x0, y0, tw, th, crop) = Pixels.trimBorders(w, h, px)
    assert((x0, y0, tw, th) == (3, 2, 4, 3))
    assert(crop.toSeq == inner.toSeq)
    // all-constant image trims to nothing
    assert(Pixels.trimBorders(4, 4, Array.fill(16)(9))._3 == 0)
    // borderless image is untouched
    val plain = ramp(8, 4, 5)
    val r = Pixels.trimBorders(8, 4, plain)
    assert((r._1, r._2, r._3, r._4) == (0, 0, 8, 4))
  }

  // ---- TIFF -----------------------------------------------------------

  test("PackBits round trip: runs, literals, chunk boundaries") {
    val cases = Seq(
      Array.fill(300)(7.toByte), // long run, >128 chunking
      Array.tabulate(300)(i => (i % 251).toByte), // pure literal
      (Array.fill(5)(1.toByte) ++ Array[Byte](2, 3) ++
        Array.fill(4)(9.toByte)), // mixed
      Array[Byte](1, 1), // 2-run stays literal
      Array.empty[Byte])
    for (data <- cases) {
      val packed = Pixels.packBits(data)
      assert(Pixels.unpackBits(packed, data.length).exists(
        _.toSeq == data.toSeq), s"case len=${data.length}")
    }
    // compression actually happens on runs
    assert(Pixels.packBits(Array.fill(128)(5.toByte)).length == 2)
    // hostile: declared output larger than stream provides
    assert(Pixels.unpackBits(Array[Byte](10, 1, 2), 11).isEmpty)
  }

  test("TIFF round trip: single + multi strip, both compressions") {
    for ((w, h) <- Seq((16, 16), (40, 48)); pb <- Seq(false, true)) {
      val px = ramp(w, h, w * 31L + h + (if (pb) 1 else 0))
      val bytes = Pixels.encodeGrayTiff(w, h, px, pb)
      val Some((dw, dh, dpx)) = Pixels.decodeGrayTiff(bytes)
      assert(dw == w && dh == h, s"${w}x$h pb=$pb")
      assert(dpx.toSeq == px.toSeq, s"${w}x$h pb=$pb")
    }
  }

  test("corrupt TIFFs yield None; dispatcher routes TIFF by magic") {
    assert(Pixels.decodeGrayTiff("II not a tiff".getBytes).isEmpty)
    val good = Pixels.encodeGrayTiff(16, 16, ramp(16, 16, 4), true)
    assert(Pixels.decodeGrayTiff(good.take(good.length - 6)).isEmpty)
    val Some((fmt, w, _, _)) = Pixels.decodeImage(good)
    assert(fmt == "tiff" && w == 16)
  }

  // ---- BMP ------------------------------------------------------------

  test("BMP round trip: bottom-up rows, stride padding, palette") {
    // w=10: stride 12, real padding; asymmetric ramp catches flips
    for ((w, h) <- Seq((10, 6), (16, 16), (33, 7))) {
      val px = ramp(w, h, w * 13L + h)
      val Some((dw, dh, dpx)) =
        Pixels.decodeGrayBmp(Pixels.encodeGrayBmp(w, h, px))
      assert(dw == w && dh == h, s"${w}x$h")
      assert(dpx.toSeq == px.toSeq, s"${w}x$h pixel order")
    }
  }

  test("BMP top-down (negative height) decodes without the flip") {
    val px = ramp(8, 4, 3)
    val blob = Pixels.encodeGrayBmp(8, 4, px)
    // negate the height field (offset 22, LE i32): -4
    val td = blob.clone()
    val neg = -4
    td(22) = (neg & 0xff).toByte; td(23) = ((neg >> 8) & 0xff).toByte
    td(24) = ((neg >> 16) & 0xff).toByte; td(25) = ((neg >> 24) & 0xff).toByte
    val Some((_, h, dpx)) = Pixels.decodeGrayBmp(td)
    // same bytes, opposite row order: decoded rows are flipped
    assert(h == 4)
    val flipped = (0 until 4).reverse
      .flatMap(y => px.slice(y * 8, y * 8 + 8))
    assert(dpx.toSeq == flipped)
  }

  test("corrupt BMPs yield None; dispatcher routes BMP") {
    assert(Pixels.decodeGrayBmp("BMnot really".getBytes).isEmpty)
    val good = Pixels.encodeGrayBmp(16, 8, ramp(16, 8, 2))
    assert(Pixels.decodeGrayBmp(good.take(40)).isEmpty)
    val Some((fmt, w, _, _)) = Pixels.decodeImage(good)
    assert(fmt == "bmp" && w == 16)
  }

  // ---- PGM + dispatch -------------------------------------------------

  test("PGM round trip, comment hop included") {
    val px = ramp(24, 16, 11)
    val bytes = Pixels.encodePgm(24, 16, px, "multi\nline # tricky")
    val Some((w, h, dpx)) = Pixels.decodeGrayPgm(bytes)
    assert(w == 24 && h == 16 && dpx.toSeq == px.toSeq)
    assert(Pixels.decodeGrayPgm(("P5\n1 1\n65535\n" + "\u0000").getBytes).isEmpty)
    assert(Pixels.decodeGrayPgm("P6\n1 1\n255\nxxx".getBytes).isEmpty)
    assert(Pixels.decodeGrayPgm(bytes.take(20)).isEmpty)
  }

  test("decodeImage routes by magic bytes to all three decoders") {
    val px = ramp(16, 16, 5)
    val png = Pixels.encodeGrayPng(16, 16, px, "c".getBytes)
    val gif = Pixels.encodeGrayGif(16, 16, px, "c".getBytes)
    val pgm = Pixels.encodePgm(16, 16, px, "c")
    for ((blob, fmt) <- Seq((png, "png"), (gif, "gif"), (pgm, "pgm"))) {
      val Some((f, w, h, dpx)) = Pixels.decodeImage(blob)
      assert(f == fmt && w == 16 && h == 16 && dpx.toSeq == px.toSeq)
    }
    assert(Pixels.decodeImage("plain text".getBytes).isEmpty)
  }

  test("near-dup fixture: perturbed member stays within Hamming 7 of 128") {
    // the banding guarantee the query relies on: within a planted
    // group, the 128-bit fingerprint moves at most 7 bits, so at
    // least one 16-bit band stays exact and the pair is found
    def hashFor(id: Long): String = {
      val g = id / 4
      val w = (16 + (g % 6) * 8).toInt
      val h = (16 + ((g * 7) % 6) * 8).toInt
      val px = Array.tabulate(w * h) { i =>
        val x = (i % w).toLong; val y = (i / w).toLong
        val base = g * 37 + x * (3 + g % 41) + y * (5 + g % 43) +
          (x * y % (2 + g % 13)) * 7
        val pert = if ((x * 3 + y * 5) % 197 < (id % 4)) 1 else 0
        ((base + pert) % 256).toInt
      }
      val bytes = Pixels.encodeGrayPng(w, h, px, Array.empty)
      val Some((dw, dh, dpx)) = Pixels.decodeGrayPng(bytes)
      val cells = Pixels.cellGrid(dw, dh, dpx)
      Pixels.gHash(cells) + Pixels.gHashV(cells)
    }
    for (g <- 0L until 8L) {
      val hs = (0 until 4).map(m => hashFor(g * 4 + m))
      for (a <- hs; b <- hs)
        assert(a.zip(b).count { case (x, y) => x != y } <= 7)
    }
  }

  // ---- Adam7 interlace + 16-bit gray (round 13) ----------------------

  private def imageioPng(img: java.awt.image.BufferedImage,
      interlaced: Boolean): Array[Byte] =
    Pixels.encodePngImageIO(img, interlaced)

  test("Adam7: interlaced gray from ImageIO decodes pixel-exact") {
    for ((w, h) <- Seq((21, 13), (8, 8), (16, 9))) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (i <- 0 until w * h)
        img.getRaster.setSample(i % w, i / w, 0, (i * 37) % 256)
      val blob = imageioPng(img, interlaced = true)
      assert((blob(28) & 0xff) == 1, "fixture must really interlace")
      val Some((dw, dh, px)) = Pixels.decodeGrayPng(blob)
      assert(dw == w && dh == h)
      for (i <- 0 until w * h) assert(px(i) == (i * 37) % 256, s"px $i")
    }
  }

  test("Adam7: tiny dims leave passes EMPTY and still decode") {
    // w or h below a pass origin (x>=4, y>=4, ...) skips that pass
    // entirely — no filter byte, no scanline bytes
    for ((w, h) <- Seq((1, 1), (2, 3), (3, 2), (4, 4), (5, 1), (1, 7))) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (i <- 0 until w * h)
        img.getRaster.setSample(i % w, i / w, 0, (i * 97 + 5) % 256)
      val Some((dw, dh, px)) = Pixels.decodeGrayPng(imageioPng(img, true))
      assert(dw == w && dh == h)
      for (i <- 0 until w * h) assert(px(i) == (i * 97 + 5) % 256)
    }
  }

  test("Adam7: interlaced truecolor filters at the 3-byte stride per pass") {
    val (w, h) = (19, 11)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y,
        (((x * 7 + y) % 256) << 16) | (((x + y * 5) % 256) << 8) |
          ((x * 3 + y * 11) % 256))
    val Some((dw, dh, px)) = Pixels.decodePngLuma(imageioPng(img, true))
    assert(dw == w && dh == h)
    for (y <- 0 until h; x <- 0 until w) {
      val expect = (77 * ((x * 7 + y) % 256) + 151 * ((x + y * 5) % 256) +
        28 * ((x * 3 + y * 11) % 256)) >> 8
      assert(px(y * w + x) == expect, s"($x,$y)")
    }
  }

  test("16-bit gray: big-endian pairs, 2-byte filter stride, both interlace modes") {
    for (interlaced <- Seq(false, true)) {
      val (w, h) = (17, 9)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, (x * 4099 + y * 769 + 3) % 65536)
      val blob = imageioPng(img, interlaced)
      assert((blob(24) & 0xff) == 16, "fixture must really be 16-bit")
      val Some((dw, dh, px)) = Pixels.decodeGray16Png(blob)
      assert(dw == w && dh == h)
      for (y <- 0 until h; x <- 0 until w)
        assert(px(y * w + x) == (x * 4099 + y * 769 + 3) % 65536)
      // the 8-bit gray surface must NOT accept a 16-bit stream
      assert(Pixels.decodeGrayPng(blob).isEmpty)
      // ...but the luma surface scales it by the high byte
      val Some((_, _, luma)) = Pixels.decodePngLuma(blob)
      assert(luma(0) == ((3 % 65536) >> 8))
    }
  }

  test("16-bit surface rejects 8-bit streams and corrupt depth") {
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val blob = imageioPng(img, interlaced = false)
    assert(Pixels.decodeGray16Png(blob).isEmpty)
  }

  // ---- animated GIF (round 13) -----------------------------------------

  test("animated GIF round trip: frames, delays, pixels all survive") {
    val (w, h) = (11, 7)
    val frames = (0 until 4).map { f =>
      (Array.tabulate(w * h)(i => (i * 13 + f * 101) % 256), 3 + f)
    }
    val blob = Pixels.encodeAnimatedGif(w, h, frames, "cmt".getBytes)
    val Some(a) = Pixels.decodeAnimatedGif(blob)
    assert(a.width == w && a.height == h && a.frames.size == 4)
    for ((f, i) <- a.frames.zipWithIndex) {
      assert(f._1 == 3 + i, s"delay $i")
      assert(f._2.toSeq == frames(i)._1.toSeq, s"frame $i pixels")
    }
  }

  test("animated GIF interop: ImageIO reads our frame count, pixels, delays") {
    import javax.imageio.ImageIO
    val (w, h) = (9, 6)
    val frames = (0 until 3).map { f =>
      (Array.tabulate(w * h)(i => (i * 37 + f * 59) % 256), 5 + 2 * f)
    }
    val blob = Pixels.encodeAnimatedGif(w, h, frames, Array.empty)
    val in = ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(blob))
    val reader = ImageIO.getImageReaders(in).next()
    reader.setInput(in)
    assert(reader.getNumImages(true) == 3)
    for (f <- 0 until 3) {
      val img = reader.read(f)
      assert(img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w)
        assert((img.getRGB(x, y) & 0xff) == frames(f)._1(y * w + x),
          s"frame $f ($x,$y)")
      val meta = reader.getImageMetadata(f)
      val tree = meta.getAsTree("javax_imageio_gif_image_1.0")
        .asInstanceOf[org.w3c.dom.Element]
      val gce = tree.getElementsByTagName("GraphicControlExtension")
      assert(gce.getLength == 1)
      val delay = gce.item(0).asInstanceOf[org.w3c.dom.Element]
        .getAttribute("delayTime").toInt
      assert(delay == 5 + 2 * f, s"frame $f delay")
    }
    reader.dispose()
  }

  test("animated GIF: partial-rect frames are out of contract") {
    // splice the first image descriptor's width down by one
    val blob = Pixels.encodeAnimatedGif(8, 8,
      Seq((Array.fill(64)(7), 4)), Array.empty)
    var at = -1
    for (i <- 13 + 768 until blob.length if at < 0) // skip the GCT
      if ((blob(i) & 0xff) == 0x2c) at = i
    assert(at > 0)
    val bad = blob.clone()
    bad(at + 5) = 7 // width low byte: 8 -> 7
    assert(Pixels.decodeAnimatedGif(bad).isEmpty)
  }

  // ---- TIFF LZW (round 13) ---------------------------------------------

  test("TIFF LZW round trip across width-change and reset boundaries") {
    var s = 7L
    for (n <- Seq(1, 2, 253, 254, 255, 256, 509, 510, 511, 512, 1021,
        1022, 1023, 1024, 4000, 50000); shape <- 0 to 2) {
      val raw = Array.tabulate(n) { i =>
        shape match {
          case 0 => ((i * 7 + 31) % 256).toByte
          case 1 =>
            s = s * 6364136223846793005L + 1442695040888963407L
            ((s >>> 33) % 256).toByte
          case 2 => ((i / 9) % 2 * 255).toByte
        }
      }
      val c = Lzw.encode(raw, Lzw.Tiff)
      assert(Lzw.decode(c, Lzw.Tiff, n).exists(_.toSeq == raw.toSeq),
        s"n=$n shape=$shape")
    }
  }

  test("TIFF LZW interop: the JDK TIFF reader decodes our compression-5 streams") {
    import javax.imageio.ImageIO
    val (w, h) = (33, 29) // multi-strip at RowsPerStrip=16
    val px = Array.tabulate(w * h)(i => (i * 11 + 3) % 256)
    val blob = Pixels.encodeGrayTiff(w, h, px, compression = 5)
    val img = ImageIO.read(new java.io.ByteArrayInputStream(blob))
    assert(img != null, "JDK reader rejected our LZW TIFF")
    for (y <- 0 until h; x <- 0 until w)
      assert(img.getRaster.getSample(x, y, 0) == px(y * w + x), s"($x,$y)")
  }

  test("TIFF LZW interop: we decode the JDK writer's LZW streams") {
    import javax.imageio._
    val (w, h) = (25, 18)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, (x * 5 + y * 17) % 256)
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("LZW")
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new IIOImage(img, null, null), param)
    ios.close(); writer.dispose()
    val Some((dw, dh, px)) = Pixels.decodeGrayTiff(bos.toByteArray)
    assert(dw == w && dh == h)
    for (y <- 0 until h; x <- 0 until w)
      assert(px(y * w + x) == (x * 5 + y * 17) % 256)
  }

  test("TIFF LZW: truncated strips reject; absent predictor decodes") {
    val px = Array.tabulate(64)(i => i * 4 % 256)
    val blob = Pixels.encodeGrayTiff(8, 8, px, compression = 5)
    // the encoder writes no Predictor tag -> default 1 decodes fine
    assert(Pixels.decodeGrayTiff(blob).exists(_._3.toSeq == px.toSeq))
    // a strip that runs out of bits before EOI rejects (TIFF LZW has
    // no checksum, so mid-strip bit flips are undetectable by design
    // — but truncation is structural and must be)
    assert(Lzw.decode(
      Lzw.encode(px.map(_.toByte), Lzw.Tiff).dropRight(3), Lzw.Tiff, 64).isEmpty)
  }

  // ---- BMP RLE8 (round 13) -----------------------------------------------

  test("BMP RLE8 round trip: runs, absolute mode, word pad, EOL/EOB") {
    for ((w, h, rl) <- Seq((17, 9, 3), (32, 12, 5), (23, 7, 1))) {
      // rl=1 forces pure literal content -> absolute mode everywhere
      val px = Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        ((x / rl) * 41 + y * 13 + 5) % 256
      }
      val blob = Pixels.encodeRle8Bmp(w, h, px)
      val Some((dw, dh, p)) = Pixels.decodeGrayBmp(blob)
      assert(dw == w && dh == h, s"dims rl=$rl")
      assert(p.toSeq == px.toSeq, s"pixels rl=$rl")
    }
  }

  test("BMP RLE8 interop: the JDK BMP reader decodes our streams") {
    val (w, h) = (21, 13)
    val px = Array.tabulate(w * h)(i => ((i / 4) * 7 + 3) % 256)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Pixels.encodeRle8Bmp(w, h, px)))
    assert(img != null, "JDK reader rejected our RLE8 BMP")
    // raster samples: the reader returns TYPE_BYTE_GRAY, where getRGB
    // would push linear gray through sRGB color management
    for (y <- 0 until h; x <- 0 until w)
      assert(img.getRaster.getSample(x, y, 0) == px(y * w + x), s"($x,$y)")
  }

  test("BMP RLE8 delta escape: skipped pixels stay palette index 0") {
    // hand-craft: one run of 3 at the bottom-left, delta (2,1), then a
    // run of 2 on the row above, EOL x2, EOB
    val offBits = 14 + 40 + 256 * 4
    val body = Array[Int](
      3, 200, // run: 3 px of index 200 at (0..2, bottom)
      0, 2, 2, 1, // delta: x += 2, y up 1
      2, 100, // run: 2 px of 100 at (5.. wait x continues at 5? x=3+2=5 row=h-2
      0, 0, // EOL
      0, 1 // EOB
    ).map(_.toByte)
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def u32(v: Int): Unit = { u16(v & 0xffff); u16((v >>> 16) & 0xffff) }
    out.write('B'); out.write('M')
    u32(offBits + body.length); u32(0); u32(offBits)
    u32(40); u32(8); u32(2) // 8x2
    u16(1); u16(8); u32(1); u32(body.length)
    u32(2835); u32(2835); u32(256); u32(0)
    for (i <- 0 until 256) { out.write(i); out.write(i); out.write(i); out.write(0) }
    out.write(body.map(_.toInt & 0xff).map(_.toByte).toArray)
    val Some((w, h, px)) = Pixels.decodeGrayBmp(out.toByteArray)
    assert(w == 8 && h == 2)
    // bottom row (output row 1): 200 200 200 0 0 0 0 0
    assert(px.slice(8, 16).toSeq == Seq(200, 200, 200, 0, 0, 0, 0, 0))
    // row above (output row 0): delta landed at x=5: 0 0 0 0 0 100 100 0
    assert(px.slice(0, 8).toSeq == Seq(0, 0, 0, 0, 0, 100, 100, 0))
  }

  // ---- small-palette GIF + interlaced palette PNG (round 13) -----------

  test("small-palette GIF: min code sizes 2..8 round trip") {
    for (p <- Seq(2, 3, 4, 7, 16, 33, 200)) {
      val pal = Array.tabulate(p)(j => (j * 37 + 11) % 256)
      val idx = Array.tabulate(20 * 11)(i => (i * 13) % p)
      val blob = Pixels.encodePaletteGif(20, 11, idx, pal)
      val Some((w, h, px)) = Pixels.decodeGrayGif(blob)
      assert(w == 20 && h == 11, s"p=$p")
      assert(px.toSeq == idx.map(pal).toSeq, s"p=$p")
    }
  }

  test("LZW tail boundary: EOI lands one bit wider when the last add bumps") {
    // the exact fixture shape the q371 sf1 sweep caught live (id 2725:
    // 35x23, 32-entry palette -> mc 5): the decoder's add on the final
    // data code landed exactly on nextCode == 2^w, so the EOI had to
    // be written one bit wider
    val id = 2725L
    val (w, h, p) = (35, 23, 32)
    val pal = Array.tabulate(p)(j => ((id * 17 + j * 37) % 256).toInt)
    val idx = Array.tabulate(w * h)(i =>
      ((id * 31 + (i % w) * 7 + (i / w) * 13) % p).toInt)
    val Some((dw, dh, px)) =
      Pixels.decodeGrayGif(Pixels.encodePaletteGif(w, h, idx, pal))
    assert(dw == w && dh == h)
    assert(px.toSeq == idx.map(pal).toSeq)
  }

  test("small-palette GIF interop: ImageIO reads our min-code-2 stream") {
    val pal = Array(5, 250) // 2 entries -> GCT size 2, min code 2
    val idx = Array.tabulate(16 * 8)(i => i % 2)
    val blob = Pixels.encodePaletteGif(16, 8, idx, pal)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(blob))
    assert(img != null, "ImageIO rejected our small-palette GIF")
    for (y <- 0 until 8; x <- 0 until 16)
      assert((img.getRGB(x, y) & 0xff) == pal(idx(y * 16 + x)), s"($x,$y)")
  }

  test("palette PNG composes with Adam7 interlace through the shared core") {
    import javax.imageio._
    import java.awt.image.{BufferedImage, DataBuffer, IndexColorModel}
    val (w, h) = (13, 9)
    val pal = Array.tabulate(20)(j => (j * 12 + 3) % 256)
    val idx = Array.tabulate(w * h)(i => (i * 7) % 20)
    val cmap = pal.map(g => (0xff << 24) | (g << 16) | (g << 8) | g)
    val icm = new IndexColorModel(8, 20, cmap, 0, false, -1,
      DataBuffer.TYPE_BYTE)
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, icm)
    for (i <- 0 until w * h) bi.getRaster.setSample(i % w, i / w, 0, idx(i))
    val writer = ImageIO.getImageWritersByFormatName("png").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT) // Adam7
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new IIOImage(bi, null, null), param)
    ios.close(); writer.dispose()
    val blob = bos.toByteArray
    assert((blob(25) & 0xff) == 3 && (blob(28) & 0xff) == 1,
      "fixture must be interlaced palette")
    val Some((dw, dh, luma)) = Pixels.decodePngLuma(blob)
    assert(dw == w && dh == h)
    val expect = idx.map { i =>
      val g = pal(i)
      (77 * g + 151 * g + 28 * g) >> 8
    }
    assert(luma.toSeq == expect.toSeq)
  }

  test("PPM (P6): header tokenizer, RGB triples, exact luma; dispatcher routes") {
    val (w, h) = (11, 6)
    val rgb = Array.tabulate(w * h)(i =>
      (((i * 7) % 256) << 16) | (((i * 13) % 256) << 8) | ((i * 29) % 256))
    val blob = Pixels.encodePpm(w, h, rgb, "a comment\nwith newline")
    val Some((dw, dh, luma)) = Pixels.decodePpmLuma(blob)
    assert(dw == w && dh == h)
    val expect = rgb.map(v => (77 * ((v >> 16) & 0xff) +
      151 * ((v >> 8) & 0xff) + 28 * (v & 0xff)) >> 8)
    assert(luma.toSeq == expect.toSeq)
    assert(Pixels.decodeImage(blob).exists(_._1 == "ppm"))
    // gray PGM surface rejects P6 and vice versa
    assert(Pixels.decodeGrayPgm(blob).isEmpty)
    assert(Pixels.decodePpmLuma(
      Pixels.encodePgm(4, 4, Array.fill(16)(9), "c")).isEmpty)
    // truncated pixel data rejects
    assert(Pixels.decodePpmLuma(blob.dropRight(2)).isEmpty)
  }

  test("sub-byte PNG: 1/2/4-bit gray and palette, plain and Adam7") {
    import java.awt.image.{BufferedImage, DataBuffer, IndexColorModel}
    import javax.imageio._
    for (p <- Seq(2, 4, 16); gray <- Seq(true, false);
        interlace <- Seq(false, true)) {
      val bits = if (p <= 2) 1 else if (p <= 4) 2 else 4
      val (w, h) = (13, 7)
      val cmap = Array.tabulate(p) { j =>
        if (gray) { val g = j * (255 / (p - 1)); (0xff << 24) | (g << 16) | (g << 8) | g }
        else (0xff << 24) | (((j * 37 + 5) % 256) << 16) |
          (((j * 29 + 9) % 256) << 8) | ((j * 41 + 3) % 256)
      }
      val icm = new IndexColorModel(bits, p, cmap, 0, false, -1,
        DataBuffer.TYPE_BYTE)
      val bi = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_BINARY, icm)
      val idx = Array.tabulate(w * h)(i => (i * 3 + 1) % p)
      for (i <- 0 until w * h) bi.getRaster.setSample(i % w, i / w, 0, idx(i))
      val writer = ImageIO.getImageWritersByFormatName("png").next()
      val param = writer.getDefaultWriteParam
      if (interlace) param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new IIOImage(bi, null, null), param)
      ios.close(); writer.dispose()
      val blob = bos.toByteArray
      assert((blob(24) & 0xff) == bits, s"p=$p must be $bits-bit on the wire")
      val Some((dw, dh, luma)) = Pixels.decodePngLuma(blob)
      assert(dw == w && dh == h)
      for (i <- 0 until w * h) {
        val c = cmap(idx(i))
        val expect = (77 * ((c >> 16) & 0xff) + 151 * ((c >> 8) & 0xff) +
          28 * (c & 0xff)) >> 8
        assert(luma(i) == expect, s"p=$p gray=$gray il=$interlace i=$i")
      }
    }
  }
}
