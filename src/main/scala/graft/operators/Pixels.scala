package graft.operators

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater}

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.Bytes.{i32be, i32le, le16, le32, putBe32, u16, u16le,
  u32}

/** REAL PNG pixel decode — the step the multimodal family had stubbed.
  *
  * Everything before this module stopped at headers (q229 reads IHDR
  * dims; the IDAT was opaque payload). Here the fixture emitter writes
  * byte-valid grayscale PNGs — zlib-wrapped IDAT (JDK Deflater), one
  * filter byte per scanline cycling ALL FIVE filter types (None / Sub /
  * Up / Average / Paeth, RFC 2083 §6), chunk CRC32s, and a variable-
  * length tEXt chunk the walk must hop — and the decoder recovers the
  * PIXELS back out of the bytes: chunk walk → CRC verify → multi-IDAT
  * concat → Inflater → per-row filter reversal. The oracle replays the
  * pixel formula arithmetically in DuckDB, so a wrong Paeth predictor,
  * a misapplied Average carry, or an off-by-one scanline stride shows
  * up as a hash mismatch on px_sum / the perceptual hashes.
  *
  * On top of the recovered pixels: integer-exact perceptual hashes.
  * aHash (mean-threshold over an 8×8 box-average grid) and gHash (a
  * horizontal-gradient dHash variant computed on the same 8×8 grid,
  * torus wrap at the right edge — documented deviation from the
  * classic 9×8 dHash so box edges stay integer-exact for any 8|w).
  * Fixture dims are multiples of 8 for the same reason: box averages
  * are exact integer division, which is what lets DuckDB replay the
  * hash bit-for-bit.
  *
  * Scale shape: encode→decode→hash is map-only (embarrassingly
  * parallel, linear in bytes); the near-dup query banding-joins 8-bit
  * hash bands so candidates are bucket-bounded, never all-pairs —
  * the same LSH discipline as the text near-dup family
  * (`Dedup.scala`). Reference analogue: the map-side media feature
  * extraction slot (mapper.py:21-41 applies an arbitrary per-record
  * function); the decode itself is from the public PNG spec.
  */
object Pixels {

  // ------------------------------------------------------------------
  // PNG grayscale codec (8-bit, color type 0)
  // ------------------------------------------------------------------

  private val PngSig =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** RFC 2083 §6.6 Paeth predictor. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Byte-valid grayscale PNG: signature, IHDR (8-bit, color type 0),
    * a tEXt chunk carrying `comment` (variable length — the decoder's
    * chunk walk must hop it), zlib-deflated IDAT with the scanline
    * filter cycling y % 5 over all five filter types, IEND. `pixels`
    * is row-major, values 0–255. */
  def encodeGrayPng(width: Int, height: Int, pixels: Array[Int],
      comment: Array[Byte]): Array[Byte] = {
    require(pixels.length == width * height,
      s"pixel buffer ${pixels.length} != ${width}x$height")
    // filtered stream: per row, 1 filter-type byte + width sample bytes
    val raw = new Array[Byte]((1 + width) * height)
    var y = 0
    while (y < height) {
      val f = y % 5
      raw(y * (width + 1)) = f.toByte
      var x = 0
      while (x < width) {
        val cur = pixels(y * width + x)
        val left = if (x > 0) pixels(y * width + x - 1) else 0
        val up = if (y > 0) pixels((y - 1) * width + x) else 0
        val ul = if (x > 0 && y > 0) pixels((y - 1) * width + x - 1) else 0
        val v = f match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case _ => cur - paeth(left, up, ul)
        }
        raw(y * (width + 1) + 1 + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    // zlib wrapper (NOT nowrap): PNG's IDAT is RFC 1950 zlib, header +
    // adler32, unlike gzip's raw-deflate-with-own-framing
    val defl = new Deflater(Deflater.DEFAULT_COMPRESSION, false)
    defl.setInput(raw); defl.finish()
    val zout = new ByteArrayOutputStream(raw.length / 2 + 32)
    val buf = new Array[Byte](4096)
    while (!defl.finished()) zout.write(buf, 0, defl.deflate(buf))
    defl.end()

    val out = new ByteArrayOutputStream(zout.size() + comment.length + 96)
    out.write(PngSig, 0, PngSig.length)
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, width); putBe32(ihdr, 4, height)
    ihdr(8) = 8; ihdr(9) = 0 // bit depth 8, color type 0 = grayscale
    out.write(PngMeta.chunk("IHDR", ihdr))
    out.write(PngMeta.chunk("tEXt", "Comment".getBytes("US-ASCII") ++
      Array(0.toByte) ++ comment))
    out.write(PngMeta.chunk("IDAT", zout.toByteArray))
    out.write(PngMeta.chunk("IEND", Array.emptyByteArray))
    out.toByteArray
  }

  // Adam7 pass geometry (RFC 2083 §2.6): origin and step per pass
  private val A7xStart = Array(0, 4, 0, 2, 0, 1, 0)
  private val A7xStep = Array(8, 8, 4, 4, 2, 2, 1)
  private val A7yStart = Array(0, 0, 4, 0, 2, 0, 1)
  private val A7yStep = Array(8, 8, 8, 4, 4, 2, 2)

  /** Shared PNG decode core: verified chunk walk (length + CRC32 per
    * chunk), multi-IDAT concatenation, zlib inflate, filter reversal
    * per scanline at the color type's byte-per-pixel stride (PNG
    * filters predict from the sample `bpp` bytes back, not one), and
    * Adam7 de-interlacing (each reduced image filters its OWN
    * scanlines at its own width; empty passes contribute no bytes).
    * Returns (w, h, colorType, bitDepth, SAMPLES, palette): samples
    * are w·h·spp ints 0–255 for depth 8 (spp = 3 for truecolor), or
    * w·h ints 0–65535 for depth-16 grayscale; palette is 0xRRGGBB,
    * empty unless type 3.
    * Contract: 8-bit color types 0 (gray), 2 (truecolor), 3 (palette,
    * which must carry a PLTE) plus 16-bit type 0, interlace methods 0
    * and 1 (Adam7). Corrupt / unsupported → None, never throw. */
  private def decodePngSamples(bytes: Array[Byte])
      : Option[(Int, Int, Int, Int, Array[Int], Array[Int])] =
    try {
      if (bytes.length < 8 + 25 + 12) return None
      var i = 0
      while (i < 8) { if (bytes(i) != PngSig(i)) return None; i += 1 }
      var off = 8
      var w = -1; var h = -1; var color = -1; var depth = -1
      var interlace = -1
      var palette = Array.empty[Int]
      val idat = new ByteArrayOutputStream(bytes.length)
      var done = false
      while (!done && off + 12 <= bytes.length) {
        val len = i32be(bytes, off)
        if (len < 0 || off + 12 + len > bytes.length) return None
        val typ = new String(bytes, off + 4, 4, "US-ASCII")
        val crc = new CRC32()
        crc.update(bytes, off + 4, 4 + len)
        if (crc.getValue.toInt != i32be(bytes, off + 8 + len)) return None
        typ match {
          case "IHDR" =>
            if (len != 13) return None
            w = i32be(bytes, off + 8); h = i32be(bytes, off + 12)
            depth = bytes(off + 16) & 0xff
            color = bytes(off + 17) & 0xff
            interlace = bytes(off + 20) & 0xff
            val depthOk = depth == 8 && (color == 0 || color == 2 ||
              color == 3) || depth == 16 && color == 0 ||
              (depth == 1 || depth == 2 || depth == 4) &&
                (color == 0 || color == 3)
            if (!depthOk || interlace > 1) return None
          case "PLTE" =>
            if (len % 3 != 0 || len > 768) return None
            palette = Array.tabulate(len / 3)(p =>
              Bytes.u24be(bytes, off + 8 + p * 3))
          case "IDAT" => idat.write(bytes, off + 8, len)
          case "IEND" => done = true
          case _ => () // ancillary (tEXt, ...) — hop
        }
        off += 12 + len
      }
      if (!done || w <= 0 || h <= 0 || w.toLong * h > (1 << 26)) return None
      if (color == 3 && palette.isEmpty) return None // PLTE is mandatory
      val spp = if (color == 2) 3 else 1
      // filter stride in BYTES (sub-byte depths filter at stride 1)
      val bpp = math.max(1, spp * (depth / 8))
      // pass table: a non-interlaced image is one full-geometry pass
      val passes: Array[(Int, Int, Int, Int)] =
        if (interlace == 0) Array((0, 1, 0, 1))
        else Array.tabulate(7)(p =>
          (A7xStart(p), A7xStep(p), A7yStart(p), A7yStep(p)))
      def passW(p: (Int, Int, Int, Int)): Int =
        if (w <= p._1) 0 else (w - p._1 + p._2 - 1) / p._2
      def passH(p: (Int, Int, Int, Int)): Int =
        if (h <= p._3) 0 else (h - p._3 + p._4 - 1) / p._4
      def rowBytesOf(pw: Int): Int =
        if (depth >= 8) pw * bpp else (pw * depth + 7) / 8
      var total = 0
      passes.foreach { p =>
        val pw = passW(p); val ph = passH(p)
        if (pw > 0 && ph > 0) total += ph * (rowBytesOf(pw) + 1)
      }
      // the stream must decode to exactly the bytes the image needs
      val raw = Bytes.inflate(idat.toByteArray, 0, idat.size, total)
        .filter(_._1.length == total).getOrElse(return None)._1
      val out = new Array[Int](w * h * (if (depth == 8) spp else 1))
      var roff = 0
      passes.foreach { case p @ (xs, xStep, ys, yStep) =>
        val pw = passW(p); val ph = passH(p)
        if (pw > 0 && ph > 0) {
          val rowBytes = rowBytesOf(pw)
          var prior = new Array[Int](rowBytes)
          var cur = new Array[Int](rowBytes)
          var j = 0
          while (j < ph) {
            val f = raw(roff) & 0xff
            if (f > 4) return None
            roff += 1
            var x = 0
            while (x < rowBytes) {
              val left = if (x >= bpp) cur(x - bpp) else 0
              val up = if (j > 0) prior(x) else 0
              val ul = if (x >= bpp && j > 0) prior(x - bpp) else 0
              val pred = f match {
                case 0 => 0
                case 1 => left
                case 2 => up
                case 3 => (left + up) / 2
                case _ => paeth(left, up, ul)
              }
              cur(x) = ((raw(roff + x) & 0xff) + pred) & 0xff
              x += 1
            }
            roff += rowBytes
            val py = ys + j * yStep
            var k = 0
            while (k < pw) {
              val px = xs + k * xStep
              if (depth == 8) {
                var c = 0
                while (c < spp) {
                  out((py * w + px) * spp + c) = cur(k * bpp + c)
                  c += 1
                }
              } else if (depth == 16) {
                out(py * w + px) = (cur(k * 2) << 8) | cur(k * 2 + 1)
              } else { // 1/2/4-bit: MSB-first packed codes
                val bit = k * depth
                out(py * w + px) =
                  (cur(bit >> 3) >> (8 - depth - (bit & 7))) &
                    ((1 << depth) - 1)
              }
              k += 1
            }
            val t = prior; prior = cur; cur = t
            j += 1
          }
        }
      }
      Some((w, h, color, depth, out, palette))
    } catch { case _: Exception => None }

  /** Decode a grayscale 8-bit PNG back to pixels (color type 0 ONLY —
    * the original contract the gray fixture family pins). */
  def decodeGrayPng(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    decodePngSamples(bytes) match {
      case Some((w, h, 0, 8, px, _)) => Some((w, h, px))
      case _ => None
    }

  /** Decode a 16-bit grayscale PNG: values 0–65535, big-endian sample
    * pairs, filters applied at the 2-byte stride (RFC 2083 §6.2). */
  def decodeGray16Png(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    decodePngSamples(bytes) match {
      case Some((w, h, 0, 16, px, _)) => Some((w, h, px))
      case _ => None
    }

  private def rgbLuma(r: Int, g: Int, b: Int): Int =
    (77 * r + 151 * g + 28 * b) >> 8

  /** Decode a PNG — grayscale, truecolor OR palette — to LUMA pixels:
    * type 0 passes through, type 2 converts per pixel, type 3 looks
    * indices up through the PLTE then converts; the conversion is the
    * integer BT.601-style weights (77·R + 151·G + 28·B) >> 8 (they
    * sum to 256, so it is exact integer math the oracle replays).
    * Out-of-palette indices → None (a corrupt stream, not a 0). */
  def decodePngLuma(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    decodePngSamples(bytes).flatMap {
      case (w, h, 0, 8, px, _) => Some((w, h, px))
      case (w, h, 0, 16, px, _) => // 16-bit gray: high byte is the luma
        Some((w, h, px.map(_ >> 8)))
      case (w, h, 0, d, px, _) => // 1/2/4-bit gray: linear code scale
        val scale = 255 / ((1 << d) - 1)
        Some((w, h, px.map(_ * scale)))
      case (w, h, 2, _, s, _) =>
        Some((w, h, Array.tabulate(w * h) { i =>
          rgbLuma(s(i * 3), s(i * 3 + 1), s(i * 3 + 2))
        }))
      case (w, h, _, _, idx, pal) =>
        if (idx.exists(_ >= pal.length)) None
        else Some((w, h, idx.map { i =>
          val c = pal(i)
          rgbLuma((c >> 16) & 0xff, (c >> 8) & 0xff, c & 0xff)
        }))
    }

  /** Byte-valid truecolor PNG (color type 2): same chunk layout and
    * filter cycling as the gray encoder, 3 samples per pixel with the
    * spec's bpp-offset filter predictions. `rgb` is row-major
    * 0xRRGGBB ints. */
  def encodeRgbPng(width: Int, height: Int, rgb: Array[Int],
      comment: Array[Byte]): Array[Byte] = {
    require(rgb.length == width * height,
      s"pixel buffer ${rgb.length} != ${width}x$height")
    val rowBytes = width * 3
    val samples = new Array[Int](rowBytes * height)
    var i = 0
    while (i < rgb.length) {
      samples(i * 3) = (rgb(i) >> 16) & 0xff
      samples(i * 3 + 1) = (rgb(i) >> 8) & 0xff
      samples(i * 3 + 2) = rgb(i) & 0xff
      i += 1
    }
    val raw = new Array[Byte]((1 + rowBytes) * height)
    var y = 0
    while (y < height) {
      val f = y % 5
      raw(y * (rowBytes + 1)) = f.toByte
      var x = 0
      while (x < rowBytes) {
        val cur = samples(y * rowBytes + x)
        val left = if (x >= 3) samples(y * rowBytes + x - 3) else 0
        val up = if (y > 0) samples((y - 1) * rowBytes + x) else 0
        val ul = if (x >= 3 && y > 0) samples((y - 1) * rowBytes + x - 3)
          else 0
        val v = f match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case _ => cur - paeth(left, up, ul)
        }
        raw(y * (rowBytes + 1) + 1 + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val defl = new Deflater(Deflater.DEFAULT_COMPRESSION, false)
    defl.setInput(raw); defl.finish()
    val zout = new ByteArrayOutputStream(raw.length / 2 + 32)
    val buf = new Array[Byte](4096)
    while (!defl.finished()) zout.write(buf, 0, defl.deflate(buf))
    defl.end()
    val out = new ByteArrayOutputStream(zout.size() + comment.length + 96)
    out.write(PngSig, 0, PngSig.length)
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, width); putBe32(ihdr, 4, height)
    ihdr(8) = 8; ihdr(9) = 2 // 8-bit, truecolor
    out.write(PngMeta.chunk("IHDR", ihdr))
    out.write(PngMeta.chunk("tEXt", "Comment".getBytes("US-ASCII") ++
      Array(0.toByte) ++ comment))
    out.write(PngMeta.chunk("IDAT", zout.toByteArray))
    out.write(PngMeta.chunk("IEND", Array.emptyByteArray))
    out.toByteArray
  }

  /** Byte-valid palette PNG (color type 3): PLTE of 0xRRGGBB entries
    * between IHDR and IDAT, index bytes filtered exactly like the
    * gray encoder (bpp = 1). */
  def encodePalettePng(width: Int, height: Int, indices: Array[Int],
      palette: Array[Int], comment: Array[Byte]): Array[Byte] = {
    require(indices.length == width * height,
      s"index buffer ${indices.length} != ${width}x$height")
    require(palette.nonEmpty && palette.length <= 256,
      s"palette size ${palette.length}")
    indices.foreach(i => require(i >= 0 && i < palette.length,
      s"index $i out of palette"))
    val raw = new Array[Byte]((1 + width) * height)
    var y = 0
    while (y < height) {
      val f = y % 5
      raw(y * (width + 1)) = f.toByte
      var x = 0
      while (x < width) {
        val cur = indices(y * width + x)
        val left = if (x > 0) indices(y * width + x - 1) else 0
        val up = if (y > 0) indices((y - 1) * width + x) else 0
        val ul = if (x > 0 && y > 0) indices((y - 1) * width + x - 1) else 0
        val v = f match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case _ => cur - paeth(left, up, ul)
        }
        raw(y * (width + 1) + 1 + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val defl = new Deflater(Deflater.DEFAULT_COMPRESSION, false)
    defl.setInput(raw); defl.finish()
    val zout = new ByteArrayOutputStream(raw.length / 2 + 32)
    val buf = new Array[Byte](4096)
    while (!defl.finished()) zout.write(buf, 0, defl.deflate(buf))
    defl.end()
    val out = new ByteArrayOutputStream(zout.size() + comment.length + 900)
    out.write(PngSig, 0, PngSig.length)
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, width); putBe32(ihdr, 4, height)
    ihdr(8) = 8; ihdr(9) = 3 // 8-bit, palette
    out.write(PngMeta.chunk("IHDR", ihdr))
    val plte = new Array[Byte](palette.length * 3)
    var p = 0
    while (p < palette.length) {
      plte(p * 3) = ((palette(p) >> 16) & 0xff).toByte
      plte(p * 3 + 1) = ((palette(p) >> 8) & 0xff).toByte
      plte(p * 3 + 2) = (palette(p) & 0xff).toByte
      p += 1
    }
    out.write(PngMeta.chunk("PLTE", plte))
    out.write(PngMeta.chunk("tEXt", "Comment".getBytes("US-ASCII") ++
      Array(0.toByte) ++ comment))
    out.write(PngMeta.chunk("IDAT", zout.toByteArray))
    out.write(PngMeta.chunk("IEND", Array.emptyByteArray))
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // GIF87a grayscale codec (8-bit palette, real LZW both directions)
  // ------------------------------------------------------------------

  /** GIF-variant LZW compress (LSB-first variable-width codes, clear
    * code emitted up front and on dictionary overflow at 4096). Input
    * is 8-bit pixel indices; minimum code size is fixed at 8. */
  private def lzwCompress(data: Array[Int], minCode: Int = 8): Array[Byte] = {
    val ClearCode = 1 << minCode; val EoiCode = ClearCode + 1
    val out = new ByteArrayOutputStream(data.length / 2 + 16)
    var bitBuf = 0L; var bitCnt = 0
    var codeWidth = minCode + 1
    def emit(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt; bitCnt += codeWidth
      while (bitCnt >= 8) {
        out.write((bitBuf & 0xff).toInt); bitBuf >>>= 8; bitCnt -= 8
      }
    }
    // dictionary: string→code. Strings grow by one symbol at a time, so
    // (prefixCode, nextSymbol) is a complete key.
    var dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var nextCode = EoiCode + 1
    emit(ClearCode)
    var prev = -1
    var i = 0
    while (i < data.length) {
      val sym = data(i)
      if (prev < 0) prev = sym
      else dict.get((prev, sym)) match {
        case Some(code) => prev = code
        case None =>
          emit(prev)
          dict((prev, sym)) = nextCode
          nextCode += 1
          if (nextCode - 1 == (1 << codeWidth) && codeWidth < 12)
            codeWidth += 1
          if (nextCode == 4096) { // table full: reset, per GIF spec
            emit(ClearCode)
            dict = scala.collection.mutable.HashMap.empty
            nextCode = EoiCode + 1; codeWidth = minCode + 1
          }
          prev = sym
      }
      i += 1
    }
    if (prev >= 0) emit(prev)
    // tail: the final emit above makes NO dictionary add, but the
    // decoder DOES add on reading it — if that lands exactly on the
    // decoder's bump boundary (nextCode == 2^w in the GIF schedule),
    // the EOI must be written one bit wider. Caught live by the q371
    // sf1 sweep at ~1000-symbol small-palette streams; the TIFF LZW
    // pair has the same rule at ITS (early-change) boundary.
    if (nextCode == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
    emit(EoiCode)
    if (bitCnt > 0) out.write((bitBuf & 0xff).toInt)
    out.toByteArray
  }

  /** GIF-variant LZW decompress. `expected` bounds the output (w*h for
    * an image); returns None on malformed streams.
    *
    * Width schedule: the decoder's slot counter LAGS the encoder's by
    * one data code (the first code after a clear defines nothing), so
    * the symmetric-looking bump rules differ by one on purpose —
    * encoder bumps at nextCode−1 == 2^W, decoder at nextCode == 2^W.
    * That pairing is the standard GIF schedule (giflib / stb_image /
    * ImageIO agree); `PixelsSpec` referees BOTH directions against
    * the JDK's own ImageIO GIF codec. */
  private def lzwDecompress(data: Array[Byte], expected: Int,
      minCode: Int = 8): Option[Array[Int]] = {
    val ClearCode = 1 << minCode; val EoiCode = ClearCode + 1
    val out = new Array[Int](expected)
    var n = 0
    // code → string of symbols, stored as (prefix chain, last symbol)
    val suffix = new Array[Int](4096); val prefix = new Array[Int](4096)
    val length = new Array[Int](4096)
    var c0 = 0
    while (c0 < ClearCode) { suffix(c0) = c0; prefix(c0) = -1; length(c0) = 1; c0 += 1 }
    var nextCode = EoiCode + 1
    var codeWidth = minCode + 1
    var bitBuf = 0L; var bitCnt = 0; var pos = 0
    var prevCode = -1
    def writeCode(code: Int): Boolean = {
      // walk the chain backwards, filling right-to-left
      var c = code; val end = n + length(code)
      if (end > expected) return false
      var w = end - 1
      while (c >= 0) { out(w) = suffix(c); w -= 1; c = prefix(c) }
      n = end
      true
    }
    while (pos < data.length || bitCnt >= codeWidth) {
      while (bitCnt < codeWidth && pos < data.length) {
        bitBuf |= (data(pos) & 0xffL) << bitCnt; bitCnt += 8; pos += 1
      }
      if (bitCnt < codeWidth) return None // truncated mid-code
      val code = (bitBuf & ((1 << codeWidth) - 1)).toInt
      bitBuf >>>= codeWidth; bitCnt -= codeWidth
      if (code == ClearCode) {
        nextCode = EoiCode + 1; codeWidth = minCode + 1; prevCode = -1
      } else if (code == EoiCode) {
        return if (n == expected) Some(out) else None
      } else if (prevCode < 0) {
        if (code >= ClearCode) return None // first after clear is a root
        if (!writeCode(code)) return None
        prevCode = code
      } else {
        if (code > nextCode) return None
        if (code == nextCode && nextCode >= 4096) return None
        // first symbol of the string this code denotes (for KwKwK the
        // string is prev + first(prev), so walk prev instead)
        var f = if (code == nextCode) prevCode else code
        while (prefix(f) >= 0) f = prefix(f)
        if (nextCode < 4096) {
          prefix(nextCode) = prevCode
          suffix(nextCode) = suffix(f)
          length(nextCode) = length(prevCode) + 1
          nextCode += 1
          if (nextCode == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
        }
        // post-define, a KwKwK code is an ordinary defined code
        if (!writeCode(code)) return None
        prevCode = code
      }
    }
    None // ran out of bits without EOI
  }

  /** Byte-valid grayscale GIF87a: header, logical screen descriptor, a
    * 256-entry grayscale global color table (palette index == pixel
    * value), a variable-length comment extension carrying `comment`
    * (sub-block chain the walk must hop), one image descriptor, REAL
    * LZW-compressed pixel data in ≤255-byte sub-blocks, trailer. */
  def encodeGrayGif(width: Int, height: Int, pixels: Array[Int],
      comment: Array[Byte]): Array[Byte] = {
    require(pixels.length == width * height,
      s"pixel buffer ${pixels.length} != ${width}x$height")
    val out = new ByteArrayOutputStream(pixels.length / 2 + 900)
    out.write("GIF87a".getBytes("US-ASCII"), 0, 6)
    le16(out, width); le16(out, height)
    out.write(0xf7) // GCT present, 8-bit color resolution, 256 entries
    out.write(0); out.write(0) // bg color, aspect
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
    // comment extension: 0x21 0xFE, sub-blocks, 0 terminator
    out.write(0x21); out.write(0xfe)
    var off = 0
    while (off < comment.length) {
      val n = math.min(255, comment.length - off)
      out.write(n); out.write(comment, off, n); off += n
    }
    out.write(0)
    // image descriptor
    out.write(0x2c); le16(out, 0); le16(out, 0); le16(out, width)
    le16(out, height); out.write(0)
    out.write(8) // LZW minimum code size
    val lzw = lzwCompress(pixels)
    off = 0
    while (off < lzw.length) {
      val n = math.min(255, lzw.length - off)
      out.write(n); out.write(lzw, off, n); off += n
    }
    out.write(0) // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Byte-valid SMALL-PALETTE grayscale GIF87a — the icon form: a
    * power-of-two GCT sized to the palette (not 256), LZW minimum
    * code size = the GCT's bit width (floor 2, per the GIF spec).
    * `palette` holds gray levels, `indices` index into it. */
  def encodePaletteGif(width: Int, height: Int, indices: Array[Int],
      palette: Array[Int]): Array[Byte] = {
    require(indices.length == width * height, "index buffer size")
    require(palette.length >= 2 && palette.length <= 256, "palette size")
    require(indices.forall(i => i >= 0 && i < palette.length), "index range")
    var gctBits = 1
    while ((1 << gctBits) < palette.length) gctBits += 1
    val gctSize = 1 << gctBits
    val mc = math.max(2, gctBits)
    val out = new ByteArrayOutputStream(indices.length / 2 + gctSize * 3 + 64)
    out.write("GIF87a".getBytes("US-ASCII"), 0, 6)
    le16(out, width); le16(out, height)
    out.write(0x80 | ((gctBits - 1) & 7) | 0x70) // GCT, 8-bit res, size
    out.write(0); out.write(0)
    var i = 0
    while (i < gctSize) {
      val g = if (i < palette.length) palette(i) & 0xff else 0
      out.write(g); out.write(g); out.write(g)
      i += 1
    }
    out.write(0x2c); le16(out, 0); le16(out, 0); le16(out, width)
    le16(out, height); out.write(0)
    out.write(mc)
    val lzw = lzwCompress(indices, mc)
    var off = 0
    while (off < lzw.length) {
      val n = math.min(255, lzw.length - off)
      out.write(n); out.write(lzw, off, n); off += n
    }
    out.write(0)
    out.write(0x3b)
    out.toByteArray
  }

  /** Decode a grayscale GIF87a/89a back to pixels: sub-block
    * reassembly, extension hops, real LZW decompression, palette
    * lookup through the grayscale GCT. Corrupt / unsupported (local
    * color tables, interlace) → None. */
  def decodeGrayGif(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      if (bytes.length < 13 + 10) return None
      val sig = new String(bytes, 0, 6, "US-ASCII")
      if (sig != "GIF87a" && sig != "GIF89a") return None
      val flags = bytes(10) & 0xff
      var off = 13
      // palette: grayscale value per index (we read R; gray GIFs have
      // R=G=B). A local color table at the image descriptor overrides.
      val palette = if ((flags & 0x80) != 0) {
        val gctSize = 2 << (flags & 7)
        val p = Array.tabulate(gctSize)(i => bytes(off + i * 3) & 0xff)
        off += gctSize * 3
        p
      } else Array.tabulate(256)(identity)
      while (off < bytes.length) {
        (bytes(off) & 0xff) match {
          case 0x21 => // extension: label + sub-block chain
            off += 2
            while (off < bytes.length && (bytes(off) & 0xff) != 0)
              off += 1 + (bytes(off) & 0xff)
            off += 1
          case 0x2c =>
            val w = u16le(bytes, off + 5); val h = u16le(bytes, off + 7)
            val iflags = bytes(off + 9) & 0xff
            val interlaced = (iflags & 0x40) != 0
            off += 10
            val pal = if ((iflags & 0x80) != 0) { // local color table wins
              val lctSize = 2 << (iflags & 7)
              val p = Array.tabulate(lctSize)(i => bytes(off + i * 3) & 0xff)
              off += lctSize * 3
              p
            } else palette
            val minCode = bytes(off) & 0xff
            if (minCode < 2 || minCode > 8) return None // GIF legal range
            off += 1
            val lzw = new ByteArrayOutputStream(bytes.length - off)
            while (off < bytes.length && (bytes(off) & 0xff) != 0) {
              val n = bytes(off) & 0xff
              if (off + 1 + n > bytes.length) return None
              lzw.write(bytes, off + 1, n)
              off += 1 + n
            }
            if (w <= 0 || h <= 0 || w.toLong * h > (1 << 26)) return None
            return lzwDecompress(lzw.toByteArray, w * h, minCode)
              .map { idx =>
                // GIF89a appendix E interlace: rows arrive in four
                // passes (every 8th from 0, every 8th from 4, every
                // 4th from 2, every 2nd from 1)
                val rows =
                  if (!interlaced) 0 until h
                  else (0 until h by 8) ++ (4 until h by 8) ++
                    (2 until h by 4) ++ (1 until h by 2)
                val px = new Array[Int](w * h)
                var src = 0
                rows.foreach { r =>
                  var x = 0
                  while (x < w) {
                    val i = idx(src * w + x)
                    px(r * w + x) = if (i < pal.length) pal(i) else 0
                    x += 1
                  }
                  src += 1
                }
                (w, h, px)
              }
          case 0x3b => return None // trailer before any image
          case _ => return None
        }
      }
      None
    } catch { case _: Exception => None }

  /** Byte-valid ANIMATED grayscale GIF89a: logical screen + GCT, the
    * NETSCAPE2.0 looping application extension, then per frame a
    * Graphic Control Extension (delay in centiseconds, disposal 1 =
    * leave in place) followed by a full-rect image descriptor with
    * real LZW data. Each frame is a complete w×h raster. */
  def encodeAnimatedGif(width: Int, height: Int,
      frames: Seq[(Array[Int], Int)], comment: Array[Byte]): Array[Byte] = {
    require(frames.nonEmpty, "at least one frame")
    frames.foreach { case (px, _) =>
      require(px.length == width * height, "frame size mismatch") }
    val out = new ByteArrayOutputStream(frames.size * width * height / 2 + 900)
    out.write("GIF89a".getBytes("US-ASCII"), 0, 6)
    le16(out, width); le16(out, height)
    out.write(0xf7); out.write(0); out.write(0)
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
    // NETSCAPE2.0 loop-forever application extension
    out.write(0x21); out.write(0xff); out.write(11)
    out.write("NETSCAPE2.0".getBytes("US-ASCII"), 0, 11)
    out.write(3); out.write(1); le16(out, 0); out.write(0)
    // comment extension (variable length — the walk must hop it)
    out.write(0x21); out.write(0xfe)
    var off = 0
    while (off < comment.length) {
      val n = math.min(255, comment.length - off)
      out.write(n); out.write(comment, off, n); off += n
    }
    out.write(0)
    frames.foreach { case (px, delayCs) =>
      // Graphic Control Extension: disposal 1 (leave), no transparency
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(0x04); le16(out, delayCs); out.write(0); out.write(0)
      out.write(0x2c); le16(out, 0); le16(out, 0); le16(out, width)
      le16(out, height); out.write(0)
      out.write(8)
      val lzw = lzwCompress(px)
      var o = 0
      while (o < lzw.length) {
        val n = math.min(255, lzw.length - o)
        out.write(n); out.write(lzw, o, n); o += n
      }
      out.write(0)
    }
    out.write(0x3b)
    out.toByteArray
  }

  final case class GifAnimation(width: Int, height: Int,
      frames: Vector[(Int, Array[Int])]) // (delay centiseconds, pixels)

  /** Decode an animated grayscale GIF: per-frame GCE delay capture,
    * sub-block reassembly, real LZW, GCT lookup. Contract: full-rect
    * frames only (left/top 0, frame dims == logical screen — each
    * frame replaces the canvas, so disposal modes never matter);
    * partial-rect frames, local color tables, interlace → None. */
  def decodeAnimatedGif(bytes: Array[Byte]): Option[GifAnimation] =
    try {
      if (bytes.length < 13 + 10) return None
      val sig = new String(bytes, 0, 6, "US-ASCII")
      if (sig != "GIF87a" && sig != "GIF89a") return None
      val sw = u16le(bytes, 6); val sh = u16le(bytes, 8)
      if (sw <= 0 || sh <= 0 || sw.toLong * sh > (1 << 26)) return None
      val flags = bytes(10) & 0xff
      var off = 13
      val palette = if ((flags & 0x80) != 0) {
        val gctSize = 2 << (flags & 7)
        val p = Array.tabulate(gctSize)(i => bytes(off + i * 3) & 0xff)
        off += gctSize * 3
        p
      } else Array.tabulate(256)(identity)
      var pendingDelay = 0
      val frames = Vector.newBuilder[(Int, Array[Int])]
      var done = false
      while (!done && off < bytes.length) {
        (bytes(off) & 0xff) match {
          case 0x21 if (bytes(off + 1) & 0xff) == 0xf9 => // GCE
            if ((bytes(off + 2) & 0xff) != 4) return None
            pendingDelay = u16le(bytes, off + 4)
            if ((bytes(off + 7) & 0xff) != 0) return None // terminator
            off += 8
          case 0x21 => // other extension: label + sub-block chain
            off += 2
            while (off < bytes.length && (bytes(off) & 0xff) != 0)
              off += 1 + (bytes(off) & 0xff)
            off += 1
          case 0x2c =>
            val left = u16le(bytes, off + 1); val top = u16le(bytes, off + 3)
            val w = u16le(bytes, off + 5); val h = u16le(bytes, off + 7)
            val iflags = bytes(off + 9) & 0xff
            // full-rect replacement frames only; LCT/interlace out of
            // contract
            if (left != 0 || top != 0 || w != sw || h != sh) return None
            if ((iflags & 0xc0) != 0) return None
            off += 10
            val minCode = bytes(off) & 0xff
            if (minCode < 2 || minCode > 8) return None
            off += 1
            val lzw = new ByteArrayOutputStream(bytes.length - off)
            while (off < bytes.length && (bytes(off) & 0xff) != 0) {
              val n = bytes(off) & 0xff
              if (off + 1 + n > bytes.length) return None
              lzw.write(bytes, off + 1, n)
              off += 1 + n
            }
            off += 1 // data terminator
            lzwDecompress(lzw.toByteArray, w * h, minCode) match {
              case Some(idx) =>
                val px = idx.map(i => if (i < palette.length) palette(i)
                  else return None)
                frames += ((pendingDelay, px))
                pendingDelay = 0
              case None => return None
            }
          case 0x3b => done = true
          case _ => return None
        }
      }
      val fs = frames.result()
      if (!done || fs.isEmpty) None else Some(GifAnimation(sw, sh, fs))
    } catch { case _: Exception => None }

  // ------------------------------------------------------------------
  // TIFF grayscale strip codec (uncompressed + PackBits)
  // ------------------------------------------------------------------

  /** PackBits compress (TIFF 6.0 §9): runs ≥3 become (257−n, byte),
    * literals are chunked ≤128 with a count-1 prefix. */
  def packBits(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + 16)
    var i = 0
    while (i < data.length) {
      // measure the run at i
      var run = 1
      while (i + run < data.length && run < 128 &&
        data(i + run) == data(i)) run += 1
      if (run >= 3) {
        out.write(257 - run); out.write(data(i))
        i += run
      } else {
        // literal: until the next ≥3 run or 128 bytes
        var lit = run
        while (i + lit < data.length && lit < 128 && {
          var r = 1
          while (i + lit + r < data.length && r < 3 &&
            data(i + lit + r) == data(i + lit)) r += 1
          r < 3
        }) lit += 1
        out.write(lit - 1)
        out.write(data, i, lit)
        i += lit
      }
    }
    out.toByteArray
  }

  /** PackBits decompress; `expected` bounds the output. None on
    * malformed or over/underrun streams. */
  def unpackBits(data: Array[Byte], expected: Int): Option[Array[Byte]] =
    try {
      val out = new Array[Byte](expected)
      var i = 0; var n = 0
      while (i < data.length) {
        val c = data(i).toInt; i += 1
        if (c >= 0) { // literal of c+1 bytes
          if (i + c + 1 > data.length || n + c + 1 > expected) return None
          System.arraycopy(data, i, out, n, c + 1)
          i += c + 1; n += c + 1
        } else if (c != -128) { // run of 1-c copies
          if (i >= data.length || n + (1 - c) > expected) return None
          java.util.Arrays.fill(out, n, n + (1 - c), data(i))
          i += 1; n += 1 - c
        } // -128: noop per spec
      }
      if (n == expected) Some(out) else None
    } catch { case _: Exception => None }

  /** Byte-valid grayscale TIFF (little-endian): header, pixel strips
    * (RowsPerStrip=16; uncompressed or PackBits), then the IFD with
    * the baseline grayscale tag set. Strip arrays are stored
    * out-of-line when they outgrow the 4-byte inline value slot. */
  def encodeGrayTiff(width: Int, height: Int, pixels: Array[Int],
      usePackBits: Boolean): Array[Byte] =
    encodeGrayTiff(width, height, pixels,
      if (usePackBits) 32773 else 1)

  /** As above with an explicit compression tag: 1 = none, 5 = LZW,
    * 32773 = PackBits. */
  def encodeGrayTiff(width: Int, height: Int, pixels: Array[Int],
      compression: Int): Array[Byte] = {
    require(compression == 1 || compression == 5 || compression == 32773,
      s"compression $compression")
    require(pixels.length == width * height,
      s"pixel buffer ${pixels.length} != ${width}x$height")
    val rowsPerStrip = 16
    val nStrips = (height + rowsPerStrip - 1) / rowsPerStrip
    val strips = (0 until nStrips).map { s =>
      val y0 = s * rowsPerStrip
      val rows = math.min(rowsPerStrip, height - y0)
      val raw = new Array[Byte](rows * width)
      var i = 0
      while (i < raw.length) {
        raw(i) = pixels((y0 + i / width) * width + i % width).toByte
        i += 1
      }
      compression match {
        case 1 => raw
        case 5 => tiffLzwCompress(raw)
        case _ => packBits(raw)
      }
    }
    val out = new ByteArrayOutputStream(pixels.length + 256)
    out.write('I'); out.write('I'); le16(out, 42)
    // layout: header(8) + strips + [strip arrays if out-of-line] + IFD
    val stripOffsets = new Array[Long](nStrips)
    var cursor = 8L
    (0 until nStrips).foreach { s =>
      stripOffsets(s) = cursor; cursor += strips(s).length
    }
    val arraysAt = cursor
    val arrayBytes = if (nStrips > 1) nStrips * 8L else 0L // two LONG arrays
    val ifdAt = arraysAt + arrayBytes
    le32(out, ifdAt)
    strips.foreach(st => out.write(st, 0, st.length))
    if (nStrips > 1) {
      stripOffsets.foreach(le32(out, _))
      strips.foreach(st => le32(out, st.length.toLong))
    }
    val entries = Seq[(Int, Int, Long, Long)](
      (256, 4, 1, width.toLong), // ImageWidth LONG
      (257, 4, 1, height.toLong), // ImageLength
      (258, 3, 1, 8L), // BitsPerSample SHORT
      (259, 3, 1, compression.toLong), // Compression
      (262, 3, 1, 1L), // Photometric: BlackIsZero
      (273, 4, nStrips.toLong,
        if (nStrips > 1) arraysAt else stripOffsets(0)), // StripOffsets
      (277, 3, 1, 1L), // SamplesPerPixel
      (278, 4, 1, rowsPerStrip.toLong), // RowsPerStrip
      (279, 4, nStrips.toLong,
        if (nStrips > 1) arraysAt + nStrips * 4L
        else strips(0).length.toLong)) // StripByteCounts
    le16(out, entries.size)
    entries.foreach { case (tag, typ, cnt, value) =>
      le16(out, tag); le16(out, typ); le32(out, cnt)
      if (typ == 3 && cnt == 1) { le16(out, value.toInt); le16(out, 0) }
      else le32(out, value)
    }
    le32(out, 0) // next IFD
    out.toByteArray
  }

  /** TIFF 6.0 §13 LZW compress: MSB-first variable-width codes with
    * the spec's EARLY width change — the width bumps at table size
    * 2^w−1, one code sooner than GIF's LSB-first variant. */
  def tiffLzwCompress(data: Array[Byte]): Array[Byte] = {
    val Clear = 256; val Eoi = 257
    val out = new ByteArrayOutputStream(data.length / 2 + 16)
    var bitBuf = 0L; var bitCnt = 0; var width = 9
    def emit(code: Int): Unit = {
      bitBuf = (bitBuf << width) | code; bitCnt += width
      while (bitCnt >= 8) {
        out.write(((bitBuf >> (bitCnt - 8)) & 0xff).toInt); bitCnt -= 8
      }
    }
    var dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var nextCode = 258
    emit(Clear)
    var prev = -1
    var i = 0
    while (i < data.length) {
      val sym = data(i) & 0xff
      if (prev < 0) prev = sym
      else dict.get((prev, sym)) match {
        case Some(c) => prev = c
        case None =>
          emit(prev)
          dict((prev, sym)) = nextCode; nextCode += 1
          // the encoder runs one entry AHEAD of the decoder (it adds
          // on emit; the decoder adds on the NEXT read), so its bump
          // fires at 2^w where the decoder's fires at 2^w − 1 — one
          // code earlier than the GIF variant either way
          if (nextCode == (1 << width) && width < 12) width += 1
          if (nextCode >= 4094) { // table nearly full: restart
            emit(Clear); width = 9
            dict = scala.collection.mutable.HashMap.empty
            nextCode = 258
          }
          prev = sym
      }
      i += 1
    }
    if (prev >= 0) emit(prev)
    // tail: the final emit above makes NO dictionary add, but the
    // decoder DOES add on reading it — so for the EOI the two sit at
    // the same count and the DECODER's bump rule (2^w − 1) applies
    if (nextCode == (1 << width) - 1 && width < 12) width += 1
    emit(Eoi)
    if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
    out.toByteArray
  }

  /** TIFF LZW decompress (MSB-first, early change); `expected` bounds
    * the output. None on overrun, bad code, or missing EOI. */
  def tiffLzwDecompress(data: Array[Byte],
      expected: Int): Option[Array[Byte]] = {
    val Clear = 256; val Eoi = 257
    val out = new Array[Byte](expected)
    var n = 0
    val suffix = new Array[Int](4096); val prefix = new Array[Int](4096)
    val length = new Array[Int](4096)
    var i = 0
    while (i < 256) { suffix(i) = i; prefix(i) = -1; length(i) = 1; i += 1 }
    var width = 9; var nextCode = 258; var prevCode = -1
    var bitPos = 0
    def readCode(): Int = {
      if ((bitPos + width + 7) / 8 > data.length) return -1
      var v = 0
      var k = 0
      while (k < width) {
        val b = (data(bitPos >> 3) >> (7 - (bitPos & 7))) & 1
        v = (v << 1) | b
        bitPos += 1; k += 1
      }
      v
    }
    def writeCode(code: Int): Boolean = {
      val len = length(code)
      if (n + len > expected) return false
      var at = n + len - 1
      var c = code
      while (c >= 0) { out(at) = suffix(c).toByte; at -= 1; c = prefix(c) }
      n += len
      true
    }
    while (true) {
      val code = readCode()
      if (code < 0) return None
      if (code == Eoi) return if (n == expected) Some(out) else None
      else if (code == Clear) { width = 9; nextCode = 258; prevCode = -1 }
      else if (prevCode < 0) {
        if (code > 255) return None
        if (!writeCode(code)) return None
        prevCode = code
      } else {
        if (code > nextCode || nextCode >= 4096) return None
        // define (prevCode + first symbol of current string); for the
        // KwKwK case the current string IS the new entry
        var f = if (code == nextCode) prevCode else code
        while (prefix(f) >= 0) f = prefix(f)
        if (nextCode < 4096) {
          prefix(nextCode) = prevCode
          suffix(nextCode) = suffix(f)
          length(nextCode) = length(prevCode) + 1
          nextCode += 1
          if (nextCode == (1 << width) - 1 && width < 12) width += 1
        }
        if (!writeCode(code)) return None
        prevCode = code
      }
    }
    None
  }

  /** Decode a grayscale 8-bit TIFF (II or MM): IFD walk, strip
    * assembly, PackBits or LZW when tagged. Corrupt / unsupported →
    * None. */
  def decodeGrayTiff(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      if (bytes.length < 16) return None
      val be = bytes(0) == 'M' && bytes(1) == 'M'
      val le = bytes(0) == 'I' && bytes(1) == 'I'
      if (!be && !le) return None
      if (u16(bytes, 2, be) != 42) return None
      val ifdAt = u32(bytes, 4, be)
      if (ifdAt + 2 > bytes.length) return None
      val n = u16(bytes, ifdAt.toInt, be)
      var w = -1; var h = -1; var bps = 8; var comp = 1
      var rowsPerStrip = Long.MaxValue
      var offCnt = 0L; var offAt = -1L; var offInline = -1L
      var cntCnt = 0L; var cntAt = -1L; var cntInline = -1L
      var photometric = 1
      var predictor = 1
      var e = 0
      while (e < n) {
        val at = ifdAt + 2 + e * 12
        if (at + 12 > bytes.length) return None
        val tag = u16(bytes, at.toInt, be)
        val typ = u16(bytes, (at + 2).toInt, be)
        val cnt = u32(bytes, (at + 4).toInt, be)
        def scalar(): Long =
          if (typ == 3) u16(bytes, (at + 8).toInt, be).toLong
          else u32(bytes, (at + 8).toInt, be)
        tag match {
          case 256 => w = scalar().toInt
          case 257 => h = scalar().toInt
          case 258 => bps = scalar().toInt
          case 259 => comp = scalar().toInt
          case 262 => photometric = scalar().toInt
          case 273 =>
            offCnt = cnt
            if (cnt == 1) offInline = scalar()
            else offAt = u32(bytes, (at + 8).toInt, be)
          case 278 => rowsPerStrip = scalar()
          case 279 =>
            cntCnt = cnt
            if (cnt == 1) cntInline = scalar()
            else cntAt = u32(bytes, (at + 8).toInt, be)
          case 317 => predictor = scalar().toInt
          case _ => () // hop
        }
        e += 1
      }
      if (w <= 0 || h <= 0 || bps != 8 || photometric > 1) return None
      if (comp != 1 && comp != 32773 && comp != 5) return None
      if (predictor != 1) return None // differencing out of contract
      if (offCnt != cntCnt || offCnt <= 0) return None
      if (w.toLong * h > (1 << 26)) return None
      val nStrips = offCnt.toInt
      def arr(cntN: Int, inline: Long, atOff: Long): Array[Long] =
        if (cntN == 1) Array(inline)
        else Array.tabulate(cntN)(i => u32(bytes, (atOff + i * 4L).toInt, be))
      val offs = arr(nStrips, offInline, offAt)
      val cnts = arr(nStrips, cntInline, cntAt)
      val px = new Array[Int](w * h)
      var y0 = 0
      var s = 0
      while (s < nStrips) {
        val rows = math.min(
          if (rowsPerStrip == Long.MaxValue) h.toLong else rowsPerStrip,
          (h - y0).toLong).toInt
        if (rows <= 0) return None
        if (offs(s) < 0 || offs(s) + cnts(s) > bytes.length) return None
        val rawLen = rows * w
        val strip: Array[Byte] =
          if (comp == 1) {
            if (cnts(s) != rawLen) return None
            java.util.Arrays.copyOfRange(bytes, offs(s).toInt,
              (offs(s) + cnts(s)).toInt)
          } else if (comp == 5) {
            tiffLzwDecompress(java.util.Arrays.copyOfRange(bytes,
              offs(s).toInt, (offs(s) + cnts(s)).toInt), rawLen) match {
              case Some(d) => d
              case None => return None
            }
          } else {
            unpackBits(java.util.Arrays.copyOfRange(bytes, offs(s).toInt,
              (offs(s) + cnts(s)).toInt), rawLen) match {
              case Some(d) => d
              case None => return None
            }
          }
        var i = 0
        while (i < rawLen) { px((y0 + i / w) * w + i % w) = strip(i) & 0xff; i += 1 }
        y0 += rows
        s += 1
      }
      if (y0 != h) return None
      Some((w, h, px))
    } catch { case _: Exception => None }

  // ------------------------------------------------------------------
  // BMP 8-bit palette codec — bottom-up rows, 4-byte stride padding
  // ------------------------------------------------------------------

  /** Byte-valid 8-bit palette BMP (BITMAPINFOHEADER): grayscale
    * palette (index == value), rows stored BOTTOM-UP with each row
    * padded to a 4-byte stride — the two quirks that break naive
    * writers. */
  def encodeGrayBmp(width: Int, height: Int, pixels: Array[Int])
      : Array[Byte] = {
    require(pixels.length == width * height,
      s"pixel buffer ${pixels.length} != ${width}x$height")
    val stride = (width + 3) / 4 * 4
    val dataSize = stride * height
    val offBits = 14 + 40 + 256 * 4
    val out = new ByteArrayOutputStream(offBits + dataSize)
    out.write('B'); out.write('M')
    le32(out, offBits + dataSize); le32(out, 0); le32(out, offBits)
    // positive height = bottom-up
    le32(out, 40); le32(out, width); le32(out, height)
    le16(out, 1); le16(out, 8) // planes, bpp
    le32(out, 0); le32(out, dataSize) // BI_RGB, image size
    // dpi, palette size, important
    le32(out, 2835); le32(out, 2835); le32(out, 256); le32(out, 0)
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); out.write(0); i += 1 }
    var y = height - 1
    while (y >= 0) { // bottom-up
      var x = 0
      while (x < width) { out.write(pixels(y * width + x) & 0xff); x += 1 }
      while (x < stride) { out.write(0); x += 1 }
      y -= 1
    }
    out.toByteArray
  }

  /** Byte-valid RLE8-compressed 8-bit BMP (BI_RLE8): encoded runs
    * (count, index), absolute mode for incompressible stretches (00,
    * n≥3, bytes, word pad), end-of-line (00 00) after every row and
    * end-of-bitmap (00 01) at the bottom. RLE8 bitmaps are always
    * bottom-up (negative heights are invalid with compression). */
  def encodeRle8Bmp(width: Int, height: Int, pixels: Array[Int])
      : Array[Byte] = {
    require(pixels.length == width * height,
      s"pixel buffer ${pixels.length} != ${width}x$height")
    val body = new ByteArrayOutputStream(pixels.length / 2 + 64)
    var y = height - 1
    while (y >= 0) { // bottom-up
      var x = 0
      while (x < width) {
        var run = 1
        while (x + run < width && run < 255 &&
          pixels(y * width + x + run) == pixels(y * width + x)) run += 1
        if (run >= 2) {
          body.write(run); body.write(pixels(y * width + x) & 0xff)
          x += run
        } else {
          // literal stretch: singles until the next real run
          var lit = 1
          while (x + lit < width && lit < 254 && {
            var r = 1
            while (x + lit + r < width &&
              pixels(y * width + x + lit + r) ==
                pixels(y * width + x + lit)) r += 1
            r < 2
          }) lit += 1
          if (lit >= 3) { // absolute mode, word-aligned
            body.write(0); body.write(lit)
            var k = 0
            while (k < lit) {
              body.write(pixels(y * width + x + k) & 0xff); k += 1
            }
            if (lit % 2 == 1) body.write(0)
            x += lit
          } else {
            var k = 0
            while (k < lit) {
              body.write(1); body.write(pixels(y * width + x + k) & 0xff)
              k += 1
            }
            x += lit
          }
        }
      }
      body.write(0); body.write(if (y == 0) 1 else 0) // EOL / EOB
      y -= 1
    }
    val data = body.toByteArray
    val offBits = 14 + 40 + 256 * 4
    val out = new ByteArrayOutputStream(offBits + data.length)
    out.write('B'); out.write('M')
    le32(out, offBits + data.length); le32(out, 0); le32(out, offBits)
    le32(out, 40); le32(out, width); le32(out, height)
    le16(out, 1); le16(out, 8)
    le32(out, 1); le32(out, data.length) // BI_RLE8
    le32(out, 2835); le32(out, 2835); le32(out, 256); le32(out, 0)
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); out.write(0); i += 1 }
    out.write(data, 0, data.length)
    out.toByteArray
  }

  /** Decode an 8-bit palette BMP back to top-down pixels: header walk,
    * palette lookup (blue channel; gray palettes have B=G=R), stride
    * hop, bottom-up (positive height) AND top-down (negative height)
    * row orders, plus BI_RLE8 decompression (encoded runs, absolute
    * mode with word padding, EOL/EOB/delta escapes — delta-skipped
    * pixels stay index 0 per the format). Corrupt / other bit depths
    * → None. */
  def decodeGrayBmp(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
      val offBits = i32le(bytes, 10)
      val hdrSize = i32le(bytes, 14)
      if (hdrSize < 40) return None // BITMAPCOREHEADER out of contract
      val w = i32le(bytes, 18)
      val hRaw = i32le(bytes, 22)
      val topDown = hRaw < 0
      val h = math.abs(hRaw)
      // 8-bit palette only
      if (u16le(bytes, 26) != 1 || u16le(bytes, 28) != 8) return None
      val compression = i32le(bytes, 30)
      if (compression != 0 && compression != 1) return None // RGB / RLE8
      var palSize = i32le(bytes, 46)
      if (palSize == 0) palSize = 256
      if (w <= 0 || h <= 0 || w.toLong * h > (1 << 26)) return None
      val palAt = 14 + hdrSize
      if (palAt + palSize * 4 > offBits) return None
      val palette = Array.tabulate(palSize)(i => bytes(palAt + i * 4) & 0xff)
      val px = new Array[Int](w * h)
      if (compression == 1) {
        // BI_RLE8: bottom-up only (the spec forbids top-down RLE)
        if (topDown) return None
        val idx = new Array[Int](w * h) // palette indices, default 0
        var x = 0; var y = h - 1
        var i2 = offBits
        var done = false
        while (!done) {
          if (i2 + 2 > bytes.length) return None
          val b0 = bytes(i2) & 0xff; val b1 = bytes(i2 + 1) & 0xff
          i2 += 2
          if (b0 > 0) { // encoded run
            if (y < 0 || x + b0 > w) return None
            var k = 0
            while (k < b0) { idx(y * w + x + k) = b1; k += 1 }
            x += b0
          } else b1 match {
            case 0 => x = 0; y -= 1 // end of line
            case 1 => done = true // end of bitmap
            case 2 => // delta: skipped pixels keep index 0
              if (i2 + 2 > bytes.length) return None
              x += bytes(i2) & 0xff; y -= bytes(i2 + 1) & 0xff
              i2 += 2
              if (x > w || y < -1) return None
            case n => // absolute mode, word-aligned
              if (y < 0 || x + n > w) return None
              if (i2 + n + (n % 2) > bytes.length) return None
              var k = 0
              while (k < n) { idx(y * w + x + k) = bytes(i2 + k) & 0xff; k += 1 }
              i2 += n + (n % 2)
              x += n
          }
        }
        // the decode loop wrote the FIRST encoded row (the image
        // bottom) at idx row h-1, so idx is already top-down
        var j = 0
        while (j < w * h) {
          if (idx(j) >= palSize) return None
          px(j) = palette(idx(j))
          j += 1
        }
      } else {
        val stride = (w + 3) / 4 * 4
        if (offBits.toLong + stride.toLong * h > bytes.length) return None
        var row = 0
        while (row < h) {
          val srcY = if (topDown) row else h - 1 - row
          var x = 0
          while (x < w) {
            val idx = bytes(offBits + srcY * stride + x) & 0xff
            px(row * w + x) = if (idx < palSize) palette(idx) else 0
            x += 1
          }
          row += 1
        }
      }
      Some((w, h, px))
    } catch { case _: Exception => None }

  // ------------------------------------------------------------------
  // PGM (netpbm P5) codec — the third dispatcher branch
  // ------------------------------------------------------------------

  /** Binary PGM: "P5", a # comment line carrying `comment` (newlines
    * sanitized to spaces — PGM comments are line-scoped), ASCII dims,
    * maxval 255, raw bytes. */
  def encodePgm(width: Int, height: Int, pixels: Array[Int],
      comment: String): Array[Byte] = {
    require(pixels.length == width * height,
      s"pixel buffer ${pixels.length} != ${width}x$height")
    val safe = comment.replace('\n', ' ').replace('\r', ' ')
    val header = s"P5\n# $safe\n$width $height\n255\n"
    val out = new ByteArrayOutputStream(header.length + pixels.length)
    out.write(header.getBytes("US-ASCII"))
    pixels.foreach(p => out.write(p & 0xff))
    out.toByteArray
  }

  /** Decode binary PGM: real header tokenizer (whitespace-delimited,
    * #-comments skipped to end of line), maxval 255 only, then raw
    * bytes. Corrupt → None. */
  def decodeGrayPgm(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      if (bytes.length < 10 || bytes(0) != 'P' || bytes(1) != '5') return None
      var off = 2
      def nextInt(): Int = {
        // skip whitespace and comments
        var inComment = false
        while (off < bytes.length) {
          val c = bytes(off) & 0xff
          if (inComment) { if (c == '\n') inComment = false; off += 1 }
          else if (c == '#') { inComment = true; off += 1 }
          else if (c == ' ' || c == '\n' || c == '\r' || c == '\t') off += 1
          else {
            var v = 0
            while (off < bytes.length && (bytes(off) & 0xff) >= '0' &&
                (bytes(off) & 0xff) <= '9') {
              v = v * 10 + (bytes(off) - '0'); off += 1
            }
            return v
          }
        }
        -1
      }
      val w = nextInt(); val h = nextInt(); val maxval = nextInt()
      if (w <= 0 || h <= 0 || maxval != 255) return None
      if (w.toLong * h > (1 << 26)) return None
      off += 1 // the single whitespace byte after maxval
      if (off + w * h > bytes.length) return None
      Some((w, h, Array.tabulate(w * h)(i => bytes(off + i) & 0xff)))
    } catch { case _: Exception => None }

  /** Magic-byte image dispatch: route a blob to the right pixel
    * decoder (PNG / GIF / PGM), the pixel-level mirror of the q255
    * content dispatcher. Returns (format, w, h, pixels). */
  /** Binary PPM (netpbm P6) — the color half of the netpbm pair:
    * same tokenizer header, raw RGB triples. */
  def encodePpm(width: Int, height: Int, rgb: Array[Int],
      comment: String): Array[Byte] = {
    require(rgb.length == width * height,
      s"pixel buffer ${rgb.length} != ${width}x$height")
    val safe = comment.replace('\n', ' ').replace('\r', ' ')
    val header = s"P6\n# $safe\n$width $height\n255\n"
    val out = new ByteArrayOutputStream(header.length + rgb.length * 3)
    out.write(header.getBytes("US-ASCII"))
    rgb.foreach { v =>
      out.write((v >> 16) & 0xff); out.write((v >> 8) & 0xff)
      out.write(v & 0xff)
    }
    out.toByteArray
  }

  /** Decode binary PPM to LUMA pixels (the BT.601 integer weights the
    * whole luma family shares); maxval 255 only, corrupt → None. */
  def decodePpmLuma(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      if (bytes.length < 10 || bytes(0) != 'P' || bytes(1) != '6') return None
      var off = 2
      def nextInt(): Int = {
        var inComment = false
        while (off < bytes.length) {
          val c = bytes(off) & 0xff
          if (inComment) { if (c == '\n') inComment = false; off += 1 }
          else if (c == '#') { inComment = true; off += 1 }
          else if (c == ' ' || c == '\n' || c == '\r' || c == '\t') off += 1
          else {
            var v = 0
            while (off < bytes.length && (bytes(off) & 0xff) >= '0' &&
                (bytes(off) & 0xff) <= '9') {
              v = v * 10 + (bytes(off) - '0'); off += 1
            }
            return v
          }
        }
        -1
      }
      val w = nextInt(); val h = nextInt(); val maxval = nextInt()
      if (w <= 0 || h <= 0 || maxval != 255) return None
      if (w.toLong * h > (1 << 26)) return None
      off += 1 // the single whitespace byte after maxval
      if (off + w * h * 3 > bytes.length) return None
      Some((w, h, Array.tabulate(w * h) { i =>
        rgbLuma(bytes(off + i * 3) & 0xff, bytes(off + i * 3 + 1) & 0xff,
          bytes(off + i * 3 + 2) & 0xff)
      }))
    } catch { case _: Exception => None }

  /** WebP-lossless (VP8L) to LUMA pixels through the full-color
    * decoder — the conversion is the same 77/151/28 integer formula
    * every other color decode in this file uses. */
  def decodeWebpLuma(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    Vp8l.decodeWebpLossless(bytes).map { img =>
      (img.width, img.height, img.argb.map(p =>
        rgbLuma((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)))
    }

  def decodeImage(bytes: Array[Byte]): Option[(String, Int, Int, Array[Int])] =
    if (bytes.length < 6) None
    else if (bytes(0) == 0x89.toByte && bytes(1) == 'P')
      decodeGrayPng(bytes).map { case (w, h, px) => ("png", w, h, px) }
    else if (bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
      bytes(3) == 'F')
      // RIFF: WEBP/VP8L decodes; other RIFF payloads (AVI, WAV) are
      // not images and fall through to None inside the VP8L gate
      decodeWebpLuma(bytes).map { case (w, h, px) => ("webp", w, h, px) }
    else if (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F')
      decodeGrayGif(bytes).map { case (w, h, px) => ("gif", w, h, px) }
    else if (bytes(0) == 'P' && bytes(1) == '5')
      decodeGrayPgm(bytes).map { case (w, h, px) => ("pgm", w, h, px) }
    else if (bytes(0) == 'P' && bytes(1) == '6')
      decodePpmLuma(bytes).map { case (w, h, px) => ("ppm", w, h, px) }
    else if ((bytes(0) == 'I' && bytes(1) == 'I' && bytes(2) == 42) ||
      (bytes(0) == 'M' && bytes(1) == 'M' && bytes(3) == 42))
      decodeGrayTiff(bytes).map { case (w, h, px) => ("tiff", w, h, px) }
    else if (bytes(0) == 'B' && bytes(1) == 'M')
      decodeGrayBmp(bytes).map { case (w, h, px) => ("bmp", w, h, px) }
    else if (bytes(0) == 0 && bytes(1) == 0 && bytes(2) == 1 &&
      bytes(3) == 0)
      // ICO favicon container: decode resolves to its LARGEST entry
      // (itself PNG or DIB), the curation rule a favicon pass wants
      Ico.decodeIco(bytes).map(i => ("ico", i.width, i.height, i.luma))
    else None

  // ------------------------------------------------------------------
  // integer-exact perceptual hashes
  // ------------------------------------------------------------------

  /** 8×8 box-average grid, row-major. Requires 8|w and 8|h so every
    * box is exactly (w/8)×(h/8) pixels and the average is plain
    * integer division — the property that makes the DuckDB replay
    * bit-exact. */
  def cellGrid(w: Int, h: Int, px: Array[Int]): Array[Int] = {
    require(w % 8 == 0 && h % 8 == 0, s"dims must be multiples of 8: ${w}x$h")
    val bw = w / 8; val bh = h / 8
    Array.tabulate(64) { b =>
      val cx = b % 8; val cy = b / 8
      var s = 0
      var y = cy * bh
      while (y < (cy + 1) * bh) {
        var x = cx * bw
        while (x < (cx + 1) * bw) { s += px(y * w + x); x += 1 }
        y += 1
      }
      s / (bw * bh)
    }
  }

  /** aHash: bit b set iff cell b exceeds the floor-mean of all 64
    * cells. Returned as a 64-char '0'/'1' string (bit 63 of a signed
    * long would flip the sign — the string form keeps the oracle
    * compare trivial and the banding substring free). */
  def aHash(cells: Array[Int]): String = {
    val mean = cells.sum / 64
    cells.map(c => if (c > mean) '1' else '0').mkString
  }

  /** gHash: horizontal-gradient hash on the 8×8 grid — bit (cy,cx) set
    * iff cell(cy,cx) > cell(cy,(cx+1) mod 8). Torus wrap instead of
    * the classic 9×8 dHash grid keeps every box integer-exact. */
  def gHash(cells: Array[Int]): String =
    Array.tabulate(64) { b =>
      val cy = b / 8; val cx = b % 8
      if (cells(cy * 8 + cx) > cells(cy * 8 + (cx + 1) % 8)) '1' else '0'
    }.mkString

  /** Vertical-gradient mate of gHash: bit (cy,cx) set iff cell(cy,cx)
    * > cell((cy+1) mod 8, cx). Concatenated with gHash it forms the
    * 128-bit fingerprint the near-dup banding needs: at 64 bits,
    * 8-bit bands mean n/256 bucket occupancy — quadratic candidate
    * growth the sf1 probe caught live; at 128 bits the bands widen to
    * 16 bits (n/65536 buckets) while the pigeonhole guarantee keeps
    * full recall for Hamming ≤ 7 (7 flips across 8 bands leave ≥1
    * band exact). */
  def gHashV(cells: Array[Int]): String =
    Array.tabulate(64) { b =>
      val cy = b / 8; val cx = b % 8
      if (cells(cy * 8 + cx) > cells(((cy + 1) % 8) * 8 + cx)) '1' else '0'
    }.mkString

  /** Integer 2×2 box downsample (floor average) — the thumbnail
    * primitive. Requires even dims; exact integer math so the oracle
    * replays it. */
  def downsample2x(w: Int, h: Int, px: Array[Int]): (Int, Int, Array[Int]) = {
    require(w % 2 == 0 && h % 2 == 0, s"even dims required: ${w}x$h")
    val tw = w / 2; val th = h / 2
    val out = new Array[Int](tw * th)
    var ty = 0
    while (ty < th) {
      var tx = 0
      while (tx < tw) {
        val x = tx * 2; val y = ty * 2
        out(ty * tw + tx) = (px(y * w + x) + px(y * w + x + 1) +
          px((y + 1) * w + x) + px((y + 1) * w + x + 1)) / 4
        tx += 1
      }
      ty += 1
    }
    (tw, th, out)
  }

  /** Constant-border trim — letterbox/pillarbox removal, the screenshot
    * curation op: peel full rows/columns equal to the corner color from
    * all four edges. Returns (x0, y0, croppedW, croppedH, cropped
    * pixels); an entirely-constant image trims to nothing →
    * (0,0,0,0,empty). */
  def trimBorders(w: Int, h: Int, px: Array[Int])
      : (Int, Int, Int, Int, Array[Int]) = {
    val c = px(0)
    def rowConst(y: Int): Boolean = {
      var x = 0
      while (x < w) { if (px(y * w + x) != c) return false; x += 1 }
      true
    }
    def colConst(x: Int, y0: Int, y1: Int): Boolean = {
      var y = y0
      while (y < y1) { if (px(y * w + x) != c) return false; y += 1 }
      true
    }
    var top = 0
    while (top < h && rowConst(top)) top += 1
    if (top == h) return (0, 0, 0, 0, Array.empty[Int])
    var bottom = h
    while (bottom > top && rowConst(bottom - 1)) bottom -= 1
    var left = 0
    while (left < w && colConst(left, top, bottom)) left += 1
    var right = w
    while (right > left && colConst(right - 1, top, bottom)) right -= 1
    val tw = right - left; val th = bottom - top
    val out = new Array[Int](tw * th)
    var y = 0
    while (y < th) {
      var x = 0
      while (x < tw) { out(y * tw + x) = px((top + y) * w + left + x); x += 1 }
      y += 1
    }
    (left, top, tw, th, out)
  }

  /** Banded Hamming near-dup over GHashRow frames — the shared engine
    * behind q335 (direct) and q350 (through the crawl layers).
    *
    * 8 bands × 16 bits over the 128-bit fingerprint (pigeonhole: ≤7
    * flips leave ≥1 band exact, so banding loses no true pair).
    * Hot-bucket cap (bc ≤ 32 via one window count — the image twin of
    * the text family's df-cut q286): degenerate textures concentrate
    * in a few band values whose buckets would emit C(|bucket|,2)
    * near-identical pairs; a true near-dup still meets in a
    * distinctive band. The banded frame is CACHED — both self-join
    * sides read the pin, not two full decode→hash lineages (the q188
    * multiply-consumed-frame pattern). Hamming is four codegen'd
    * bit_count(xor) over packed 32-bit quarters carried as longs (int
    * columns sign-extend through bit_count, +32 phantom distance),
    * and the pair-dedup DISTINCT runs AFTER the ≤7 filter on the
    * small true-pair set. */
  private def nearDupPairs(hashes: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bands = hashes
      .select(col("doc_id"), col("q0"), col("q1"), col("q2"), col("q3"),
        explode(sequence(lit(0), lit(7))).as("band"),
        col("ghash"))
      .withColumn("bits", expr("substring(ghash, band * 16 + 1, 16)"))
      .drop("ghash")
    val kept = bands
      .withColumn("bc", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bits"))))
      .filter(col("bc") <= 32)
      .drop("bc")
      .cache()
    kept.as("a").join(kept.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bits") === col("b.bits") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (bit_count(col("a.q0").bitwiseXOR(col("b.q0"))) +
          bit_count(col("a.q1").bitwiseXOR(col("b.q1"))) +
          bit_count(col("a.q2").bitwiseXOR(col("b.q2"))) +
          bit_count(col("a.q3").bitwiseXOR(col("b.q3"))))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= 7)
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  final case class PngPixelRow(doc_id: Long, width: Int, height: Int,
      px_sum: Long, ahash: String, ghash: String)

  final case class DispatchPixelRow(doc_id: Long, format: String,
      width: Int, height: Int, px_sum: Long, ghash: String)

  final case class GHashRow(doc_id: Long, ghash: String,
      q0: Long, q1: Long, q2: Long, q3: Long)

  /** Pack a 128-char bit string into four 32-bit chunks carried as
    * NON-NEGATIVE longs: int columns would sign-extend through
    * Spark's bit_count (an int xor with the top bit set gains 32
    * phantom ones), which silently inflated Hamming by 32 for ~6% of
    * pairs until the sf0.001 diff caught it. */
  private def packQuarters(h: String): (Long, Long, Long, Long) = {
    def q(k: Int): Long =
      java.lang.Long.parseLong(h.substring(k * 32, (k + 1) * 32), 2)
    (q(0), q(1), q(2), q(3))
  }

  /** q334 fixture formula (shared by the oracle): dims are multiples
    * of 8, pixels a linear ramp mod 256. */
  private def q334Pixels(id: Long, w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h) { i =>
      ((id * 31 + (i % w).toLong * 7 + (i / w).toLong * 13) % 256).toInt
    }

  /** q335 fixture formula: docs cluster in groups of 4 (g = id/4) that
    * share dims and a group-specific texture; the member m = id%4
    * perturbs ~m/197 of pixels by +1 — a near-duplicate, not a copy
    * (soft enough to stay within the banding's Hamming-7 guarantee on
    * the 128-bit fingerprint).
    *
    * The texture must be DIVERSE ACROSS GROUPS: the first cut used
    * gradients keyed on (g%5, g%3) — 15 classes corpus-wide, so at
    * sf1 thousands of groups shared a fingerprint and the cross-group
    * "near-dup" mass grew quadratically (the sf1 probe caught it as a
    * stuck rep). Real image corpora are hash-diverse; the x·y texture
    * term keyed on three larger co-prime moduli (41/43/13) makes the
    * fingerprints effectively unique per group, which is the regime
    * the banded join is built for. */
  private def q335Pixels(id: Long, w: Int, h: Int): Array[Int] = {
    val g = id / 4; val m = (id % 4).toInt
    Array.tabulate(w * h) { i =>
      val x = (i % w).toLong; val y = (i / w).toLong
      val base = g * 37 + x * (3 + g % 41) + y * (5 + g % 43) +
        (x * y % (2 + g % 13)) * 7
      val pert = if ((x * 3 + y * 5) % 197 < m) 1 else 0
      ((base + pert) % 256).toInt
    }
  }

  val defs: Seq[QueryDef] = Seq(

    // ----- REAL pixel decode: PNG → pixels → perceptual hashes -------
    // Each doc becomes a byte-valid grayscale PNG (deflated IDAT, the
    // scanline filter cycling all five types, a tEXt hop, chunk CRCs)
    // whose pixels follow an arithmetic ramp; the decoder recovers the
    // pixels OUT OF THE BYTES and reports the pixel sum plus both
    // perceptual hashes. The oracle replays the ramp + box averages +
    // hash bits in pure SQL — any filter-reversal or inflate defect
    // lands in px_sum; any box/threshold defect in the hash strings.
    QueryDef(
      "q334_png_pixel_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text").fanout.as[(Long, String)]
          .map { case (id, text) =>
            val w = (16 + (id % 6) * 8).toInt
            val h = (16 + ((id * 7) % 6) * 8).toInt
            val bytes = encodeGrayPng(w, h, q334Pixels(id, w, h),
              text.getBytes("UTF-8"))
            decodeGrayPng(bytes) match {
              case Some((dw, dh, px)) =>
                val cells = cellGrid(dw, dh, px)
                PngPixelRow(id, dw, dh, px.foldLeft(0L)(_ + _),
                  aHash(cells), gHash(cells))
              case None => PngPixelRow(id, -1, -1, -1L, "", "")
            }
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(16 + (doc_id % 6) * 8 AS INT) AS w,
                 CAST(16 + ((doc_id * 7) % 6) * 8 AS INT) AS h
          FROM documents),
        xs AS (SELECT doc_id, w, h,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, w, h, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs),
        px AS (SELECT doc_id, w, h, x, y,
                      (doc_id * 31 + x * 7 + y * 13) % 256 AS p FROM pxy),
        cells AS (
          SELECT doc_id, w, h,
                 (y // (h // 8)) * 8 + (x // (w // 8)) AS b,
                 SUM(p) // ((w // 8) * (h // 8)) AS cell
          FROM px
          GROUP BY doc_id, w, h, (y // (h // 8)) * 8 + (x // (w // 8))),
        means AS (SELECT doc_id, SUM(cell) // 64 AS mean
                  FROM cells GROUP BY doc_id),
        sums AS (SELECT doc_id, SUM(p) AS px_sum FROM px GROUP BY doc_id),
        ah AS (
          SELECT c.doc_id,
                 string_agg(CASE WHEN c.cell > m.mean THEN '1' ELSE '0' END,
                            '' ORDER BY c.b) AS ahash
          FROM cells c JOIN means m ON m.doc_id = c.doc_id
          GROUP BY c.doc_id),
        gh AS (
          SELECT c1.doc_id,
                 string_agg(CASE WHEN c1.cell > c2.cell THEN '1' ELSE '0' END,
                            '' ORDER BY c1.b) AS ghash
          FROM cells c1 JOIN cells c2
            ON c2.doc_id = c1.doc_id
           AND c2.b = (c1.b // 8) * 8 + ((c1.b % 8) + 1) % 8
          GROUP BY c1.doc_id)
        SELECT d.doc_id, d.w AS width, d.h AS height,
               CAST(s.px_sum AS BIGINT) AS px_sum, ah.ahash, gh.ghash
        FROM dims d
        JOIN sums s ON s.doc_id = d.doc_id
        JOIN ah ON ah.doc_id = d.doc_id
        JOIN gh ON gh.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // ----- image near-dup: banded Hamming join on a 128-bit hash ------
    // Docs cluster in groups of 4 sharing a group gradient; members
    // differ by a sparse +1 perturbation. Each doc goes through the
    // FULL real path (PNG encode → decode → 8×8 grid), hashed as the
    // 128-bit horizontal‖vertical gradient fingerprint, then LSH
    // banding: 8 bands × 16 bits, candidates = pairs sharing ≥1 exact
    // band (bucket join — never all-pairs), emit pairs with Hamming
    // ≤ 7 (pigeonhole: ≤7 flips across 8 bands leave one band exact —
    // banding loses NO true pair). The first cut banded 8×8 bits over
    // a 64-bit hash; the sf1 probe caught its n/256 buckets going
    // quadratic live — hash WIDTH, not band count, is the scale
    // lever (the q86 band-size law). Buckets are now n/65536. The
    // oracle replays pixels → hash → the same banding in SQL.
    QueryDef(
      "q335_image_near_dup",
      (s, dir) => {
        import s.implicits._
        val hashes = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text").fanout.as[(Long, String)]
          .map { case (id, text) =>
            val g = id / 4
            val w = (16 + (g % 6) * 8).toInt
            val h = (16 + ((g * 7) % 6) * 8).toInt
            val bytes = encodeGrayPng(w, h, q335Pixels(id, w, h),
              text.getBytes("UTF-8"))
            val cells = decodeGrayPng(bytes) match {
              case Some((dw, dh, px)) => cellGrid(dw, dh, px)
              case None => Array.fill(64)(-1)
            }
            val fp = gHash(cells) + gHashV(cells)
            val (q0, q1, q2, q3) = packQuarters(fp)
            GHashRow(id, fp, q0, q1, q2, q3)
          }.toDF()
        nearDupPairs(hashes)
      },
      Some("""
        WITH dims AS (
          SELECT doc_id, doc_id // 4 AS g,
                 CAST(16 + ((doc_id // 4) % 6) * 8 AS INT) AS w,
                 CAST(16 + (((doc_id // 4) * 7) % 6) * 8 AS INT) AS h
          FROM documents),
        xs AS (SELECT doc_id, g, w, h,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, g, w, h, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs),
        px AS (SELECT doc_id, w, h, x, y,
                      (g * 37 + x * (3 + g % 41) + y * (5 + g % 43)
                       + (x * y % (2 + g % 13)) * 7
                       + CASE WHEN (x * 3 + y * 5) % 197 < doc_id % 4
                              THEN 1 ELSE 0 END) % 256 AS p
               FROM pxy),
        cells AS (
          SELECT doc_id,
                 (y // (h // 8)) * 8 + (x // (w // 8)) AS b,
                 SUM(p) // ((w // 8) * (h // 8)) AS cell
          FROM px
          GROUP BY doc_id, w, h, (y // (h // 8)) * 8 + (x // (w // 8))),
        ghh AS (
          SELECT c1.doc_id,
                 string_agg(CASE WHEN c1.cell > c2.cell THEN '1' ELSE '0' END,
                            '' ORDER BY c1.b) AS hh
          FROM cells c1 JOIN cells c2
            ON c2.doc_id = c1.doc_id
           AND c2.b = (c1.b // 8) * 8 + ((c1.b % 8) + 1) % 8
          GROUP BY c1.doc_id),
        ghv AS (
          SELECT c1.doc_id,
                 string_agg(CASE WHEN c1.cell > c2.cell THEN '1' ELSE '0' END,
                            '' ORDER BY c1.b) AS hv
          FROM cells c1 JOIN cells c2
            ON c2.doc_id = c1.doc_id
           AND c2.b = (((c1.b // 8) + 1) % 8) * 8 + c1.b % 8
          GROUP BY c1.doc_id),
        gh AS (
          SELECT ghh.doc_id, ghh.hh || ghv.hv AS ghash
          FROM ghh JOIN ghv ON ghv.doc_id = ghh.doc_id),
        bands AS (
          SELECT doc_id, ghash, t.band,
                 substring(ghash, t.band * 16 + 1, 16) AS bits
          FROM gh, (SELECT unnest(generate_series(0, 7)) AS band) t),
        kept AS (
          SELECT doc_id, ghash, band, bits
          FROM (SELECT *, COUNT(*) OVER (PARTITION BY band, bits) AS bc
                FROM bands)
          WHERE bc <= 32),
        pairs AS (
          SELECT DISTINCT id_a, id_b, hamming FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.ghash::BIT, b.ghash::BIT)) AS INT)
                     AS hamming
            FROM kept a JOIN kept b
              ON a.band = b.band AND a.bits = b.bits
             AND a.doc_id < b.doc_id)
          WHERE hamming <= 7)
        SELECT id_a, id_b, hamming FROM pairs
        ORDER BY id_a, id_b""")),

    // ----- REAL GIF pixel decode: LZW → pixels → perceptual hashes ----
    // The GIF sibling of q334: each doc becomes a byte-valid grayscale
    // GIF87a (256-entry gray palette, a variable-length comment
    // extension the walk must hop, REAL LZW-compressed indices in
    // sub-blocks) whose pixels follow their own arithmetic ramp; the
    // decoder reassembles sub-blocks, LZW-decompresses (the width
    // schedule ImageIO/giflib use — interop-refereed in PixelsSpec),
    // maps indices through the palette, and reports pixel sum + both
    // perceptual hashes against the same pure-SQL replay.
    QueryDef(
      "q338_gif_pixel_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text").fanout.as[(Long, String)]
          .map { case (id, text) =>
            val w = (16 + (id * 3 % 6) * 8).toInt
            val h = (16 + (id * 5 % 6) * 8).toInt
            val px = Array.tabulate(w * h) { i =>
              ((id * 17 + (i % w).toLong * 11 + (i / w).toLong * 5) % 256).toInt
            }
            val bytes = encodeGrayGif(w, h, px, text.getBytes("UTF-8"))
            decodeGrayGif(bytes) match {
              case Some((dw, dh, dpx)) =>
                val cells = cellGrid(dw, dh, dpx)
                PngPixelRow(id, dw, dh, dpx.foldLeft(0L)(_ + _),
                  aHash(cells), gHash(cells))
              case None => PngPixelRow(id, -1, -1, -1L, "", "")
            }
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(16 + (doc_id * 3 % 6) * 8 AS INT) AS w,
                 CAST(16 + (doc_id * 5 % 6) * 8 AS INT) AS h
          FROM documents),
        xs AS (SELECT doc_id, w, h,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, w, h, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs),
        px AS (SELECT doc_id, w, h, x, y,
                      (doc_id * 17 + x * 11 + y * 5) % 256 AS p FROM pxy),
        cells AS (
          SELECT doc_id, w, h,
                 (y // (h // 8)) * 8 + (x // (w // 8)) AS b,
                 SUM(p) // ((w // 8) * (h // 8)) AS cell
          FROM px
          GROUP BY doc_id, w, h, (y // (h // 8)) * 8 + (x // (w // 8))),
        means AS (SELECT doc_id, SUM(cell) // 64 AS mean
                  FROM cells GROUP BY doc_id),
        sums AS (SELECT doc_id, SUM(p) AS px_sum FROM px GROUP BY doc_id),
        ah AS (
          SELECT c.doc_id,
                 string_agg(CASE WHEN c.cell > m.mean THEN '1' ELSE '0' END,
                            '' ORDER BY c.b) AS ahash
          FROM cells c JOIN means m ON m.doc_id = c.doc_id
          GROUP BY c.doc_id),
        gh AS (
          SELECT c1.doc_id,
                 string_agg(CASE WHEN c1.cell > c2.cell THEN '1' ELSE '0' END,
                            '' ORDER BY c1.b) AS ghash
          FROM cells c1 JOIN cells c2
            ON c2.doc_id = c1.doc_id
           AND c2.b = (c1.b // 8) * 8 + ((c1.b % 8) + 1) % 8
          GROUP BY c1.doc_id)
        SELECT d.doc_id, d.w AS width, d.h AS height,
               CAST(s.px_sum AS BIGINT) AS px_sum, ah.ahash, gh.ghash
        FROM dims d
        JOIN sums s ON s.doc_id = d.doc_id
        JOIN ah ON ah.doc_id = d.doc_id
        JOIN gh ON gh.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // ----- pixel-level format dispatch: sniff → decode → one hash -----
    // The pixel mirror of the q255 content dispatcher: the SAME ramp
    // goes out as PNG, GIF, or PGM by doc_id % 3, and `decodeImage`
    // must route each blob by magic bytes alone to the right decoder —
    // three genuinely different decode paths (inflate+filters, LZW,
    // ASCII-header tokenizer) that must all land on the SAME pixels.
    // The oracle derives format from the mod and replays one ramp.
    QueryDef(
      "q340_image_pixel_dispatch",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text").fanout.as[(Long, String)]
          .map { case (id, text) =>
            val w = (16 + (id % 6) * 8).toInt
            val h = (16 + (id * 11 % 6) * 8).toInt
            val px = Array.tabulate(w * h) { i =>
              ((id * 7 + (i % w).toLong * 3 + (i / w).toLong * 19) % 256).toInt
            }
            val blob = (id % 3) match {
              case 0 => encodeGrayPng(w, h, px, text.getBytes("UTF-8"))
              case 1 => encodeGrayGif(w, h, px, text.getBytes("UTF-8"))
              case _ => encodePgm(w, h, px, text)
            }
            decodeImage(blob) match {
              case Some((fmt, dw, dh, dpx)) =>
                DispatchPixelRow(id, fmt, dw, dh, dpx.foldLeft(0L)(_ + _),
                  gHash(cellGrid(dw, dh, dpx)))
              case None => DispatchPixelRow(id, "none", -1, -1, -1L, "")
            }
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                      ELSE 'pgm' END AS format,
                 CAST(16 + (doc_id % 6) * 8 AS INT) AS w,
                 CAST(16 + (doc_id * 11 % 6) * 8 AS INT) AS h
          FROM documents),
        xs AS (SELECT doc_id, w, h,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, w, h, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs),
        px AS (SELECT doc_id, w, h, x, y,
                      (doc_id * 7 + x * 3 + y * 19) % 256 AS p FROM pxy),
        cells AS (
          SELECT doc_id,
                 (y // (h // 8)) * 8 + (x // (w // 8)) AS b,
                 SUM(p) // ((w // 8) * (h // 8)) AS cell
          FROM px
          GROUP BY doc_id, w, h, (y // (h // 8)) * 8 + (x // (w // 8))),
        sums AS (SELECT doc_id, SUM(p) AS px_sum FROM px GROUP BY doc_id),
        gh AS (
          SELECT c1.doc_id,
                 string_agg(CASE WHEN c1.cell > c2.cell THEN '1' ELSE '0' END,
                            '' ORDER BY c1.b) AS ghash
          FROM cells c1 JOIN cells c2
            ON c2.doc_id = c1.doc_id
           AND c2.b = (c1.b // 8) * 8 + ((c1.b % 8) + 1) % 8
          GROUP BY c1.doc_id)
        SELECT d.doc_id, d.format, d.w AS width, d.h AS height,
               CAST(s.px_sum AS BIGINT) AS px_sum, gh.ghash
        FROM dims d
        JOIN sums s ON s.doc_id = d.doc_id
        JOIN gh ON gh.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // ----- thumbnail pipeline: decode → box downsample → re-encode ----
    // The canonical multimodal preprocessing op, end to end through
    // REAL bytes both ways: PNG decode, 2×2 integer box downsample,
    // PNG RE-encode at the new dims, decode AGAIN and report the
    // thumbnail's pixel sum — so the encoder is exercised at derived
    // sizes and any drift between the two decode passes breaks the
    // hash. The oracle replays the floor-average arithmetic per 2×2
    // cell (compressed byte counts are deliberately NOT a column:
    // deflate output is implementation-defined; pixels are the
    // contract).
    QueryDef(
      "q347_thumbnail_pipeline",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text").fanout.as[(Long, String)]
          .map { case (id, text) =>
            val w = (16 + (id % 6) * 8).toInt
            val h = (16 + ((id * 7) % 6) * 8).toInt
            val src = encodeGrayPng(w, h, q334Pixels(id, w, h),
              text.getBytes("UTF-8"))
            val out = for {
              (dw, dh, px) <- decodeGrayPng(src)
              (tw, th, tpx) = downsample2x(dw, dh, px)
              thumb = encodeGrayPng(tw, th, tpx, Array.emptyByteArray)
              (fw, fh, fpx) <- decodeGrayPng(thumb)
            } yield (id, fw, fh, fpx.foldLeft(0L)(_ + _))
            out.getOrElse((id, -1, -1, -1L))
          }
          .toDF("doc_id", "thumb_w", "thumb_h", "thumb_px_sum")
          .orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(16 + (doc_id % 6) * 8 AS INT) AS w,
                 CAST(16 + ((doc_id * 7) % 6) * 8 AS INT) AS h
          FROM documents),
        xs AS (SELECT doc_id, w, h,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, w, h, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs),
        px AS (SELECT doc_id, w, h, x, y,
                      (doc_id * 31 + x * 7 + y * 13) % 256 AS p FROM pxy),
        cells AS (
          SELECT doc_id, w, h, SUM(p) // 4 AS cell
          FROM px GROUP BY doc_id, w, h, x // 2, y // 2)
        SELECT doc_id,
               CAST(MAX(w) // 2 AS INT) AS thumb_w,
               CAST(MAX(h) // 2 AS INT) AS thumb_h,
               CAST(SUM(cell) AS BIGINT) AS thumb_px_sum
        FROM cells
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- REAL TIFF strip decode: IFD walk + PackBits ----------------
    // q258's TIFF walk stops at tags; this reads the PIXELS: strip
    // offsets/byte-counts arrays (inline when they fit the 4-byte
    // slot, out-of-line otherwise — both shapes exercised since
    // RowsPerStrip=16 makes taller fixtures multi-strip), PackBits
    // decompression on odd docs, uncompressed on even, reassembled
    // through the same perceptual-hash path and SQL replay.
    QueryDef(
      "q349_tiff_pixel_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val w = (16 + (id * 7 % 6) * 8).toInt
            val h = (16 + (id * 3 % 6) * 8).toInt
            val px = Array.tabulate(w * h) { i =>
              ((id * 23 + (i % w).toLong * 13 + (i / w).toLong * 3) % 256).toInt
            }
            val bytes = encodeGrayTiff(w, h, px, usePackBits = id % 2 == 1)
            decodeGrayTiff(bytes) match {
              case Some((dw, dh, dpx)) =>
                val cells = cellGrid(dw, dh, dpx)
                PngPixelRow(id, dw, dh, dpx.foldLeft(0L)(_ + _),
                  aHash(cells), gHash(cells))
              case None => PngPixelRow(id, -1, -1, -1L, "", "")
            }
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(16 + (doc_id * 7 % 6) * 8 AS INT) AS w,
                 CAST(16 + (doc_id * 3 % 6) * 8 AS INT) AS h
          FROM documents),
        xs AS (SELECT doc_id, w, h,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, w, h, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs),
        px AS (SELECT doc_id, w, h, x, y,
                      (doc_id * 23 + x * 13 + y * 3) % 256 AS p FROM pxy),
        cells AS (
          SELECT doc_id, w, h,
                 (y // (h // 8)) * 8 + (x // (w // 8)) AS b,
                 SUM(p) // ((w // 8) * (h // 8)) AS cell
          FROM px
          GROUP BY doc_id, w, h, (y // (h // 8)) * 8 + (x // (w // 8))),
        means AS (SELECT doc_id, SUM(cell) // 64 AS mean
                  FROM cells GROUP BY doc_id),
        sums AS (SELECT doc_id, SUM(p) AS px_sum FROM px GROUP BY doc_id),
        ah AS (
          SELECT c.doc_id,
                 string_agg(CASE WHEN c.cell > m.mean THEN '1' ELSE '0' END,
                            '' ORDER BY c.b) AS ahash
          FROM cells c JOIN means m ON m.doc_id = c.doc_id
          GROUP BY c.doc_id),
        gh AS (
          SELECT c1.doc_id,
                 string_agg(CASE WHEN c1.cell > c2.cell THEN '1' ELSE '0' END,
                            '' ORDER BY c1.b) AS ghash
          FROM cells c1 JOIN cells c2
            ON c2.doc_id = c1.doc_id
           AND c2.b = (c1.b // 8) * 8 + ((c1.b % 8) + 1) % 8
          GROUP BY c1.doc_id)
        SELECT d.doc_id, d.w AS width, d.h AS height,
               CAST(s.px_sum AS BIGINT) AS px_sum, ah.ahash, gh.ghash
        FROM dims d
        JOIN sums s ON s.doc_id = d.doc_id
        JOIN ah ON ah.doc_id = d.doc_id
        JOIN gh ON gh.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // ----- crawl → image near-dup, end to end --------------------------
    // The composition a real crawl-curation pipeline runs: each doc is
    // a .warc.gz member (gzip → WARC response record → image payload),
    // the SAME q335 group pixels but each group member serialized in a
    // DIFFERENT format (png/gif/pgm by member), so the near-dup pairs
    // are found ACROSS FORMATS — gzip, WARC framing, and the magic
    // dispatch must all be exactly transparent for the oracle (q335's
    // replay, pixels-only) to hash green. Same banded engine as q335.
    QueryDef(
      "q350_crawl_image_near_dup",
      (s, dir) => {
        import s.implicits._
        val hashes = Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val g = id / 4; val m = (id % 4).toInt
            val w = (16 + (g % 6) * 8).toInt
            val h = (16 + ((g * 7) % 6) * 8).toInt
            val px = q335Pixels(id, w, h)
            val img = (m % 3) match {
              case 0 => encodeGrayPng(w, h, px, Array.emptyByteArray)
              case 1 => encodeGrayGif(w, h, px, Array.emptyByteArray)
              case _ => encodePgm(w, h, px, "")
            }
            val warc = Warc.encodeRecord("response",
              Some(s"http://img.site${g % 50}.example/im$id"),
              s"<urn:uuid:img-$id>", img)
            val blob = Compression.encodeGzip(warc, mtime = 0L,
              fname = None, fcomment = None)
            val cells = (for {
              bytes <- Compression.gunzip(blob)
              rec <- Warc.parse(bytes).headOption
              (_, dw, dh, p) <- decodeImage(rec.payload)
            } yield cellGrid(dw, dh, p)).getOrElse(Array.fill(64)(-1))
            val fp = gHash(cells) + gHashV(cells)
            val (q0, q1, q2, q3) = packQuarters(fp)
            GHashRow(id, fp, q0, q1, q2, q3)
          }.toDF()
        nearDupPairs(hashes)
      },
      Some("""
        WITH dims AS (
          SELECT doc_id, doc_id // 4 AS g,
                 CAST(16 + ((doc_id // 4) % 6) * 8 AS INT) AS w,
                 CAST(16 + (((doc_id // 4) * 7) % 6) * 8 AS INT) AS h
          FROM documents),
        xs AS (SELECT doc_id, g, w, h,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, g, w, h, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs),
        px AS (SELECT doc_id, w, h, x, y,
                      (g * 37 + x * (3 + g % 41) + y * (5 + g % 43)
                       + (x * y % (2 + g % 13)) * 7
                       + CASE WHEN (x * 3 + y * 5) % 197 < doc_id % 4
                              THEN 1 ELSE 0 END) % 256 AS p
               FROM pxy),
        cells AS (
          SELECT doc_id,
                 (y // (h // 8)) * 8 + (x // (w // 8)) AS b,
                 SUM(p) // ((w // 8) * (h // 8)) AS cell
          FROM px
          GROUP BY doc_id, w, h, (y // (h // 8)) * 8 + (x // (w // 8))),
        ghh AS (
          SELECT c1.doc_id,
                 string_agg(CASE WHEN c1.cell > c2.cell THEN '1' ELSE '0' END,
                            '' ORDER BY c1.b) AS hh
          FROM cells c1 JOIN cells c2
            ON c2.doc_id = c1.doc_id
           AND c2.b = (c1.b // 8) * 8 + ((c1.b % 8) + 1) % 8
          GROUP BY c1.doc_id),
        ghv AS (
          SELECT c1.doc_id,
                 string_agg(CASE WHEN c1.cell > c2.cell THEN '1' ELSE '0' END,
                            '' ORDER BY c1.b) AS hv
          FROM cells c1 JOIN cells c2
            ON c2.doc_id = c1.doc_id
           AND c2.b = (((c1.b // 8) + 1) % 8) * 8 + c1.b % 8
          GROUP BY c1.doc_id),
        gh AS (
          SELECT ghh.doc_id, ghh.hh || ghv.hv AS ghash
          FROM ghh JOIN ghv ON ghv.doc_id = ghh.doc_id),
        bands AS (
          SELECT doc_id, ghash, t.band,
                 substring(ghash, t.band * 16 + 1, 16) AS bits
          FROM gh, (SELECT unnest(generate_series(0, 7)) AS band) t),
        kept AS (
          SELECT doc_id, ghash, band, bits
          FROM (SELECT *, COUNT(*) OVER (PARTITION BY band, bits) AS bc
                FROM bands)
          WHERE bc <= 32),
        pairs AS (
          SELECT DISTINCT id_a, id_b, hamming FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.ghash::BIT, b.ghash::BIT)) AS INT)
                     AS hamming
            FROM kept a JOIN kept b
              ON a.band = b.band AND a.bits = b.bits
             AND a.doc_id < b.doc_id)
          WHERE hamming <= 7)
        SELECT id_a, id_b, hamming FROM pairs
        ORDER BY id_a, id_b""")),

    // ----- REAL BMP pixel decode: bottom-up rows + palette -------------
    // The legacy raster format's two traps done right: rows stored
    // BOTTOM-UP (decode must flip; a sum-only check would pass, the
    // gHash rows would not) and palette indirection. The ramp is
    // y-asymmetric so a flip mistake lands in ghash. Top-down
    // (negative height) BMPs are exercised in PixelsSpec.
    QueryDef(
      "q351_bmp_pixel_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val w = (16 + (id * 5 % 6) * 8).toInt
            val h = (16 + (id % 6) * 8).toInt
            val px = Array.tabulate(w * h) { i =>
              ((id * 29 + (i % w).toLong * 3 + (i / w).toLong * 31) % 256).toInt
            }
            val bytes = encodeGrayBmp(w, h, px)
            decodeGrayBmp(bytes) match {
              case Some((dw, dh, dpx)) =>
                val cells = cellGrid(dw, dh, dpx)
                PngPixelRow(id, dw, dh, dpx.foldLeft(0L)(_ + _),
                  aHash(cells), gHash(cells))
              case None => PngPixelRow(id, -1, -1, -1L, "", "")
            }
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(16 + (doc_id * 5 % 6) * 8 AS INT) AS w,
                 CAST(16 + (doc_id % 6) * 8 AS INT) AS h
          FROM documents),
        xs AS (SELECT doc_id, w, h,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, w, h, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs),
        px AS (SELECT doc_id, w, h, x, y,
                      (doc_id * 29 + x * 3 + y * 31) % 256 AS p FROM pxy),
        cells AS (
          SELECT doc_id, w, h,
                 (y // (h // 8)) * 8 + (x // (w // 8)) AS b,
                 SUM(p) // ((w // 8) * (h // 8)) AS cell
          FROM px
          GROUP BY doc_id, w, h, (y // (h // 8)) * 8 + (x // (w // 8))),
        means AS (SELECT doc_id, SUM(cell) // 64 AS mean
                  FROM cells GROUP BY doc_id),
        sums AS (SELECT doc_id, SUM(p) AS px_sum FROM px GROUP BY doc_id),
        ah AS (
          SELECT c.doc_id,
                 string_agg(CASE WHEN c.cell > m.mean THEN '1' ELSE '0' END,
                            '' ORDER BY c.b) AS ahash
          FROM cells c JOIN means m ON m.doc_id = c.doc_id
          GROUP BY c.doc_id),
        gh AS (
          SELECT c1.doc_id,
                 string_agg(CASE WHEN c1.cell > c2.cell THEN '1' ELSE '0' END,
                            '' ORDER BY c1.b) AS ghash
          FROM cells c1 JOIN cells c2
            ON c2.doc_id = c1.doc_id
           AND c2.b = (c1.b // 8) * 8 + ((c1.b % 8) + 1) % 8
          GROUP BY c1.doc_id)
        SELECT d.doc_id, d.w AS width, d.h AS height,
               CAST(s.px_sum AS BIGINT) AS px_sum, ah.ahash, gh.ghash
        FROM dims d
        JOIN sums s ON s.doc_id = d.doc_id
        JOIN ah ON ah.doc_id = d.doc_id
        JOIN gh ON gh.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // ----- truecolor PNG → luma: the dominant web PNG path ------------
    // Color type 2 with per-channel ramps; the decoder unfilters at
    // the 3-byte pixel stride (a bpp slip corrupts every row after
    // the first filtered one) and converts through the exact integer
    // luma weights. The oracle replays channels → luma → sum/hash.
    QueryDef(
      "q354_png_truecolor_luma",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text").fanout.as[(Long, String)]
          .map { case (id, text) =>
            val w = (16 + (id % 6) * 8).toInt
            val h = (16 + (id * 5 % 6) * 8).toInt
            val rgb = Array.tabulate(w * h) { i =>
              val x = (i % w).toLong; val y = (i / w).toLong
              val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
              val g = ((id * 17 + x * 3 + y * 5) % 256).toInt
              val b = ((id * 23 + x * 11 + y * 2) % 256).toInt
              (r << 16) | (g << 8) | b
            }
            val bytes = encodeRgbPng(w, h, rgb, text.getBytes("UTF-8"))
            decodePngLuma(bytes) match {
              case Some((dw, dh, px)) =>
                val cells = cellGrid(dw, dh, px)
                PngPixelRow(id, dw, dh, px.foldLeft(0L)(_ + _),
                  aHash(cells), gHash(cells))
              case None => PngPixelRow(id, -1, -1, -1L, "", "")
            }
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(16 + (doc_id % 6) * 8 AS INT) AS w,
                 CAST(16 + (doc_id * 5 % 6) * 8 AS INT) AS h
          FROM documents),
        xs AS (SELECT doc_id, w, h,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, w, h, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs),
        px AS (SELECT doc_id, w, h, x, y,
                      (77 * ((doc_id * 31 + x * 7 + y * 13) % 256)
                       + 151 * ((doc_id * 17 + x * 3 + y * 5) % 256)
                       + 28 * ((doc_id * 23 + x * 11 + y * 2) % 256))
                      // 256 AS p
               FROM pxy),
        cells AS (
          SELECT doc_id, w, h,
                 (y // (h // 8)) * 8 + (x // (w // 8)) AS b,
                 SUM(p) // ((w // 8) * (h // 8)) AS cell
          FROM px
          GROUP BY doc_id, w, h, (y // (h // 8)) * 8 + (x // (w // 8))),
        means AS (SELECT doc_id, SUM(cell) // 64 AS mean
                  FROM cells GROUP BY doc_id),
        sums AS (SELECT doc_id, SUM(p) AS px_sum FROM px GROUP BY doc_id),
        ah AS (
          SELECT c.doc_id,
                 string_agg(CASE WHEN c.cell > m.mean THEN '1' ELSE '0' END,
                            '' ORDER BY c.b) AS ahash
          FROM cells c JOIN means m ON m.doc_id = c.doc_id
          GROUP BY c.doc_id),
        gh AS (
          SELECT c1.doc_id,
                 string_agg(CASE WHEN c1.cell > c2.cell THEN '1' ELSE '0' END,
                            '' ORDER BY c1.b) AS ghash
          FROM cells c1 JOIN cells c2
            ON c2.doc_id = c1.doc_id
           AND c2.b = (c1.b // 8) * 8 + ((c1.b % 8) + 1) % 8
          GROUP BY c1.doc_id)
        SELECT d.doc_id, d.w AS width, d.h AS height,
               CAST(s.px_sum AS BIGINT) AS px_sum, ah.ahash, gh.ghash
        FROM dims d
        JOIN sums s ON s.doc_id = d.doc_id
        JOIN ah ON ah.doc_id = d.doc_id
        JOIN gh ON gh.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // ----- constant-border trim: letterbox removal ---------------------
    // Borders of color 0 with four INDEPENDENT widths (top/bottom/
    // left/right from different mods) around an inner ramp that never
    // hits 0 — so the trim must stop exactly at the content edge on
    // every side; a one-off lands in both the offsets and the sum.
    QueryDef(
      "q356_border_trim",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val bt = (id % 4).toInt; val bb = (id * 3 % 4).toInt
            val bl = (id * 5 % 4).toInt; val br = (id * 7 % 4).toInt
            val iw = (16 + (id % 5) * 4).toInt
            val ih = (16 + (id * 3 % 5) * 4).toInt
            val w = iw + bl + br; val h = ih + bt + bb
            val px = Array.tabulate(w * h) { i =>
              val x = i % w; val y = i / w
              if (x < bl || x >= bl + iw || y < bt || y >= bt + ih) 0
              else {
                val ix = (x - bl).toLong; val iy = (y - bt).toLong
                1 + ((id * 13 + ix * 7 + iy * 11) % 255).toInt
              }
            }
            val (x0, y0, tw, th, crop) = trimBorders(w, h, px)
            (id, x0, y0, tw, th, crop.foldLeft(0L)(_ + _))
          }
          .toDF("doc_id", "x0", "y0", "crop_w", "crop_h", "px_sum")
          .orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(doc_id % 4 AS INT) AS bt,
                 CAST(doc_id * 5 % 4 AS INT) AS bl,
                 CAST(16 + (doc_id % 5) * 4 AS INT) AS iw,
                 CAST(16 + (doc_id * 3 % 5) * 4 AS INT) AS ih
          FROM documents),
        xs AS (SELECT doc_id, bt, bl, iw, ih,
                      unnest(generate_series(0, iw - 1)) AS ix FROM dims),
        pxy AS (SELECT doc_id, bt, bl, iw, ih, ix,
                       unnest(generate_series(0, ih - 1)) AS iy FROM xs),
        inner_px AS (
          SELECT doc_id, bt, bl, iw, ih,
                 1 + (doc_id * 13 + ix * 7 + iy * 11) % 255 AS p
          FROM pxy)
        SELECT doc_id,
               MAX(bl) AS x0, MAX(bt) AS y0,
               MAX(iw) AS crop_w, MAX(ih) AS crop_h,
               CAST(SUM(p) AS BIGINT) AS px_sum
        FROM inner_px
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- palette PNG → luma (the icon/screenshot PNG type) -----------
    // Color type 3: index bytes filtered like gray, a PLTE whose
    // entries follow their own per-channel formulas, luma computed
    // AFTER the lookup — a palette-order slip or an off-by-one index
    // lands in every pixel. The oracle composes index formula →
    // palette formulas → luma in pure SQL.
    QueryDef(
      "q358_png_palette_luma",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text").fanout.as[(Long, String)]
          .map { case (id, text) =>
            val w = (16 + (id * 3 % 6) * 8).toInt
            val h = (16 + (id % 6) * 8).toInt
            val nPal = (16 + id % 241).toInt // 16..256 entries
            val palette = Array.tabulate(nPal) { p =>
              val r = ((id * 7 + p.toLong * 31) % 256).toInt
              val g = ((id * 11 + p.toLong * 17) % 256).toInt
              val b = ((id * 13 + p.toLong * 23) % 256).toInt
              (r << 16) | (g << 8) | b
            }
            val indices = Array.tabulate(w * h) { i =>
              ((id * 19 + (i % w).toLong * 5 + (i / w).toLong * 3)
                % nPal).toInt
            }
            val bytes = encodePalettePng(w, h, indices, palette,
              text.getBytes("UTF-8"))
            decodePngLuma(bytes) match {
              case Some((dw, dh, px)) =>
                val cells = cellGrid(dw, dh, px)
                PngPixelRow(id, dw, dh, px.foldLeft(0L)(_ + _),
                  aHash(cells), gHash(cells))
              case None => PngPixelRow(id, -1, -1, -1L, "", "")
            }
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(16 + (doc_id * 3 % 6) * 8 AS INT) AS w,
                 CAST(16 + (doc_id % 6) * 8 AS INT) AS h,
                 16 + doc_id % 241 AS npal
          FROM documents),
        xs AS (SELECT doc_id, w, h, npal,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, w, h, npal, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs),
        px AS (SELECT doc_id, w, h, x, y,
                      (77 * ((doc_id * 7
                              + ((doc_id * 19 + x * 5 + y * 3) % npal) * 31)
                             % 256)
                       + 151 * ((doc_id * 11
                              + ((doc_id * 19 + x * 5 + y * 3) % npal) * 17)
                             % 256)
                       + 28 * ((doc_id * 13
                              + ((doc_id * 19 + x * 5 + y * 3) % npal) * 23)
                             % 256)) // 256 AS p
               FROM pxy),
        cells AS (
          SELECT doc_id, w, h,
                 (y // (h // 8)) * 8 + (x // (w // 8)) AS b,
                 SUM(p) // ((w // 8) * (h // 8)) AS cell
          FROM px
          GROUP BY doc_id, w, h, (y // (h // 8)) * 8 + (x // (w // 8))),
        means AS (SELECT doc_id, SUM(cell) // 64 AS mean
                  FROM cells GROUP BY doc_id),
        sums AS (SELECT doc_id, SUM(p) AS px_sum FROM px GROUP BY doc_id),
        ah AS (
          SELECT c.doc_id,
                 string_agg(CASE WHEN c.cell > m.mean THEN '1' ELSE '0' END,
                            '' ORDER BY c.b) AS ahash
          FROM cells c JOIN means m ON m.doc_id = c.doc_id
          GROUP BY c.doc_id),
        gh AS (
          SELECT c1.doc_id,
                 string_agg(CASE WHEN c1.cell > c2.cell THEN '1' ELSE '0' END,
                            '' ORDER BY c1.b) AS ghash
          FROM cells c1 JOIN cells c2
            ON c2.doc_id = c1.doc_id
           AND c2.b = (c1.b // 8) * 8 + ((c1.b % 8) + 1) % 8
          GROUP BY c1.doc_id)
        SELECT d.doc_id, d.w AS width, d.h AS height,
               CAST(s.px_sum AS BIGINT) AS px_sum, ah.ahash, gh.ghash
        FROM dims d
        JOIN sums s ON s.doc_id = d.doc_id
        JOIN ah ON ah.doc_id = d.doc_id
        JOIN gh ON gh.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // ----- Adam7 interlaced PNG decode ---------------------------------
    // The remaining real-world PNG population: the JDK's PNG writer
    // (a foreign interlaced encoder) emits the seven-pass layout —
    // each reduced image filters its OWN scanlines at its own width —
    // over gray (even ids) and truecolor (odd ids) content at dims
    // small enough that several passes are EMPTY. PNG is lossless, so
    // the oracle replays pixel formula → luma → sum exactly; a pass-
    // geometry or per-pass filter slip lands in every sum.
    QueryDef(
      "q361_png_interlaced_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val w = (3 + id % 30).toInt
            val h = (3 + (id * 5) % 28).toInt
            val img =
              if (id % 2 == 0) {
                val g = new java.awt.image.BufferedImage(w, h,
                  java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
                var i = 0
                while (i < w * h) {
                  g.getRaster.setSample(i % w, i / w, 0,
                    ((id * 31 + (i % w) * 7 + (i / w) * 13) % 256).toInt)
                  i += 1
                }
                g
              } else {
                val c = new java.awt.image.BufferedImage(w, h,
                  java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
                var i = 0
                while (i < w * h) {
                  val x = i % w; val y = i / w
                  val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
                  val g = ((id * 17 + x * 11 + y * 5) % 256).toInt
                  val b = ((id * 23 + x * 3 + y * 19) % 256).toInt
                  c.setRGB(x, y, (r << 16) | (g << 8) | b)
                  i += 1
                }
                c
              }
            val blob = encodePngImageIO(img, interlaced = true)
            val interlaced = (blob(28) & 0xff) == 1 // IHDR interlace byte
            decodePngLuma(blob) match {
              case Some((dw, dh, px)) =>
                (id, dw, dh, interlaced, px.foldLeft(0L)(_ + _))
              case None => (id, -1, -1, interlaced, -1L)
            }
          }
          .toDF("doc_id", "width", "height", "interlaced", "luma_sum")
          .orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(3 + doc_id % 30 AS INT) AS w,
                 CAST(3 + (doc_id * 5) % 28 AS INT) AS h
          FROM documents),
        xs AS (SELECT doc_id, w, h,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, w, h, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs),
        px AS (
          SELECT doc_id, w, h,
                 CASE WHEN doc_id % 2 = 0
                   THEN (doc_id * 31 + x * 7 + y * 13) % 256
                   ELSE (77 * ((doc_id * 31 + x * 7 + y * 13) % 256)
                       + 151 * ((doc_id * 17 + x * 11 + y * 5) % 256)
                       + 28 * ((doc_id * 23 + x * 3 + y * 19) % 256)) // 256
                 END AS p
          FROM pxy)
        SELECT doc_id, MAX(w) AS width, MAX(h) AS height,
               TRUE AS interlaced,
               CAST(SUM(p) AS BIGINT) AS luma_sum
        FROM px
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- 16-bit grayscale PNG decode ---------------------------------
    // Depth-16 type 0: big-endian sample pairs, filters at the 2-byte
    // stride; odd ids additionally interlace, so both features compose
    // through the same pass machinery. Values span the full 0–65535
    // range — a byte-order or stride slip lands in the sum at scale
    // 256, not 1. Encoder is the JDK's (foreign); lossless → the
    // oracle replays the sample formula exactly.
    QueryDef(
      "q362_png_gray16_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val w = (5 + id % 20).toInt
            val h = (5 + (id * 3) % 18).toInt
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
            var i = 0
            while (i < w * h) {
              img.getRaster.setSample(i % w, i / w, 0,
                ((id * 4099 + (i % w) * 257 + (i / w) * 769) % 65536).toInt)
              i += 1
            }
            val blob = encodePngImageIO(img, interlaced = id % 2 == 1)
            decodeGray16Png(blob) match {
              case Some((dw, dh, px)) =>
                (id, dw, dh, (blob(24) & 0xff) == 16,
                  px.foldLeft(0L)(_ + _))
              case None => (id, -1, -1, false, -1L)
            }
          }
          .toDF("doc_id", "width", "height", "depth16", "px_sum")
          .orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(5 + doc_id % 20 AS INT) AS w,
                 CAST(5 + (doc_id * 3) % 18 AS INT) AS h
          FROM documents),
        xs AS (SELECT doc_id, w, h,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, w, h, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs)
        SELECT doc_id, MAX(w) AS width, MAX(h) AS height,
               TRUE AS depth16,
               CAST(SUM((doc_id * 4099 + x * 257 + y * 769) % 65536)
                 AS BIGINT) AS px_sum
        FROM pxy
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- ANIMATED GIF frame extraction -------------------------------
    // The video-sampling substrate in GIF form: per-frame Graphic
    // Control Extensions carry centisecond delays, each frame is a
    // full-rect LZW raster; the decoder recovers (delay, pixels) per
    // frame through the NETSCAPE loop extension and comment hops. The
    // oracle replays frame count, the delay sum and the all-frame
    // pixel sum — a GCE phase slip or a frame boundary error lands in
    // all three.
    QueryDef(
      "q367_gif_animation_frames",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text").fanout.as[(Long, String)]
          .map { case (id, text) =>
            val w = (8 + id % 17).toInt
            val h = (8 + (id * 3) % 15).toInt
            val nf = (2 + id % 4).toInt
            val frames = (0 until nf).map { f =>
              (Array.tabulate(w * h)(i =>
                ((id * 31 + f * 101 + (i % w) * 7 + (i / w) * 13)
                  % 256).toInt),
                (3 + (id + f) % 10).toInt)
            }
            val blob = encodeAnimatedGif(w, h, frames,
              text.getBytes("UTF-8"))
            decodeAnimatedGif(blob) match {
              case Some(a) =>
                (id, a.width, a.height, a.frames.size,
                  a.frames.map(_._1.toLong).sum,
                  a.frames.map(_._2.foldLeft(0L)(_ + _)).sum)
              case None => (id, -1, -1, -1, -1L, -1L)
            }
          }
          .toDF("doc_id", "width", "height", "n_frames",
            "total_delay_cs", "px_sum")
          .orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(8 + doc_id % 17 AS INT) AS w,
                 CAST(8 + (doc_id * 3) % 15 AS INT) AS h,
                 CAST(2 + doc_id % 4 AS INT) AS nf
          FROM documents),
        fs AS (SELECT doc_id, w, h, nf,
                      unnest(generate_series(0, nf - 1)) AS f FROM dims),
        delays AS (SELECT doc_id, SUM(3 + (doc_id + f) % 10) AS td
                   FROM fs GROUP BY doc_id),
        xs AS (SELECT doc_id, w, h, nf, f,
                      unnest(generate_series(0, w - 1)) AS x FROM fs),
        pxy AS (SELECT doc_id, w, h, nf, f, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs)
        SELECT p.doc_id, MAX(p.w) AS width, MAX(p.h) AS height,
               MAX(p.nf) AS n_frames,
               CAST(MAX(d.td) AS BIGINT) AS total_delay_cs,
               CAST(SUM((p.doc_id * 31 + p.f * 101 + p.x * 7 + p.y * 13)
                 % 256) AS BIGINT) AS px_sum
        FROM pxy p JOIN delays d ON d.doc_id = p.doc_id
        GROUP BY p.doc_id
        ORDER BY p.doc_id""")),

    // ----- TIFF LZW strip decode (compression 5) -----------------------
    // The scanned-document TIFF population: MSB-first variable-width
    // LZW with the spec's EARLY width change (one code sooner than
    // GIF's LSB variant — the classic cross-codec trap). Even docs are
    // encoded by the JDK's OWN TIFF writer (a foreign LZW stream, MM
    // byte order, its own strip layout); odd docs by this module's
    // emitter at RowsPerStrip=16 (multi-strip). Both must decode to
    // the same arithmetic ramp.
    QueryDef(
      "q369_tiff_lzw_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val w = (16 + id % 40).toInt
            val h = (16 + (id * 7) % 36).toInt
            val px = Array.tabulate(w * h)(i =>
              ((id * 31 + (i % w) * 7 + (i / w) * 13) % 256).toInt)
            val blob =
              if (id % 2 == 0) {
                import javax.imageio._
                val img = new java.awt.image.BufferedImage(w, h,
                  java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
                var i = 0
                while (i < w * h) {
                  img.getRaster.setSample(i % w, i / w, 0, px(i)); i += 1
                }
                val writer =
                  ImageIO.getImageWritersByFormatName("tiff").next()
                try {
                  val param = writer.getDefaultWriteParam
                  param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
                  param.setCompressionType("LZW")
                  val bos = new java.io.ByteArrayOutputStream()
                  val ios = new javax.imageio.stream
                    .MemoryCacheImageOutputStream(bos)
                  writer.setOutput(ios)
                  writer.write(null, new IIOImage(img, null, null), param)
                  ios.close()
                  bos.toByteArray
                } finally writer.dispose()
              } else encodeGrayTiff(w, h, px, compression = 5)
            decodeGrayTiff(blob) match {
              case Some((dw, dh, p)) =>
                (id, dw, dh, id % 2 == 0, p.foldLeft(0L)(_ + _))
              case None => (id, -1, -1, id % 2 == 0, -1L)
            }
          }
          .toDF("doc_id", "width", "height", "foreign_encoder", "px_sum")
          .orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(16 + doc_id % 40 AS INT) AS w,
                 CAST(16 + (doc_id * 7) % 36 AS INT) AS h
          FROM documents),
        xs AS (SELECT doc_id, w, h,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, w, h, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs)
        SELECT doc_id, MAX(w) AS width, MAX(h) AS height,
               doc_id % 2 = 0 AS foreign_encoder,
               CAST(SUM((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT)
                 AS px_sum
        FROM pxy
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- BMP RLE8 decode (the icon/screenshot compression) -----------
    // Run-heavy fixtures (pixel value constant over rl-wide stretches,
    // rl varying per doc) drive the encoded-run path; the inter-run
    // boundaries drive absolute mode and the word-pad; EOL/EOB escapes
    // close every row. Bottom-up only (top-down RLE is invalid by
    // spec). Oracle replays the stretch formula exactly.
    QueryDef(
      "q370_bmp_rle8_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val w = (16 + id % 37).toInt
            val h = (12 + (id * 5) % 31).toInt
            val rl = (3 + id % 4).toInt
            val px = Array.tabulate(w * h) { i =>
              val x = i % w; val y = i / w
              ((id * 31 + (x / rl) * 7 + y * 13) % 256).toInt
            }
            val blob = encodeRle8Bmp(w, h, px)
            decodeGrayBmp(blob) match {
              case Some((dw, dh, p)) =>
                (id, dw, dh, p.foldLeft(0L)(_ + _))
              case None => (id, -1, -1, -1L)
            }
          }
          .toDF("doc_id", "width", "height", "px_sum")
          .orderBy($"doc_id")
      },
      // the compressed size depends on the encoder's run choices and
      // is not oracle-replayable — replay dims + the exact pixel sum
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(16 + doc_id % 37 AS INT) AS w,
                 CAST(12 + (doc_id * 5) % 31 AS INT) AS h,
                 3 + doc_id % 4 AS rl
          FROM documents),
        xs AS (SELECT doc_id, w, h, rl,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, w, h, rl, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs)
        SELECT doc_id, MAX(w) AS width, MAX(h) AS height,
               CAST(SUM((doc_id * 31 + (x // rl) * 7 + y * 13) % 256)
                 AS BIGINT) AS px_sum
        FROM pxy
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- small-palette GIF decode (LZW min code < 8) -----------------
    // Real icon GIFs carry 2^k-entry palettes with LZW minimum code
    // size k, not 8 — a decoder hardwired to 8 misreads every code.
    // Even docs are written by the JDK's GIF writer over a small
    // IndexColorModel (foreign streams, ITS choice of code size);
    // odd docs by this module's emitter. Both must recover
    // palette[index] exactly; the oracle composes index formula →
    // palette formula in SQL.
    QueryDef(
      "q371_gif_small_palette",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val w = (10 + id % 30).toInt
            val h = (8 + (id * 3) % 24).toInt
            val p = (4 + id % 29).toInt // 4..32 palette entries
            val pal = Array.tabulate(p)(j => ((id * 17 + j * 37) % 256).toInt)
            val idx = Array.tabulate(w * h) { i =>
              ((id * 31 + (i % w) * 7 + (i / w) * 13) % p).toInt
            }
            val blob =
              if (id % 2 == 0) {
                import java.awt.image.{BufferedImage, DataBuffer, IndexColorModel}
                val cmap = pal.map(g => (0xff << 24) | (g << 16) | (g << 8) | g)
                val icm = new IndexColorModel(8, p, cmap, 0, false, -1,
                  DataBuffer.TYPE_BYTE)
                val bi = new BufferedImage(w, h,
                  BufferedImage.TYPE_BYTE_INDEXED, icm)
                var i = 0
                while (i < w * h) {
                  bi.getRaster.setSample(i % w, i / w, 0, idx(i)); i += 1
                }
                val bos = new java.io.ByteArrayOutputStream()
                javax.imageio.ImageIO.write(bi, "gif", bos)
                bos.toByteArray
              } else encodePaletteGif(w, h, idx, pal)
            decodeGrayGif(blob) match {
              case Some((dw, dh, px)) =>
                (id, dw, dh, px.foldLeft(0L)(_ + _))
              case None => (id, -1, -1, -1L)
            }
          }
          .toDF("doc_id", "width", "height", "gray_sum")
          .orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(10 + doc_id % 30 AS INT) AS w,
                 CAST(8 + (doc_id * 3) % 24 AS INT) AS h,
                 4 + doc_id % 29 AS p
          FROM documents),
        xs AS (SELECT doc_id, w, h, p,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, w, h, p, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs)
        SELECT doc_id, MAX(w) AS width, MAX(h) AS height,
               CAST(SUM((doc_id * 17
                         + ((doc_id * 31 + x * 7 + y * 13) % p) * 37)
                    % 256) AS BIGINT) AS gray_sum
        FROM pxy
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- PPM (P6) color netpbm → luma ---------------------------------
    // The color half of the netpbm pair: same tokenizer header
    // (#-comments, whitespace), raw RGB triples, routed by the pixel
    // dispatcher alongside P5. Lossless, so the oracle composes the
    // three channel formulas → BT.601 luma exactly.
    QueryDef(
      "q373_ppm_color_luma",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text").fanout.as[(Long, String)]
          .map { case (id, text) =>
            val w = (9 + id % 28).toInt
            val h = (7 + (id * 3) % 26).toInt
            val rgb = Array.tabulate(w * h) { i =>
              val x = i % w; val y = i / w
              val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
              val g = ((id * 17 + x * 11 + y * 5) % 256).toInt
              val b = ((id * 23 + x * 3 + y * 19) % 256).toInt
              (r << 16) | (g << 8) | b
            }
            val blob = encodePpm(w, h, rgb, text.take(40))
            decodeImage(blob) match {
              case Some(("ppm", dw, dh, px)) =>
                (id, dw, dh, px.foldLeft(0L)(_ + _))
              case _ => (id, -1, -1, -1L)
            }
          }
          .toDF("doc_id", "width", "height", "luma_sum")
          .orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(9 + doc_id % 28 AS INT) AS w,
                 CAST(7 + (doc_id * 3) % 26 AS INT) AS h
          FROM documents),
        xs AS (SELECT doc_id, w, h,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, w, h, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs)
        SELECT doc_id, MAX(w) AS width, MAX(h) AS height,
               CAST(SUM((77 * ((doc_id * 31 + x * 7 + y * 13) % 256)
                       + 151 * ((doc_id * 17 + x * 11 + y * 5) % 256)
                       + 28 * ((doc_id * 23 + x * 3 + y * 19) % 256))
                    // 256) AS BIGINT) AS luma_sum
        FROM pxy
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- sub-byte PNG decode (1/2/4-bit — the favicon population) ----
    // Depths below a byte pack MSB-first codes into scanlines that
    // still filter at stride 1; the JDK writes them as grayscale
    // (type 0, gray palettes — even ids) or palette (type 3, color
    // palettes — odd ids), every 5th doc additionally Adam7
    // interlaced, so sub-byte unpacking composes with the pass
    // machinery. Gray codes scale linearly (255/85/17); palette
    // entries go through PLTE → BT.601. All foreign streams.
    QueryDef(
      "q374_png_subbyte_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            import java.awt.image.{BufferedImage, DataBuffer, IndexColorModel}
            import javax.imageio._
            val p = Seq(2, 4, 16)((id % 3).toInt)
            val bits = if (p <= 2) 1 else if (p <= 4) 2 else 4
            val w = (9 + id % 22).toInt
            val h = (6 + (id * 3) % 20).toInt
            val gray = id % 2 == 0
            val cmap = Array.tabulate(p) { j =>
              if (gray) {
                val g = j * (255 / (p - 1))
                (0xff << 24) | (g << 16) | (g << 8) | g
              } else {
                val r = ((id * 17 + j * 37) % 256).toInt
                val g = ((id * 13 + j * 29) % 256).toInt
                val b = ((id * 7 + j * 41) % 256).toInt
                (0xff << 24) | (r << 16) | (g << 8) | b
              }
            }
            val icm = new IndexColorModel(bits, p, cmap, 0, false, -1,
              DataBuffer.TYPE_BYTE)
            val bi = new BufferedImage(w, h,
              BufferedImage.TYPE_BYTE_BINARY, icm)
            var i = 0
            while (i < w * h) {
              bi.getRaster.setSample(i % w, i / w, 0,
                ((id * 31 + (i % w) * 7 + (i / w) * 13) % p).toInt)
              i += 1
            }
            val writer = ImageIO.getImageWritersByFormatName("png").next()
            val blob = try {
              val param = writer.getDefaultWriteParam
              if (id % 5 == 0)
                param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
              else param.setProgressiveMode(ImageWriteParam.MODE_DISABLED)
              val bos = new java.io.ByteArrayOutputStream()
              val ios = new javax.imageio.stream
                .MemoryCacheImageOutputStream(bos)
              writer.setOutput(ios)
              writer.write(null, new IIOImage(bi, null, null), param)
              ios.close()
              bos.toByteArray
            } finally writer.dispose()
            decodePngLuma(blob) match {
              case Some((dw, dh, luma)) =>
                (id, dw, dh, (blob(24) & 0xff) == bits,
                  luma.foldLeft(0L)(_ + _))
              case None => (id, -1, -1, false, -1L)
            }
          }
          .toDF("doc_id", "width", "height", "subbyte", "luma_sum")
          .orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(9 + doc_id % 22 AS INT) AS w,
                 CAST(6 + (doc_id * 3) % 20 AS INT) AS h,
                 CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 4 ELSE 16 END AS p
          FROM documents),
        xs AS (SELECT doc_id, w, h, p,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, w, h, p, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs),
        lum AS (
          SELECT doc_id, w, h,
                 CASE WHEN doc_id % 2 = 0 THEN
                   ((doc_id * 31 + x * 7 + y * 13) % p) * (255 // (p - 1))
                 ELSE
                   (77 * ((doc_id * 17
                           + ((doc_id * 31 + x * 7 + y * 13) % p) * 37) % 256)
                  + 151 * ((doc_id * 13
                           + ((doc_id * 31 + x * 7 + y * 13) % p) * 29) % 256)
                  + 28 * ((doc_id * 7
                           + ((doc_id * 31 + x * 7 + y * 13) % p) * 41) % 256))
                   // 256
                 END AS l
          FROM pxy)
        SELECT doc_id, MAX(w) AS width, MAX(h) AS height,
               TRUE AS subbyte,
               CAST(SUM(l) AS BIGINT) AS luma_sum
        FROM lum
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- WebP VP8L pixel decode (round 14) ---------------------------
    // The last dispatcher image format to gain a REAL pixel decode:
    // planted ARGB -> own literal-only VP8L encoder -> full VP8L
    // decoder -> per-channel sums the oracle replays arithmetically.
    // Conformance referee is the system libwebp BOTH directions
    // (Vp8lSpec committed vectors: libwebp's own predictor/cache/LZ77/
    // meta-group encodings decode exactly; our encodings decode
    // exactly under libwebp). Map-only per blob — zero shuffle, scales
    // linearly with the corpus like every decoder in this family.
    QueryDef(
      "q375_webp_vp8l_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val w = (8 + id % 21).toInt
            val h = (5 + (id * 7) % 17).toInt
            val argb = Array.tabulate(w * h) { i =>
              val x = i % w; val y = i / w
              if (id % 5 == 0) 0xff000000 | ((id % 200).toInt << 16) |
                ((id % 100).toInt << 8) | (id % 50).toInt // flat: simple codes
              else 0xff000000 |
                (((id * 11 + x * 3 + y * 5) % 256).toInt << 16) |
                (((id * 7 + x * 13 + y) % 256).toInt << 8) |
                ((id * 3 + x + y * 11) % 256).toInt
            }
            val blob = Vp8l.encodeWebpLossless(w, h, argb)
            Vp8l.decodeWebpLossless(blob) match {
              case Some(img) =>
                (id, img.width, img.height,
                  img.argb.foldLeft(0L)((a, p) => a + ((p >> 16) & 0xff)),
                  img.argb.foldLeft(0L)((a, p) => a + ((p >> 8) & 0xff)),
                  img.argb.foldLeft(0L)((a, p) => a + (p & 0xff)))
              case None => (id, -1, -1, -1L, -1L, -1L)
            }
          }
          .toDF("doc_id", "width", "height", "r_sum", "g_sum", "b_sum")
          .orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(8 + doc_id % 21 AS INT) AS w,
                 CAST(5 + (doc_id * 7) % 17 AS INT) AS h
          FROM documents),
        xs AS (SELECT doc_id, w, h,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, w, h, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs),
        ch AS (
          SELECT doc_id, w, h,
                 CASE WHEN doc_id % 5 = 0 THEN doc_id % 200
                      ELSE (doc_id * 11 + x * 3 + y * 5) % 256 END AS r,
                 CASE WHEN doc_id % 5 = 0 THEN doc_id % 100
                      ELSE (doc_id * 7 + x * 13 + y) % 256 END AS g,
                 CASE WHEN doc_id % 5 = 0 THEN doc_id % 50
                      ELSE (doc_id * 3 + x + y * 11) % 256 END AS b
          FROM pxy)
        SELECT doc_id, MAX(w) AS width, MAX(h) AS height,
               CAST(SUM(r) AS BIGINT) AS r_sum,
               CAST(SUM(g) AS BIGINT) AS g_sum,
               CAST(SUM(b) AS BIGINT) AS b_sum
        FROM ch
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- WebP through the content dispatcher onto the near-dup
    // substrate: mixed webp/png corpus, one decodeImage call, luma +
    // gHash — the q340 shape with the new format in the mix. WebP
    // carries gray ARGB (r=g=b=p), so luma is exactly p and the oracle
    // replays one formula for both formats.
    QueryDef(
      "q376_webp_dispatch_neardup",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text").fanout.as[(Long, String)]
          .map { case (id, text) =>
            val w = (16 + (id % 6) * 8).toInt
            val h = (16 + (id * 11 % 6) * 8).toInt
            val px = Array.tabulate(w * h) { i =>
              ((id * 7 + (i % w).toLong * 3 + (i / w).toLong * 19) % 256).toInt
            }
            val blob =
              if (id % 2 == 0)
                Vp8l.encodeWebpLossless(w, h,
                  px.map(p => 0xff000000 | (p << 16) | (p << 8) | p))
              else encodeGrayPng(w, h, px, text.getBytes("UTF-8"))
            decodeImage(blob) match {
              case Some((fmt, dw, dh, dpx)) =>
                DispatchPixelRow(id, fmt, dw, dh, dpx.foldLeft(0L)(_ + _),
                  gHash(cellGrid(dw, dh, dpx)))
              case None => DispatchPixelRow(id, "none", -1, -1, -1L, "")
            }
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CASE doc_id % 2 WHEN 0 THEN 'webp' ELSE 'png' END AS format,
                 CAST(16 + (doc_id % 6) * 8 AS INT) AS w,
                 CAST(16 + (doc_id * 11 % 6) * 8 AS INT) AS h
          FROM documents),
        xs AS (SELECT doc_id, w, h,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, w, h, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs),
        px AS (SELECT doc_id, w, h, x, y,
                      (doc_id * 7 + x * 3 + y * 19) % 256 AS p FROM pxy),
        cells AS (
          SELECT doc_id,
                 (y // (h // 8)) * 8 + (x // (w // 8)) AS b,
                 SUM(p) // ((w // 8) * (h // 8)) AS cell
          FROM px
          GROUP BY doc_id, w, h, (y // (h // 8)) * 8 + (x // (w // 8))),
        sums AS (SELECT doc_id, SUM(p) AS px_sum FROM px GROUP BY doc_id),
        gh AS (
          SELECT c1.doc_id,
                 string_agg(CASE WHEN c1.cell > c2.cell THEN '1' ELSE '0' END,
                            '' ORDER BY c1.b) AS ghash
          FROM cells c1 JOIN cells c2
            ON c2.doc_id = c1.doc_id
           AND c2.b = (c1.b // 8) * 8 + ((c1.b % 8) + 1) % 8
          GROUP BY c1.doc_id)
        SELECT d.doc_id, d.format, d.w AS width, d.h AS height,
               CAST(s.px_sum AS BIGINT) AS px_sum, gh.ghash
        FROM dims d
        JOIN sums s ON s.doc_id = d.doc_id
        JOIN gh ON gh.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // ----- ICO favicon decode: largest-entry rule (round 14) -----------
    // Every doc becomes a multi-entry ICO: an 8×8 BMP-DIB stub first
    // (the decoder must NOT just take entry 0), the ramp image as the
    // largest entry — stored as a PNG stream or a doubled-height DIB
    // with AND mask by id%4 — and for id%3=0 a third tiny PNG. The
    // oracle replays the chosen entry's dims, pixel sum, and gHash
    // from the ramp arithmetic plus the entry count and payload kind;
    // picking the wrong entry or mis-halving the DIB height shifts
    // every pixel column. Map-only per blob.
    QueryDef(
      "q380_ico_favicon_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val w = (16 + (id * 5 % 6) * 8).toInt
            val h = (16 + (id % 6) * 8).toInt
            val px = Array.tabulate(w * h) { i =>
              ((id * 29 + (i % w).toLong * 3 + (i / w).toLong * 31) % 256).toInt
            }
            val big =
              if (id % 4 == 0) encodeGrayBmp(w, h, px)
              else encodeGrayPng(w, h, px, Array.emptyByteArray)
            val stub = encodeGrayBmp(8, 8, Array.fill(64)(128))
            val entries =
              if (id % 3 == 0)
                Seq(stub, big,
                  encodeGrayPng(8, 8, Array.fill(64)(7), Array.emptyByteArray))
              else Seq(stub, big)
            Ico.decodeIco(Ico.encodeIco(entries)) match {
              case Some(img) =>
                (id, img.nEntries, img.entryFormat, img.width, img.height,
                  img.luma.foldLeft(0L)(_ + _),
                  gHash(cellGrid(img.width, img.height, img.luma)))
              case None => (id, -1, "none", -1, -1, -1L, "")
            }
          }
          .toDF("doc_id", "n_entries", "fmt", "width", "height",
            "px_sum", "ghash")
          .orderBy($"doc_id")
      },
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS INT)
                   AS n_entries,
                 CASE WHEN doc_id % 4 = 0 THEN 'dib' ELSE 'png' END AS fmt,
                 CAST(16 + (doc_id * 5 % 6) * 8 AS INT) AS w,
                 CAST(16 + (doc_id % 6) * 8 AS INT) AS h
          FROM documents),
        xs AS (SELECT doc_id, w, h,
                      unnest(generate_series(0, w - 1)) AS x FROM dims),
        pxy AS (SELECT doc_id, w, h, x,
                       unnest(generate_series(0, h - 1)) AS y FROM xs),
        px AS (SELECT doc_id, w, h, x, y,
                      (doc_id * 29 + x * 3 + y * 31) % 256 AS p FROM pxy),
        cells AS (
          SELECT doc_id,
                 (y // (h // 8)) * 8 + (x // (w // 8)) AS b,
                 SUM(p) // ((w // 8) * (h // 8)) AS cell
          FROM px
          GROUP BY doc_id, w, h, (y // (h // 8)) * 8 + (x // (w // 8))),
        sums AS (SELECT doc_id, SUM(p) AS px_sum FROM px GROUP BY doc_id),
        gh AS (
          SELECT c1.doc_id,
                 string_agg(CASE WHEN c1.cell > c2.cell THEN '1' ELSE '0' END,
                            '' ORDER BY c1.b) AS ghash
          FROM cells c1 JOIN cells c2
            ON c2.doc_id = c1.doc_id
           AND c2.b = (c1.b // 8) * 8 + ((c1.b % 8) + 1) % 8
          GROUP BY c1.doc_id)
        SELECT d.doc_id, d.n_entries, d.fmt, d.w AS width, d.h AS height,
               CAST(s.px_sum AS BIGINT) AS px_sum, gh.ghash
        FROM dims d
        JOIN sums s ON s.doc_id = d.doc_id
        JOIN gh ON gh.doc_id = d.doc_id
        ORDER BY d.doc_id"""))
  )

  /** Encode through the JDK's ImageIO PNG writer — a FOREIGN encoder
    * for the interlaced/16-bit decode queries (progressive mode =
    * Adam7; the image type picks gray8/gray16/truecolor). */
  def encodePngImageIO(img: java.awt.image.BufferedImage,
      interlaced: Boolean): Array[Byte] = {
    import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
    val writer = ImageIO.getImageWritersByFormatName("png").next()
    try {
      val param = writer.getDefaultWriteParam
      if (interlaced) param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
      else param.setProgressiveMode(ImageWriteParam.MODE_DISABLED)
      val bos = new ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new IIOImage(img, null, null), param)
      ios.close()
      bos.toByteArray
    } finally writer.dispose()
  }
}
