package graft.operators

import graft.operators.Bytes.{LsbBitReader, LsbBitWriter, PrefixCode, le32, u32le}

/** Pure-JVM WebP-lossless (VP8L) codec — RFC 9649 §3 ("Specification
  * for WebP Lossless Bitstream"), no image libraries, no native deps.
  *
  * Decoder surface: the full VP8L feature set —
  *  - LSB-first bit stream, 14-bit dims header;
  *  - prefix codes, both "simple" (1–2 symbols) and "normal"
  *    (code-length-code over the 19-symbol alphabet with 16/17/18
  *    repeat codes, canonical assignment, max length 15);
  *  - meta prefix codes (entropy image selecting per-block code
  *    groups), color cache (1–11 bits, 0x1e35a7bd multiplicative
  *    hash), LZ77 backward references (length/distance prefix+extra
  *    coding, the 120-entry 2D distance neighborhood map);
  *  - all four transforms, inverted in reverse read order: PREDICTOR
  *    (14 modes, block-mapped), COLOR (signed 3.5 fixed-point channel
  *    deltas), SUBTRACT_GREEN, COLOR_INDEXING (delta-coded palette,
  *    sub-byte pixel bundling at ≤16 colors).
  *
  * Encoder surface (fixtures + round-trip): literal-only single-group
  * streams — no transforms, no cache, no LZ77 — with real canonical
  * prefix codes (simple codes for ≤2-symbol channels, normal
  * length-limited Huffman otherwise). Conformance is refereed BOTH
  * directions against the system libwebp (committed vectors under
  * src/test/resources/webp, regenerated by tools/webp_ref.py): libwebp
  * encodings — which exercise predictor/color-cache/LZ77/meta paths —
  * must decode to the planted pixels, and this encoder's bytes must
  * decode exactly under libwebp. Corrupt input → None, never a
  * mis-decode.
  *
  * Reference analogue: bsautrey/python-mapreduce has no image plane at
  * all; this extends the multimodal family (Pixels.scala dispatcher)
  * to the #2 web image population.
  */
object Vp8l {

  /** Decoded VP8L image: ARGB pixels row-major, 8 bits per channel. */
  final case class Vp8lImage(width: Int, height: Int, argb: Array[Int])

  // ------------------------------------------------------------------
  // canonical prefix codes (LSB-first bit stream, RFC 9649 §3.2)
  // ------------------------------------------------------------------

  private val MaxCodeLength = 15

  /** The code over `lengths`. A code of two or more symbols must be
    * complete; one used symbol reads zero bits, as libwebp's table
    * builder does. */
  private def prefixCode(lengths: Array[Int]): PrefixCode =
    PrefixCode.fromLengths(lengths, MaxCodeLength).filter(_.complete)
      .getOrElse(throw new IllegalStateException("bad prefix code"))

  private def read(c: PrefixCode, r: LsbBitReader): Int = {
    val s = c.decode(r)
    if (s < 0) throw new IllegalStateException("invalid prefix code word")
    s
  }

  /** The 19-symbol code-length-code transmission order (§3.5.2). */
  private val CodeLengthOrder =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  private def readCode(r: LsbBitReader, alphabetSize: Int): PrefixCode = {
    if (r.bit() == 1) {
      // simple code
      val numSymbols = r.bit() + 1
      val is8 = r.bit() == 1
      val s0 = r.bits(if (is8) 8 else 1)
      val s1 = if (numSymbols == 2) r.bits(8) else s0
      if (s0 >= alphabetSize || s1 >= alphabetSize)
        throw new IllegalStateException("simple-code symbol out of range")
      // both get length 1, so bit 0 is the smaller symbol; one symbol
      // (or the same one twice) reads zero bits
      val lengths = new Array[Int](alphabetSize)
      lengths(s0) = 1; lengths(s1) = 1
      prefixCode(lengths)
    } else {
      val numCl = 4 + r.bits(4)
      val clLengths = new Array[Int](19)
      var i = 0
      while (i < numCl) { clLengths(CodeLengthOrder(i)) = r.bits(3); i += 1 }
      val clCode = prefixCode(clLengths)
      val lengths = new Array[Int](alphabetSize)
      var maxSymbol =
        if (r.bit() == 1) {
          val lengthNBits = 2 + 2 * r.bits(3)
          2 + r.bits(lengthNBits)
        } else alphabetSize
      var symbol = 0
      var prevLen = 8
      while (symbol < alphabetSize && maxSymbol > 0) {
        maxSymbol -= 1
        val cl = read(clCode, r)
        if (cl < 16) {
          lengths(symbol) = cl
          symbol += 1
          if (cl != 0) prevLen = cl
        } else {
          val (extra, offset, usePrev) = cl match {
            case 16 => (2, 3, true)
            case 17 => (3, 3, false)
            case _  => (7, 11, false)
          }
          var repeat = r.bits(extra) + offset
          if (symbol + repeat > alphabetSize)
            throw new IllegalStateException("code-length repeat overrun")
          val v = if (usePrev) prevLen else 0
          while (repeat > 0) { lengths(symbol) = v; symbol += 1; repeat -= 1 }
        }
      }
      prefixCode(lengths)
    }
  }

  // ------------------------------------------------------------------
  // LZ77 value coding (§3.6.2)
  // ------------------------------------------------------------------

  private def lz77Value(prefixCode: Int, r: LsbBitReader): Int =
    if (prefixCode < 4) prefixCode + 1
    else {
      val extraBits = (prefixCode - 2) >> 1
      val offset = (2 + (prefixCode & 1)) << extraBits
      offset + r.bits(extraBits) + 1
    }

  /** The 120-entry 2D distance neighborhood (§3.6.2): dist codes
    * 1..120 address nearby pixels as (dx, dy) offsets; >120 subtract
    * 120 for a linear distance. The ordering is nearest-first
    * (ascending dx²+dy², ties by descending dy, then positive dx
    * before negative, ascending |dx|); the entries below were verified
    * byte-for-byte against the packed kCodeToPlane static table inside
    * the system libwebp (and are exercised live by the photo_* referee
    * vectors, whose encodings use 2D distance codes heavily). */
  private val DistanceMap: Array[(Int, Int)] = Array(
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7))

  private def planeCodeToDistance(xsize: Int, distCode: Int): Int =
    if (distCode > 120) distCode - 120
    else {
      val (dx, dy) = DistanceMap(distCode - 1)
      val d = dx + dy * xsize
      if (d >= 1) d else 1
    }

  // ------------------------------------------------------------------
  // entropy-coded image streams (§3.7)
  // ------------------------------------------------------------------

  private def subSampleSize(size: Int, bits: Int): Int =
    (size + (1 << bits) - 1) >> bits

  /** One 5-code prefix group: green+length+cache, red, blue, alpha,
    * distance. */
  private final class Group(val green: PrefixCode, val red: PrefixCode,
      val blue: PrefixCode, val alpha: PrefixCode, val dist: PrefixCode)

  /** Decode one entropy-coded image (the main image at level 0, or a
    * transform/entropy/palette sub-image). Returns ARGB pixels. */
  private def decodeImageStream(r: LsbBitReader, w: Int, h: Int,
      level0: Boolean): Array[Int] = {
    // color cache (any stream may carry one)
    val cacheBits = if (r.bit() == 1) {
      val cb = r.bits(4)
      if (cb < 1 || cb > 11) throw new IllegalStateException("cache bits")
      cb
    } else 0
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    // meta prefix codes: top-level image only
    var metaBits = 0
    var metaImage: Array[Int] = null
    var metaW = 0
    if (level0 && r.bit() == 1) {
      metaBits = r.bits(3) + 2
      metaW = subSampleSize(w, metaBits)
      val metaH = subSampleSize(h, metaBits)
      metaImage = decodeImageStream(r, metaW, metaH, level0 = false)
    }
    val numGroups =
      if (metaImage == null) 1
      else metaImage.map(p => ((p >> 8) & 0xffff) + 1).max
    val greenAlphabet = 256 + 24 + cacheSize
    val groups = Array.fill(numGroups) {
      new Group(
        readCode(r, greenAlphabet), readCode(r, 256), readCode(r, 256),
        readCode(r, 256), readCode(r, 40))
    }
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    def cacheInsert(argb: Int): Unit =
      if (cache != null)
        cache((0x1e35a7bd * argb) >>> (32 - cacheBits)) = argb
    val total = w * h
    val px = new Array[Int](total)
    var pos = 0
    while (pos < total) {
      val g =
        if (metaImage == null) groups(0)
        else {
          val x = pos % w; val y = pos / w
          val mp = metaImage((y >> metaBits) * metaW + (x >> metaBits))
          groups((mp >> 8) & 0xffff)
        }
      val s = read(g.green, r)
      if (s < 256) {
        val red = read(g.red, r)
        val blue = read(g.blue, r)
        val alpha = read(g.alpha, r)
        val argb = (alpha << 24) | (red << 16) | (s << 8) | blue
        px(pos) = argb
        cacheInsert(argb)
        pos += 1
      } else if (s < 256 + 24) {
        val length = lz77Value(s - 256, r)
        val distCode = lz77Value(read(g.dist, r), r)
        val dist = planeCodeToDistance(w, distCode)
        if (dist > pos || length > total - pos)
          throw new IllegalStateException("backward reference out of range")
        var i = 0
        while (i < length) {
          val v = px(pos - dist)
          px(pos) = v
          cacheInsert(v)
          pos += 1
          i += 1
        }
      } else {
        val idx = s - 256 - 24
        if (cache == null || idx >= cacheSize)
          throw new IllegalStateException("cache index without cache")
        val v = cache(idx)
        px(pos) = v
        // a cache hit re-inserts (no-op on contents, matches libwebp)
        cacheInsert(v)
        pos += 1
      }
    }
    px
  }

  // ------------------------------------------------------------------
  // inverse transforms (§3.4)
  // ------------------------------------------------------------------

  private def avg2(a: Int, b: Int): Int = {
    // per-channel (a+b)/2 without unpacking: mask the carry bits
    (((a ^ b) & 0xfefefefe) >>> 1) + (a & b)
  }

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def addPixels(a: Int, b: Int): Int = {
    val ag = (a >>> 8) & 0x00ff00ff
    val bg = (b >>> 8) & 0x00ff00ff
    val arb = a & 0x00ff00ff
    val brb = b & 0x00ff00ff
    ((((ag + bg) & 0x00ff00ff) << 8) | ((arb + brb) & 0x00ff00ff))
  }

  private def select(l: Int, t: Int, tl: Int): Int = {
    def ch(p: Int, s: Int) = (p >>> s) & 0xff
    var pL = 0; var pT = 0
    var s = 0
    while (s < 32) {
      val p = ch(l, s) + ch(t, s) - ch(tl, s)
      pL += math.abs(p - ch(l, s))
      pT += math.abs(p - ch(t, s))
      s += 8
    }
    if (pL < pT) l else t
  }

  private def clampAddSubtractFull(l: Int, t: Int, tl: Int): Int = {
    def ch(p: Int, s: Int) = (p >>> s) & 0xff
    var out = 0
    var s = 0
    while (s < 32) {
      out |= clamp255(ch(l, s) + ch(t, s) - ch(tl, s)) << s
      s += 8
    }
    out
  }

  private def clampAddSubtractHalf(l: Int, t: Int, tl: Int): Int = {
    val ave = avg2(l, t)
    def ch(p: Int, s: Int) = (p >>> s) & 0xff
    var out = 0
    var s = 0
    while (s < 32) {
      val a = ch(ave, s)
      out |= clamp255(a + (a - ch(tl, s)) / 2) << s
      s += 8
    }
    out
  }

  /** Inverse predictor transform: residual + prediction, per channel
    * mod 256. Border rules per §3.4.1: (0,0) predicts opaque black,
    * the top row predicts L, the left column predicts T; the TR of the
    * rightmost column is the leftmost pixel of the SAME row (flat
    * indexing into the previous row makes that fall out naturally). */
  private def inversePredictor(w: Int, h: Int, px: Array[Int],
      bits: Int, image: Array[Int]): Unit = {
    val tw = subSampleSize(w, bits)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = y * w + x
        val pred =
          if (x == 0 && y == 0) 0xff000000
          else if (y == 0) px(i - 1)
          else if (x == 0) px(i - w)
          else {
            val mode = (image((y >> bits) * tw + (x >> bits)) >> 8) & 0xff
            val l = px(i - 1)
            val t = px(i - w)
            val tl = px(i - w - 1)
            val tr = px(i - w + 1) // x==w-1 wraps to (0, y), already decoded
            mode match {
              case 0  => 0xff000000
              case 1  => l
              case 2  => t
              case 3  => tr
              case 4  => tl
              case 5  => avg2(avg2(l, tr), t)
              case 6  => avg2(l, tl)
              case 7  => avg2(l, t)
              case 8  => avg2(tl, t)
              case 9  => avg2(t, tr)
              case 10 => avg2(avg2(l, tl), avg2(t, tr))
              case 11 => select(l, t, tl)
              case 12 => clampAddSubtractFull(l, t, tl)
              case 13 => clampAddSubtractHalf(l, t, tl)
              case _ => throw new IllegalStateException(s"predictor $mode")
            }
          }
        px(i) = addPixels(px(i), pred)
        x += 1
      }
      y += 1
    }
  }

  /** Signed 3.5 fixed-point color-transform delta (§3.4.2): both the
    * transform element and the sample are taken as int8. */
  private def ctDelta(t: Int, c: Int): Int = (t.toByte * c.toByte) >> 5

  private def inverseColorTransform(w: Int, h: Int, px: Array[Int],
      bits: Int, image: Array[Int]): Unit = {
    val tw = subSampleSize(w, bits)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = y * w + x
        val cte = image((y >> bits) * tw + (x >> bits))
        val g2r = cte & 0xff
        val g2b = (cte >> 8) & 0xff
        val r2b = (cte >> 16) & 0xff
        val p = px(i)
        val green = (p >> 8) & 0xff
        var red = (p >> 16) & 0xff
        var blue = p & 0xff
        red = (red + ctDelta(g2r, green)) & 0xff
        blue = (blue + ctDelta(g2b, green) + ctDelta(r2b, red)) & 0xff
        px(i) = (p & 0xff00ff00) | (red << 16) | blue
        x += 1
      }
      y += 1
    }
  }

  private def inverseSubtractGreen(px: Array[Int]): Unit = {
    var i = 0
    while (i < px.length) {
      val p = px(i)
      val g = (p >> 8) & 0xff
      val r = (((p >> 16) & 0xff) + g) & 0xff
      val b = ((p & 0xff) + g) & 0xff
      px(i) = (p & 0xff00ff00) | (r << 16) | b
      i += 1
    }
  }

  /** Inverse color indexing: unbundle sub-byte indices from the green
    * channel (LSB-first within the packed pixel), then look up the
    * delta-accumulated palette; out-of-range indices map to 0. */
  private def inverseColorIndexing(w: Int, h: Int, packed: Array[Int],
      widthBits: Int, palette: Array[Int]): Array[Int] = {
    val packedW = subSampleSize(w, widthBits)
    val out = new Array[Int](w * h)
    val per = 1 << widthBits          // pixels per packed pixel
    val ib = 8 >> widthBits           // index bits
    val mask = (1 << ib) - 1
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val pp = packed(y * packedW + (x >> widthBits))
        val green = (pp >> 8) & 0xff
        val sub = if (widthBits == 0) green
          else (green >> ((x & (per - 1)) * ib)) & mask
        out(y * w + x) = if (sub < palette.length) palette(sub) else 0
        x += 1
      }
      y += 1
    }
    out
  }

  // ------------------------------------------------------------------
  // top-level decode
  // ------------------------------------------------------------------

  private sealed trait Transform
  private final case class PredictorT(bits: Int, image: Array[Int])
    extends Transform
  private final case class ColorT(bits: Int, image: Array[Int])
    extends Transform
  private case object SubtractGreenT extends Transform
  private final case class IndexingT(widthBits: Int, palette: Array[Int])
    extends Transform

  /** Decode a VP8L payload (after the RIFF chunk header). */
  def decodePayload(b: Array[Byte], from: Int, until: Int)
      : Option[Vp8lImage] =
    try {
      if (until - from < 5 || (b(from) & 0xff) != 0x2f) return None
      val r = new LsbBitReader(b, from + 1, until)
      val w = r.bits(14) + 1
      val h = r.bits(14) + 1
      r.bit() // alpha-is-used hint
      if (r.bits(3) != 0) return None // version must be 0
      if (w.toLong * h > (1 << 26)) return None
      // transforms (each type at most once), tracking the working width
      var curW = w
      var transforms = List.empty[Transform] // head = last read
      var seen = 0
      while (r.bit() == 1) {
        val t = r.bits(2)
        if ((seen & (1 << t)) != 0)
          throw new IllegalStateException("repeated transform")
        seen |= 1 << t
        if (transforms.size >= 4)
          throw new IllegalStateException("too many transforms")
        t match {
          case 0 =>
            val bits = r.bits(3) + 2
            val img = decodeImageStream(r, subSampleSize(curW, bits),
              subSampleSize(h, bits), level0 = false)
            transforms ::= PredictorT(bits, img)
          case 1 =>
            val bits = r.bits(3) + 2
            val img = decodeImageStream(r, subSampleSize(curW, bits),
              subSampleSize(h, bits), level0 = false)
            transforms ::= ColorT(bits, img)
          case 2 =>
            transforms ::= SubtractGreenT
          case _ =>
            val numColors = r.bits(8) + 1
            val widthBits =
              if (numColors > 16) 0
              else if (numColors > 4) 1
              else if (numColors > 2) 2
              else 3
            val deltas = decodeImageStream(r, numColors, 1, level0 = false)
            val palette = new Array[Int](numColors)
            var i = 0
            var acc = 0
            while (i < numColors) {
              acc = addPixels(acc, deltas(i))
              palette(i) = acc
              i += 1
            }
            curW = subSampleSize(curW, widthBits)
            transforms ::= IndexingT(widthBits, palette)
        }
      }
      var px = decodeImageStream(r, curW, h, level0 = true)
      // Invert in reverse read order (head of the list = last read).
      // Only COLOR_INDEXING changes the working width, and each type
      // appears at most once, so the width at a transform's inverse
      // time always equals the width at its read time: packed (curW)
      // until the indexing inverse runs, the full `w` after.
      var iw = curW
      transforms.foreach {
        case IndexingT(widthBits, palette) =>
          px = inverseColorIndexing(w, h, px, widthBits, palette)
          iw = w
        case PredictorT(bits, image) => inversePredictor(iw, h, px, bits, image)
        case ColorT(bits, image) => inverseColorTransform(iw, h, px, bits, image)
        case SubtractGreenT => inverseSubtractGreen(px)
      }
      if (px.length != w * h) return None
      Some(Vp8lImage(w, h, px))
    } catch { case _: Exception => None }

  /** Decode a WebP container holding a VP8L chunk. Lossy (VP8) and
    * extended (VP8X) payloads return None — this is the LOSSLESS
    * surface; headers for the others live in ImageHeaders. */
  def decodeWebpLossless(b: Array[Byte]): Option[Vp8lImage] =
    try {
      if (b == null || b.length < 20) return None
      def fourcc(at: Int) = new String(b, at, 4, "ISO-8859-1")
      if (fourcc(0) != "RIFF" || fourcc(8) != "WEBP") return None
      var off = 12
      while (off + 8 <= b.length) {
        val id = fourcc(off)
        val size = u32le(b, off + 4)
        if (size > b.length - off - 8) return None
        if (id == "VP8L")
          return decodePayload(b, off + 8, off + 8 + size.toInt)
        off += 8 + size.toInt + (size.toInt & 1) // chunks are 2-padded
      }
      None
    } catch { case _: Exception => None }

  // ------------------------------------------------------------------
  // encoder (fixtures): literal-only, single group, real prefix codes
  // ------------------------------------------------------------------

  /** Emitted prefix-code writer state: lengths+codes, or the 1–2
    * symbol simple form. */
  private final class WCode(val lengths: Array[Int], val codes: Array[Int],
      val simple: Array[Int]) {
    def writeSymbol(w: LsbBitWriter, s: Int): Unit =
      if (simple != null) {
        if (simple.length == 2) w.bits(if (s == simple(0)) 0 else 1, 1)
        // single symbol: zero bits
      } else w.writeCode(codes(s), lengths(s))
  }

  private def writeCodeHeader(w: LsbBitWriter, freq: Array[Int]): WCode = {
    val usedSyms = freq.indices.filter(freq(_) > 0)
    if (usedSyms.length <= 2 && usedSyms.forall(_ < 256)) {
      // simple code
      w.bits(1, 1)                                   // is_simple
      w.bits(usedSyms.length - 1, 1)                 // num_symbols - 1
      val s0 = usedSyms.head
      val is8 = if (s0 > 1) 1 else 0
      w.bits(is8, 1)
      w.bits(s0, if (is8 == 1) 8 else 1)
      if (usedSyms.length == 2) w.bits(usedSyms(1), 8)
      new WCode(null, null, usedSyms.toArray)
    } else {
      val lengths = PrefixCode.huffmanLengths(freq, MaxCodeLength)
      val codes = PrefixCode.codes(lengths)
      w.bits(0, 1) // normal code
      // code-length code over the lengths actually emitted (literal,
      // no repeat codes — fixture streams are small)
      val clFreq = new Array[Int](19)
      lengths.foreach(l => clFreq(l) += 1)
      if (clFreq.count(_ > 0) == 1) {
        // a one-symbol code-length code is incomplete; add a dummy
        val s = clFreq.indexWhere(_ > 0)
        clFreq(if (s == 0) 1 else s - 1) = 1
      }
      val clLengths = PrefixCode.huffmanLengths(clFreq, MaxCodeLength)
      val clCodes = PrefixCode.codes(clLengths)
      w.bits(15, 4) // num_code_lengths = 4 + 15 = 19 (all, zeros incl.)
      var i = 0
      while (i < 19) { w.bits(clLengths(CodeLengthOrder(i)), 3); i += 1 }
      w.bits(0, 1) // no max_symbol shortcut: all lengths emitted
      lengths.foreach(l => w.writeCode(clCodes(l), clLengths(l)))
      new WCode(lengths, codes, null)
    }
  }

  /** Encode ARGB pixels as a spec-conformant literal-only VP8L stream
    * in a RIFF/WEBP container. Real prefix codes, no transforms, no
    * cache, no LZ77 — the decoder-side referee for those paths is
    * libwebp's own encodings (see Vp8lSpec). */
  def encodeWebpLossless(width: Int, height: Int,
      argb: Array[Int]): Array[Byte] = {
    require(width >= 1 && width <= 16384 && height >= 1 && height <= 16384,
      s"dims out of VP8L range: ${width}x$height")
    require(argb.length == width * height, "pixel count mismatch")
    val w = new LsbBitWriter
    w.bits(0x2f, 8)
    w.bits(width - 1, 14)
    w.bits(height - 1, 14)
    val alphaUsed = argb.exists(p => (p >>> 24) != 0xff)
    w.bits(if (alphaUsed) 1 else 0, 1)
    w.bits(0, 3) // version
    w.bits(0, 1) // no transforms
    w.bits(0, 1) // no color cache
    w.bits(0, 1) // no meta prefix codes
    val greenF = new Array[Int](256 + 24)
    val redF = new Array[Int](256)
    val blueF = new Array[Int](256)
    val alphaF = new Array[Int](256)
    argb.foreach { p =>
      greenF((p >> 8) & 0xff) += 1
      redF((p >> 16) & 0xff) += 1
      blueF(p & 0xff) += 1
      alphaF((p >>> 24) & 0xff) += 1
    }
    val distF = new Array[Int](40)
    distF(0) = 1 // unused alphabet still needs a wellformed (simple) code
    val greenC = writeCodeHeader(w, greenF)
    val redC = writeCodeHeader(w, redF)
    val blueC = writeCodeHeader(w, blueF)
    val alphaC = writeCodeHeader(w, alphaF)
    writeCodeHeader(w, distF)
    argb.foreach { p =>
      greenC.writeSymbol(w, (p >> 8) & 0xff)
      redC.writeSymbol(w, (p >> 16) & 0xff)
      blueC.writeSymbol(w, p & 0xff)
      alphaC.writeSymbol(w, (p >>> 24) & 0xff)
    }
    val payload = w.toBytes
    val out = new java.io.ByteArrayOutputStream(payload.length + 20)
    def ascii(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val padded = payload.length + (payload.length & 1)
    ascii("RIFF"); le32(out, 4L + 8 + padded); ascii("WEBP")
    ascii("VP8L"); le32(out, payload.length.toLong)
    out.write(payload, 0, payload.length)
    if ((payload.length & 1) == 1) out.write(0)
    out.toByteArray
  }
}
