package graft.operators

import graft.engine.Tables
import graft.operators.Bytes.{BitSource, PrefixCode, u16be}

/** JPEG decode — DQT quantization tables, DHT canonical Huffman
  * tables, SOF0 (baseline sequential) AND SOF2 (progressive) frames,
  * scans with 0xFF00 byte-unstuffing and RSTn restart handling,
  * per-block DC-predictor + run/size AC coefficient decode, the full
  * progressive successive-approximation machinery (DC-first/refine,
  * AC-first/refine with EOBRUN, T.81 G.1.2), dequant, de-zigzag, a
  * double-precision separable IDCT with level shift, IJG-style
  * triangular ("fancy") chroma upsampling for 4:2:2/4:2:0, and the
  * libjpeg fixed-point YCbCr→RGB conversion.
  *
  * Contract: 8-bit precision, 1 (grayscale) or 3 (YCbCr) components,
  * luma sampling 1x1 / 2x1 / 2x2 with 1x1 chroma — i.e. 4:4:4, 4:2:2
  * and 4:2:0, the population that is essentially all real web JPEGs.
  * Arithmetic coding, hierarchical/lossless modes, 12-bit precision
  * and exotic sampling ratios → None, never a mis-decode.
  *
  * Referee: JPEG is lossy and IDCT rounding is implementation-defined,
  * so there is no arithmetic pixel oracle. Instead the JDK's ImageIO
  * is IN THE LOOP twice: it ENCODES the fixture (a real libjpeg-style
  * stream — tables, markers, scan script, entropy coding all foreign
  * to this code; subsampling steered through the writer's native
  * metadata tree, progressive through the write param) and DECODES it
  * back as the reference; the query's gate column asserts our pixels
  * match ImageIO's within a small per-channel bound (IDCT + fixed-
  * point color-convert rounding slack). A Huffman slip, a stuffing
  * miss, an EOBRUN miscount or an upsample-phase error produces
  * garbage far beyond that bound.
  *
  * Scale shape: map-only per blob, linear; the IDCT is O(8³) per
  * 8×8 block. Reference analogue: the map-side per-record slot
  * (mapper.py:21-41); the format is ITU-T T.81, the upsample/color
  * rounding is the published IJG algorithm (jdsample.c/jdcolor.c).
  */
object Jpeg {

  private val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Entropy-coded-segment reader: refills honor 0xFF00 stuffing; a
    * real marker STOPS the reader (zero-pad from there on, position
    * remembered) instead of consuming it — progressive scans end at
    * the next DHT/SOS/EOI, which the caller then parses. Kept apart
    * from [[Bytes.BitReader]] because byte stuffing and marker stops
    * are JPEG's own; its Huffman codes decode through [[PrefixCode]]. */
  private final class ScanBits(b: Array[Byte], var pos: Int) extends BitSource {
    private var cur = 0
    private var nbits = 0
    var hitMarker = false
    private var markerAt = -1
    def bit(): Int = {
      if (nbits == 0) {
        if (hitMarker || pos >= b.length) {
          if (!hitMarker) { hitMarker = true; markerAt = b.length }
          cur = 0
        } else {
          var v = b(pos) & 0xff
          if (v == 0xff) {
            if (pos + 1 >= b.length) { hitMarker = true; markerAt = b.length; v = 0 }
            else {
              val m = b(pos + 1) & 0xff
              if (m == 0x00) { pos += 2 } // stuffed FF
              else { hitMarker = true; markerAt = pos; v = 0 }
            }
          } else pos += 1
          cur = v
        }
        nbits = 8
      }
      nbits -= 1
      (cur >> nbits) & 1
    }
    def bits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def decode(h: PrefixCode): Int = {
      val v = h.decode(this)
      if (v < 0) throw new IllegalStateException("bad huffman code")
      v
    }
    /** Byte-align and consume an RSTn marker (scan data is 1-padded to
      * a byte boundary before each restart). */
    def restart(expected: Int): Unit = {
      nbits = 0
      val at = if (hitMarker) markerAt else pos
      if (at + 2 > b.length) throw new IllegalStateException("eof at rst")
      if ((b(at) & 0xff) != 0xff || (b(at + 1) & 0xff) != (0xd0 | expected))
        throw new IllegalStateException("missing restart")
      pos = at + 2
      hitMarker = false
    }
    /** Where the scan's entropy data ended (first unconsumed marker). */
    def endPos: Int = if (hitMarker) markerAt else pos
  }

  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  /** Separable 2-D inverse DCT (T.81 A.3.3 reference formula), double
    * precision, then level shift and clamp. Slow-but-exact-enough:
    * the referee tolerance absorbs libjpeg-style fast-IDCT rounding. */
  private def idct8x8(coef: Array[Int]): Array[Int] = {
    val c = new Array[Double](8)
    var i = 0
    while (i < 8) { c(i) = if (i == 0) 1.0 / math.sqrt(2) else 1.0; i += 1 }
    val tmp = new Array[Double](64)
    // rows
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          s += c(u) * coef(y * 8 + u) *
            math.cos((2 * x + 1) * u * math.Pi / 16)
          u += 1
        }
        tmp(y * 8 + x) = s / 2
        x += 1
      }
      y += 1
    }
    val out = new Array[Int](64)
    var x = 0
    while (x < 8) {
      var yy = 0
      while (yy < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          s += c(v) * tmp(v * 8 + x) *
            math.cos((2 * yy + 1) * v * math.Pi / 16)
          v += 1
        }
        val p = math.round(s / 2 + 128).toInt
        out(yy * 8 + x) = math.max(0, math.min(255, p))
        yy += 1
      }
      x += 1
    }
    out
  }

  /** One frame component and its decode state. */
  private final class Comp(val id: Int, val h: Int, val v: Int, val tq: Int) {
    var coefs: Array[Int] = null // natural-order, blockIndex*64 strided
    var blocksW = 0; var blocksH = 0 // MCU-padded storage grid
    var scanW = 0; var scanH = 0 // non-interleaved scan grid (unpadded)
    var dcTab = 0; var acTab = 0 // tables for the CURRENT scan
    var pred = 0 // DC predictor, reset per scan/restart
    var plane: Array[Int] = null // reconstructed samples, sw x sh
    var sw = 0; var sh = 0
  }

  /** A decoded image: gray levels (nComp=1) or packed 0xRRGGBB. */
  final case class JpegImage(width: Int, height: Int, nComp: Int,
      pixels: Array[Int])

  private def ceilDiv(a: Int, b: Int): Int = (a + b - 1) / b

  /** Decode a baseline-sequential or progressive JPEG, grayscale or
    * YCbCr 4:4:4 / 4:2:2 / 4:2:0. Corrupt / out-of-contract → None. */
  def decodeJpeg(bytes: Array[Byte]): Option[JpegImage] =
    try {
      if (bytes == null || bytes.length < 4 || (bytes(0) & 0xff) != 0xff ||
        (bytes(1) & 0xff) != 0xd8) return None
      var off = 2
      val qt = new Array[Array[Int]](4)
      val dcT = new Array[PrefixCode](4); val acT = new Array[PrefixCode](4)
      var w = -1; var h = -1
      var comps: Array[Comp] = null
      var hmax = 1; var vmax = 1
      var mcusX = 0; var mcusY = 0
      var progressive = false
      var restartInterval = 0
      var sawEoi = false
      var sawScan = false
      while (!sawEoi) {
        if (off + 2 > bytes.length) return None
        if ((bytes(off) & 0xff) != 0xff) return None
        // fill bytes: any number of FFs may pad before a marker
        while (off + 1 < bytes.length && (bytes(off + 1) & 0xff) == 0xff)
          off += 1
        if (off + 2 > bytes.length) return None
        val marker = bytes(off + 1) & 0xff
        if (marker == 0xd9) { sawEoi = true } // EOI
        else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
          off += 2 // standalone markers
        } else {
          if (off + 4 > bytes.length) return None
          val len = u16be(bytes, off + 2)
          if (len < 2 || off + 2 + len > bytes.length) return None
          marker match {
            case 0xdb => // DQT (possibly several tables per segment)
              var p = off + 4
              while (p < off + 2 + len) {
                val pq = (bytes(p) & 0xff) >> 4
                val tq = bytes(p) & 0x0f
                if (pq != 0) return None // 8-bit tables only
                if (p + 65 > off + 2 + len) return None
                qt(tq) = Array.tabulate(64)(i => bytes(p + 1 + i) & 0xff)
                p += 65
              }
            case 0xc4 => // DHT (tables may be redefined between scans)
              var p = off + 4
              while (p < off + 2 + len) {
                val tc = (bytes(p) & 0xff) >> 4
                val th = bytes(p) & 0x0f
                if (tc > 1 || p + 17 > off + 2 + len) return None
                val bits = new Array[Int](17)
                var total = 0
                var l = 1
                while (l <= 16) {
                  bits(l) = bytes(p + l) & 0xff; total += bits(l); l += 1
                }
                if (p + 17 + total > off + 2 + len) return None
                val vals = Array.tabulate(total)(i => bytes(p + 17 + i) & 0xff)
                val tbl = PrefixCode.fromCounts(bits, vals, 16)
                  .getOrElse(return None) // over-subscribed
                if (tc == 0) dcT(th) = tbl else acT(th) = tbl
                p += 17 + total
              }
            case 0xc0 | 0xc2 => // SOF0 baseline / SOF2 progressive
              if (comps != null) return None // one frame only
              progressive = marker == 0xc2
              if ((bytes(off + 4) & 0xff) != 8) return None // 8-bit only
              h = u16be(bytes, off + 5); w = u16be(bytes, off + 7)
              val nc = bytes(off + 9) & 0xff
              if (nc != 1 && nc != 3) return None
              if (w <= 0 || h <= 0 || w.toLong * h > (1 << 26)) return None
              comps = Array.tabulate(nc) { i =>
                val cid = bytes(off + 10 + 3 * i) & 0xff
                val samp = bytes(off + 11 + 3 * i) & 0xff
                val ctq = bytes(off + 12 + 3 * i) & 0x0f
                new Comp(cid, samp >> 4, samp & 0x0f, ctq)
              }
              hmax = comps.map(_.h).max; vmax = comps.map(_.v).max
              // supported ratios only: 1x1 / 2x1 / 2x2 downsampling
              comps.foreach { c =>
                if (c.h < 1 || c.v < 1) return None
                if (hmax % c.h != 0 || vmax % c.v != 0) return None
                val rh = hmax / c.h; val rv = vmax / c.v
                if (!((rh == 1 && rv == 1) || (rh == 2 && rv == 1) ||
                  (rh == 2 && rv == 2) || (rh == 1 && rv == 2)))
                  return None // 4:4:4 / 4:2:2 / 4:2:0 / 4:4:0
              }
              mcusX = ceilDiv(w, 8 * hmax); mcusY = ceilDiv(h, 8 * vmax)
              comps.foreach { c =>
                c.blocksW = mcusX * c.h; c.blocksH = mcusY * c.v
                c.scanW = ceilDiv(ceilDiv(w * c.h, hmax), 8)
                c.scanH = ceilDiv(ceilDiv(h * c.v, vmax), 8)
                c.coefs = new Array[Int](c.blocksW * c.blocksH * 64)
              }
            case 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca |
              0xcb | 0xcd | 0xce | 0xcf =>
              return None // extended/lossless/arithmetic out of contract
            case 0xdd =>
              if (len != 4) return None
              restartInterval = u16be(bytes, off + 4)
            case 0xda => // SOS — decode one scan's entropy data
              if (comps == null) return None
              val ns = bytes(off + 4) & 0xff
              if (ns < 1 || ns > comps.length ||
                len != 6 + 2 * ns) return None
              val scanComps = new Array[Comp](ns)
              var i = 0
              while (i < ns) {
                val cs = bytes(off + 5 + 2 * i) & 0xff
                val c = comps.find(_.id == cs).getOrElse(return None)
                c.dcTab = (bytes(off + 6 + 2 * i) & 0xff) >> 4
                c.acTab = bytes(off + 6 + 2 * i) & 0x0f
                scanComps(i) = c
                i += 1
              }
              val ss = bytes(off + 5 + 2 * ns) & 0xff
              val se = bytes(off + 6 + 2 * ns) & 0xff
              val a = bytes(off + 7 + 2 * ns) & 0xff
              val ah = a >> 4; val al = a & 0x0f
              if (progressive) {
                if (ss > se || se > 63) return None
                if (ss == 0 && se != 0) return None // DC scans are DC-only
                if (ss > 0 && ns != 1) return None // AC scans: 1 component
              } else if (ss != 0 || se != 63 || ah != 0 || al != 0)
                return None
              off = decodeScan(bytes, off + 2 + len, scanComps, qt, dcT, acT,
                ss, se, ah, al, progressive, restartInterval, mcusX, mcusY)
              sawScan = true
              // decodeScan leaves off AT the next marker's 0xFF; the
              // loop continues parsing from there
            case _ => () // APPn / COM / others: hop
          }
          if (marker != 0xda) off += 2 + len
        }
      }
      if (comps == null || !sawScan) return None
      // ---- reconstruction: dequant + IDCT per block into planes ----
      comps.foreach { c =>
        val q = qt(c.tq)
        if (q == null) return None
        val qNat = new Array[Int](64)
        var k = 0
        while (k < 64) { qNat(ZigZag(k)) = q(k); k += 1 }
        c.sw = ceilDiv(w * c.h, hmax); c.sh = ceilDiv(h * c.v, vmax)
        c.plane = new Array[Int](c.sw * c.sh)
        val d = new Array[Int](64)
        var br = 0
        while (br < c.blocksH) {
          var bc = 0
          while (bc < c.blocksW) {
            if (br * 8 < c.sh && bc * 8 < c.sw) {
              val base = (br * c.blocksW + bc) * 64
              var i = 0
              while (i < 64) { d(i) = c.coefs(base + i) * qNat(i); i += 1 }
              val px = idct8x8(d)
              var yy = 0
              while (yy < 8) {
                val py = br * 8 + yy
                if (py < c.sh) {
                  var xx = 0
                  while (xx < 8) {
                    val pxx = bc * 8 + xx
                    if (pxx < c.sw) c.plane(py * c.sw + pxx) = px(yy * 8 + xx)
                    xx += 1
                  }
                }
                yy += 1
              }
            }
            bc += 1
          }
          br += 1
        }
      }
      if (comps.length == 1) {
        // grayscale: the single component is full resolution
        Some(JpegImage(w, h, 1, comps(0).plane))
      } else {
        val yp = upsample(comps(0), w, h, hmax, vmax)
        val cb = upsample(comps(1), w, h, hmax, vmax)
        val cr = upsample(comps(2), w, h, hmax, vmax)
        Some(JpegImage(w, h, 3, yccToRgb(yp, cb, cr)))
      }
    } catch { case _: Exception => None }

  // ------------------------------------------------------------------
  // scan decode (sequential + all four progressive scan kinds)
  // ------------------------------------------------------------------

  /** Decode one scan's entropy-coded segment; returns the offset of
    * the next marker's 0xFF. EOBRUN and DC predictors are scan-scoped
    * and reset at restart markers (T.81 G.1.2). */
  private def decodeScan(bytes: Array[Byte], pos: Int,
      scanComps: Array[Comp], qt: Array[Array[Int]],
      dcT: Array[PrefixCode], acT: Array[PrefixCode],
      ss: Int, se: Int, ah: Int, al: Int, progressive: Boolean,
      restartInterval: Int, mcusX: Int, mcusY: Int): Int = {
    val r = new ScanBits(bytes, pos)
    scanComps.foreach(_.pred = 0)
    var eobrun = 0

    def requireTables(c: Comp): Unit = {
      val needDc = !progressive || (ss == 0 && ah == 0)
      val needAc = !progressive || ss > 0
      if (needDc && dcT(c.dcTab) == null)
        throw new IllegalStateException("missing dc table")
      if (needAc && acT(c.acTab) == null)
        throw new IllegalStateException("missing ac table")
    }
    scanComps.foreach(requireTables)

    def decodeBlock(c: Comp, blockIndex: Int): Unit = {
      val coef = c.coefs
      val base = blockIndex * 64
      if (!progressive) {
        // sequential: DC + AC in one visit
        val t = r.decode(dcT(c.dcTab))
        c.pred += extend(r.bits(t), t)
        coef(base) = c.pred
        var k = 1
        var eob = false
        while (k < 64 && !eob) {
          val rs = r.decode(acT(c.acTab))
          val run = rs >> 4; val size = rs & 0x0f
          if (size == 0) {
            if (run == 15) k += 16 // ZRL
            else eob = true
          } else {
            k += run
            if (k > 63) throw new IllegalStateException("ac overrun")
            coef(base + ZigZag(k)) = extend(r.bits(size), size)
            k += 1
          }
        }
      } else if (ss == 0) {
        if (ah == 0) { // DC first
          val t = r.decode(dcT(c.dcTab))
          c.pred += extend(r.bits(t), t)
          coef(base) = c.pred << al
        } else { // DC refine: one correction bit
          if (r.bit() != 0) coef(base) |= 1 << al
        }
      } else if (ah == 0) { // AC first (T.81 G.1.2.2)
        if (eobrun > 0) eobrun -= 1
        else {
          var k = ss
          var break = false
          while (k <= se && !break) {
            val rs = r.decode(acT(c.acTab))
            val run = rs >> 4; val size = rs & 0x0f
            if (size != 0) {
              k += run
              if (k > se) throw new IllegalStateException("ac overrun")
              coef(base + ZigZag(k)) = extend(r.bits(size), size) << al
              k += 1
            } else {
              if (run != 15) {
                eobrun = 1 << run
                if (run != 0) eobrun += r.bits(run)
                eobrun -= 1 // this block is the first of the run
                break = true
              } else k += 16 // ZRL
            }
          }
        }
      } else { // AC refine (T.81 G.1.2.3 / jdphuff-style control flow)
        val p1 = 1 << al
        val m1 = -1 << al
        var k = ss
        if (eobrun == 0) {
          var break = false
          while (k <= se && !break) {
            val rs = r.decode(acT(c.acTab))
            var run = rs >> 4; val size = rs & 0x0f
            var newVal = 0
            if (size != 0) {
              // size is 1 by construction in refinement scans
              newVal = if (r.bit() != 0) p1 else m1
            } else if (run != 15) {
              eobrun = 1 << run
              if (run != 0) eobrun += r.bits(run)
              break = true // rest of block handled by EOB logic below
            } // run==15, size==0: ZRL — skip 16 zero-history coefs
            if (!break) {
              // advance over nonzero-history coefs (correcting them)
              // and `run` zero-history coefs
              var placed = false
              while (k <= se && !placed) {
                val z = base + ZigZag(k)
                if (coef(z) != 0) {
                  if (r.bit() != 0 && (coef(z) & p1) == 0)
                    coef(z) += (if (coef(z) >= 0) p1 else m1)
                  k += 1
                } else {
                  if (run == 0) {
                    if (newVal != 0) { coef(z) = newVal }
                    k += 1
                    placed = true
                  } else { run -= 1; k += 1 }
                }
              }
              if (!placed && newVal != 0)
                throw new IllegalStateException("refine overrun")
            }
          }
        }
        if (eobrun > 0) {
          // EOB: correction bits for the remaining nonzero coefs
          while (k <= se) {
            val z = base + ZigZag(k)
            if (coef(z) != 0) {
              if (r.bit() != 0 && (coef(z) & p1) == 0)
                coef(z) += (if (coef(z) >= 0) p1 else m1)
            }
            k += 1
          }
          eobrun -= 1
        }
      }
    }

    var rst = 0
    var sinceRestart = 0
    def maybeRestart(): Unit =
      if (restartInterval > 0 && sinceRestart == restartInterval) {
        r.restart(rst); rst = (rst + 1) & 7
        scanComps.foreach(_.pred = 0)
        eobrun = 0
        sinceRestart = 0
      }

    if (scanComps.length == 1) {
      // non-interleaved: MCU = one block over the UNPADDED grid
      val c = scanComps(0)
      val total = c.scanW * c.scanH
      var i = 0
      while (i < total) {
        maybeRestart()
        val br = i / c.scanW; val bc = i % c.scanW
        decodeBlock(c, br * c.blocksW + bc)
        i += 1
        sinceRestart += 1
      }
    } else {
      // interleaved: per MCU, each component contributes h x v blocks
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          maybeRestart()
          scanComps.foreach { c =>
            var v = 0
            while (v < c.v) {
              var hh = 0
              while (hh < c.h) {
                decodeBlock(c,
                  (my * c.v + v) * c.blocksW + (mx * c.h + hh))
                hh += 1
              }
              v += 1
            }
          }
          mx += 1
          sinceRestart += 1
        }
        my += 1
      }
    }
    // In a sequential scan every entropy bit up to the next marker
    // belongs to the MCUs above; a marker reached DURING block decode
    // (hitMarker: the reader had to zero-fill) means the scan was
    // truncated. Zero-fill happens to form valid Huffman codes often
    // enough that "decode anyway" would return Some(wrong pixels) —
    // enforce the corrupt→None contract instead. Progressive scans
    // legitimately end at the next marker (spectral bands may leave
    // trailing EOB runs), so the check is sequential-only.
    if (!progressive && r.hitMarker)
      throw new IllegalStateException("marker inside sequential scan")
    r.endPos
  }

  // ------------------------------------------------------------------
  // upsampling (IJG jdsample.c "fancy" triangular filters) + color
  // ------------------------------------------------------------------

  /** Upsample a component plane to full w x h. Full-resolution
    * components copy through; 2x1 and 2x2 use the IJG triangular
    * filter with its exact integer biases so libjpeg-decoded
    * references agree to the LSB. */
  private def upsample(c: Comp, w: Int, h: Int,
      hmax: Int, vmax: Int): Array[Int] = {
    val rh = hmax / c.h; val rv = vmax / c.v
    if (rh == 1 && rv == 1) {
      if (c.sw == w && c.sh == h) c.plane
      else { // defensive (cannot happen for full-res comps)
        val out = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            out(y * w + x) = c.plane(math.min(y, c.sh - 1) * c.sw +
              math.min(x, c.sw - 1))
            x += 1
          }
          y += 1
        }
        out
      }
    } else if (rh == 2 && rv == 1) {
      val out = new Array[Int](w * h)
      val row = new Array[Int](2 * c.sw)
      var y = 0
      while (y < h) {
        val iy = math.min(y, c.sh - 1)
        fancyH2(c.plane, iy * c.sw, c.sw, row)
        var x = 0
        while (x < w) { out(y * w + x) = row(x); x += 1 }
        y += 1
      }
      out
    } else if (rh == 1 && rv == 2) {
      // 4:4:0 (v-only): the h2v1 triangular filter TRANSPOSED — the
      // nearer input row weighted 3, the farther 1, +1/+2 bias split
      // by direction, edge rows copied (libjpeg-turbo's
      // h1v2_fancy_upsample; measured exact against the JDK decoder)
      val out = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        val r = math.min(y >> 1, c.sh - 1)
        var x = 0
        if (y == 0 || (y == h - 1 && (y & 1) == 1) || c.sh == 1) {
          while (x < w) {
            out(y * w + x) = c.plane(r * c.sw + math.min(x, c.sw - 1))
            x += 1
          }
        } else if ((y & 1) == 0) { // blend with the row above
          val p = math.max(r - 1, 0)
          while (x < w) {
            val xx = math.min(x, c.sw - 1)
            out(y * w + x) =
              (c.plane(r * c.sw + xx) * 3 + c.plane(p * c.sw + xx) + 1) >> 2
            x += 1
          }
        } else { // blend with the row below
          val nx = math.min(r + 1, c.sh - 1)
          while (x < w) {
            val xx = math.min(x, c.sw - 1)
            out(y * w + x) =
              (c.plane(r * c.sw + xx) * 3 + c.plane(nx * c.sw + xx) + 2) >> 2
            x += 1
          }
        }
        y += 1
      }
      out
    } else { // 2x2
      val out = new Array[Int](w * h)
      val cs = new Array[Int](c.sw) // column sums nearer*3 + farther
      val row = new Array[Int](2 * c.sw)
      var oy = 0
      while (oy < h) {
        val near = math.min(oy >> 1, c.sh - 1)
        val far0 = if ((oy & 1) == 0) near - 1 else near + 1
        val far = math.max(0, math.min(far0, c.sh - 1))
        var i = 0
        while (i < c.sw) {
          cs(i) = c.plane(near * c.sw + i) * 3 + c.plane(far * c.sw + i)
          i += 1
        }
        // horizontal pass over column sums, 4-bit final shift
        if (c.sw == 1) {
          row(0) = (cs(0) * 4 + 8) >> 4
          row(1) = (cs(0) * 4 + 7) >> 4
        } else {
          row(0) = (cs(0) * 4 + 8) >> 4
          row(1) = (cs(0) * 3 + cs(1) + 7) >> 4
          var j = 1
          while (j < c.sw - 1) {
            row(2 * j) = (cs(j) * 3 + cs(j - 1) + 8) >> 4
            row(2 * j + 1) = (cs(j) * 3 + cs(j + 1) + 7) >> 4
            j += 1
          }
          row(2 * (c.sw - 1)) = (cs(c.sw - 1) * 3 + cs(c.sw - 2) + 8) >> 4
          row(2 * c.sw - 1) = (cs(c.sw - 1) * 4 + 7) >> 4
        }
        var x = 0
        while (x < w) { out(oy * w + x) = row(x); x += 1 }
        oy += 1
      }
      out
    }
  }

  /** IJG h2v1 fancy upsample of one row: nearer sample weighted 3,
    * farther 1, with the published +1/+2 bias split. */
  private def fancyH2(plane: Array[Int], base: Int, sw: Int,
      out: Array[Int]): Unit = {
    if (sw == 1) { out(0) = plane(base); out(1) = plane(base); return }
    out(0) = plane(base)
    out(1) = (plane(base) * 3 + plane(base + 1) + 2) >> 2
    var i = 1
    while (i < sw - 1) {
      val v3 = plane(base + i) * 3
      out(2 * i) = (v3 + plane(base + i - 1) + 1) >> 2
      out(2 * i + 1) = (v3 + plane(base + i + 1) + 2) >> 2
      i += 1
    }
    out(2 * (sw - 1)) = (plane(base + sw - 1) * 3 + plane(base + sw - 2) + 1) >> 2
    out(2 * sw - 1) = plane(base + sw - 1)
  }

  // libjpeg jdcolor.c fixed-point YCbCr->RGB (SCALEBITS=16)
  private def fix(x: Double): Int = (x * 65536 + 0.5).toInt
  private val CrR: Array[Int] =
    Array.tabulate(256)(i => (fix(1.40200) * (i - 128) + 32768) >> 16)
  private val CbB: Array[Int] =
    Array.tabulate(256)(i => (fix(1.77200) * (i - 128) + 32768) >> 16)
  private val CbG: Array[Int] =
    Array.tabulate(256)(i => -fix(0.34414) * (i - 128))
  private val CrG: Array[Int] =
    Array.tabulate(256)(i => -fix(0.71414) * (i - 128) + 32768)

  private def yccToRgb(yp: Array[Int], cb: Array[Int],
      cr: Array[Int]): Array[Int] = {
    val out = new Array[Int](yp.length)
    var i = 0
    while (i < yp.length) {
      val y = yp(i); val b = cb(i); val r = cr(i)
      val rr = clamp8(y + CrR(r))
      val gg = clamp8(y + ((CbG(b) + CrG(r)) >> 16))
      val bb = clamp8(y + CbB(b))
      out(i) = (rr << 16) | (gg << 8) | bb
      i += 1
    }
    out
  }

  private def clamp8(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  /** Back-compat grayscale surface (q357): single-component streams
    * only — a color JPEG is None here (use decodeJpeg for it). */
  def decodeJpegGray(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    decodeJpeg(bytes) match {
      case Some(img) if img.nComp == 1 =>
        Some((img.width, img.height, img.pixels))
      case _ => None
    }

  // ------------------------------------------------------------------
  // ImageIO fixture encoders (test/fixture side, not the decode path)
  // ------------------------------------------------------------------

  /** Encode with the JDK's ImageIO JPEG writer, steering luma sampling
    * factors through the writer's native metadata tree (the writer's
    * default is 4:2:0 for color; (1,1)=4:4:4, (2,1)=4:2:2, (2,2)=4:2:0)
    * and optionally requesting the progressive scan script. The
    * resulting stream is entirely foreign to this file's decoder. */
  def encodeImageIO(img: java.awt.image.BufferedImage, lumaH: Int,
      lumaV: Int, progressive: Boolean): Array[Byte] = {
    import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier, ImageWriteParam}
    val writer = ImageIO.getImageWritersByFormatName("jpg").next()
    try {
      val param = writer.getDefaultWriteParam
      if (progressive) param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
      val meta = writer.getDefaultImageMetadata(
        new ImageTypeSpecifier(img), param)
      val fmt = "javax_imageio_jpeg_image_1.0"
      val tree = meta.getAsTree(fmt).asInstanceOf[org.w3c.dom.Element]
      val nodes = tree.getElementsByTagName("componentSpec")
      var i = 0
      while (i < nodes.getLength) {
        val e = nodes.item(i).asInstanceOf[org.w3c.dom.Element]
        e.setAttribute("HsamplingFactor", (if (i == 0) lumaH else 1).toString)
        e.setAttribute("VsamplingFactor", (if (i == 0) lumaV else 1).toString)
        i += 1
      }
      meta.setFromTree(fmt, tree)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new IIOImage(img, null, meta), param)
      ios.close()
      bos.toByteArray
    } finally writer.dispose()
  }

  /** Deterministic color fixture image for doc `id` (irregular dims so
    * MCU edge clipping is exercised; content varies per pixel so the
    * entropy decode is non-trivial). */
  def colorFixture(id: Long): java.awt.image.BufferedImage = {
    val w = (9 + id % 24).toInt
    val h = (9 + (id * 5) % 22).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
        val g = ((id * 17 + x * 11 + y * 5) % 256).toInt
        val b = ((id * 23 + x * 3 + y * 19) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Gate: our decode of `blob` within ±`tol` per channel of the
    * ImageIO reference decode (raw raster samples — getRGB would push
    * values through sRGB color management). */
  def refereeMatch(blob: Array[Byte], tol: Int): Boolean = {
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(blob))
    decodeJpeg(blob).exists { img =>
      img.width == ref.getWidth && img.height == ref.getHeight && {
        val raster = ref.getRaster
        val bands = raster.getNumBands
        var worst = 0
        var y = 0
        while (y < img.height) {
          var x = 0
          while (x < img.width) {
            val p = img.pixels(y * img.width + x)
            if (img.nComp == 1) {
              val d = math.abs(p - raster.getSample(x, y, 0))
              if (d > worst) worst = d
            } else {
              var c = 0
              while (c < 3 && c < bands) {
                val ours = (p >> (16 - 8 * c)) & 0xff
                val d = math.abs(ours - raster.getSample(x, y, c))
                if (d > worst) worst = d
                c += 1
              }
            }
            x += 1
          }
          y += 1
        }
        worst <= tol
      }
    }
  }

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  final case class JpegRow(doc_id: Long, width: Int, height: Int,
      n_blocks: Int, ref_match: Boolean)

  final case class JpegColorRow(doc_id: Long, width: Int, height: Int,
      mode: String, ref_match: Boolean)

  private val Modes = Array((1, 1, "444"), (2, 1, "422"), (2, 2, "420"))

  val defs: Seq[QueryDef] = Seq(

    // ----- baseline JPEG decode, ImageIO-refereed ----------------------
    // ImageIO ENCODES the fixture (foreign tables, markers, entropy
    // stream) and DECODES it as the reference; our decoder must land
    // within ±1 of the reference on every pixel (IDCT rounding slack —
    // JPEG is lossy, so there is no arithmetic pixel oracle; a
    // Huffman/stuffing/zigzag slip produces garbage, not ±1). The
    // oracle pins dims/blocks arithmetic and ref_match TRUE.
    QueryDef(
      "q357_jpeg_baseline_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val w = (16 + (id % 6) * 8).toInt
            val h = (16 + (id * 3 % 6) * 8).toInt
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
            var i = 0
            while (i < w * h) {
              img.getRaster.setSample(i % w, i / w, 0,
                ((id * 31 + (i % w) * 7 + (i / w) * 13) % 256).toInt)
              i += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "jpg", bos)
            val blob = bos.toByteArray
            val ref = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(blob))
            val ours = decodeJpegGray(blob)
            val ok = ours.exists { case (dw, dh, px) =>
              dw == w && dh == h && {
                var worst = 0
                var j = 0
                while (j < w * h) {
                  // raw raster samples: getRGB would push linear gray
                  // through sRGB color management and distort values
                  val d = math.abs(px(j) -
                    ref.getRaster.getSample(j % w, j / w, 0))
                  if (d > worst) worst = d
                  j += 1
                }
                worst <= 1
              }
            }
            JpegRow(id, w, h, (w / 8) * (h / 8), ok)
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(16 + (doc_id % 6) * 8 AS INT) AS width,
               CAST(16 + (doc_id * 3 % 6) * 8 AS INT) AS height,
               CAST((16 + (doc_id % 6) * 8) // 8
                    * ((16 + (doc_id * 3 % 6) * 8) // 8) AS INT)
                 AS n_blocks,
               TRUE AS ref_match
        FROM documents
        ORDER BY doc_id""")),

    // ----- color JPEG decode: YCbCr + 4:4:4 / 4:2:2 / 4:2:0 -----------
    // The dominant web image format: 3-component MCUs, chroma
    // upsampling (IJG triangular filter), fixed-point YCbCr->RGB.
    // ImageIO encodes (subsampling steered per doc through the
    // writer's native metadata tree) and decodes as the reference;
    // gate is worst-channel |diff| <= 3: the double-precision IDCT
    // lands within ±1 of libjpeg's islow per COMPONENT, and the
    // 1.772·Cb / 1.402·Cr color terms amplify that to ±3 on RGB —
    // measured worst across 1800 fixture decodes is exactly 3, while
    // any entropy/upsample-phase slip produces diffs of dozens.
    QueryDef(
      "q359_jpeg_color_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val (lh, lv, mode) = Modes((id % 3).toInt)
            val img = colorFixture(id)
            val blob = encodeImageIO(img, lh, lv, progressive = false)
            JpegColorRow(id, img.getWidth, img.getHeight, mode,
              refereeMatch(blob, tol = 3))
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(9 + doc_id % 24 AS INT) AS width,
               CAST(9 + (doc_id * 5) % 22 AS INT) AS height,
               CASE doc_id % 3 WHEN 0 THEN '444' WHEN 1 THEN '422'
                 ELSE '420' END AS mode,
               TRUE AS ref_match
        FROM documents
        ORDER BY doc_id""")),

    // ----- progressive JPEG decode (SOF2) ------------------------------
    // The second web-JPEG population: DC-first/refine and AC-first/
    // refine scans with EOBRUN (T.81 G.1.2), under all three
    // subsampling modes. ImageIO's writer emits the IJG 10-scan
    // simple-progression script; same referee and ±3 gate as q359.
    QueryDef(
      "q360_jpeg_progressive_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val (lh, lv, mode) = Modes((id % 3).toInt)
            val img = colorFixture(id)
            val blob = encodeImageIO(img, lh, lv, progressive = true)
            JpegColorRow(id, img.getWidth, img.getHeight, mode,
              refereeMatch(blob, tol = 3))
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(9 + doc_id % 24 AS INT) AS width,
               CAST(9 + (doc_id * 5) % 22 AS INT) AS height,
               CASE doc_id % 3 WHEN 0 THEN '444' WHEN 1 THEN '422'
                 ELSE '420' END AS mode,
               TRUE AS ref_match
        FROM documents
        ORDER BY doc_id""")),

    // ----- 4:4:0 JPEG decode (vertical-only chroma subsampling) --------
    // The fourth real sampling mode (portrait scans/some encoders):
    // luma 1x2, chroma 1x1 — upsampled with the h2v1 triangular
    // filter TRANSPOSED (libjpeg-turbo's h1v2_fancy; plain row
    // replication diverges from the JDK reference by up to 76 levels,
    // measured — this filter lands at the same ±3 as the other
    // modes). Even docs sequential, odd progressive.
    QueryDef(
      "q372_jpeg_440_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val img = colorFixture(id)
            val blob = encodeImageIO(img, lumaH = 1, lumaV = 2,
              progressive = id % 2 == 1)
            JpegColorRow(id, img.getWidth, img.getHeight, "440",
              refereeMatch(blob, tol = 3))
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(9 + doc_id % 24 AS INT) AS width,
               CAST(9 + (doc_id * 5) % 22 AS INT) AS height,
               '440' AS mode,
               TRUE AS ref_match
        FROM documents
        ORDER BY doc_id"""))
  )
}
