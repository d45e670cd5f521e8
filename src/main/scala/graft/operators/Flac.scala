package graft.operators

import java.io.ByteArrayOutputStream
import java.security.MessageDigest

import graft.engine.Tables
import graft.operators.Bytes.{BitReader, BitWriter}

/** FLAC subset codec — REAL lossless audio decode, pure JVM.
  *
  * The audio family's header walks (q239 sniffs STREAMINFO) stop where
  * the actual compression starts. This implements the decode spine of
  * RFC 9639: STREAMINFO parse, frame headers (uncommon-blocksize form,
  * UTF-8-coded frame numbers, CRC-8), subframes CONSTANT / VERBATIM /
  * FIXED orders 0–4, Rice-coded residuals (4-bit parameters, escape to
  * raw width), fixed-predictor reconstruction, frame CRC-16, and the
  * STREAMINFO MD5 check over the decoded samples. Mono / 16-bit — the
  * subset that covers the fixed-predictor half of real-world FLAC; LPC
  * subframes and stereo decorrelation are out of contract (documented).
  *
  * Referee posture: the format's OWN integrity machinery closes the
  * encode→decode loop — STREAMINFO's MD5 is computed from the raw
  * samples before encoding, so the decoder's MD5 check fails unless
  * decode ∘ encode is exactly the identity; both CRCs use the
  * spec-published polynomials (0x07, 0x8005). The oracle replays the
  * sample formula arithmetically, closing the fixture→stats loop.
  *
  * Scale shape: map-only per blob, linear in bytes, corrupt → None —
  * identical to the q334/q336 decode family. Reference analogue: the
  * map-side per-record feature slot (mapper.py:21-41).
  */
object Flac {

  // ------------------------------------------------------------------
  // bit I/O (MSB-first, the FLAC convention)
  // ------------------------------------------------------------------

  private def writeUnary(w: BitWriter, q: Int): Unit = { // q zeros, a one
    var i = 0
    while (i < q) { w.bits(0, 1); i += 1 }
    w.bits(1, 1)
  }

  private def readUnary(r: BitReader): Int = {
    var q = 0
    while (r.bit() == 0) {
      q += 1
      if (q > (1 << 20)) throw new IllegalStateException("runaway unary")
    }
    q
  }

  // ------------------------------------------------------------------
  // CRCs (spec polynomials) and the UTF-8-style frame number
  // ------------------------------------------------------------------

  /** CRC-8, poly x^8+x^2+x+1 (0x07), init 0 — frame header checksum. */
  def crc8(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= bytes(i) & 0xff
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff
        else (crc << 1) & 0xff
        b += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, poly 0x8005, init 0 — whole-frame checksum. */
  def crc16(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (bytes(i) & 0xff) << 8
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
        else (crc << 1) & 0xffff
        b += 1
      }
      i += 1
    }
    crc
  }

  private def writeUtf8Number(w: BitWriter, n: Long): Unit = {
    if (n < 0x80) w.bits(n, 8)
    else if (n < 0x800) {
      w.bits(0xc0L | (n >> 6), 8); w.bits(0x80L | (n & 0x3f), 8)
    } else if (n < 0x10000) {
      w.bits(0xe0L | (n >> 12), 8)
      w.bits(0x80L | ((n >> 6) & 0x3f), 8)
      w.bits(0x80L | (n & 0x3f), 8)
    } else throw new IllegalArgumentException(s"frame number $n too large")
  }

  private def readUtf8Number(r: BitReader): Long = {
    val b0 = r.bitsLong(8)
    if ((b0 & 0x80) == 0) b0
    else if ((b0 & 0xe0) == 0xc0)
      ((b0 & 0x1f) << 6) | (r.bitsLong(8) & 0x3f)
    else if ((b0 & 0xf0) == 0xe0) {
      val b1 = r.bitsLong(8) & 0x3f; val b2 = r.bitsLong(8) & 0x3f
      ((b0 & 0x0f) << 12) | (b1 << 6) | b2
    } else throw new IllegalStateException("bad utf8 frame number")
  }

  // ------------------------------------------------------------------
  // fixed predictors (RFC 9639 §9.2.5)
  // ------------------------------------------------------------------

  /** Residual of the order-k fixed predictor at position i (needs k
    * prior samples). */
  private def fixedResidual(s: Array[Int], i: Int, k: Int): Long = k match {
    case 0 => s(i)
    case 1 => s(i).toLong - s(i - 1)
    case 2 => s(i).toLong - 2L * s(i - 1) + s(i - 2)
    case 3 => s(i).toLong - 3L * s(i - 1) + 3L * s(i - 2) - s(i - 3)
    case _ => s(i).toLong - 4L * s(i - 1) + 6L * s(i - 2) -
      4L * s(i - 3) + s(i - 4)
  }

  /** Reconstruct sample i in place from its residual. */
  private def fixedRestore(s: Array[Int], i: Int, k: Int, res: Long): Int =
    (k match {
      case 0 => res
      case 1 => res + s(i - 1)
      case 2 => res + 2L * s(i - 1) - s(i - 2)
      case 3 => res + 3L * s(i - 1) - 3L * s(i - 2) + s(i - 3)
      case _ => res + 4L * s(i - 1) - 6L * s(i - 2) + 4L * s(i - 3) -
        s(i - 4)
    }).toInt

  // ------------------------------------------------------------------
  // encode (fixture emitter — byte-valid subset streams)
  // ------------------------------------------------------------------

  private def zigzag(r: Long): Long = if (r >= 0) r << 1 else (-r << 1) - 1
  private def unzigzag(u: Long): Long = if ((u & 1) == 0) u >> 1 else -((u + 1) >> 1)

  /** Rice-code residuals into `sub`: parameter fitted from the mean
    * zigzag magnitude (4-bit method, partition order 0), escaping to
    * raw two's-complement fixed width when the unary quotients would
    * outgrow parameter 14 (spike-over-silence frames). */
  private def writeResiduals(sub: BitWriter, res: Array[Long]): Unit = {
    val zz = res.map(zigzag)
    val mean = if (zz.isEmpty) 0L else zz.sum / math.max(1, zz.length)
    var p = 0
    while (p < 14 && (mean >> p) > 0) p += 1
    val maxZz = if (zz.isEmpty) 0L else zz.max
    sub.bits(0, 2) // residual method: 4-bit rice
    sub.bits(0, 4) // partition order 0: one partition
    if ((maxZz >> p) > (1 << 10)) {
      val width = res.map { v =>
        65 - java.lang.Long.numberOfLeadingZeros(if (v >= 0) v else ~v)
      }.max.min(31)
      sub.bits(0xf, 4); sub.bits(width, 5)
      res.foreach(v => sub.bits(v & ((1L << width) - 1), width))
    } else {
      sub.bits(p, 4)
      zz.foreach { u =>
        writeUnary(sub, (u >> p).toInt)
        if (p > 0) sub.bits(u & ((1L << p) - 1), p)
      }
    }
  }

  private def mask(v: Int, w: Int): Long = v.toLong & ((1L << w) - 1)

  /** LPC prediction of sample i: 64-bit dot product over the `ord`
    * previous samples, arithmetic-shifted right (RFC 9639 §9.2.6). */
  private def lpcPredict(s: Array[Int], i: Int, coefs: Array[Int],
      shift: Int): Long = {
    var acc = 0L
    var j = 0
    while (j < coefs.length) { acc += coefs(j).toLong * s(i - 1 - j); j += 1 }
    acc >> shift
  }

  /** Write one LPC subframe: warmup at `bps`, coefficient precision /
    * shift / quantized coefficients, then Rice residuals. */
  private def writeSubframeLpc(sub: BitWriter, block: Array[Int], bps: Int,
      coefs: Array[Int], shift: Int, prec: Int): Unit = {
    val ord = coefs.length
    sub.bits(0, 1); sub.bits(32 | (ord - 1), 6); sub.bits(0, 1)
    var i = 0
    while (i < ord) { sub.bits(mask(block(i), bps), bps); i += 1 }
    sub.bits(prec - 1, 4)
    sub.bits(shift, 5)
    coefs.foreach(c => sub.bits(mask(c, prec), prec))
    val res = Array.tabulate(block.length - ord)(j =>
      block(ord + j).toLong - lpcPredict(block, ord + j, coefs, shift))
    writeResiduals(sub, res)
  }

  /** Write one FIXED subframe (order capped by warmup availability). */
  private def writeSubframeFixed(sub: BitWriter, block: Array[Int], bps: Int,
      k: Int): Unit = {
    sub.bits(0, 1); sub.bits(8 | k, 6); sub.bits(0, 1)
    var i = 0
    while (i < k) { sub.bits(mask(block(i), bps), bps); i += 1 }
    writeResiduals(sub,
      Array.tabulate(block.length - k)(j => fixedResidual(block, k + j, k)))
  }

  /** Encode mono 16-bit samples as a byte-valid FLAC subset stream:
    * fLaC magic, STREAMINFO (incl. real MD5 of the raw LE sample
    * bytes), frames of `blockSize` with the uncommon-blocksize header
    * form. Subframe choice per frame: CONSTANT when all samples agree,
    * VERBATIM every 7th frame, else FIXED order frameIdx % 5 (capped
    * by available warmup), Rice parameter fitted per frame with the
    * escape-to-raw path when residuals outgrow param 14. */
  def encodeFlac(samples: Array[Int], blockSize: Int,
      sampleRate: Int): Array[Byte] = {
    require(blockSize >= 16 && blockSize <= 65535, s"bad block $blockSize")
    samples.foreach(s => require(s >= -32768 && s <= 32767, s"s16 range: $s"))
    val out = new ByteArrayOutputStream(samples.length + 256)
    out.write("fLaC".getBytes("US-ASCII"), 0, 4)
    // STREAMINFO, last-metadata-block flag set
    val si = new BitWriter
    si.bits(blockSize, 16); si.bits(blockSize, 16)
    si.bits(0, 24); si.bits(0, 24) // frame sizes unknown
    si.bits(sampleRate, 20)
    si.bits(0, 3) // channels - 1 = 0 (mono)
    si.bits(15, 5) // bits per sample - 1 = 15
    si.bits(samples.length.toLong, 36)
    val md = MessageDigest.getInstance("MD5")
    samples.foreach { s => md.update(s.toByte); md.update((s >> 8).toByte) }
    md.digest().foreach(b => si.bits(b & 0xffL, 8))
    val siBytes = si.toBytes
    out.write(0x80) // last block + type 0
    out.write(0); out.write(0); out.write(siBytes.length) // 24-bit length
    out.write(siBytes, 0, siBytes.length)

    var frameIdx = 0L
    var off = 0
    while (off < samples.length) {
      val n = math.min(blockSize, samples.length - off)
      val frame = new BitWriter
      // header: sync(14) 111111111111 10, reserved 0, blocking 0 (fixed)
      frame.bits(0xfff8L >> 0, 16) // 0xFF 0xF8
      frame.bits(0x7, 4) // blocksize: 16-bit at end of header
      frame.bits(0x0, 4) // sample rate: from STREAMINFO
      frame.bits(0x0, 4) // channels: mono
      frame.bits(0x4, 3) // sample size: 16-bit
      frame.bits(0, 1) // reserved
      writeUtf8Number(frame, frameIdx)
      frame.bits(n - 1, 16)
      val headerBytes = frame.toBytes // byte-aligned by construction
      val withCrc8 = headerBytes :+ crc8(headerBytes, 0, headerBytes.length).toByte

      // subframe
      val sub = new BitWriter
      val block = java.util.Arrays.copyOfRange(samples, off, off + n)
      val allEqual = block.forall(_ == block(0))
      if (allEqual) {
        sub.bits(0, 1); sub.bits(0, 6); sub.bits(0, 1)
        sub.bits(block(0) & 0xffffL, 16)
      } else if (frameIdx % 7 == 3) { // VERBATIM
        sub.bits(0, 1); sub.bits(1, 6); sub.bits(0, 1)
        block.foreach(s => sub.bits(s & 0xffffL, 16))
      } else { // FIXED order
        val k = math.min((frameIdx % 5).toInt, n - 1)
        writeSubframeFixed(sub, block, 16, k)
      }
      val subBytes = sub.toBytes // zero-padded to byte alignment per spec
      val frameBytes = withCrc8 ++ subBytes
      val c16 = crc16(frameBytes, 0, frameBytes.length)
      out.write(frameBytes, 0, frameBytes.length)
      out.write((c16 >> 8) & 0xff); out.write(c16 & 0xff)
      off += n
      frameIdx += 1
    }
    out.toByteArray
  }

  /** Encode STEREO 16-bit samples as a byte-valid FLAC stream
    * exercising the other half of RFC 9639: per-frame channel modes
    * cycling independent → left/side → right/side → mid/side (side
    * channels carry bps+1 = 17 bits), and LPC subframes (order 2,
    * precision 12, per-frame-varying quantized coefficients with a
    * 10-bit shift) alternating with FIXED on the non-side channel.
    * STREAMINFO MD5 covers the interleaved LE sample bytes, so the
    * decoder's MD5 check seals decorrelation + LPC reconstruction. */
  def encodeFlacStereo(left: Array[Int], right: Array[Int], blockSize: Int,
      sampleRate: Int): Array[Byte] = {
    require(left.length == right.length, "channel length mismatch")
    require(blockSize >= 16 && blockSize <= 65535, s"bad block $blockSize")
    (left ++ right).foreach(s =>
      require(s >= -32768 && s <= 32767, s"s16 range: $s"))
    val total = left.length
    val out = new ByteArrayOutputStream(total * 2 + 256)
    out.write("fLaC".getBytes("US-ASCII"), 0, 4)
    val si = new BitWriter
    si.bits(blockSize, 16); si.bits(blockSize, 16)
    si.bits(0, 24); si.bits(0, 24)
    si.bits(sampleRate, 20)
    si.bits(1, 3) // channels - 1 = 1 (stereo)
    si.bits(15, 5)
    si.bits(total.toLong, 36)
    val md = MessageDigest.getInstance("MD5")
    var t = 0
    while (t < total) { // interleaved L R, little-endian 16-bit
      md.update(left(t).toByte); md.update((left(t) >> 8).toByte)
      md.update(right(t).toByte); md.update((right(t) >> 8).toByte)
      t += 1
    }
    md.digest().foreach(b => si.bits(b & 0xffL, 8))
    val siBytes = si.toBytes
    out.write(0x80)
    out.write(0); out.write(0); out.write(siBytes.length)
    out.write(siBytes, 0, siBytes.length)

    var frameIdx = 0L
    var off = 0
    while (off < total) {
      val n = math.min(blockSize, total - off)
      val mode = (frameIdx % 4).toInt // 0 indep, 1 L/S, 2 R/S, 3 M/S
      val chanBits = mode match {
        case 0 => 0x1 // two independent channels
        case 1 => 0x8 // left/side
        case 2 => 0x9 // right/side
        case _ => 0xa // mid/side
      }
      val frame = new BitWriter
      frame.bits(0xfff8L, 16)
      frame.bits(0x7, 4) // blocksize: 16-bit at end of header
      frame.bits(0x0, 4)
      frame.bits(chanBits, 4)
      frame.bits(0x4, 3) // 16-bit
      frame.bits(0, 1)
      writeUtf8Number(frame, frameIdx)
      frame.bits(n - 1, 16)
      val headerBytes = frame.toBytes
      val withCrc8 = headerBytes :+
        crc8(headerBytes, 0, headerBytes.length).toByte

      val l = java.util.Arrays.copyOfRange(left, off, off + n)
      val r = java.util.Arrays.copyOfRange(right, off, off + n)
      val side = Array.tabulate(n)(i => l(i) - r(i)) // 17-bit range
      val mid = Array.tabulate(n)(i => (l(i) + r(i)) >> 1)
      val (ch0, bps0, ch1, bps1) = mode match {
        case 0 => (l, 16, r, 16)
        case 1 => (l, 16, side, 17)
        case 2 => (side, 17, r, 16)
        case _ => (mid, 16, side, 17)
      }
      val sub = new BitWriter
      Seq((ch0, bps0), (ch1, bps1)).zipWithIndex.foreach {
        case ((ch, bps), slot) =>
          // LPC on slot 0 of even frames (order 2, varying coefs);
          // FIXED order cycling elsewhere — both paths per stream
          if (slot == 0 && frameIdx % 2 == 0 && n > 2) {
            val c0 = 900 + (frameIdx * 97 % 600).toInt
            val c1 = -(300 + (frameIdx * 53 % 500).toInt)
            writeSubframeLpc(sub, ch, bps, Array(c0, c1), shift = 10,
              prec = 12)
          } else {
            val k = math.min(((frameIdx + slot) % 5).toInt, n - 1)
            writeSubframeFixed(sub, ch, bps, k)
          }
      }
      val subBytes = sub.toBytes
      val frameBytes = withCrc8 ++ subBytes
      val c16 = crc16(frameBytes, 0, frameBytes.length)
      out.write(frameBytes, 0, frameBytes.length)
      out.write((c16 >> 8) & 0xff); out.write(c16 & 0xff)
      off += n
      frameIdx += 1
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // decode
  // ------------------------------------------------------------------

  final case class FlacAudio(sampleRate: Int, channels: Int,
      samples: Array[Int], frames: Int, md5Ok: Boolean) {
    /** Channel `c` de-interleaved. */
    def channel(c: Int): Array[Int] =
      Array.tabulate(samples.length / channels)(i =>
        samples(i * channels + c))
  }

  private def sext(v: Long, w: Int): Int =
    if (w > 0 && ((v >> (w - 1)) & 1L) == 1L) (v - (1L << w)).toInt
    else v.toInt

  /** Read one residual block (both Rice methods + the raw-width
    * escape), returning the n-ord residual values (RFC 9639 §9.2.7). */
  private def readResiduals(r: BitReader, n: Int, ord: Int): Array[Long] = {
    val method = r.bitsLong(2).toInt
    if (method > 1) throw new IllegalStateException("bad residual method")
    val pBits = if (method == 0) 4 else 5
    val escape = (1 << pBits) - 1
    val partOrder = r.bitsLong(4).toInt
    val nParts = 1 << partOrder
    if (partOrder > 0 && (n % nParts != 0 || n / nParts <= ord))
      throw new IllegalStateException("bad partition order")
    val res = new Array[Long](n - ord)
    var idx = 0
    var part = 0
    while (part < nParts) {
      val count = (if (partOrder == 0) n else n / nParts) -
        (if (part == 0) ord else 0)
      val p = r.bitsLong(pBits).toInt
      if (p == escape) {
        val width = r.bitsLong(5).toInt // 0 = all-zero residuals
        var j = 0
        while (j < count) {
          res(idx) = if (width == 0) 0L else sext(r.bitsLong(width), width)
          idx += 1; j += 1
        }
      } else {
        var j = 0
        while (j < count) {
          val q = readUnary(r).toLong
          res(idx) = unzigzag((q << p) | (if (p > 0) r.bitsLong(p) else 0L))
          idx += 1; j += 1
        }
      }
      part += 1
    }
    res
  }

  /** Read one subframe at `bps` bits: CONSTANT / VERBATIM / FIXED
    * orders 0–4 / LPC orders 1–32 with quantized-coefficient
    * reconstruction (64-bit accumulator, arithmetic shift). */
  private def readSubframe(r: BitReader, n: Int, bps: Int): Array[Int] = {
    if (r.bitsLong(1) != 0) throw new IllegalStateException("pad bit")
    val typ = r.bitsLong(6).toInt
    if (r.bitsLong(1) != 0) // wasted bits unsupported
      throw new IllegalStateException("wasted bits")
    val block = new Array[Int](n)
    if (typ == 0) { // CONSTANT
      java.util.Arrays.fill(block, sext(r.bitsLong(bps), bps))
    } else if (typ == 1) { // VERBATIM
      var i = 0
      while (i < n) { block(i) = sext(r.bitsLong(bps), bps); i += 1 }
    } else if (typ >= 8 && typ <= 12) { // FIXED order 0-4
      val k = typ - 8
      if (k > n) throw new IllegalStateException("order > block")
      var i = 0
      while (i < k) { block(i) = sext(r.bitsLong(bps), bps); i += 1 }
      val res = readResiduals(r, n, k)
      i = k
      while (i < n) { block(i) = fixedRestore(block, i, k, res(i - k)); i += 1 }
    } else if (typ >= 32) { // LPC, order = typ - 31
      val ord = typ - 31
      if (ord > n) throw new IllegalStateException("order > block")
      var i = 0
      while (i < ord) { block(i) = sext(r.bitsLong(bps), bps); i += 1 }
      val precM1 = r.bitsLong(4).toInt
      if (precM1 == 15) throw new IllegalStateException("invalid precision")
      val prec = precM1 + 1
      val shift = r.bitsLong(5).toInt
      if ((shift & 0x10) != 0) // 5-bit two's complement; negative invalid
        throw new IllegalStateException("negative lpc shift")
      val coefs = Array.fill(ord)(sext(r.bitsLong(prec), prec))
      val res = readResiduals(r, n, ord)
      i = ord
      while (i < n) {
        block(i) = (res(i - ord) + lpcPredict(block, i, coefs, shift)).toInt
        i += 1
      }
    } else throw new IllegalStateException(s"reserved subframe type $typ")
    block
  }

  /** Decode a 16-bit FLAC stream back to samples: verified STREAMINFO
    * walk, per-frame CRC-8 + CRC-16, CONSTANT / VERBATIM / FIXED / LPC
    * subframes, Rice + escape residuals, mono or stereo with all three
    * decorrelation modes (left/side, right/side, mid/side — side
    * channels at bps+1), final MD5 over the interleaved samples.
    * Corrupt / unsupported → None. */
  def decodeFlac(bytes: Array[Byte]): Option[FlacAudio] =
    try {
      if (bytes.length < 4 + 4 + 34 + 2) return None
      if (new String(bytes, 0, 4, "US-ASCII") != "fLaC") return None
      // metadata blocks: walk until last-flag; need STREAMINFO first
      var off = 4
      var rate = -1; var totalSamples = -1L; var md5 = Array.empty[Byte]
      var channels = -1
      var last = false
      var sawStreamInfo = false
      while (!last) {
        if (off + 4 > bytes.length) return None
        val hdr = bytes(off) & 0xff
        last = (hdr & 0x80) != 0
        val typ = hdr & 0x7f
        val len = Bytes.u24be(bytes, off + 1)
        if (off + 4 + len > bytes.length) return None
        if (typ == 0) {
          if (len != 34) return None
          val r = new BitReader(bytes, off + 4)
          r.bitsLong(16); r.bitsLong(16); r.bitsLong(24); r.bitsLong(24)
          rate = r.bitsLong(20).toInt
          channels = r.bitsLong(3).toInt + 1
          val bps = r.bitsLong(5).toInt + 1
          if (channels > 2 || bps != 16) return None // subset contract
          totalSamples = r.bitsLong(36)
          md5 = Array.tabulate(16)(_ => r.bitsLong(8).toByte)
          sawStreamInfo = true
        }
        off += 4 + len
      }
      if (!sawStreamInfo || totalSamples < 0 ||
        totalSamples * channels > (1L << 26)) return None
      val samples = new Array[Int]((totalSamples * channels).toInt)
      var got = 0L
      var frames = 0
      while (got < totalSamples) {
        val frameStart = off
        val r = new BitReader(bytes, off)
        if (r.bitsLong(14) != 0x3ffe) return None // sync
        r.bitsLong(1) // reserved
        if (r.bitsLong(1) != 0) return None // fixed blocksize only
        val bsBits = r.bitsLong(4).toInt
        val srBits = r.bitsLong(4).toInt
        val chan = r.bitsLong(4).toInt
        val ssBits = r.bitsLong(3).toInt
        r.bitsLong(1)
        if (ssBits != 4) return None // 16-bit only
        val frameChannels =
          if (chan <= 7) chan + 1 else if (chan <= 10) 2 else return None
        if (frameChannels != channels) return None
        readUtf8Number(r)
        val n = bsBits match {
          case 0x6 => r.bitsLong(8).toInt + 1
          case 0x7 => r.bitsLong(16).toInt + 1
          case 0x1 => 192
          case b if b >= 2 && b <= 5 => 576 << (b - 2)
          case b if b >= 8 => 256 << (b - 8)
          case _ => return None
        }
        if (srBits == 0xc) r.bitsLong(8)
        else if (srBits == 0xd || srBits == 0xe) r.bitsLong(16)
        else if (srBits == 0xf) return None
        if (!r.aligned) return None // header is byte-aligned here
        val headerEnd = r.bytePos
        if (crc8(bytes, frameStart, headerEnd) !=
          (bytes(headerEnd) & 0xff)) return None
        if (got + n > totalSamples) return None

        val br = new BitReader(bytes, headerEnd + 1)
        if (channels == 1) {
          val block = readSubframe(br, n, 16)
          System.arraycopy(block, 0, samples, got.toInt, n)
        } else {
          // side channels carry one extra bit (RFC 9639 §9.1.3)
          val (b0, b1) = chan match {
            case 1 => (readSubframe(br, n, 16), readSubframe(br, n, 16))
            case 8 => (readSubframe(br, n, 16), readSubframe(br, n, 17))
            case 9 => (readSubframe(br, n, 17), readSubframe(br, n, 16))
            case 10 => (readSubframe(br, n, 16), readSubframe(br, n, 17))
            case _ => return None
          }
          var i = 0
          while (i < n) {
            val (l, rr) = chan match {
              case 1 => (b0(i), b1(i))
              case 8 => (b0(i), b0(i) - b1(i)) // left/side
              case 9 => (b1(i) + b0(i), b1(i)) // right/side
              case _ => // mid/side: mid lost side's low bit to >>1
                val m2 = (b0(i) << 1) | (b1(i) & 1)
                ((m2 + b1(i)) >> 1, (m2 - b1(i)) >> 1)
            }
            val at = (got.toInt + i) * 2
            samples(at) = l; samples(at + 1) = rr
            i += 1
          }
        }
        br.alignByte()
        val bodyEnd = br.bytePos
        if (bodyEnd + 2 > bytes.length) return None
        val declared = Bytes.u16be(bytes, bodyEnd)
        if (crc16(bytes, frameStart, bodyEnd) != declared) return None
        got += n
        frames += 1
        off = bodyEnd + 2
      }
      // the format's own round-trip referee: MD5 over decoded samples
      val md = MessageDigest.getInstance("MD5")
      samples.foreach { s => md.update(s.toByte); md.update((s >> 8).toByte) }
      val md5Ok = java.util.Arrays.equals(md.digest(), md5)
      if (!md5Ok) return None
      Some(FlacAudio(rate, channels, samples, frames, md5Ok))
    } catch { case _: Exception => None }

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  final case class FlacRow(doc_id: Long, n_samples: Int, frames: Int,
      peak: Int, sum_abs: Long, zero_crossings: Int)

  val defs: Seq[QueryDef] = Seq(

    // ----- REAL FLAC decode: frames → residuals → samples → gates ----
    // Each doc becomes a byte-valid FLAC subset stream (block 256;
    // constant first block every 5th doc, verbatim every 7th frame,
    // fixed orders cycling otherwise) whose samples follow an
    // arithmetic ramp; the decoder undoes rice + predictors and the
    // in-format MD5 seals the round trip. The oracle replays the ramp:
    // frames = ceil(n/256) checks the frame walk, the signal stats
    // check every reconstructed sample.
    QueryDef(
      "q341_flac_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text").fanout.as[(Long, String)]
          .map { case (id, _) =>
            val n = (300 + id % 500).toInt
            val const = (id % 2000).toInt - 1000
            val samples = Array.tabulate(n) { t =>
              if (id % 5 == 0 && t < 256) const
              else ((id * 37 + t.toLong * 23) % 3989).toInt - 1994
            }
            val bytes = encodeFlac(samples, 256, 8000)
            decodeFlac(bytes) match {
              case Some(a) =>
                val st = Pcm.stats(id, a.samples, clipAt = Int.MaxValue)
                FlacRow(id, st.n_samples, a.frames, st.peak, st.sum_abs,
                  st.zero_crossings)
              case None => FlacRow(id, -1, -1, -1, -1L, -1)
            }
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, 300 + doc_id % 500 AS n,
                 doc_id % 2000 - 1000 AS cval FROM documents),
        ts AS (SELECT doc_id, n, cval,
                      unnest(generate_series(0, n - 1)) AS t FROM base),
        sm AS (SELECT doc_id, n, t,
                      CASE WHEN doc_id % 5 = 0 AND t < 256 THEN cval
                           ELSE (doc_id * 37 + t * 23) % 3989 - 1994
                      END AS s
               FROM ts),
        lagd AS (SELECT doc_id, n, s,
                        lag(s) OVER (PARTITION BY doc_id ORDER BY t) AS prev
                 FROM sm)
        SELECT doc_id,
               CAST(COUNT(*) AS INT) AS n_samples,
               CAST((MAX(n) + 255) // 256 AS INT) AS frames,
               CAST(MAX(ABS(s)) AS INT) AS peak,
               CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
               CAST(SUM(CASE WHEN prev * s < 0 THEN 1 ELSE 0 END) AS INT)
                 AS zero_crossings
        FROM lagd
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- FLAC stereo + LPC decode: the other half of RFC 9639 -------
    // Channel modes cycle per frame (independent → left/side →
    // right/side → mid/side; side subframes carry 17 bits) and even
    // frames put an LPC subframe (order 2, per-frame quantized
    // coefficients, 10-bit shift) on channel 0 — so every stream
    // exercises all three decorrelations AND coefficient
    // reconstruction. STREAMINFO's MD5 covers the interleaved
    // samples: any decorrelation or LPC slip fails the whole decode,
    // and the oracle replays both channels' formulas arithmetically.
    QueryDef(
      "q363_flac_stereo_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val n = (300 + id % 500).toInt
            val left = Array.tabulate(n)(t =>
              ((id * 37 + t.toLong * 23) % 3989).toInt - 1994)
            val right = Array.tabulate(n)(t =>
              ((id * 29 + t.toLong * 17) % 3163).toInt - 1581)
            val bytes = encodeFlacStereo(left, right, 128, 16000)
            decodeFlac(bytes) match {
              case Some(a) if a.channels == 2 =>
                val l = a.channel(0); val r = a.channel(1)
                (id, l.length, a.frames,
                  l.foldLeft(0L)(_ + math.abs(_)),
                  r.foldLeft(0L)(_ + math.abs(_)))
              case _ => (id, -1, -1, -1L, -1L)
            }
          }
          .toDF("doc_id", "n_samples", "frames", "sum_abs_l", "sum_abs_r")
          .orderBy($"doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, 300 + doc_id % 500 AS n FROM documents),
        ts AS (SELECT doc_id, n,
                      unnest(generate_series(0, n - 1)) AS t FROM base)
        SELECT doc_id,
               CAST(COUNT(*) AS INT) AS n_samples,
               CAST((MAX(n) + 127) // 128 AS INT) AS frames,
               CAST(SUM(ABS((doc_id * 37 + t * 23) % 3989 - 1994))
                 AS BIGINT) AS sum_abs_l,
               CAST(SUM(ABS((doc_id * 29 + t * 17) % 3163 - 1581))
                 AS BIGINT) AS sum_abs_r
        FROM ts
        GROUP BY doc_id
        ORDER BY doc_id"""))
  )
}
