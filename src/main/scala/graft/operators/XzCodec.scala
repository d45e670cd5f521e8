package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.Bytes.{crc32, i64le, le32, u16be, u32le}

/** XZ container + LZMA2/LZMA DECODER — pure JVM, from spec.
  *
  * `.tar.xz`/`.txz` is the dominant source-tarball format a
  * code-corpus pipeline meets on day one (every GNU/kernel.org/PyPI
  * sdist mirror ships it), and the repo had zero xz support. This
  * closes it: the full `.xz` container (stream header/footer with
  * CRC32-protected flags, block headers with optional declared sizes
  * and CRC32, block padding, CRC32/CRC64/SHA-256 integrity checks,
  * the index with record reconciliation, backward-size verification,
  * multi-stream concatenation with stream padding) over a from-spec
  * LZMA2 chunk layer (dict/state/props reset control bytes,
  * uncompressed chunks) and a complete LZMA decoder (11-bit
  * adaptive-probability range coder, literal/match/rep state machine
  * with matched literals, position slots, reverse bit-tree distance
  * models, the align field).
  *
  * Sources are public: the .xz file format specification
  * (tukaani.org/xz/xz-file-format.txt, sections 2-5) for the
  * container, and Igor Pavlov's public-domain LZMA specification
  * (LzmaSpec from the LZMA SDK) for the range coder and state
  * machine. The LZMA2 control-byte acceptance rules mirror the
  * reference Java implementation's (xz-java LZMA2InputStream):
  * first chunk must reset the dictionary, props must precede the
  * first stateful chunk.
  *
  * Referee posture (the zstd/snappy/brotli pattern): xz-java
  * (`org.tukaani.xz`, the reference Java implementation, on the Spark
  * classpath as xz-1.10.jar) encodes real full-entropy streams that
  * this decoder must reproduce byte-exactly, and this file's
  * stored-chunk and literal-only-LZMA emitters produce streams the
  * reference must accept — both directions, plus the in-container
  * `xz` CLI. Corrupt input → None, never a throw: every declared
  * length is bounds-checked in Long, every CRC verified, and a match
  * reaching past the dictionary-reset barrier or the declared
  * dictionary size rejects.
  *
  * Decode is map-side per-blob: at cluster scale each executor
  * decodes its own shards with zero shuffle, like [[ZstdCodec]].
  */
object XzCodec {

  /** Decoded-output cap per blob (zip-bomb posture), as [[ZstdCodec]]. */
  val MaxOut: Int = 1 << 26

  private final class Corrupt extends RuntimeException(null, null, false, false)
  private def fail(): Nothing = throw new Corrupt

  // ------------------------------------------------------------------
  // checksums: CRC32 (JDK), CRC64-XZ (ECMA-182 reflected, poly
  // 0xC96C5795D7870F42, init/xorout ~0 — xz spec section 6), SHA-256
  // ------------------------------------------------------------------

  private val crc64Table: Array[Long] = {
    val poly = 0xC96C5795D7870F42L
    val t = new Array[Long](256)
    var i = 0
    while (i < 256) {
      var c = i.toLong
      var k = 0
      while (k < 8) {
        c = if ((c & 1L) != 0) (c >>> 1) ^ poly else c >>> 1
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }

  def crc64(b: Array[Byte], off: Int, len: Int): Long = {
    var c = -1L
    var i = off
    while (i < off + len) {
      c = crc64Table(((c ^ b(i)) & 0xff).toInt) ^ (c >>> 8)
      i += 1
    }
    ~c
  }

  // ------------------------------------------------------------------
  // little-endian reads + the xz variable-length integer (section 1.2:
  // 7 bits per byte, 0x80 continuation, max 9 bytes, minimal encoding)
  // ------------------------------------------------------------------

  private def vli(b: Array[Byte], off: Int): (Long, Int) =
    // at most 9 bytes, and no zero final byte (a non-minimal encoding)
    Bytes.varint(b, off).filter { case (_, next) =>
      next - off <= 9 && (next - off == 1 || b(next - 1) != 0)
    }.getOrElse(fail())

  // ------------------------------------------------------------------
  // output window: linear buffer with a dictionary-reset barrier —
  // matches may not reach before the barrier or past the declared
  // dictionary size
  // ------------------------------------------------------------------

  private final class OutBuf(maxOut: Int) {
    var buf = new Array[Byte](1 << 16)
    var len = 0
    var dictStart = 0
    private def ensure(extra: Int): Unit = {
      if (extra < 0 || extra > maxOut - len) fail()
      if (len + extra > buf.length) {
        var cap = buf.length.toLong
        while (cap < len + extra) cap = cap * 2
        buf = java.util.Arrays.copyOf(buf, math.min(cap, maxOut.toLong).toInt)
      }
    }
    def put(x: Byte): Unit = { ensure(1); buf(len) = x; len += 1 }
    def append(src: Array[Byte], off: Int, n: Int): Unit = {
      ensure(n); System.arraycopy(src, off, buf, len, n); len += n
    }
    def copyMatch(dist1: Int, n: Int): Unit = {
      if (dist1 <= 0 || dist1 > len - dictStart) fail()
      ensure(n)
      var k = 0
      while (k < n) { buf(len) = buf(len - dist1); len += 1; k += 1 }
    }
    def result: Array[Byte] = java.util.Arrays.copyOfRange(buf, 0, len)
  }

  // ------------------------------------------------------------------
  // LZMA range decoder (LzmaSpec: 32-bit range/code, 11-bit adaptive
  // probabilities, shift-5 adaptation). Int arithmetic wraps exactly
  // like the spec's UInt32; comparisons are unsigned.
  // ------------------------------------------------------------------

  private final class RangeDec(b: Array[Byte], var pos: Int, val end: Int) {
    var range: Int = -1 // 0xFFFFFFFF
    var code: Int = 0

    def init(): Unit = {
      if (pos + 5 > end || end > b.length) fail()
      if (b(pos) != 0) fail()
      pos += 1
      var i = 0
      while (i < 4) { code = (code << 8) | (b(pos) & 0xff); pos += 1; i += 1 }
    }

    private def normalize(): Unit =
      if ((range & 0xff000000) == 0) {
        if (pos >= end) fail()
        range <<= 8
        code = (code << 8) | (b(pos) & 0xff)
        pos += 1
      }

    def decodeBit(probs: Array[Int], i: Int): Int = {
      val p = probs(i)
      val bound = (range >>> 11) * p
      if (Integer.compareUnsigned(code, bound) < 0) {
        probs(i) = p + ((2048 - p) >>> 5)
        range = bound
        normalize()
        0
      } else {
        probs(i) = p - (p >>> 5)
        code -= bound
        range -= bound
        normalize()
        1
      }
    }

    def decodeDirect(numBits: Int): Int = {
      var res = 0
      var n = numBits
      while (n > 0) {
        range = range >>> 1
        code -= range
        val t = 0 - (code >>> 31)
        code += range & t
        normalize()
        res = (res << 1) + t + 1
        n -= 1
      }
      res
    }
  }

  private def treeDecode(rc: RangeDec, probs: Array[Int], base: Int,
      n: Int): Int = {
    var m = 1
    var k = 0
    while (k < n) { m = (m << 1) | rc.decodeBit(probs, base + m); k += 1 }
    m - (1 << n)
  }

  private def reverseTreeDecode(rc: RangeDec, probs: Array[Int], base: Int,
      n: Int): Int = {
    var m = 1
    var sym = 0
    var k = 0
    while (k < n) {
      val bit = rc.decodeBit(probs, base + m)
      m = (m << 1) | bit
      sym |= bit << k
      k += 1
    }
    sym
  }

  // ------------------------------------------------------------------
  // LZMA probability model + state (LzmaSpec layout)
  // ------------------------------------------------------------------

  private final class LzmaDec(val lc: Int, val lp: Int, val pb: Int) {
    val lit = new Array[Int](0x300 << (lc + lp))
    val isMatch = new Array[Int](12 << 4)
    val isRep = new Array[Int](12)
    val isRepG0 = new Array[Int](12)
    val isRepG1 = new Array[Int](12)
    val isRepG2 = new Array[Int](12)
    val isRep0Long = new Array[Int](12 << 4)
    val posSlot = new Array[Int](4 * 64)
    val specPos = new Array[Int](115)
    val align = new Array[Int](16)
    val lenCh = new Array[Int](2)
    val lenLow = new Array[Int](16 * 8)
    val lenMid = new Array[Int](16 * 8)
    val lenHigh = new Array[Int](256)
    val repCh = new Array[Int](2)
    val repLow = new Array[Int](16 * 8)
    val repMid = new Array[Int](16 * 8)
    val repHigh = new Array[Int](256)
    var state = 0
    var rep0 = 0; var rep1 = 0; var rep2 = 0; var rep3 = 0
    reset()
    def reset(): Unit = {
      Seq(lit, isMatch, isRep, isRepG0, isRepG1, isRepG2, isRep0Long,
        posSlot, specPos, align, lenCh, lenLow, lenMid, lenHigh,
        repCh, repLow, repMid, repHigh)
        .foreach(a => java.util.Arrays.fill(a, 1024))
      state = 0; rep0 = 0; rep1 = 0; rep2 = 0; rep3 = 0
    }
  }

  private def decodeLen(rc: RangeDec, ch: Array[Int], low: Array[Int],
      mid: Array[Int], high: Array[Int], posState: Int): Int =
    if (rc.decodeBit(ch, 0) == 0) treeDecode(rc, low, posState << 3, 3)
    else if (rc.decodeBit(ch, 1) == 0) 8 + treeDecode(rc, mid, posState << 3, 3)
    else 16 + treeDecode(rc, high, 0, 8)

  /** Decode one LZMA chunk: exactly `limit - out.len` bytes (or, when
    * `allowEnd`, until the 0xFFFFFFFF end marker — the LZMA1 "alone"
    * path; returns true when the marker ended the stream). posState
    * and the literal position context derive from the position since
    * the dictionary-reset barrier, matching the reference decoders. */
  private def decodeLzmaChunk(dec: LzmaDec, rc: RangeDec, out: OutBuf,
      limit: Int, dictSize: Long, allowEnd: Boolean = false): Boolean = {
    val pbMask = (1 << dec.pb) - 1
    val lpMask = (1 << dec.lp) - 1
    while (out.len < limit) {
      val posState = (out.len - out.dictStart) & pbMask
      if (rc.decodeBit(dec.isMatch, (dec.state << 4) + posState) == 0) {
        // literal
        val prev =
          if (out.len == out.dictStart) 0 else out.buf(out.len - 1) & 0xff
        val litState = (((out.len - out.dictStart) & lpMask) << dec.lc) +
          (prev >>> (8 - dec.lc))
        val base = 0x300 * litState
        var sym = 1
        if (dec.state >= 7) {
          // matched literal: bits predicted by the byte at distance rep0+1
          val d1 = dec.rep0 + 1
          if (d1 <= 0 || d1 > out.len - out.dictStart) fail()
          var matchByte = out.buf(out.len - d1) & 0xff
          var diverged = false
          while (!diverged && sym < 0x100) {
            val matchBit = (matchByte >>> 7) & 1
            matchByte = (matchByte << 1) & 0xff
            val bit = rc.decodeBit(dec.lit,
              base + ((1 + matchBit) << 8) + sym)
            sym = (sym << 1) | bit
            if (matchBit != bit) diverged = true
          }
        }
        while (sym < 0x100) sym = (sym << 1) | rc.decodeBit(dec.lit, base + sym)
        out.put((sym & 0xff).toByte)
        dec.state =
          if (dec.state < 4) 0
          else if (dec.state < 10) dec.state - 3
          else dec.state - 6
      } else {
        var lenRaw = 0
        var doCopy = true
        if (rc.decodeBit(dec.isRep, dec.state) != 0) {
          // rep match — the window must be non-empty
          if (out.len == out.dictStart) fail()
          if (rc.decodeBit(dec.isRepG0, dec.state) == 0) {
            if (rc.decodeBit(dec.isRep0Long,
                (dec.state << 4) + posState) == 0) {
              // short rep: one byte at rep0
              dec.state = if (dec.state < 7) 9 else 11
              val d1 = dec.rep0 + 1
              if (d1 <= 0 || d1 > out.len - out.dictStart) fail()
              if (out.len + 1 > limit) fail()
              out.put(out.buf(out.len - d1))
              doCopy = false
            } else {
              lenRaw = decodeLen(rc, dec.repCh, dec.repLow, dec.repMid,
                dec.repHigh, posState)
              dec.state = if (dec.state < 7) 8 else 11
            }
          } else {
            val dist =
              if (rc.decodeBit(dec.isRepG1, dec.state) == 0) dec.rep1
              else {
                val d =
                  if (rc.decodeBit(dec.isRepG2, dec.state) == 0) dec.rep2
                  else { val t = dec.rep3; dec.rep3 = dec.rep2; t }
                dec.rep2 = dec.rep1
                d
              }
            dec.rep1 = dec.rep0
            dec.rep0 = dist
            lenRaw = decodeLen(rc, dec.repCh, dec.repLow, dec.repMid,
              dec.repHigh, posState)
            dec.state = if (dec.state < 7) 8 else 11
          }
        } else {
          // new match: rotate rep history, decode length then distance
          dec.rep3 = dec.rep2; dec.rep2 = dec.rep1; dec.rep1 = dec.rep0
          lenRaw = decodeLen(rc, dec.lenCh, dec.lenLow, dec.lenMid,
            dec.lenHigh, posState)
          dec.state = if (dec.state < 7) 7 else 10
          val lenState = math.min(lenRaw, 3)
          val slot = treeDecode(rc, dec.posSlot, lenState << 6, 6)
          if (slot < 4) dec.rep0 = slot
          else {
            val numDirect = (slot >>> 1) - 1
            var dist = (2 | (slot & 1)) << numDirect
            if (slot < 14)
              dist += reverseTreeDecode(rc, dec.specPos, dist - slot,
                numDirect)
            else {
              dist += rc.decodeDirect(numDirect - 4) << 4
              dist += reverseTreeDecode(rc, dec.align, 0, 4)
            }
            // 0xFFFFFFFF is the end marker: legal only where the
            // caller says so (LZMA1 alone streams) — never in LZMA2
            if (dist == -1) {
              if (allowEnd) return true
              fail()
            }
            dec.rep0 = dist
          }
        }
        if (doCopy) {
          val matchLen = lenRaw + 2
          val d1 = Integer.toUnsignedLong(dec.rep0) + 1
          if (Integer.toUnsignedLong(dec.rep0) >= dictSize) fail()
          if (d1 > (out.len - out.dictStart).toLong) fail()
          if (out.len + matchLen > limit) fail()
          out.copyMatch(d1.toInt, matchLen)
        }
      }
    }
    false
  }

  // ------------------------------------------------------------------
  // LZMA2 chunk layer. Control-byte acceptance mirrors the reference
  // Java decoder: 0x00 ends the stream; 0x01/0x02 uncompressed chunks
  // (with/without dict reset); >= 0x80 LZMA chunks with reset bits
  // (control>>5)&3 — 3 = props+state+dict, 2 = props+state, 1 = state.
  // The first chunk must reset the dictionary; props must be present
  // before the first stateful chunk (and again after a 0x01 chunk).
  // ------------------------------------------------------------------

  private def decodeLzma2(b: Array[Byte], off0: Int, out: OutBuf,
      dictSize: Long): Int = {
    var i = off0
    var dec: LzmaDec = null
    var needDictReset = true
    var needProps = true
    var done = false
    while (!done) {
      if (i >= b.length) fail()
      val control = b(i) & 0xff
      if (control == 0x00) { i += 1; done = true }
      else {
        if (control >= 0xe0 || control == 0x01) {
          needProps = true
          needDictReset = false
          out.dictStart = out.len
        } else if (needDictReset) fail()
        if (control >= 0x80) {
          val unpacked = ((control & 0x1f) << 16) + u16be(b, i + 1) + 1
          val packed = u16be(b, i + 3) + 1
          var p = i + 5
          if (control >= 0xc0) {
            if (p >= b.length) fail()
            val props = b(p) & 0xff
            p += 1
            if (props > 224) fail()
            val lcv = props % 9
            val lpv = (props / 9) % 5
            val pbv = props / 45
            if (pbv > 4 || lcv + lpv > 4) fail() // LZMA2 constraint
            dec = new LzmaDec(lcv, lpv, pbv)
            needProps = false
          } else if (needProps) fail()
          else if (control >= 0xa0) dec.reset()
          if (p + packed > b.length) fail()
          val rc = new RangeDec(b, p, p + packed)
          rc.init()
          decodeLzmaChunk(dec, rc, out, out.len + unpacked, dictSize)
          // the encoder's 5-byte flush emits exactly the residual low
          // value, so an untampered chunk ends with code == 0 — the
          // reference decoders enforce this and it closes the
          // dead-slack-bit tamper window
          if (rc.pos != p + packed || rc.code != 0) fail()
          i = p + packed
        } else {
          if (control > 0x02) fail()
          val size = u16be(b, i + 1) + 1
          if (i + 3 + size > b.length) fail()
          out.append(b, i + 3, size)
          i += 3 + size
        }
      }
    }
    i
  }

  // ------------------------------------------------------------------
  // delta filter (id 0x03): byte-wise cumulative sum at the props
  // distance (xz spec section 5.3.2)
  // ------------------------------------------------------------------

  private def deltaDecodeInPlace(buf: Array[Byte], from: Int, until: Int,
      dist: Int): Unit = {
    var i = from + dist
    while (i < until) { buf(i) = (buf(i) + buf(i - dist)).toByte; i += 1 }
  }

  /** Fixture-side delta ENCODE (the inverse of the decode filter). */
  def deltaEncode(data: Array[Byte], dist: Int): Array[Byte] = {
    val out = data.clone()
    var i = out.length - 1
    while (i >= dist) { out(i) = (out(i) - out(i - dist)).toByte; i -= 1 }
    out
  }

  // ------------------------------------------------------------------
  // container: block, index, footer (xz spec sections 2-4)
  // ------------------------------------------------------------------

  private def checkSizeOf(checkType: Int): Int = checkType match {
    case 0  => 0
    case 1  => 4  // CRC32
    case 4  => 8  // CRC64
    case 10 => 32 // SHA-256
    case _  => fail() // reserved / unsupported check id
  }

  /** Parse one block; returns (unpaddedSize, uncompressedSize, next). */
  private def parseBlock(b: Array[Byte], off: Int, checkType: Int,
      checkSz: Int, out: OutBuf): (Long, Long, Int) = {
    val hdrSize = ((b(off) & 0xff) + 1) * 4
    if (off + hdrSize > b.length) fail()
    val flags = b(off + 1) & 0xff
    if ((flags & 0x3c) != 0) fail() // reserved bits
    val nFilters = (flags & 3) + 1
    var p = off + 2
    var declComp = -1L
    var declUnc = -1L
    if ((flags & 0x40) != 0) { val (v, np) = vli(b, p); declComp = v; p = np }
    if ((flags & 0x80) != 0) { val (v, np) = vli(b, p); declUnc = v; p = np }
    var deltas = List.empty[Int] // decode order (reverse of chain order)
    var dictSize = -1L
    var fk = 0
    while (fk < nFilters) {
      val (fid, p1) = vli(b, p)
      val (psz, p2) = vli(b, p1)
      p = p2
      if (psz < 0 || p + psz > off + hdrSize - 4) fail()
      if (fk == nFilters - 1) {
        // the chain must end with LZMA2 (0x21), props = 1 dict-size byte
        if (fid != 0x21 || psz != 1) fail()
        val db = b(p) & 0xff
        if ((db & 0xc0) != 0) fail()
        val bits = db & 0x3f
        if (bits > 40) fail()
        dictSize =
          if (bits == 40) 0xffffffffL
          else (2L | (bits & 1)) << (bits / 2 + 11)
      } else {
        // only the delta filter is supported as a non-last filter
        if (fid != 0x03 || psz != 1) fail()
        deltas ::= (b(p) & 0xff) + 1
      }
      p += psz.toInt
      fk += 1
    }
    while (p < off + hdrSize - 4) { if (b(p) != 0) fail(); p += 1 }
    if (crc32(b, off, hdrSize - 4) != u32le(b, off + hdrSize - 4)) fail()
    val dataOff = off + hdrSize
    val outStart = out.len
    val dataEnd = decodeLzma2(b, dataOff, out, dictSize)
    val comp = (dataEnd - dataOff).toLong
    if (declComp >= 0 && declComp != comp) fail()
    val unc = (out.len - outStart).toLong
    if (declUnc >= 0 && declUnc != unc) fail()
    deltas.foreach(d => deltaDecodeInPlace(out.buf, outStart, out.len, d))
    // block padding to a multiple of 4
    var q = dataEnd
    var padN = ((4 - comp % 4) % 4).toInt
    while (padN > 0) {
      if (q >= b.length || b(q) != 0) fail()
      q += 1; padN -= 1
    }
    if (q + checkSz > b.length) fail()
    checkType match {
      case 0 =>
      case 1 =>
        if (crc32(out.buf, outStart, out.len - outStart) != u32le(b, q)) fail()
      case 4 =>
        if (crc64(out.buf, outStart, out.len - outStart) != i64le(b, q)) fail()
      case 10 =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        md.update(out.buf, outStart, out.len - outStart)
        val dig = md.digest()
        var k = 0
        while (k < 32) { if (dig(k) != b(q + k)) fail(); k += 1 }
    }
    (hdrSize + comp + checkSz, unc, q + checkSz)
  }

  /** Parse one stream starting at `off0`; returns the offset just
    * past the footer. Decoded content appends to `out`. */
  private def parseStream(b: Array[Byte], off0: Int, out: OutBuf): Int = {
    var i = off0
    if (i + 12 > b.length) fail()
    if (b(i) != 0xfd.toByte || b(i + 1) != '7' || b(i + 2) != 'z' ||
      b(i + 3) != 'X' || b(i + 4) != 'Z' || b(i + 5) != 0) fail()
    if (b(i + 6) != 0) fail()
    val checkType = b(i + 7) & 0xff
    if ((checkType & 0xf0) != 0) fail()
    val checkSz = checkSizeOf(checkType)
    if (crc32(b, i + 6, 2) != u32le(b, i + 8)) fail()
    i += 12
    var records = Vector.empty[(Long, Long)]
    while ({ if (i >= b.length) fail(); b(i) != 0 }) {
      val (up, un, ni) = parseBlock(b, i, checkType, checkSz, out)
      records :+= ((up, un))
      i = ni
    }
    // index: indicator, record count, records, padding, CRC32
    val idxStart = i
    i += 1
    val (cnt, i2) = vli(b, i)
    i = i2
    if (cnt != records.size) fail()
    records.foreach { case (up, un) =>
      val (u1, ia) = vli(b, i)
      val (u2, ib2) = vli(b, ia)
      i = ib2
      if (u1 != up || u2 != un) fail()
    }
    while ((i - idxStart) % 4 != 0) {
      if (i >= b.length || b(i) != 0) fail()
      i += 1
    }
    if (crc32(b, idxStart, i - idxStart) != u32le(b, i)) fail()
    i += 4
    val indexSize = i - idxStart
    // footer: CRC32(backward+flags), backward size, flags, "YZ"
    if (i + 12 > b.length) fail()
    if (crc32(b, i + 4, 6) != u32le(b, i)) fail()
    if ((u32le(b, i + 4) + 1) * 4 != indexSize) fail()
    if (b(i + 8) != 0 || (b(i + 9) & 0xff) != checkType) fail()
    if (b(i + 10) != 'Y' || b(i + 11) != 'Z') fail()
    i + 12
  }

  /** Full-container decode: one or more concatenated streams with
    * optional 4-aligned zero stream padding between/after. Corrupt,
    * truncated, or unsupported-filter input → None. */
  def xzDecompress(b: Array[Byte], maxOut: Int = MaxOut): Option[Array[Byte]] =
    try {
      if (b == null || b.length < 32) return None
      val out = new OutBuf(maxOut)
      var i = 0
      var sawStream = false
      var done = false
      while (!done) {
        i = parseStream(b, i, out)
        sawStream = true
        // stream padding: zero bytes, multiple of four
        val padStart = i
        while (i < b.length && b(i) == 0) i += 1
        if ((i - padStart) % 4 != 0) fail()
        if (i >= b.length) done = true
      }
      if (!sawStream) fail()
      Some(out.result)
    } catch {
      case _: Corrupt | _: ArrayIndexOutOfBoundsException |
        _: NegativeArraySizeException => None
    }

  // ------------------------------------------------------------------
  // fixture emitters: spec-valid encoders in the runtime-encoder mold
  // (stored-mode zstd / literal-only snappy) — real containers the
  // reference implementation accepts (refereed in XzCodecSpec)
  // ------------------------------------------------------------------

  /** LZMA2 stream of uncompressed chunks (0x01 then 0x02). */
  def lzma2Stored(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + 16)
    var off = 0
    var first = true
    while (off < data.length) {
      val n = math.min(1 << 16, data.length - off)
      out.write(if (first) 0x01 else 0x02)
      out.write(((n - 1) >>> 8) & 0xff)
      out.write((n - 1) & 0xff)
      out.write(data, off, n)
      off += n
      first = false
    }
    out.write(0x00)
    out.toByteArray
  }

  /** LZMA range ENCODER (LzmaSpec's cache/cacheSize carry scheme). */
  private final class RangeEnc(out: ByteArrayOutputStream) {
    private var low = 0L // 33-bit value: bit 32 is the carry
    private var range: Int = -1
    private var cacheSize = 1L
    private var cache = 0

    private def shiftLow(): Unit = {
      if ((low & 0xffffffffL) < 0xff000000L || (low >>> 32) != 0) {
        var temp = cache
        var more = true
        while (more) {
          out.write((temp + (low >>> 32)).toInt & 0xff)
          temp = 0xff
          cacheSize -= 1
          more = cacheSize != 0
        }
        cache = ((low >>> 24) & 0xff).toInt
      }
      cacheSize += 1
      low = (low & 0x00ffffffL) << 8
    }

    def encodeBit(probs: Array[Int], i: Int, bit: Int): Unit = {
      val p = probs(i)
      val bound = (range >>> 11) * p
      if (bit == 0) {
        range = bound
        probs(i) = p + ((2048 - p) >>> 5)
      } else {
        low += Integer.toUnsignedLong(bound)
        range -= bound
        probs(i) = p - (p >>> 5)
      }
      while ((range & 0xff000000) == 0) { range <<= 8; shiftLow() }
    }

    def flush(): Unit = { var k = 0; while (k < 5) { shiftLow(); k += 1 } }
  }

  /** LZMA2 stream of literal-only LZMA chunks (every chunk resets
    * dict+state+props; lc=3 lp=0 pb=2 — props byte 93). Real adaptive
    * range-coded output exercising the decoder's literal path; the
    * reference decoder accepts it byte-exactly (refereed). */
  def lzma2Literal(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + 16)
    var off = 0
    while (off < data.length) {
      val n = math.min(1 << 15, data.length - off)
      val chunk = new ByteArrayOutputStream(n + n / 8 + 8)
      val rc = new RangeEnc(chunk)
      val lit = Array.fill(0x300 << 3)(1024)
      val isMatch0 = Array.fill(16)(1024)
      var pos = 0
      while (pos < n) {
        rc.encodeBit(isMatch0, pos & 3, 0)
        val prev = if (pos == 0) 0 else data(off + pos - 1) & 0xff
        val base = 0x300 * (prev >>> 5)
        val sym = data(off + pos) & 0xff
        var m = 1
        var bitIdx = 7
        while (bitIdx >= 0) {
          val bit = (sym >>> bitIdx) & 1
          rc.encodeBit(lit, base + m, bit)
          m = (m << 1) | bit
          bitIdx -= 1
        }
        pos += 1
      }
      rc.flush()
      val packed = chunk.toByteArray
      if (packed.length > (1 << 16)) fail() // literal-only can't reach this
      out.write(0xe0 | ((n - 1) >>> 16)) // reset bits 3: dict+state+props
      out.write(((n - 1) >>> 8) & 0xff)
      out.write((n - 1) & 0xff)
      out.write(((packed.length - 1) >>> 8) & 0xff)
      out.write((packed.length - 1) & 0xff)
      out.write(93) // lc=3, lp=0, pb=2
      out.write(packed, 0, packed.length)
      off += n
    }
    out.write(0x00)
    out.toByteArray
  }

  private def writeVli(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    var more = true
    while (more) {
      if ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      else { out.write(v.toInt); more = false }
    }
  }

  /** Spec-valid `.xz` container around [[lzma2Stored]] (default) or
    * [[lzma2Literal]] payloads, optionally delta-pre-filtered.
    * checkType: 0 none, 1 CRC32, 4 CRC64, 10 SHA-256. Empty input
    * emits the canonical zero-block stream. */
  def encodeXz(data: Array[Byte], checkType: Int = 4,
      literal: Boolean = false, deltaDist: Int = 0): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + 96)
    out.write(Array[Byte](0xfd.toByte, '7', 'z', 'X', 'Z', 0), 0, 6)
    val flags = Array[Byte](0, checkType.toByte)
    out.write(flags, 0, 2)
    le32(out, crc32(flags, 0, 2))
    val checkSz = checkSizeOf(checkType)
    var records = Vector.empty[(Long, Long)]
    if (data.nonEmpty) {
      val hdr = new ByteArrayOutputStream(16)
      hdr.write(0) // size byte placeholder
      hdr.write(if (deltaDist > 0) 1 else 0) // nFilters-1, no declared sizes
      if (deltaDist > 0) { hdr.write(0x03); hdr.write(1); hdr.write(deltaDist - 1) }
      hdr.write(0x21); hdr.write(1); hdr.write(24) // LZMA2, 16 MiB dict
      while ((hdr.size + 4) % 4 != 0) hdr.write(0)
      val hb = hdr.toByteArray
      hb(0) = ((hb.length + 4) / 4 - 1).toByte
      out.write(hb, 0, hb.length)
      le32(out, crc32(hb, 0, hb.length))
      val filtered = if (deltaDist > 0) deltaEncode(data, deltaDist) else data
      val comp = if (literal) lzma2Literal(filtered) else lzma2Stored(filtered)
      out.write(comp, 0, comp.length)
      var pad = (4 - comp.length % 4) % 4
      while (pad > 0) { out.write(0); pad -= 1 }
      checkType match {
        case 0 =>
        case 1 => le32(out, crc32(data, 0, data.length))
        case 4 =>
          val c = crc64(data, 0, data.length)
          le32(out, c & 0xffffffffL); le32(out, c >>> 32)
        case 10 =>
          val md = java.security.MessageDigest.getInstance("SHA-256")
          val dig = md.digest(data)
          out.write(dig, 0, 32)
      }
      records :+= (((hb.length + 4 + comp.length + checkSz).toLong,
        data.length.toLong))
    }
    val idx = new ByteArrayOutputStream(16)
    idx.write(0)
    writeVli(idx, records.size.toLong)
    records.foreach { case (up, un) => writeVli(idx, up); writeVli(idx, un) }
    while (idx.size % 4 != 0) idx.write(0)
    val ib = idx.toByteArray
    out.write(ib, 0, ib.length)
    le32(out, crc32(ib, 0, ib.length))
    val tail = new ByteArrayOutputStream(8)
    le32(tail, (ib.length + 4).toLong / 4 - 1)
    tail.write(flags, 0, 2)
    val tb = tail.toByteArray
    le32(out, crc32(tb, 0, tb.length))
    out.write(tb, 0, tb.length)
    out.write('Y'); out.write('Z')
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // LZMA1 "alone" format (.lzma — the legacy container: 13-byte
  // header of props byte + u32le dict size + u64le uncompressed size,
  // 0xFFFFFFFFFFFFFFFF = unknown/end-marker-terminated, then one raw
  // LZMA stream). Still common in old sdists and firmware corpora.
  // ------------------------------------------------------------------

  /** Decode a `.lzma` alone file. Known-size streams stop at the
    * declared size (an optional trailing end marker is consumed);
    * unknown-size streams run to the end marker under the `maxOut`
    * cap. The whole input must be consumed and the range coder must
    * end clean (code == 0). */
  def lzmaAloneDecompress(b: Array[Byte],
      maxOut: Int = MaxOut): Option[Array[Byte]] =
    try {
      if (b == null || b.length < 18) return None
      val props = b(0) & 0xff
      if (props > 224) fail()
      val lcv = props % 9
      val lpv = (props / 9) % 5
      val pbv = props / 45
      val dictSize = math.max(u32le(b, 1), 4096L)
      val declared = i64le(b, 5)
      val known = declared != -1L
      if (known && (declared < 0 || declared > maxOut)) return None
      val out = new OutBuf(maxOut)
      val dec = new LzmaDec(lcv, lpv, pbv)
      val rc = new RangeDec(b, 13, b.length)
      rc.init()
      if (known) {
        decodeLzmaChunk(dec, rc, out, declared.toInt, dictSize)
        // encoders may still append the end marker — consume it
        if (rc.pos != b.length)
          if (!decodeLzmaChunk(dec, rc, out, out.len + 1, dictSize,
            allowEnd = true)) fail()
      } else {
        if (!decodeLzmaChunk(dec, rc, out, maxOut, dictSize,
          allowEnd = true)) fail()
      }
      if (rc.pos != b.length || rc.code != 0) fail()
      Some(out.result)
    } catch {
      case _: Corrupt | _: ArrayIndexOutOfBoundsException |
        _: NegativeArraySizeException => None
    }

  /** Raw LZMA1 stream decode — the zip method-14 / headerless-embed
    * entry point: known output size, an optional trailing end marker
    * consumed, full input consumption and a clean range-coder end
    * (code == 0) required. */
  def lzmaRawDecode(b: Array[Byte], off: Int, end: Int, props: Int,
      dictSize: Long, outLen: Int,
      maxOut: Int = MaxOut): Option[Array[Byte]] =
    try {
      if (b == null || off < 0 || end > b.length || props < 0 ||
        props > 224 || outLen < 0 || outLen > maxOut) return None
      val lcv = props % 9
      val lpv = (props / 9) % 5
      val pbv = props / 45
      val ds = math.max(dictSize, 4096L)
      val out = new OutBuf(maxOut)
      val dec = new LzmaDec(lcv, lpv, pbv)
      val rc = new RangeDec(b, off, end)
      rc.init()
      decodeLzmaChunk(dec, rc, out, outLen, ds)
      if (rc.pos != end)
        if (!decodeLzmaChunk(dec, rc, out, out.len + 1, ds,
          allowEnd = true)) fail()
      if (rc.pos != end || rc.code != 0) fail()
      Some(out.result)
    } catch {
      case _: Corrupt | _: ArrayIndexOutOfBoundsException |
        _: NegativeArraySizeException => None
    }

  /** Literal-only raw LZMA1 stream (props 93, known size, no end
    * marker) — shared by the alone and zip-method-14 emitters. */
  def lzmaLiteralRaw(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + data.length / 8 + 8)
    val rc = new RangeEnc(out)
    val lit = Array.fill(0x300 << 3)(1024)
    val isMatch0 = Array.fill(16)(1024)
    var pos = 0
    while (pos < data.length) {
      rc.encodeBit(isMatch0, pos & 3, 0)
      val prev = if (pos == 0) 0 else data(pos - 1) & 0xff
      val base = 0x300 * (prev >>> 5)
      val sym = data(pos) & 0xff
      var m = 1
      var bitIdx = 7
      while (bitIdx >= 0) {
        val bit = (sym >>> bitIdx) & 1
        rc.encodeBit(lit, base + m, bit)
        m = (m << 1) | bit
        bitIdx -= 1
      }
      pos += 1
    }
    rc.flush()
    out.toByteArray
  }

  /** Literal-only `.lzma` alone emitter (known size, default props
    * lc=3 lp=0 pb=2) — the runtime-encoder twin of [[lzma2Literal]];
    * the reference implementation accepts its output (refereed). */
  def lzmaAloneEncodeLiteral(data: Array[Byte],
      dictSize: Long = 1L << 16): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + data.length / 8 + 24)
    out.write(93)
    var k = 0
    while (k < 4) { out.write(((dictSize >>> (8 * k)) & 0xff).toInt); k += 1 }
    k = 0
    while (k < 8) {
      out.write(((data.length.toLong >>> (8 * k)) & 0xff).toInt)
      k += 1
    }
    val raw = lzmaLiteralRaw(data)
    out.write(raw, 0, raw.length)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(

    // xz round-trip census: three container variants cycle over the
    // corpus — stored chunks under CRC64, literal-LZMA (real range
    // coding) under CRC32, and a delta-filtered literal-LZMA stream
    // under SHA-256. Decode is map-side per blob; `ok` goes false if
    // content diverges anywhere, so the oracle's TRUE column is a
    // byte-exactness gate, not just a length check.
    QueryDef(
      "q424_xz_roundtrip",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val data = text.getBytes("UTF-8")
            val blob = (id % 3) match {
              case 0 => encodeXz(data, checkType = 4)
              case 1 => encodeXz(data, checkType = 1, literal = true)
              case _ => encodeXz(data, checkType = 10, literal = true,
                deltaDist = (1 + id % 4).toInt)
            }
            val dec = XzCodec.xzDecompress(blob)
            val variant = (id % 3) match {
              case 0 => "stored_crc64"
              case 1 => "lzma_crc32"
              case _ => "lzma_delta_sha256"
            }
            (id, variant, dec.map(_.length.toLong).getOrElse(-1L),
              dec.exists(_.sameElements(data)))
          }
          .toDF("doc_id", "variant", "n_bytes", "ok")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'stored_crc64'
                 WHEN 1 THEN 'lzma_crc32'
                 ELSE 'lzma_delta_sha256' END AS variant,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               TRUE AS ok
        FROM documents
        ORDER BY doc_id""")),

    // .tar.xz routed like the q323 two-stage dispatch: the xz magic
    // gates the outer decode, the payload re-dispatches into the tar
    // member walk. Shuffle-free map work; the oracle replays member
    // count and the text member's size.
    QueryDef(
      "q425_tar_xz_members",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val tb = text.getBytes("UTF-8")
            val tar = Archive.encodeTar(Seq(
              Archive.TarEntry(s"a$id.txt", tb, 1L),
              Archive.TarEntry("b.json", "{}".getBytes("UTF-8"), 2L)))
            val blob = encodeXz(tar, checkType = if (id % 2 == 0) 1 else 4,
              literal = id % 2 == 1)
            val isXz = blob.length >= 6 && blob(0) == 0xfd.toByte &&
              blob(1) == '7' && blob(2) == 'z' && blob(3) == 'X' &&
              blob(4) == 'Z' && blob(5) == 0
            val members =
              if (isXz) XzCodec.xzDecompress(blob).map(Archive.tarMembers)
              else None
            (id,
              if (isXz) "xz" else "unknown",
              members.map(_.length.toLong).getOrElse(-1L),
              members.flatMap(_.find(_.name == s"a$id.txt"))
                .map(_.size).getOrElse(-1L))
          }
          .toDF("doc_id", "outer_format", "n_members", "text_bytes")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id, 'xz' AS outer_format,
               CAST(2 AS BIGINT) AS n_members,
               CAST(octet_length(encode(text)) AS BIGINT) AS text_bytes
        FROM documents
        ORDER BY doc_id""")),

    // the sdist capstone (q408/q414 shape): each doc is a .tar.xz
    // source distribution — xz outer decode, tar member walk, the
    // Cargo.toml member through the q414 TOML manifest parser — and
    // the dependency census shuffles only (dep, ver, doc_id) keys,
    // never sdist bytes. Dep arithmetic matches q414's runtime rows
    // so the oracle replays the histogram exactly.
    QueryDef(
      "q429_sdist_dependency_census",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .flatMap { case (id, text) =>
            val deps = (0 to (id % 4).toInt).map(k =>
              (s"lib${(id * 3 + k * 5) % 40}", s"1.${(id + k) % 20}"))
            val manifest = Toml.encodeManifest(s"pkg-${id % 200}",
              "1.0.0", 2021L, Nil, deps, 0)
            val tar = Archive.encodeTar(Seq(
              Archive.TarEntry("pkg/Cargo.toml", manifest, 1L),
              Archive.TarEntry("pkg/src/main.rs",
                text.getBytes("UTF-8"), 2L)))
            val sdist = encodeXz(tar, checkType = 4, literal = id % 2 == 1)
            for {
              payload <- XzCodec.xzDecompress(sdist).toSeq
              m <- Archive.tarMembers(payload)
              if m.name.endsWith("Cargo.toml")
              blob = java.util.Arrays.copyOfRange(payload,
                (m.headerOffset + 512).toInt,
                (m.headerOffset + 512 + m.size).toInt)
              parsed <- Toml.parseToml(blob).toSeq
              depMap <- (parsed.get("dependencies") match {
                case Some(d: Yaml.YMap) => Some(d.fields)
                case _ => None
              }).toSeq
              (dep, v) <- depMap
            } yield {
              val ver = v match {
                case Yaml.YStr(x) => x
                case t: Yaml.YMap => t.get("version") match {
                  case Some(Yaml.YStr(x)) => x
                  case _ => ""
                }
                case _ => ""
              }
              (dep, ver, id)
            }
          }
          .toDF("dep", "ver", "doc_id")
          .groupBy($"dep")
          .agg(count(lit(1)).as("n_sdists"),
            count_distinct($"ver").as("n_versions"),
            min($"doc_id").as("first_doc"))
          .orderBy($"dep")
      },
      Some("""
        WITH deps AS (
          SELECT doc_id,
                 'lib' || ((doc_id * 3 + k * 5) % 40) AS dep,
                 '1.' || ((doc_id + k) % 20) AS ver
          FROM documents,
               UNNEST(generate_series(0, doc_id % 4)) AS g(k))
        SELECT dep,
               CAST(count(*) AS BIGINT) AS n_sdists,
               CAST(count(DISTINCT ver) AS BIGINT) AS n_versions,
               CAST(min(doc_id) AS BIGINT) AS first_doc
        FROM deps
        GROUP BY dep
        ORDER BY dep""")),

    // legacy .lzma alone files: known-size literal streams at two
    // dictionary sizes decode map-side; ok is byte-exactness.
    QueryDef(
      "q430_lzma_alone_roundtrip",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val data = text.getBytes("UTF-8")
            val blob = lzmaAloneEncodeLiteral(data,
              dictSize = if (id % 2 == 0) 1L << 16 else 1L << 20)
            val dec = XzCodec.lzmaAloneDecompress(blob)
            (id, dec.map(_.length.toLong).getOrElse(-1L),
              dec.exists(_.sameElements(data)))
          }
          .toDF("doc_id", "n_bytes", "ok")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               TRUE AS ok
        FROM documents
        ORDER BY doc_id""")))
}
