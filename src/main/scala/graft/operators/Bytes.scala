package graft.operators

import java.io.ByteArrayOutputStream
import java.util.zip.{DataFormatException, Deflater, Inflater}

/** The byte primitives every codec shares: one bounded inflate loop and
  * the one deflate, CRC-32, fixed-width integer readers and writers,
  * the unsigned LEB128 varint,
  * a bit reader and writer per bit order, the canonical prefix code and
  * the length-limited Huffman builder. Decoders inflate, read integers
  * and bits and decode prefix codes only through here, so the
  * termination, bounds and code-validity rules exist once.
  *
  * Readers do no bounds check of their own: an index outside the array
  * (for [[LsbBitReader]], outside its slice) throws
  * `ArrayIndexOutOfBoundsException`, which every decoder maps to `None`.
  */
object Bytes {

  /** Output cap of every inflate whose caller has no declared size or
    * tighter limit (64 MiB). */
  val MaxInflate: Int = 1 << 26

  /** Inflate the zlib stream (raw deflate with `nowrap`) starting at
    * `b(off)`, reading at most `len` bytes: the decoded bytes and the
    * number of compressed bytes the stream occupied, so that framed
    * callers (gzip, zip, git pack) can find what follows it. `None` on
    * a data error, on a stream that stops making progress (truncated,
    * or asking for a preset dictionary), or on output beyond `cap`.
    * A caller with a declared size passes it as `cap` and checks the
    * result's length. */
  def inflate(b: Array[Byte], off: Int, len: Int, cap: Int = MaxInflate,
      nowrap: Boolean = false): Option[(Array[Byte], Int)] = {
    if (b == null || off < 0 || len < 0 || len > b.length - off || cap < 0)
      return None
    val inf = new Inflater(nowrap)
    try {
      inf.setInput(b, off, len)
      var out = new Array[Byte](math.min(cap.toLong, math.max(64L, len * 4L)).toInt)
      var n = 0
      var dummyFed = false
      while (!inf.finished()) {
        if (n == out.length && n < cap)
          out = java.util.Arrays.copyOf(out, math.min(cap.toLong, n * 2L).toInt)
        val read = inf.getBytesRead
        val k =
          if (n < out.length) inf.inflate(out, n, out.length - n)
          else if (inf.inflate(new Array[Byte](1)) > 0) return None // past cap
          else 0
        n += k
        if (k == 0 && inf.getBytesRead == read && !inf.finished()) {
          // the JDK documents that nowrap mode may need one dummy byte
          // past the stream: feed it once; a second starvation is a
          // truncated stream
          if (nowrap && !dummyFed && inf.needsInput()) {
            inf.setInput(Array[Byte](0)); dummyFed = true
          } else return None
        }
      }
      // a stream that finished by consuming the dummy was truncated
      if (dummyFed && inf.getRemaining == 0) return None
      val data = if (n == out.length) out else java.util.Arrays.copyOf(out, n)
      Some((data, inf.getBytesRead.toInt))
    } catch {
      case _: DataFormatException => None
    } finally inf.end()
  }

  /** Deflate `raw` at level 6 (zlib's default) into a zlib stream, or
    * raw deflate with `nowrap` (gzip, zip, Avro): the [[inflate]]
    * mirror every encoder uses. */
  def deflate(raw: Array[Byte], nowrap: Boolean = false): Array[Byte] = {
    val d = new Deflater(6, nowrap)
    try {
      d.setInput(raw); d.finish()
      val out = new ByteArrayOutputStream(raw.length / 2 + 32)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** CRC-32 (ISO-HDLC, the zip/gzip/PNG/XZ/git-idx polynomial) of
    * `b(off until off + len)`. */
  def crc32(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32
    c.update(b, off, len)
    c.getValue
  }
  def crc32(b: Array[Byte]): Long = crc32(b, 0, b.length)

  // ---- fixed-width readers -------------------------------------------

  def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff

  def u16le(b: Array[Byte], i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  def u16be(b: Array[Byte], i: Int): Int = ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

  def u24le(b: Array[Byte], i: Int): Int = u16le(b, i) | ((b(i + 2) & 0xff) << 16)
  def u24be(b: Array[Byte], i: Int): Int = (u16be(b, i) << 8) | (b(i + 2) & 0xff)

  def i32le(b: Array[Byte], i: Int): Int = u16le(b, i) | (u16le(b, i + 2) << 16)
  def i32be(b: Array[Byte], i: Int): Int = (u16be(b, i) << 16) | u16be(b, i + 2)
  def u32le(b: Array[Byte], i: Int): Long = i32le(b, i) & 0xffffffffL
  def u32be(b: Array[Byte], i: Int): Long = i32be(b, i) & 0xffffffffL

  def i64le(b: Array[Byte], i: Int): Long = u32le(b, i) | (u32le(b, i + 4) << 32)
  def i64be(b: Array[Byte], i: Int): Long = (u32be(b, i) << 32) | u32be(b, i + 4)

  /** Byte order chosen at run time (TIFF's II/MM mark). */
  def u16(b: Array[Byte], i: Int, be: Boolean): Int =
    if (be) u16be(b, i) else u16le(b, i)
  def u32(b: Array[Byte], i: Int, be: Boolean): Long =
    if (be) u32be(b, i) else u32le(b, i)

  // ---- fixed-width writers -------------------------------------------

  def le16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }
  def le24(out: ByteArrayOutputStream, v: Int): Unit = {
    le16(out, v); out.write((v >> 16) & 0xff)
  }
  def le32(out: ByteArrayOutputStream, v: Long): Unit = {
    le16(out, (v & 0xffff).toInt); le16(out, ((v >> 16) & 0xffff).toInt)
  }
  def le64(out: ByteArrayOutputStream, v: Long): Unit = {
    le32(out, v); le32(out, v >>> 32)
  }
  def be16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >> 8) & 0xff); out.write(v & 0xff)
  }
  def be32(out: ByteArrayOutputStream, v: Long): Unit = {
    be16(out, ((v >> 16) & 0xffff).toInt); be16(out, (v & 0xffff).toInt)
  }
  def w16(out: ByteArrayOutputStream, v: Int, be: Boolean): Unit =
    if (be) be16(out, v) else le16(out, v)
  def w32(out: ByteArrayOutputStream, v: Long, be: Boolean): Unit =
    if (be) be32(out, v) else le32(out, v)

  /** In-place 32-bit stores, for headers patched after their body. */
  def putLe32(b: Array[Byte], i: Int, v: Long): Unit = {
    b(i) = v.toByte; b(i + 1) = (v >>> 8).toByte
    b(i + 2) = (v >>> 16).toByte; b(i + 3) = (v >>> 24).toByte
  }
  def putBe32(b: Array[Byte], i: Int, v: Long): Unit = {
    b(i) = (v >>> 24).toByte; b(i + 1) = (v >>> 16).toByte
    b(i + 2) = (v >>> 8).toByte; b(i + 3) = v.toByte
  }

  // ---- varint --------------------------------------------------------

  /** Unsigned LEB128 (7 bits per byte, least significant group first)
    * at `off`: (value, next offset). `None` on truncation or past ten
    * bytes, the 64-bit maximum; callers check their own tighter limit
    * on the result. */
  def varint(b: Array[Byte], off: Int): Option[(Long, Int)] = {
    var v = 0L
    var shift = 0
    var i = off
    while (i >= 0 && i < b.length && shift <= 63) {
      val x = b(i) & 0xff
      v |= (x & 0x7fL) << shift
      i += 1
      if ((x & 0x80) == 0) return Some((v, i))
      shift += 7
    }
    None
  }

  /** The [[varint]] writer. */
  def putVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  // ---- bits ----------------------------------------------------------

  /** Where a [[PrefixCode]] reads its bits: one bit per call, in the
    * reader's own bit order. */
  trait BitSource { def bit(): Int }

  /** MSB-first bit reader from `startByte` (FLAC, bzip2, ORC RLEv2).
    * Reading past the end throws `ArrayIndexOutOfBoundsException`. */
  final class BitReader(b: Array[Byte], startByte: Int = 0) extends BitSource {
    /** Bit position from the start of the array. */
    var pos: Long = startByte.toLong << 3
    def bit(): Int = {
      val v = (b((pos >>> 3).toInt) >>> (7 - (pos & 7).toInt)) & 1
      pos += 1
      v
    }
    def bits(n: Int): Int = bitsLong(n).toInt
    def bitsLong(n: Int): Long = {
      var v = 0L
      var k = 0
      while (k < n) { v = (v << 1) | bit(); k += 1 }
      v
    }
    def bytePos: Int = (pos >>> 3).toInt
    def aligned: Boolean = (pos & 7) == 0
    def alignByte(): Unit = pos = (pos + 7) & ~7L
  }

  /** LSB-first bit reader over `b[from, until)` (Brotli, VP8L): the
    * first bit of a field is the least significant bit of the first
    * unread byte. Reading past `until` throws
    * `ArrayIndexOutOfBoundsException`. */
  final class LsbBitReader(b: Array[Byte], from: Int, until: Int)
      extends BitSource {
    private var byteAt = from
    private var acc = 0L
    private var nAcc = 0
    private def overrun(): Nothing =
      throw new ArrayIndexOutOfBoundsException(s"bit read past $until")
    /** The next `n` bits (n <= 32) as an unsigned value; 0 for n = 0. */
    def bits(n: Int): Int = {
      while (nAcc < n) {
        if (byteAt >= until) overrun()
        acc |= (b(byteAt) & 0xffL) << nAcc
        byteAt += 1; nAcc += 8
      }
      val v = (acc & ((1L << n) - 1)).toInt
      acc >>>= n; nAcc -= n
      v
    }
    def bit(): Int = bits(1)
    /** Skip to the next byte boundary; the skipped pad bits. */
    def alignByte(): Int = bits(nAcc & 7)
    /** Copy `n` whole bytes (byte-aligned) into `out(at)`. */
    def copyBytes(out: Array[Byte], at: Int, n: Int): Unit = {
      var i = 0
      while (i < n && nAcc >= 8) { out(at + i) = bits(8).toByte; i += 1 }
      if (n - i > until - byteAt) overrun()
      System.arraycopy(b, byteAt, out, at + i, n - i)
      byteAt += n - i
    }
    /** Skip `n` whole bytes (byte-aligned). */
    def skipBytes(n: Int): Unit = {
      var left = n
      while (left > 0 && nAcc >= 8) { acc >>>= 8; nAcc -= 8; left -= 1 }
      if (left > until - byteAt) overrun()
      byteAt += left
    }
    /** After [[alignByte]]: true iff every byte has been read. */
    def exhausted: Boolean = nAcc == 0 && byteAt >= until
  }

  /** MSB-first bit writer (FLAC, bzip2): the first bit written is the
    * most significant bit of the first byte. */
  final class BitWriter {
    private val out = new ByteArrayOutputStream(256)
    private var acc = 0
    private var nAcc = 0
    /** The low `n` bits of `v` (n <= 64), most significant first. */
    def bits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >>> i) & 1L).toInt
        nAcc += 1
        if (nAcc == 8) { out.write(acc); acc = 0; nAcc = 0 }
        i -= 1
      }
    }
    /** Zero-pad to the next byte boundary. */
    def alignByte(): Unit = if (nAcc > 0) bits(0, 8 - nAcc)
    def toBytes: Array[Byte] = { alignByte(); out.toByteArray }
  }

  /** LSB-first bit writer (Brotli, VP8L), the [[LsbBitReader]]'s
    * inverse. */
  final class LsbBitWriter {
    private val out = new ByteArrayOutputStream(256)
    private var acc = 0L
    private var nAcc = 0
    /** The low `n` bits of `v` (n <= 32), least significant first. */
    def bits(v: Int, n: Int): Unit = {
      acc |= (v.toLong & ((1L << n) - 1)) << nAcc
      nAcc += n
      while (nAcc >= 8) { out.write((acc & 0xff).toInt); acc >>>= 8; nAcc -= 8 }
    }
    /** A prefix-code word of `len` bits, most significant bit first:
      * the order a [[PrefixCode]] reads it in. */
    def writeCode(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) { bits((code >> i) & 1, 1); i -= 1 }
    }
    /** Zero-pad to the next byte boundary. */
    def alignByte(): Unit = if (nAcc > 0) bits(0, 8 - nAcc)
    /** Whole bytes (byte-aligned). */
    def bytes(b: Array[Byte]): Unit = {
      require(nAcc == 0, "not byte-aligned")
      out.write(b, 0, b.length)
    }
    def toBytes: Array[Byte] = { alignByte(); out.toByteArray }
  }

  // ---- prefix codes ----------------------------------------------------

  /** A canonical prefix code, the DEFLATE construction (RFC 1951
    * §3.2.2) that Brotli (RFC 7932 §3.2), VP8L (RFC 9649 §3.5), JPEG
    * (T.81 Annex C) and bzip2 share: shorter codes first, ties by
    * symbol order, each code word read most significant bit first.
    * `counts(l)` is the number of codes of length l (1..maxLen),
    * `symbols` the symbols in code order.
    *
    * A code is built only if it is not over-subscribed and every
    * length is in 0..maxLen; it may be incomplete, and [[complete]]
    * says whether every bit string decodes (a format that requires
    * it checks). A code from [[PrefixCode.fromLengths]] with one used
    * symbol decodes in zero bits (RFC 7932 §3.4, RFC 9649 §3.5). */
  final class PrefixCode private (counts: Array[Int], symbols: Array[Int],
      maxLen: Int, lone: Int, val complete: Boolean) {
    /** The next symbol, reading at most `maxLen` bits from `in`; -1 if
      * the bits are no code word (an incomplete code). */
    def decode(in: BitSource): Int = {
      if (lone >= 0) return lone
      var code = 0
      var first = 0
      var index = 0
      var l = 1
      while (l <= maxLen) {
        code = (code << 1) | in.bit()
        val c = counts(l)
        if (code - first < c) return symbols(index + code - first)
        index += c
        first = (first + c) << 1
        l += 1
      }
      -1
    }
  }

  object PrefixCode {

    /** The code giving symbol `s` a code of `lengths(s)` bits (0 = not
      * used). */
    def fromLengths(lengths: Array[Int], maxLen: Int): Option[PrefixCode] = {
      val counts = new Array[Int](maxLen + 1)
      var used = 0
      var lone = -1
      var s = 0
      while (s < lengths.length) {
        val l = lengths(s)
        if (l < 0 || l > maxLen) return None
        if (l > 0) { counts(l) += 1; used += 1; lone = s }
        s += 1
      }
      if (used == 1) return Some(new PrefixCode(counts, Array(lone), maxLen,
        lone, complete = true))
      val next = offsets(counts)
      val symbols = new Array[Int](used)
      s = 0
      while (s < lengths.length) {
        val l = lengths(s)
        if (l > 0) { symbols(next(l)) = s; next(l) += 1 }
        s += 1
      }
      build(counts, symbols, maxLen)
    }

    /** The code with `counts(l)` codes of each length l in 1..maxLen
      * (index 0 unused) for `symbols` in code order: JPEG's BITS and
      * HUFFVAL (T.81 Annex C). A lone symbol here keeps its length. */
    def fromCounts(counts: Array[Int], symbols: Array[Int],
        maxLen: Int): Option[PrefixCode] =
      if (counts.length != maxLen + 1 || counts.exists(_ < 0) ||
          counts.sum != symbols.length) None
      else build(counts, symbols, maxLen)

    private def build(counts: Array[Int], symbols: Array[Int],
        maxLen: Int): Option[PrefixCode] = {
      var left = 1L // unused code space at the current length
      var l = 1
      while (l <= maxLen) {
        left = (left << 1) - counts(l)
        if (left < 0) return None // over-subscribed
        l += 1
      }
      Some(new PrefixCode(counts, symbols, maxLen, -1,
        complete = left == 0))
    }

    /** Index of the first length-l symbol in code order, per l. */
    private def offsets(counts: Array[Int]): Array[Int] = {
      val next = new Array[Int](counts.length)
      var l = 2
      while (l < counts.length) { next(l) = next(l - 1) + counts(l - 1); l += 1 }
      next
    }

    /** The canonical code word of each symbol, for an encoder: the
      * value a [[PrefixCode]] over the same `lengths` decodes to it. */
    def codes(lengths: Array[Int]): Array[Int] = {
      val maxLen = if (lengths.isEmpty) 0 else lengths.max
      val counts = new Array[Int](maxLen + 1)
      lengths.foreach(l => if (l > 0) counts(l) += 1)
      val next = new Array[Int](maxLen + 1)
      var code = 0
      var l = 1
      while (l <= maxLen) {
        code = (code + counts(l - 1)) << 1
        next(l) = code
        l += 1
      }
      val out = new Array[Int](lengths.length)
      var s = 0
      while (s < lengths.length) {
        val n = lengths(s)
        if (n > 0) { out(s) = next(n); next(n) += 1 }
        s += 1
      }
      out
    }

    /** Huffman code lengths for `freq`, none above `maxLen`: 0 for a
      * zero frequency, 1 for a lone used symbol. Ties merge the lower
      * node id first (leaves in symbol order, then internal nodes in
      * creation order); when a length passes `maxLen`, every nonzero
      * frequency becomes `f / 2 + 1` and the tree is rebuilt. Encoders
      * whose output is pinned (VP8L's) depend on exactly this order. */
    def huffmanLengths(freq: Array[Int], maxLen: Int): Array[Int] = {
      val n = freq.length
      val used = freq.count(_ > 0)
      require(used <= (1L << maxLen), s"$used symbols exceed $maxLen bits")
      val lengths = new Array[Int](n)
      if (used == 0) return lengths
      if (used == 1) { lengths(freq.indexWhere(_ > 0)) = 1; return lengths }
      var f = freq
      var done = false
      while (!done) {
        java.util.Arrays.fill(lengths, 0)
        // parent pointers: leaves first, internal nodes appended
        val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
        val leafSym = scala.collection.mutable.ArrayBuffer.empty[Int]
        val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Int)](
          Ordering.Tuple2[Long, Int].reverse) // min-heap, ties by node id
        var i = 0
        while (i < n) {
          if (f(i) > 0) {
            heap.enqueue((f(i).toLong, parent.length))
            parent += -1
            leafSym += i
          }
          i += 1
        }
        while (heap.size > 1) {
          val (w1, a) = heap.dequeue()
          val (w2, c) = heap.dequeue()
          val id = parent.length
          parent += -1
          parent(a) = id
          parent(c) = id
          heap.enqueue((w1 + w2, id))
        }
        var overflow = false
        var leaf = 0
        while (leaf < leafSym.length) {
          var d = 0
          var cur = leaf
          while (parent(cur) >= 0) { d += 1; cur = parent(cur) }
          lengths(leafSym(leaf)) = d
          if (d > maxLen) overflow = true
          leaf += 1
        }
        if (!overflow) done = true
        else f = f.map(v => if (v > 0) (v >> 1) + 1 else 0)
      }
      lengths
    }
  }
}
