package graft.operators

import java.io.ByteArrayOutputStream
import java.util.zip.{DataFormatException, Inflater}

/** The byte primitives every decoder shares: one bounded inflate loop,
  * fixed-width integer readers and writers, the unsigned LEB128 varint
  * and the MSB-first bit reader. Decoders inflate and read integers only
  * through here, so the termination and bounds rules exist once.
  *
  * Readers do no bounds check of their own: an index outside the array
  * throws `ArrayIndexOutOfBoundsException`, which every decoder maps to
  * `None`.
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

  /** MSB-first bit reader from `startByte` (FLAC, bzip2). Reading past
    * the end throws `ArrayIndexOutOfBoundsException`. */
  final class BitReader(b: Array[Byte], startByte: Int = 0) {
    /** Bit position from the start of the array. */
    var pos: Long = startByte.toLong << 3
    def bits(n: Int): Int = {
      var v = 0
      var k = 0
      while (k < n) {
        v = (v << 1) | ((b((pos >>> 3).toInt) >>> (7 - (pos & 7).toInt)) & 1)
        pos += 1
        k += 1
      }
      v
    }
    def bit(): Int = bits(1)
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
}
