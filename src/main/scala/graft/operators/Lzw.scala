package graft.operators

/** The one LZW codec, in the two variants the formats use:
  *
  *  - TIFF (6.0 §13) and the PDF LZWDecode filter (ISO 32000-1 7.4.4):
  *    8-bit symbols, codes packed most significant bit first, and the
  *    width bumped one code early (EarlyChange 1, the TIFF behaviour
  *    and the PDF default; PDF may say 0);
  *  - GIF (89a appendix F): a minimum code size of 2–8 bits, codes
  *    packed least significant bit first, no early change.
  *
  * Both start at `minCodeSize + 1` bits, grow to 12, put ClearCode at
  * `1 << minCodeSize` and the end code (EOI/EOD) one above it, and lead
  * with a ClearCode. Bits go through the [[Bytes]] readers and writers.
  *
  * Refereed against the JDK's ImageIO TIFF and GIF plugins in LzwSpec
  * and PixelsSpec. Corrupt codes, references past the table, output
  * past the caller's limit and a stream that ends without its end code
  * → None.
  */
object Lzw {

  /** A format's LZW parameters. */
  final case class Variant(msbFirst: Boolean, earlyChange: Int,
      minCodeSize: Int) {
    require(earlyChange == 0 || earlyChange == 1, s"earlyChange $earlyChange")
    require(minCodeSize >= 2 && minCodeSize <= 8, s"minCodeSize $minCodeSize")
    private[Lzw] val clear = 1 << minCodeSize
    private[Lzw] val end = clear + 1
    /** The encoder clears when its table reaches this size: GIF's full
      * table, or libtiff's 4094 with early change. */
    private[Lzw] val limit = 4096 - 2 * earlyChange
  }

  /** TIFF strips and PDF LZWDecode with EarlyChange 1. */
  val Tiff: Variant = Variant(msbFirst = true, earlyChange = 1, minCodeSize = 8)

  /** PDF LZWDecode with its /EarlyChange (0 or 1). */
  def pdf(earlyChange: Int): Variant = Tiff.copy(earlyChange = earlyChange)

  /** GIF image data with its LZW minimum code size (2–8). */
  def gif(minCodeSize: Int): Variant =
    Variant(msbFirst = false, earlyChange = 0, minCodeSize = minCodeSize)

  private val MaxCodes = 4096

  /** Decode one stream up to its end code. The output grows as codes
    * decode, so a declared size costs nothing until the data fills it;
    * more than `maxOut` bytes is None. Callers with a declared size pass
    * it as `maxOut` and check the result's length. */
  def decode(b: Array[Byte], v: Variant,
      maxOut: Int = Bytes.MaxInflate): Option[Array[Byte]] =
    try {
      if (b == null || b.isEmpty || maxOut < 0) return None
      val read: Int => Int =
        if (v.msbFirst) new Bytes.BitReader(b).bits
        else new Bytes.LsbBitReader(b, 0, b.length).bits
      val prefix = new Array[Int](MaxCodes)
      val suffix = new Array[Byte](MaxCodes)
      val length = new Array[Int](MaxCodes)
      var c = 0
      while (c < v.clear) { prefix(c) = -1; suffix(c) = c.toByte; length(c) = 1; c += 1 }
      var out = new Array[Byte](math.min(maxOut.toLong, math.max(64L,
        b.length * 4L)).toInt)
      var n = 0
      // appends the string of `code`, filling right to left; false past
      // maxOut
      def put(code: Int): Boolean = {
        val len = length(code)
        if (len > maxOut - n) return false
        if (n + len > out.length) out = java.util.Arrays.copyOf(out,
          math.min(maxOut.toLong, math.max(n + len, out.length * 2L)).toInt)
        var at = n + len - 1
        var k = code
        while (k >= 0) { out(at) = suffix(k); at -= 1; k = prefix(k) }
        n += len
        true
      }
      val first = v.end + 1
      var next = first
      var width = v.minCodeSize + 1
      var prev = -1
      while (true) {
        val code = read(width)
        if (code == v.clear) {
          next = first; width = v.minCodeSize + 1; prev = -1
        } else if (code == v.end) {
          return Some(if (n == out.length) out else java.util.Arrays.copyOf(out, n))
        } else if (prev < 0) {
          // first code after a clear: must be a literal
          if (code >= v.clear || !put(code)) return None
          prev = code
        } else {
          if (code > next || code == next && next >= MaxCodes) return None
          if (next < MaxCodes) {
            // entry prev + first byte of this code's string; for the
            // KwKwK case (code == next) that is prev's own first byte
            var f = if (code == next) prev else code
            while (prefix(f) >= 0) f = prefix(f)
            prefix(next) = prev
            suffix(next) = suffix(f)
            length(next) = length(prev) + 1
            next += 1
            if (next + v.earlyChange == (1 << width) && width < 12) width += 1
          }
          if (!put(code)) return None
          prev = code
        }
      }
      None
    } catch { case _: ArrayIndexOutOfBoundsException => None } // no end code

  /** Encode `data` (each byte below `1 << minCodeSize`): ClearCode
    * first, a ClearCode whenever the table reaches the variant's limit,
    * the end code last. The encoder adds its entry one code before the
    * decoder does, so its width bumps one entry later. */
  def encode(data: Array[Byte], v: Variant): Array[Byte] = {
    val msb = new Bytes.BitWriter
    val lsb = new Bytes.LsbBitWriter
    var width = v.minCodeSize + 1
    def emit(code: Int): Unit =
      if (v.msbFirst) msb.bits(code, width) else lsb.bits(code, width)
    // (prefix code << 8 | symbol) + 1 → code, open addressing over
    // twice the table size; a key of 0 marks an empty slot
    val keys = new Array[Int](2 * MaxCodes)
    val codes = new Array[Int](2 * MaxCodes)
    def slot(key: Int): Int = {
      var h = (key * 0x9e3779b1) >>> 19
      while (keys(h) != 0 && keys(h) != key) h = (h + 1) & (2 * MaxCodes - 1)
      h
    }
    var next = v.end + 1
    emit(v.clear)
    var prev = -1
    var i = 0
    while (i < data.length) {
      val sym = data(i) & 0xff
      if (prev < 0) prev = sym
      else {
        val key = ((prev << 8) | sym) + 1
        val h = slot(key)
        if (keys(h) == key) prev = codes(h)
        else {
          emit(prev)
          keys(h) = key; codes(h) = next
          next += 1
          if (next + v.earlyChange - 1 == (1 << width) && width < 12) width += 1
          if (next == v.limit) {
            emit(v.clear)
            java.util.Arrays.fill(keys, 0)
            next = v.end + 1; width = v.minCodeSize + 1
          }
          prev = sym
        }
      }
      i += 1
    }
    if (prev >= 0) emit(prev)
    // the last code adds no entry here but does in the decoder, so the
    // end code follows the decoder's bump rule
    if (next + v.earlyChange == (1 << width) && width < 12) width += 1
    emit(v.end)
    if (v.msbFirst) msb.toBytes else lsb.toBytes
  }
}
