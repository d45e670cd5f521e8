package graft.operators

import graft.operators.Bytes.{LsbBitReader, LsbBitWriter, PrefixCode}

/** Brotli decompression, from the public spec (RFC 7932). Promoted
  * from the WOFF2 deferral the moment a conformant referee landed
  * in-container (libbrotli via brotlicffi — see BrotliSpec's committed
  * referee vectors and the live cross-check): WOFF2 font-table data is
  * a single Brotli stream, so family strings were unreadable without
  * this decoder.
  *
  * Spec-data provenance (all public, RFC 7932 appendices, extracted
  * from the system libbrotlicommon and committed as resources):
  *  - `/graft/brotli_dictionary.bin` — the 122,784-byte static
  *    dictionary (Appendix A; sha256 20e42eb1b511c21806d4d227d07e5dd0
  *    6877d8ce7b3a817f378f313653f35c70, the canonical value);
  *  - `/graft/brotli_context.bin` — the four 512-byte context-mode
  *    lookup tables of section 7.1, laid out `mode << 9` (LSB6, MSB6,
  *    UTF8, Signed), each `lut0[256] ++ lut1[256]`;
  *  - the 121 word transforms of Appendix B, embedded below.
  *
  * Structure decoded (RFC section in parens): stream header / WBITS
  * (9.1), meta-block headers incl. metadata + uncompressed blocks
  * (9.2), simple and complex prefix codes with the fixed code-length
  * code and repeat codes 16/17 (3.4, 3.5), block types/counts with
  * their switch semantics (6), context modes and maps with RLE +
  * inverse-MTF (7.1–7.3), insert-and-copy commands (5), the distance
  * ring buffer and short codes (4), and static-dictionary references
  * with word transforms (8, 10).
  *
  * Decode contract (house rule): any structural violation — torn
  * stream, over/under-subscribed code, bad padding, ring distance
  * <= 0, dictionary transform id out of range, output-cap overrun —
  * returns None, never a throw and never plausible-wrong bytes.
  *
  * The two fixture ENCODERS emit conformant streams the reference
  * implementation accepts (BrotliSpec cross-checks): `encodeStored`
  * (uncompressed meta-blocks) and `encodeFixed` (one compressed
  * meta-block whose literals ride a complex 256-symbol length-8 code
  * built with repeat-16 runs — brotli's analog of zlib fixed-Huffman
  * mode, exercising the real compressed path without a modeling
  * stage).
  */
object Brotli {

  // ------------------------------------------------------------------
  // spec data
  // ------------------------------------------------------------------

  private def readResource(path: String, expect: Int): Array[Byte] = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing resource $path")
    try {
      val out = in.readAllBytes()
      require(out.length == expect, s"$path: ${out.length} != $expect")
      out
    } finally in.close()
  }

  private lazy val Dict: Array[Byte] =
    readResource("/graft/brotli_dictionary.bin", 122784)
  private lazy val CtxLut: Array[Byte] =
    readResource("/graft/brotli_context.bin", 2048)

  /** NDBITS per copy length 0..24 (RFC Appendix A; lengths < 4 have
    * no dictionary words). */
  private val SizeBitsByLength: Array[Int] = Array(
    0, 0, 0, 0, 10, 10, 11, 11, 10, 10, 10, 10, 10, 9, 9, 8, 7, 7, 8,
    7, 7, 6, 6, 5, 5)
  private val OffsetsByLength: Array[Int] = Array(
    0, 0, 0, 0, 0, 4096, 9216, 21504, 35840, 44032, 53248, 63488,
    74752, 87040, 93696, 100864, 104704, 106752, 108928, 113536,
    115968, 118528, 119872, 121280, 122016, 122784)

  /** The 121 transforms of Appendix B as (prefix, kind, suffix);
    * kinds: 0 identity, 1–9 omit-last-N, 10 ferment-first (uppercase),
    * 11 ferment-all, 12–20 omit-first-(kind-11). Strings are byte
    * sequences read as ISO-8859-1. */
  private val TransformTriples: Array[(String, Int, String)] = Array(
    ("", 0, ""), ("", 0, " "),
    (" ", 0, " "), ("", 12, ""),
    ("", 10, " "), ("", 0, " the "),
    (" ", 0, ""), ("s ", 0, " "),
    ("", 0, " of "), ("", 10, ""),
    ("", 0, " and "), ("", 13, ""),
    ("", 1, ""), (", ", 0, " "),
    ("", 0, ", "), (" ", 10, " "),
    ("", 0, " in "), ("", 0, " to "),
    ("e ", 0, " "), ("", 0, "\""),
    ("", 0, "."), ("", 0, "\">"),
    ("", 0, "\n"), ("", 3, ""),
    ("", 0, "]"), ("", 0, " for "),
    ("", 14, ""), ("", 2, ""),
    ("", 0, " a "), ("", 0, " that "),
    (" ", 10, ""), ("", 0, ". "),
    (".", 0, ""), (" ", 0, ", "),
    ("", 15, ""), ("", 0, " with "),
    ("", 0, "'"), ("", 0, " from "),
    ("", 0, " by "), ("", 16, ""),
    ("", 17, ""), (" the ", 0, ""),
    ("", 4, ""), ("", 0, ". The "),
    ("", 11, ""), ("", 0, " on "),
    ("", 0, " as "), ("", 0, " is "),
    ("", 7, ""), ("", 1, "ing "),
    ("", 0, "\n\t"), ("", 0, ":"),
    (" ", 0, ". "), ("", 0, "ed "),
    ("", 20, ""), ("", 18, ""),
    ("", 6, ""), ("", 0, "("),
    ("", 10, ", "), ("", 8, ""),
    ("", 0, " at "), ("", 0, "ly "),
    (" the ", 0, " of "), ("", 5, ""),
    ("", 9, ""), (" ", 10, ", "),
    ("", 10, "\""), (".", 0, "("),
    ("", 11, " "), ("", 10, "\">"),
    ("", 0, "=\""), (" ", 0, "."),
    (".com/", 0, ""), (" the ", 0, " of the "),
    ("", 10, "'"), ("", 0, ". This "),
    ("", 0, ","), (".", 0, " "),
    ("", 10, "("), ("", 10, "."),
    ("", 0, " not "), (" ", 0, "=\""),
    ("", 0, "er "), (" ", 11, " "),
    ("", 0, "al "), (" ", 11, ""),
    ("", 0, "='"), ("", 11, "\""),
    ("", 10, ". "), (" ", 0, "("),
    ("", 0, "ful "), (" ", 10, ". "),
    ("", 0, "ive "), ("", 0, "less "),
    ("", 11, "'"), ("", 0, "est "),
    (" ", 10, "."), ("", 11, "\">"),
    (" ", 0, "='"), ("", 10, ","),
    ("", 0, "ize "), ("", 11, "."),
    ("\u00c2\u00a0", 0, ""), (" ", 0, ","),
    ("", 10, "=\""), ("", 11, "=\""),
    ("", 0, "ous "), ("", 11, ", "),
    ("", 10, "='"), (" ", 10, ","),
    (" ", 11, "=\""), (" ", 11, ", "),
    ("", 11, ","), ("", 11, "("),
    ("", 11, ". "), (" ", 11, "."),
    ("", 11, "='"), (" ", 11, ". "),
    (" ", 10, "=\""), (" ", 11, "='"),
    (" ", 10, "='"))

  private val Transforms: Array[(Array[Byte], Int, Array[Byte])] =
    TransformTriples.map { case (p, k, s) =>
      (p.getBytes("ISO-8859-1"), k, s.getBytes("ISO-8859-1")) }

  // insert / copy length codes (RFC 5, Tables)
  private val InsBase: Array[Int] = Array(0, 1, 2, 3, 4, 5, 6, 8, 10,
    14, 18, 26, 34, 50, 66, 98, 130, 194, 322, 578, 1090, 2114, 6210,
    22594)
  private val InsExtra: Array[Int] = Array(0, 0, 0, 0, 0, 0, 1, 1, 2,
    2, 3, 3, 4, 4, 5, 5, 6, 7, 8, 9, 10, 12, 14, 24)
  private val CopyBase: Array[Int] = Array(2, 3, 4, 5, 6, 7, 8, 9, 10,
    12, 14, 18, 22, 30, 38, 54, 70, 102, 134, 198, 326, 582, 1094, 2118)
  private val CopyExtra: Array[Int] = Array(0, 0, 0, 0, 0, 0, 0, 0, 1,
    1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 7, 8, 9, 10, 24)
  private val InsertRangeLut: Array[Int] = Array(0, 0, 8, 8, 0, 16, 8,
    16, 16)
  private val CopyRangeLut: Array[Int] = Array(0, 8, 0, 8, 16, 0, 16,
    8, 16)

  // block count code (RFC 6, Table)
  private val BlockLenBase: Array[Int] = Array(1, 5, 9, 13, 17, 25, 33,
    41, 49, 65, 81, 97, 113, 145, 177, 209, 241, 305, 369, 497, 753,
    1265, 2289, 4337, 8433, 16625)
  private val BlockLenExtra: Array[Int] = Array(2, 2, 2, 2, 3, 3, 3, 3,
    4, 4, 4, 4, 5, 5, 5, 5, 6, 6, 7, 8, 9, 10, 11, 12, 13, 24)

  /** The order code lengths of the code-length code appear in
    * (RFC 3.5). */
  private val CLCodeOrder: Array[Int] = Array(1, 2, 3, 4, 0, 5, 17, 6,
    16, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  // ------------------------------------------------------------------
  // machinery
  // ------------------------------------------------------------------

  /** Internal malformed-stream signal; stackless (hot path) and caught
    * only by the public entry points. */
  private final class Malformed extends RuntimeException(
    "malformed brotli", null, false, false)
  private def bad(): Nothing = throw new Malformed

  /** The prefix code over `lens` (max length 15, RFC 3.2); the
    * reading-time space checks have already rejected a bad one. */
  private def code(lens: Array[Int]): PrefixCode =
    PrefixCode.fromLengths(lens, 15).getOrElse(bad())

  /** The next symbol of `c`. */
  private def next(c: PrefixCode, r: LsbBitReader): Int = {
    val s = c.decode(r)
    if (s < 0) bad()
    s
  }

  private def log2ceil(n: Int): Int = // bits to hold n-1
    32 - Integer.numberOfLeadingZeros(n - 1)

  /** Fixed prefix code over code-length-code lengths (RFC 3.5). */
  private def readClLen(r: LsbBitReader): Int = r.bits(2) match {
    case 0 => 0
    case 1 => 4
    case 2 => 3
    case _ => if (r.bits(1) == 0) 2 else if (r.bits(1) == 0) 1 else 5
  }

  /** Read one prefix code over `alphabet` symbols (RFC 3.4/3.5). */
  private def readCode(r: LsbBitReader, alphabet: Int): PrefixCode = {
    val form = r.bits(2)
    if (form == 1) { // simple
      val nSym = r.bits(2) + 1
      val aBits = log2ceil(alphabet)
      val syms = new Array[Int](nSym)
      var i = 0
      while (i < nSym) {
        val s = r.bits(aBits)
        if (s >= alphabet) bad()
        var j = 0
        while (j < i) { if (syms(j) == s) bad(); j += 1 }
        syms(i) = s
        i += 1
      }
      val lens = new Array[Int](alphabet)
      nSym match {
        case 1 => lens(syms(0)) = 1 // a lone symbol: zero bits
        case 2 => lens(syms(0)) = 1; lens(syms(1)) = 1
        case 3 =>
          lens(syms(0)) = 1; lens(syms(1)) = 2; lens(syms(2)) = 2
        case _ =>
          if (r.bits(1) == 0) syms.foreach(lens(_) = 2)
          else {
            lens(syms(0)) = 1; lens(syms(1)) = 2
            lens(syms(2)) = 3; lens(syms(3)) = 3
          }
      }
      code(lens)
    } else { // complex, form = HSKIP
      val clLens = new Array[Int](18)
      var space = 0
      var nNonzero = 0
      var i = form // HSKIP
      while (i < 18 && space < 32) {
        val l = readClLen(r)
        clLens(CLCodeOrder(i)) = l
        if (l != 0) {
          space += 32 >> l
          nNonzero += 1
        }
        i += 1
      }
      if (nNonzero == 0 || space > 32) bad()
      if (nNonzero > 1 && space != 32) bad()
      val clCode = code(clLens) // one nonzero length: zero bits
      // symbol code lengths under the CL code, with repeat codes
      val lens = new Array[Int](alphabet)
      var bigSpace = 0L
      var prevNonzeroLen = 8
      var at = 0
      var repeat = 0
      var repeatLen = -1 // the length being repeated; -1 = no run
      while (at < alphabet && bigSpace < 32768L) {
        val sym = next(clCode, r)
        if (sym < 16) {
          lens(at) = sym
          at += 1
          if (sym != 0) {
            prevNonzeroLen = sym
            bigSpace += 32768 >> sym
          }
          repeat = 0; repeatLen = -1
        } else {
          val extraBits = if (sym == 16) 2 else 3
          val newLen = if (sym == 16) prevNonzeroLen else 0
          if (repeatLen != newLen) { repeat = 0; repeatLen = newLen }
          val oldRepeat = repeat
          if (repeat > 0) repeat = (repeat - 2) << extraBits
          repeat += r.bits(extraBits) + 3
          val delta = repeat - oldRepeat
          if (at + delta > alphabet) bad()
          var k = 0
          while (k < delta) { lens(at) = newLen; at += 1; k += 1 }
          if (newLen != 0) bigSpace += delta.toLong * (32768 >> newLen)
        }
      }
      if (bigSpace != 32768L) bad()
      code(lens)
    }
  }

  /** RFC 9.2's variable-length count (NBLTYPES / NTREES), minus 1. */
  private def varLenUint8(r: LsbBitReader): Int =
    if (r.bits(1) == 0) 0
    else {
      val n = r.bits(3)
      if (n == 0) 1 else r.bits(n) + (1 << n)
    }

  /** Context map (RFC 7.3): RLE-of-zeros + inverse move-to-front. */
  private def readContextMap(r: LsbBitReader, size: Int, nTrees: Int)
      : Array[Byte] = {
    val map = new Array[Byte](size)
    val rleMax = if (r.bits(1) == 1) r.bits(4) + 1 else 0
    val code = readCode(r, nTrees + rleMax)
    var i = 0
    while (i < size) {
      val sym = next(code, r)
      if (sym == 0) { map(i) = 0; i += 1 }
      else if (sym <= rleMax) {
        var reps = (1 << sym) + r.bits(sym)
        if (i + reps > size) bad()
        while (reps > 0) { map(i) = 0; i += 1; reps -= 1 }
      } else {
        map(i) = (sym - rleMax).toByte
        i += 1
      }
    }
    if (r.bits(1) == 1) { // inverse MTF
      val mtf = new Array[Byte](256)
      var k = 0
      while (k < 256) { mtf(k) = k.toByte; k += 1 }
      i = 0
      while (i < size) {
        val idx = map(i) & 0xff
        val v = mtf(idx)
        var j = idx
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = v
        map(i) = v
        i += 1
      }
    }
    map
  }

  /** In-place "ferment" (UTF-8-aware uppercase twiddle, RFC 8);
    * returns the number of bytes consumed. */
  private def ferment(a: Array[Byte], i: Int): Int = {
    val c = a(i) & 0xff
    if (c < 192) {
      if (c >= 'a' && c <= 'z') a(i) = (c ^ 32).toByte
      1
    } else if (c < 224) {
      if (i + 1 < a.length) a(i + 1) = ((a(i + 1) & 0xff) ^ 32).toByte
      2
    } else {
      if (i + 2 < a.length) a(i + 2) = ((a(i + 2) & 0xff) ^ 5).toByte
      3
    }
  }

  /** Dictionary word `copyLen`/`index` through transform `tid`. */
  private def transformWord(copyLen: Int, index: Int, tid: Int)
      : Array[Byte] = {
    if (tid >= Transforms.length) bad()
    val (prefix, kind, suffix) = Transforms(tid)
    val base = OffsetsByLength(copyLen) + index * copyLen
    var from = 0
    var len = copyLen
    if (kind >= 12) { // omit first (kind-11)
      val n = kind - 11
      if (n >= len) { from = len; len = 0 }
      else { from = n; len -= n }
    } else if (kind >= 1 && kind <= 9) { // omit last
      len = math.max(0, len - kind)
    }
    val out = new Array[Byte](prefix.length + len + suffix.length)
    System.arraycopy(prefix, 0, out, 0, prefix.length)
    System.arraycopy(Dict, base + from, out, prefix.length, len)
    System.arraycopy(suffix, 0, out, prefix.length + len, suffix.length)
    if (kind == 10 && len > 0) ferment(out, prefix.length)
    else if (kind == 11) {
      var i = prefix.length
      val end = prefix.length + len
      while (i < end) i += ferment(out, i)
    }
    out
  }

  // ------------------------------------------------------------------
  // decoder
  // ------------------------------------------------------------------

  /** Decompress the Brotli stream in `b[from, until)`. `maxOut` caps
    * the output (hostile-stream guard). None on any malformation,
    * including trailing garbage after the last meta-block. */
  def decompress(b: Array[Byte], from: Int, until: Int,
      maxOut: Int): Option[Array[Byte]] =
    try {
      if (b == null || from < 0 || until > b.length || from >= until)
        return None
      val r = new LsbBitReader(b, from, until)
      // WBITS (RFC 9.1)
      val wbits =
        if (r.bits(1) == 0) 16
        else {
          val n = r.bits(3)
          if (n != 0) 17 + n
          else {
            val m = r.bits(3)
            if (m == 1) bad() // reserved (large-window)
            else if (m != 0) 8 + m
            else 17
          }
        }
      val window = (1 << wbits) - 16
      var out = new Array[Byte](math.min(maxOut, 64 << 10))
      var pos = 0
      def ensure(n: Int): Unit = {
        if (pos + n > maxOut) bad()
        if (pos + n > out.length) {
          var cap = out.length
          while (cap < pos + n) cap = math.min(maxOut, math.max(cap * 2, 64))
          out = java.util.Arrays.copyOf(out, cap)
        }
      }
      val ring = Array(16, 15, 11, 4)
      var ringIdx = 0
      var last = false
      while (!last) {
        last = r.bits(1) == 1
        if (last && r.bits(1) == 1) {
          // ISLASTEMPTY
        } else {
          val nibCode = r.bits(2)
          if (nibCode == 3) {
            // metadata block (RFC 9.2): never last, zero reserved bit
            if (last) bad()
            if (r.bits(1) != 0) bad()
            val skipBytes = r.bits(2)
            var skipLen = 0
            var i = 0
            var top = 0
            while (i < skipBytes) {
              top = r.bits(8)
              skipLen |= top << (8 * i)
              i += 1
            }
            if (skipBytes > 0 && top == 0) bad()
            if (skipBytes > 0) skipLen += 1
            if (r.alignByte() != 0) bad()
            r.skipBytes(skipLen)
          } else {
            val mNibbles = 4 + nibCode
            var mlen = 0
            var i = 0
            var topNib = 0
            while (i < mNibbles) {
              topNib = r.bits(4)
              mlen |= topNib << (4 * i)
              i += 1
            }
            if (mNibbles > 4 && topNib == 0) bad()
            mlen += 1
            val uncompressed = !last && r.bits(1) == 1
            if (uncompressed) {
              if (r.alignByte() != 0) bad()
              ensure(mlen)
              r.copyBytes(out, pos, mlen)
              pos += mlen
            } else {
              decodeCompressedBlock(r, mlen)
            }
          }
        }
      }
      if (r.alignByte() != 0) bad()
      if (!r.exhausted) bad() // trailing garbage
      // ---- one compressed meta-block ----
      def decodeCompressedBlock(r: LsbBitReader, mlen: Int): Unit = {
        val nBlTypes = new Array[Int](3)
        val bType = new Array[Int](3)
        val bTypePrev = new Array[Int](3)
        val bLen = new Array[Long](3)
        val bTypeCodes = new Array[PrefixCode](3)
        val bLenCodes = new Array[PrefixCode](3)
        var cat = 0
        while (cat < 3) {
          nBlTypes(cat) = varLenUint8(r) + 1
          bType(cat) = 0
          bTypePrev(cat) = 1
          if (nBlTypes(cat) >= 2) {
            bTypeCodes(cat) = readCode(r, nBlTypes(cat) + 2)
            bLenCodes(cat) = readCode(r, 26)
            val s = next(bLenCodes(cat), r)
            bLen(cat) = BlockLenBase(s) + r.bits(BlockLenExtra(s))
          } else bLen(cat) = Long.MaxValue
          cat += 1
        }
        def switchBlock(c: Int): Unit = {
          val sym = next(bTypeCodes(c), r)
          val nt = sym match {
            case 0 => bTypePrev(c)
            case 1 => (bType(c) + 1) % nBlTypes(c)
            case s => s - 2
          }
          bTypePrev(c) = bType(c)
          bType(c) = nt
          val s = next(bLenCodes(c), r)
          bLen(c) = BlockLenBase(s) + r.bits(BlockLenExtra(s))
        }
        val nPostfix = r.bits(2)
        val nDirect = r.bits(4) << nPostfix
        val postfixMask = (1 << nPostfix) - 1
        val cModes = new Array[Int](nBlTypes(0))
        var i = 0
        while (i < nBlTypes(0)) { cModes(i) = r.bits(2); i += 1 }
        val nTreesL = varLenUint8(r) + 1
        val cMapL =
          if (nTreesL >= 2) readContextMap(r, 64 * nBlTypes(0), nTreesL)
          else new Array[Byte](64 * nBlTypes(0))
        val nTreesD = varLenUint8(r) + 1
        val cMapD =
          if (nTreesD >= 2) readContextMap(r, 4 * nBlTypes(2), nTreesD)
          else new Array[Byte](4 * nBlTypes(2))
        val litCodes = Array.fill(nTreesL)(readCode(r, 256))
        val insCodes = Array.fill(nBlTypes(1))(readCode(r, 704))
        val distAlphabet = 16 + nDirect + (48 << nPostfix)
        val distCodes = Array.fill(nTreesD)(readCode(r, distAlphabet))
        var remaining = mlen
        while (remaining > 0) {
          if (bLen(1) == 0) switchBlock(1)
          bLen(1) -= 1
          val cmd = next(insCodes(bType(1)), r)
          val rangeHi = cmd >> 6
          val implicitDist0 = rangeHi < 2
          val ri = if (implicitDist0) rangeHi else rangeHi - 2
          val insCode = InsertRangeLut(ri) + ((cmd >> 3) & 7)
          val copyCode = CopyRangeLut(ri) + (cmd & 7)
          val insLen = InsBase(insCode) + r.bits(InsExtra(insCode))
          val copyLen = CopyBase(copyCode) + r.bits(CopyExtra(copyCode))
          // literals
          var k = 0
          while (k < insLen) {
            if (remaining == 0) bad()
            if (bLen(0) == 0) switchBlock(0)
            bLen(0) -= 1
            val p1 = if (pos > 0) out(pos - 1) & 0xff else 0
            val p2 = if (pos > 1) out(pos - 2) & 0xff else 0
            val mode = cModes(bType(0)) << 9
            val ctx = (CtxLut(mode + p1) | CtxLut(mode + 256 + p2)) & 0xff
            val tree = cMapL(bType(0) * 64 + ctx) & 0xff
            val lit = next(litCodes(tree), r)
            ensure(1)
            out(pos) = lit.toByte
            pos += 1
            remaining -= 1
            k += 1
          }
          if (remaining > 0) {
            // distance (implicit code 0 reads no symbol, RFC 9.3)
            var dist = 0
            var distCode = 0
            if (implicitDist0) {
              dist = ring((ringIdx - 1) & 3)
            } else {
              if (bLen(2) == 0) switchBlock(2)
              bLen(2) -= 1
              val dctx = math.min(copyLen - 2, 3)
              val tree = cMapD(bType(2) * 4 + dctx) & 0xff
              distCode = next(distCodes(tree), r)
              if (distCode < 16) {
                if (distCode < 4) dist = ring((ringIdx - 1 - distCode) & 3)
                else {
                  val base =
                    if (distCode < 10) ring((ringIdx - 1) & 3)
                    else ring((ringIdx - 2) & 3)
                  val d = (distCode - 4) % 6
                  val delta = (d >> 1) + 1
                  dist = if ((d & 1) == 0) base - delta else base + delta
                }
                if (dist <= 0) bad()
              } else if (distCode < 16 + nDirect) {
                dist = distCode - 16 + 1
              } else {
                val x = distCode - nDirect - 16
                val hcode = x >> nPostfix
                val lcode = x & postfixMask
                val nBits = 1 + (hcode >> 1)
                val extra = r.bits(nBits)
                val offset = ((2 + (hcode & 1)) << nBits) - 4
                dist = ((offset + extra) << nPostfix) + lcode + nDirect + 1
                if (dist <= 0) bad()
              }
            }
            val maxDist = math.min(pos, window)
            if (dist <= maxDist) {
              if (distCode != 0) { ring(ringIdx & 3) = dist; ringIdx += 1 }
              if (copyLen > remaining) bad()
              ensure(copyLen)
              var c = 0
              while (c < copyLen) { // overlap-safe byte copy
                out(pos) = out(pos - dist)
                pos += 1
                c += 1
              }
              remaining -= copyLen
            } else {
              // static dictionary reference (RFC 8)
              if (copyLen < 4 || copyLen > 24) bad()
              val ndBits = SizeBitsByLength(copyLen)
              val wordIdx = dist - maxDist - 1
              val index = wordIdx & ((1 << ndBits) - 1)
              val tid = wordIdx >>> ndBits
              val word = transformWord(copyLen, index, tid)
              if (word.length > remaining) bad()
              ensure(word.length)
              System.arraycopy(word, 0, out, pos, word.length)
              pos += word.length
              remaining -= word.length
            }
          }
        }
      }
      Some(java.util.Arrays.copyOf(out, pos))
    } catch {
      case _: Malformed => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }

  def decompress(b: Array[Byte], maxOut: Int): Option[Array[Byte]] =
    if (b == null) None else decompress(b, 0, b.length, maxOut)

  // ------------------------------------------------------------------
  // fixture encoders (conformant streams, reference-validated)
  // ------------------------------------------------------------------

  /** Uncompressed ("stored") meta-blocks + the empty last block —
    * the minimal conformant stream shape. */
  def encodeStored(data: Array[Byte]): Array[Byte] = {
    val w = new LsbBitWriter
    w.bits(0, 1) // WBITS = 16
    var at = 0
    while (at < data.length) {
      val n = math.min(data.length - at, 1 << 24)
      w.bits(0, 1) // ISLAST = 0
      val nibbles = if (n <= (1 << 16)) 4 else if (n <= (1 << 20)) 5 else 6
      w.bits(nibbles - 4, 2)
      w.bits(n - 1, 4 * nibbles)
      w.bits(1, 1) // ISUNCOMPRESSED
      w.alignByte()
      w.bytes(java.util.Arrays.copyOfRange(data, at, at + n))
      at += n
    }
    w.bits(1, 1) // ISLAST
    w.bits(1, 1) // ISLASTEMPTY
    w.toBytes
  }

  /** One compressed meta-block carrying `data` as literals under a
    * 256-symbol all-length-8 prefix code (the complex form, built
    * with interleaved repeat-16 runs), a single insert-only command,
    * and 1-symbol insert/distance codes — brotli's analog of zlib's
    * fixed-Huffman mode. Empty input falls back to the stored shape. */
  def encodeFixed(data: Array[Byte]): Array[Byte] = {
    val n = data.length
    if (n == 0) return encodeStored(data)
    require(n <= (1 << 24), s"single-block fixture cap: $n")
    val w = new LsbBitWriter
    w.bits(0, 1) // WBITS = 16
    w.bits(1, 1) // ISLAST
    w.bits(0, 1) // not empty
    val nibbles = if (n <= (1 << 16)) 4 else if (n <= (1 << 20)) 5 else 6
    w.bits(nibbles - 4, 2)
    w.bits(n - 1, 4 * nibbles)
    // NBLTYPES L/I/D = 1
    w.bits(0, 1); w.bits(0, 1); w.bits(0, 1)
    w.bits(0, 2) // NPOSTFIX
    w.bits(0, 4) // NDIRECT
    w.bits(0, 2) // context mode LSB6 for the single literal block type
    w.bits(0, 1) // NTREESL = 1
    w.bits(0, 1) // NTREESD = 1
    // literal code: complex form, HSKIP=0; CL lengths over the order
    // [1,2,3,4,0,5,17,6,16,7,8]: zeros, then len1 for 16, zero for 7,
    // len1 for 8 (space = 32, reader stops) — fixed-code bits: value 0
    // = "00", value 1 = "0111" read LSB-first as 1,1,1,0
    w.bits(0, 2) // HSKIP
    var i = 0
    while (i < 8) { w.bits(0, 2); i += 1 } // syms 1,2,3,4,0,5,17,6 -> 0
    w.bits(7, 3); w.bits(0, 1) // symbol 16 -> len 1
    w.bits(0, 2) // symbol 7 -> 0
    w.bits(7, 3); w.bits(0, 1) // symbol 8 -> len 1
    // CL code now: {8 -> 0, 16 -> 1}, one bit each. Emit 256 lengths
    // of 8: explicit '8', then 36 x [16(+3 reps=6), 8] pairs, then a
    // final 16 with 3 reps: 1 + 36*7 + 3 = 256, no adjacent 16s (the
    // repeat-accumulation rule never kicks in).
    w.bits(0, 1) // symbol 8
    i = 0
    while (i < 36) {
      w.bits(1, 1); w.bits(3, 2) // 16, extra 3 -> 6 reps
      w.bits(0, 1) // 8
      i += 1
    }
    w.bits(1, 1); w.bits(0, 2) // 16, extra 0 -> 3 reps
    // insert-and-copy code: simple 1-symbol; the symbol encodes an
    // insert length covering n with a zero-extra copy code (ignored:
    // the insert completes the meta-block, so copy and distance are
    // skipped per RFC 9.3)
    var insCode = 23
    while (InsBase(insCode) > n - 0) insCode -= 1
    // largest base <= insLen where insLen = n (one command, all-insert)
    while (n - InsBase(insCode) >= (1L << InsExtra(insCode))) insCode += 1
    val ri = if (insCode < 8) 0 else if (insCode < 16) 2 else 5
    val cmd = ((ri + 2) << 6) | ((insCode - InsertRangeLut(ri)) << 3)
    w.bits(1, 2) // simple form
    w.bits(0, 2) // NSYM = 1
    w.bits(cmd, 10) // alphabet 704 -> 10 bits
    // distance code: simple 1-symbol, symbol 0, alphabet 64 -> 6 bits
    w.bits(1, 2); w.bits(0, 2); w.bits(0, 6)
    // body: command symbol (0 bits), insert extra, literals (codes ==
    // symbol values, 8 bits, MSB of the code first)
    w.bits(n - InsBase(insCode), InsExtra(insCode))
    i = 0
    while (i < n) {
      w.writeCode(data(i) & 0xff, 8)
      i += 1
    }
    w.toBytes
  }
}
