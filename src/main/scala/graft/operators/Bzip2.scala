package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.Bytes.{BitReader, BitWriter, PrefixCode}

/** bzip2 CODEC — pure JVM, from the public format description (the
  * format has no official spec; the de-facto references are bzlib's
  * documented behavior and the community specification). `.tar.bz2`
  * is the OTHER classic source-tarball wrapper beside `.tar.xz` —
  * kernel.org history, Debian source packages, and Wikipedia dumps
  * all ship it — and the repo had no bzip2 support.
  *
  * DECODE implements the full pipeline: the bit-packed stream ("BZh"
  * + level, 48-bit block magics, byte-UNALIGNED block boundaries),
  * per-block: randomization flag (legacy; derandomized via the
  * public rNums table — Hadoop's CBZip2OutputStream still emits
  * randomised blocks on repetitive payloads), 24-bit BWT
  * origin pointer, the two-level symbol usage map, 2–6 Huffman
  * groups with MTF-encoded selectors and delta-encoded code lengths,
  * the 50-symbol group switching, RUNA/RUNB bijective-base-2 zero
  * runs, MTF decode, inverse Burrows-Wheeler transform (the classic
  * tt-vector walk), the final RLE1 expansion (4 equal bytes + count),
  * bzip2's MSB-first CRC32 per block, and the rotate-xor combined
  * stream CRC. Concatenated streams (pbzip2 layout) decode in
  * sequence.
  *
  * ENCODE is the runtime-encoder pattern (stored-zstd / literal-LZMA
  * mold, except bzip2 HAS no stored mode so this is a complete if
  * unoptimized compressor): RLE1 → rotation-sorted BWT → MTF + RLE2
  * → real frequency-built length-limited Huffman (two identical
  * groups, the format minimum; [[Bytes.PrefixCode]]) → canonical codes
  * in (length, symbol) order. Its streams are accepted by the reference implementations.
  *
  * Referee posture: three independent references in-container —
  * Hadoop's pure-Java CBZip2InputStream/CBZip2OutputStream (on the
  * Spark classpath inside hadoop-client-*, the codec Spark itself
  * uses for .bz2 inputs), the `bzip2` CLI, and CPython's bz2 (libbz2
  * itself) — refereed in BOTH directions in Bzip2Spec. Corrupt,
  * truncated, or CRC-broken input → None; legacy randomised blocks
  * decode (derandomized), matching the reference implementations.
  */
object Bzip2 {

  val MaxOut: Int = 1 << 26

  private final class Corrupt extends RuntimeException(null, null, false, false)
  private def fail(): Nothing = throw new Corrupt

  // bzip2 CRC32: poly 0x04C11DB7, MSB-first (NOT the zlib variant)
  private val crcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i << 24
      var k = 0
      while (k < 8) {
        c = if ((c & 0x80000000) != 0) (c << 1) ^ 0x04c11db7 else c << 1
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }

  private final class Crc {
    var v: Int = -1
    def update(b: Int): Unit =
      v = (v << 8) ^ crcTable(((v >>> 24) ^ (b & 0xff)) & 0xff)
    def result: Int = ~v
  }

  private val BlockMagic = 0x314159265359L
  private val EosMagic = 0x177245385090L

  /** bzip2's legacy randomisation table (public spec data from
    * randtable.c), read from the Spark classpath's hadoop codec. */
  private lazy val randTable: Array[Int] =
    org.apache.hadoop.io.compress.bzip2.BZip2Constants.rNums

  // ---- decode ---------------------------------------------------------

  /** Decode one block (magic already consumed). Returns block CRC. */
  private def decodeBlock(r: BitReader, out: ByteArrayOutputStream,
      blockSize100k: Int, maxOut: Int): Int = {
    val storedCrc = r.bits(32)
    // legacy randomised blocks: deprecated since bzip2 0.9.5, but
    // Hadoop's CBZip2OutputStream (Spark's own .bz2 codec) still
    // EMITS them for highly repetitive blocks, so real Spark-written
    // data contains them. The 512-entry rand table is public spec
    // data (bzip2's randtable.c); we read it off the Spark classpath
    // (BZip2Constants.rNums) rather than re-typing 512 literals.
    val randomised = r.bit() == 1
    val origPtr = r.bits(24)
    // symbol map
    val used = new Array[Boolean](256)
    val big = r.bits(16)
    var i = 0
    while (i < 16) {
      if ((big & (0x8000 >>> i)) != 0) {
        val small = r.bits(16)
        var j = 0
        while (j < 16) {
          if ((small & (0x8000 >>> j)) != 0) used(i * 16 + j) = true
          j += 1
        }
      }
      i += 1
    }
    val seq = (0 until 256).filter(used).toArray
    val nUsed = seq.length
    if (nUsed == 0) fail()
    val alpha = nUsed + 2
    val nGroups = r.bits(3)
    if (nGroups < 2 || nGroups > 6) fail()
    val nSelectors = r.bits(15)
    if (nSelectors < 1) fail()
    // selectors: MTF over group ids
    val selMtf = Array.tabulate(nGroups)(identity)
    val selectors = new Array[Int](nSelectors)
    i = 0
    while (i < nSelectors) {
      var j = 0
      while (r.bit() == 1) { j += 1; if (j >= nGroups) fail() }
      val v = selMtf(j)
      var k = j
      while (k > 0) { selMtf(k) = selMtf(k - 1); k -= 1 }
      selMtf(0) = v
      selectors(i) = v
      i += 1
    }
    // Huffman tables: delta-encoded lengths
    val lens = Array.ofDim[Int](nGroups, alpha)
    var g = 0
    while (g < nGroups) {
      var cur = r.bits(5)
      var s = 0
      while (s < alpha) {
        var moving = true
        while (moving) {
          if (cur < 1 || cur > 20) fail()
          if (r.bit() == 0) moving = false
          else cur += (if (r.bit() == 0) 1 else -1)
        }
        lens(g)(s) = cur
        s += 1
      }
      g += 1
    }
    // canonical codes, lengths 1..20; bzip2 does not require them
    // complete, and never builds a one-symbol code (alpha >= 3)
    val codes = lens.map(l => PrefixCode.fromLengths(l, 20).getOrElse(fail()))
    // MTF + RLE2 decode into the BWT string
    val blockLimit = blockSize100k * 100000 + 10
    val ll = new Array[Byte](blockLimit)
    var nBlock = 0
    val mtf = seq.clone()
    var groupNo = -1
    var groupPos = 0
    def nextSym(): Int = {
      if (groupPos == 0) {
        groupNo += 1
        if (groupNo >= nSelectors) fail()
        groupPos = 50
      }
      groupPos -= 1
      val sym = codes(selectors(groupNo)).decode(r)
      if (sym < 0) fail()
      sym
    }
    val eob = alpha - 1
    var sym = nextSym()
    while (sym != eob) {
      if (sym == 0 || sym == 1) {
        // RUNA/RUNB zero-run, bijective base 2
        var run = 0L
        var shift = 0
        while (sym == 0 || sym == 1) {
          run += (if (sym == 0) 1L else 2L) << shift
          shift += 1
          if (shift > 40) fail()
          sym = nextSym()
        }
        if (run > blockLimit - nBlock) fail()
        val b0 = mtf(0)
        var k = 0L
        while (k < run) { ll(nBlock) = b0.toByte; nBlock += 1; k += 1 }
      } else {
        // MTF symbol 1..nUsed
        val j = sym - 1
        if (j >= nUsed) fail()
        val v = mtf(j)
        var k = j
        while (k > 0) { mtf(k) = mtf(k - 1); k -= 1 }
        mtf(0) = v
        if (nBlock >= blockLimit) fail()
        ll(nBlock) = v.toByte
        nBlock += 1
        sym = nextSym()
      }
    }
    if (origPtr >= nBlock || nBlock == 0) fail()
    // inverse BWT: classic tt-vector
    val cftab = new Array[Int](257)
    i = 0
    while (i < nBlock) { cftab((ll(i) & 0xff) + 1) += 1; i += 1 }
    i = 1
    while (i < 257) { cftab(i) += cftab(i - 1); i += 1 }
    val tt = new Array[Int](nBlock)
    i = 0
    while (i < nBlock) {
      val c = ll(i) & 0xff
      tt(cftab(c)) = i
      cftab(c) += 1
      i += 1
    }
    // walk (+ derandomization) + RLE1 expansion + CRC
    val crc = new Crc
    var tPos = tt(origPtr)
    var emitted = 0
    var runByte = -1
    var runLen = 0
    var rNToGo = 0
    var rTPos = 0
    i = 0
    while (i < nBlock) {
      var ch = ll(tPos) & 0xff
      tPos = tt(tPos)
      if (randomised) {
        if (rNToGo == 0) {
          rNToGo = randTable(rTPos)
          rTPos += 1
          if (rTPos == 512) rTPos = 0
        }
        rNToGo -= 1
        if (rNToGo == 1) ch ^= 1
      }
      if (runLen == 4) {
        // ch is the repeat count for the preceding 4-run
        var k = 0
        while (k < ch) {
          out.write(runByte); crc.update(runByte); emitted += 1
          k += 1
        }
        if (out.size() > maxOut) fail()
        runLen = 0
        runByte = -1
      } else {
        if (ch == runByte) runLen += 1
        else { runByte = ch; runLen = 1 }
        out.write(ch); crc.update(ch); emitted += 1
        if (out.size() > maxOut) fail()
      }
      i += 1
    }
    if (runLen == 4) fail() // dangling run without its count byte
    if (crc.result != storedCrc) fail()
    storedCrc
  }

  /** Full decode: one or more concatenated streams, every CRC
    * verified. Corrupt/truncated → None; legacy randomised blocks
    * are derandomized. */
  def bunzip2(b: Array[Byte], maxOut: Int = MaxOut): Option[Array[Byte]] =
    try {
      if (b == null || b.length < 14) return None
      val out = new ByteArrayOutputStream(math.min(b.length * 4, 1 << 16))
      val r = new BitReader(b)
      var streams = 0
      var done = false
      while (!done) {
        if (r.bits(8) != 'B' || r.bits(8) != 'Z' || r.bits(8) != 'h') fail()
        val level = r.bits(8) - '0'
        if (level < 1 || level > 9) fail()
        var combined = 0
        var eos = false
        while (!eos) {
          val magic = r.bitsLong(48)
          if (magic == BlockMagic) {
            val c = decodeBlock(r, out, level, maxOut)
            combined = ((combined << 1) | (combined >>> 31)) ^ c
          } else if (magic == EosMagic) {
            val storedCombined = r.bits(32)
            if (storedCombined != combined) fail()
            eos = true
          } else fail()
        }
        streams += 1
        // next stream begins byte-aligned
        r.alignByte()
        if (r.bytePos >= b.length) done = true
      }
      if (streams == 0) fail()
      Some(out.toByteArray)
    } catch {
      case _: Corrupt | _: ArrayIndexOutOfBoundsException |
        _: NegativeArraySizeException => None
    }

  // ---- encode ---------------------------------------------------------

  /** RLE1: mandatory pre-BWT run packing (runs of 4..259 become four
    * bytes + a count byte). */
  private def rle1(data: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(until - from + 16)
    var i = from
    while (i < until) {
      val c = data(i)
      var run = 1
      while (i + run < until && run < 259 && data(i + run) == c) run += 1
      if (run < 4) {
        var k = 0
        while (k < run) { out.write(c); k += 1 }
      } else {
        var k = 0
        while (k < 4) { out.write(c); k += 1 }
        out.write(run - 4)
      }
      i += run
    }
    out.toByteArray
  }

  /** Complete single-block-at-a-time bzip2 compressor. */
  def bzip2Compress(data: Array[Byte], level: Int = 9): Array[Byte] = {
    require(level >= 1 && level <= 9)
    val w = new BitWriter
    w.bits('B', 8); w.bits('Z', 8); w.bits('h', 8)
    w.bits('0' + level, 8)
    val rawLimit = level * 100000 - 20
    var combined = 0
    var off = 0
    // empty input = the canonical zero-block stream (header + EOS)
    while (off < data.length) {
      // take raw input such that the RLE1 form fits the block
      // (RLE1 can expand exact 4-runs by 1/4: shrink until it fits)
      var take = math.min(rawLimit, data.length - off)
      var packed = rle1(data, off, off + take)
      while (packed.length > rawLimit) {
        take = take * 4 / 5
        packed = rle1(data, off, off + take)
      }
      encodeBlock(w, packed, data, off, take)
      val crc = new Crc
      var i = off
      while (i < off + take) { crc.update(data(i)); i += 1 }
      combined = ((combined << 1) | (combined >>> 31)) ^ crc.result
      off += take
    }
    w.bits(EosMagic, 48)
    w.bits(combined, 32)
    w.toBytes
  }

  /** Encode one block from its RLE1-packed form. */
  private def encodeBlock(w: BitWriter, packed: Array[Byte],
      raw: Array[Byte], rawOff: Int, rawLen: Int): Unit = {
    val n = packed.length
    // BWT by rotation sort (O(n log n * cmp) — fixture-scale blocks)
    val idx = Array.tabulate(n)(identity)
    val sorted = idx.sortWith { (a, b) =>
      var i = 0
      var r = 0
      var done = false
      while (!done && i < n) {
        val ca = packed((a + i) % n) & 0xff
        val cb = packed((b + i) % n) & 0xff
        if (ca != cb) { r = ca - cb; done = true }
        i += 1
      }
      r < 0
    }
    val bwt = new Array[Byte](n)
    var origPtr = -1
    var i = 0
    while (i < n) {
      val rot = sorted(i)
      if (rot == 0) origPtr = i
      bwt(i) = packed((rot + n - 1) % n)
      i += 1
    }
    // symbol map
    val used = new Array[Boolean](256)
    i = 0
    while (i < n) { used(bwt(i) & 0xff) = true; i += 1 }
    val seq = (0 until 256).filter(used).toArray
    val nUsed = seq.length
    val alpha = nUsed + 2
    val eob = alpha - 1
    // MTF + RLE2
    val mtf = seq.clone()
    val syms = new scala.collection.mutable.ArrayBuffer[Int](n + 8)
    var zeroRun = 0L
    def flushRun(): Unit = {
      var r = zeroRun
      while (r > 0) {
        if ((r & 1) == 1) { syms += 0; r = (r - 1) / 2 }
        else { syms += 1; r = (r - 2) / 2 }
      }
      zeroRun = 0
    }
    i = 0
    while (i < n) {
      val c = bwt(i) & 0xff
      var j = 0
      while (mtf(j) != c) j += 1
      if (j == 0) zeroRun += 1
      else {
        flushRun()
        syms += (j + 1)
        var k = j
        while (k > 0) { mtf(k) = mtf(k - 1); k -= 1 }
        mtf(0) = c
      }
      i += 1
    }
    flushRun()
    syms += eob
    // two identical Huffman groups (the format minimum)
    val freq = new Array[Int](alpha)
    syms.foreach(sym => freq(sym) += 1)
    val lens = PrefixCode.huffmanLengths(freq.map(math.max(1, _)), 20)
    val codes = PrefixCode.codes(lens)
    val nSelectors = (syms.length + 49) / 50
    // block header
    w.bits(BlockMagic, 48)
    val crc = new Crc
    i = rawOff
    while (i < rawOff + rawLen) { crc.update(raw(i)); i += 1 }
    w.bits(crc.result, 32)
    w.bits(0, 1) // not randomized
    w.bits(origPtr, 24)
    var big = 0
    i = 0
    while (i < 16) {
      var any = false
      var j = 0
      while (j < 16) { if (used(i * 16 + j)) any = true; j += 1 }
      if (any) big |= 0x8000 >>> i
      i += 1
    }
    w.bits(big, 16)
    i = 0
    while (i < 16) {
      if ((big & (0x8000 >>> i)) != 0) {
        var small = 0
        var j = 0
        while (j < 16) {
          if (used(i * 16 + j)) small |= 0x8000 >>> j
          j += 1
        }
        w.bits(small, 16)
      }
      i += 1
    }
    w.bits(2, 3) // nGroups = 2
    w.bits(nSelectors, 15)
    // selectors: all group 0 -> MTF position 0 every time
    i = 0
    while (i < nSelectors) { w.bits(0, 1); i += 1 }
    // two identical tables, delta-encoded
    var g = 0
    while (g < 2) {
      var cur = lens(0)
      w.bits(cur, 5)
      var s = 0
      while (s < alpha) {
        while (cur < lens(s)) { w.bits(2, 2) /* 10 */; cur += 1 }
        while (cur > lens(s)) { w.bits(3, 2) /* 11 */; cur -= 1 }
        w.bits(0, 1)
        s += 1
      }
      g += 1
    }
    // symbol stream
    syms.foreach(sym => w.bits(codes(sym), lens(sym)))
  }

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(

    // bzip2 round-trip census: level varies, every blob a complete
    // compressor output (bzip2 has no stored mode — this exercises
    // BWT/MTF/Huffman both ways at runtime); ok is byte-exactness.
    QueryDef(
      "q432_bzip2_roundtrip",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val data = text.getBytes("UTF-8")
            val blob = bzip2Compress(data, level = (1 + id % 3).toInt)
            val dec = Bzip2.bunzip2(blob)
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
        ORDER BY doc_id""")),

    // .tar.bz2 member walk — the dispatcher's fourth wrapper beside
    // .tar.gz (q323), .tar.zst (q323), and .tar.xz (q425).
    QueryDef(
      "q433_tar_bz2_members",
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
            val blob = bzip2Compress(tar, level = (1 + id % 9).toInt)
            val isBz2 = blob.length > 4 && blob(0) == 'B' &&
              blob(1) == 'Z' && blob(2) == 'h'
            val members =
              if (isBz2) Bzip2.bunzip2(blob).map(Archive.tarMembers)
              else None
            (id,
              if (isBz2) "bzip2" else "unknown",
              members.map(_.length.toLong).getOrElse(-1L),
              members.flatMap(_.find(_.name == s"a$id.txt"))
                .map(_.size).getOrElse(-1L))
          }
          .toDF("doc_id", "outer_format", "n_members", "text_bytes")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id, 'bzip2' AS outer_format,
               CAST(2 AS BIGINT) AS n_members,
               CAST(octet_length(encode(text)) AS BIGINT) AS text_bytes
        FROM documents
        ORDER BY doc_id""")))
}
