package graft.operators

import java.io.ByteArrayOutputStream

import graft.operators.Bytes.{u16le, u24le, u32le}

/** Snappy, from the public format descriptions in google/snappy
  * (`format_description.txt` — the raw block format — and
  * `framing_format.txt` — the `sNaPpY` chunked stream with masked
  * CRC-32C integrity). Snappy is the other workhorse codec of the
  * lakehouse world (parquet pages, RCFiles, RPC payloads, `.sz`
  * side files); [[ZstdCodec]] covers zstd, this covers snappy, and
  * both are REFEREED by the battle-tested JNI codecs already on the
  * Spark classpath (snappy-java here; see SnappyCodecSpec — reference
  * encodings decode byte-exactly and our encodings are accepted by
  * the reference).
  *
  * Decode contract: torn varints, oversize declared lengths, copies
  * reaching before the start of output, reserved unskippable chunk
  * types, CRC mismatches, and trailing garbage all return None.
  *
  * The raw encoder is deliberately simple-but-conformant: greedy
  * hash-match compression is the reference library's job; ours emits
  * literal runs plus the one self-overlap copy shape (offset <
  * length) that exercises decoders hardest. The framing encoder
  * chunks at the spec's 65,536-byte uncompressed cap, alternating
  * compressed and uncompressed chunk types, with a skippable padding
  * chunk planted mid-stream.
  */
object SnappyCodec {

  // ------------------------------------------------------------------
  // raw block format
  // ------------------------------------------------------------------

  /** Decode one raw snappy block in `b[from, until)`. */
  def decompressRaw(b: Array[Byte], from: Int, until: Int,
      maxOut: Int): Option[Array[Byte]] = {
    try {
      if (b == null || from < 0 || until > b.length || from >= until)
        return None
      // the preamble is a 32-bit length: five bytes at most
      val (total, dataAt) = Bytes.varint(b, from)
        .filter { case (v, next) => next - from <= 5 && v <= 0xffffffffL }
        .getOrElse(return None)
      if (total > maxOut) return None
      val out = new Array[Byte](total.toInt)
      var pos = 0
      var i = dataAt
      while (i < until) {
        val tag = b(i) & 0xff
        i += 1
        (tag & 3) match {
          case 0 => // literal
            var len = (tag >> 2) + 1
            if (len > 60) {
              val nb = len - 60 // 1..4 extra length bytes, LE
              if (i + nb > until) return None
              var v = 0L
              var k = 0
              while (k < nb) { v |= (b(i + k) & 0xffL) << (8 * k); k += 1 }
              if (v > 0xffffffffL - 1) return None
              i += nb
              len = (v + 1).toInt
              if (len <= 0) return None
            }
            if (i + len > until || pos + len > out.length) return None
            System.arraycopy(b, i, out, pos, len)
            i += len
            pos += len
          case tp =>
            var len = 0
            var offset = 0L
            if (tp == 1) {
              if (i + 1 > until) return None
              len = 4 + ((tag >> 2) & 7)
              offset = ((tag >> 5).toLong << 8) | (b(i) & 0xffL)
              i += 1
            } else if (tp == 2) {
              if (i + 2 > until) return None
              len = (tag >> 2) + 1
              offset = u16le(b, i)
              i += 2
            } else {
              if (i + 4 > until) return None
              len = (tag >> 2) + 1
              offset = u32le(b, i)
              i += 4
            }
            if (offset <= 0 || offset > pos) return None // before start
            if (pos + len > out.length) return None
            var k = 0
            val d = offset.toInt
            while (k < len) { // overlap-safe byte copy
              out(pos) = out(pos - d)
              pos += 1
              k += 1
            }
        }
      }
      if (pos != out.length) return None // short stream
      Some(out)
    } catch { case _: ArrayIndexOutOfBoundsException => None }
  }

  def decompressRaw(b: Array[Byte], maxOut: Int): Option[Array[Byte]] =
    if (b == null) None else decompressRaw(b, 0, b.length, maxOut)

  /** Conformant raw encoder: the varint preamble, literal runs (all
    * four length-byte shapes reachable), and — when `selfOverlap` and
    * the data begins with a repeated byte run — one overlapping copy
    * (offset 1) covering it, the shape that breaks word-at-a-time
    * copy loops. */
  def compressRawLiteral(data: Array[Byte],
      selfOverlap: Boolean = false): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + 8)
    var v = data.length.toLong
    do {
      val x = (v & 0x7f).toInt
      v >>= 7
      out.write(if (v != 0) x | 0x80 else x)
    } while (v != 0)
    var at = 0
    if (selfOverlap && data.length >= 8) {
      var run = 1
      // copy2 length encodes 1..64, so the covered run caps at 65
      while (run < data.length && data(run) == data(0) && run < 65) run += 1
      if (run >= 8) {
        // 1-byte literal then a copy2 of (run-1) at offset 1
        out.write(0) // literal, len 1
        out.write(data(0))
        out.write(((run - 1 - 1) << 2) | 2)
        out.write(1); out.write(0) // offset 1, LE
        at = run
      }
    }
    while (at < data.length) {
      val n = math.min(data.length - at, 65536)
      if (n <= 60) out.write(((n - 1) << 2))
      else if (n <= 256) { out.write((60 << 2) | 0); out.write(n - 1) }
      else {
        out.write((61 << 2) | 0)
        out.write((n - 1) & 0xff); out.write(((n - 1) >> 8) & 0xff)
      }
      out.write(data, at, n)
      at += n
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // framing format (sNaPpY)
  // ------------------------------------------------------------------

  private val StreamId = "sNaPpY".getBytes("ISO-8859-1")

  /** The framing format's masked CRC-32C of `data` (framing spec §3). */
  private def maskedCrc(data: Array[Byte], from: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32C
    c.update(data, from, len)
    val crc = c.getValue
    (((crc >>> 15) | (crc << 17)) + 0xa282ead8L) & 0xffffffffL
  }

  /** Decode a framed snappy stream: the leading stream-identifier
    * chunk, compressed (0x00) and uncompressed (0x01) data chunks
    * with their masked CRC-32C verified, skippable padding (0xfe,
    * 0x80–0xfd) skipped, reserved UNSKIPPABLE types (0x02–0x7f)
    * rejected. */
  def decompressFramed(b: Array[Byte], maxOut: Int)
      : Option[Array[Byte]] = {
    try {
      if (b == null || b.length < 10) return None
      var i = 0
      var first = true
      val out = new ByteArrayOutputStream(math.min(maxOut, b.length * 3))
      while (i < b.length) {
        if (i + 4 > b.length) return None
        val tpe = b(i) & 0xff
        val len = u24le(b, i + 1)
        i += 4
        if (i + len > b.length) return None
        if (first) {
          // the stream identifier must come first, exactly "sNaPpY"
          if (tpe != 0xff || len != 6) return None
          var k = 0
          while (k < 6) {
            if (b(i + k) != StreamId(k)) return None
            k += 1
          }
          first = false
        } else tpe match {
          case 0xff => // repeated stream identifier: legal, re-verify
            if (len != 6) return None
            var k = 0
            while (k < 6) {
              if (b(i + k) != StreamId(k)) return None
              k += 1
            }
          case 0x00 => // compressed data chunk
            if (len < 4) return None
            val want = u32le(b, i)
            val block = decompressRaw(b, i + 4, i + len,
              math.min(65536, maxOut)).getOrElse(return None)
            if (maskedCrc(block, 0, block.length) != want) return None
            if (out.size() + block.length > maxOut) return None
            out.write(block, 0, block.length)
          case 0x01 => // uncompressed data chunk
            if (len < 4 || len - 4 > 65536) return None
            val want = u32le(b, i)
            if (maskedCrc(b, i + 4, len - 4) != want) return None
            if (out.size() + (len - 4) > maxOut) return None
            out.write(b, i + 4, len - 4)
          case t if t >= 0x80 || t == 0xfe => // skippable padding
          case _ => return None // 0x02–0x7f: reserved unskippable
        }
        i += len
      }
      if (first) return None // empty input never had the identifier
      Some(out.toByteArray)
    } catch { case _: ArrayIndexOutOfBoundsException => None }
  }

  /** Framed encoder: identifier, then ≤65,536-byte chunks alternating
    * compressed (our raw encoder) and uncompressed types, a padding
    * chunk after the first data chunk. */
  def compressFramed(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + 64)
    def chunk(tpe: Int, payload: Array[Byte]): Unit = {
      out.write(tpe)
      out.write(payload.length & 0xff)
      out.write((payload.length >> 8) & 0xff)
      out.write((payload.length >> 16) & 0xff)
      out.write(payload, 0, payload.length)
    }
    chunk(0xff, StreamId)
    var at = 0
    var k = 0
    while (at < data.length || (at == 0 && data.isEmpty)) {
      if (data.isEmpty) { at = 1 } // identifier-only stream is valid
      else {
        val n = math.min(data.length - at, 65536)
        val crc = maskedCrc(data, at, n)
        val crcBytes = Array[Byte](
          (crc & 0xff).toByte, ((crc >> 8) & 0xff).toByte,
          ((crc >> 16) & 0xff).toByte, ((crc >> 24) & 0xff).toByte)
        if (k % 2 == 0) {
          val raw = compressRawLiteral(
            java.util.Arrays.copyOfRange(data, at, at + n))
          chunk(0x00, crcBytes ++ raw)
        } else {
          chunk(0x01,
            crcBytes ++ java.util.Arrays.copyOfRange(data, at, at + n))
        }
        if (k == 0) chunk(0xfe, Array[Byte](0, 0)) // padding mid-stream
        at += n
        k += 1
      }
    }
    out.toByteArray
  }
}
