package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.functions._

import graft.engine.Tables

/** The classic PDF stream filters beyond FlateDecode (ISO 32000-1
  * §7.4): ASCIIHexDecode (7.4.2 — hex pairs, whitespace ignored, `>`
  * EOD, odd trailing digit implies a final 0 nibble), ASCII85Decode
  * (7.4.3 — base-85 groups, `z` for an all-zero group at group start
  * only, `~>` EOD, partial final groups), RunLengthDecode (7.4.5 —
  * the PackBits scheme: 0–127 literal runs, 129–255 repeats, 128
  * EOD), and LZWDecode (7.4.4 — delegated to [[Lzw]], the MSB-first
  * TIFF-variant codec, with /EarlyChange support). [[decodeChain]]
  * applies a /Filter ARRAY in order — real PDFs wrap binary filters
  * in an ASCII armor ([/ASCII85Decode /FlateDecode]) for 7-bit-safe
  * embedding, and a reader that handles only single filters cannot
  * open them.
  *
  * Referees: CPython's base64.a85decode/a85encode and binascii cover
  * the ASCII armors both directions (PdfFiltersSpec); FlateDecode is
  * JDK zlib; LZWDecode referees in LzwSpec against ImageIO's TIFF-LZW
  * writer and the independently-refereed [[Pixels]] strip codec.
  * Malformed input → None.
  */
object PdfFilters {

  // ---- ASCIIHexDecode -------------------------------------------------

  def asciiHexDecode(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null) return None
    val out = new ByteArrayOutputStream(b.length / 2 + 1)
    var hi = -1
    var i = 0
    var ended = false
    while (i < b.length && !ended) {
      val c = b(i) & 0xff
      if (c == '>') ended = true
      else if (c == ' ' || c == '\n' || c == '\r' || c == '\t' ||
        c == '\f' || c == 0) ()
      else {
        val v = Character.digit(c, 16)
        if (v < 0) return None
        if (hi < 0) hi = v
        else { out.write((hi << 4) | v); hi = -1 }
      }
      i += 1
    }
    if (!ended) return None // EOD required
    if (hi >= 0) out.write(hi << 4) // odd final digit -> low nibble 0
    Some(out.toByteArray)
  }

  def asciiHexEncode(data: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder(data.length * 2 + 1)
    data.foreach(x => sb.append(f"${x & 0xff}%02X"))
    sb.append('>')
    sb.toString.getBytes("US-ASCII")
  }

  // ---- ASCII85Decode --------------------------------------------------

  def ascii85Decode(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null) return None
    val out = new ByteArrayOutputStream(b.length * 4 / 5 + 4)
    val group = new Array[Int](5)
    var gLen = 0
    var i = 0
    var ended = false
    while (i < b.length && !ended) {
      val c = b(i) & 0xff
      if (c == '~') {
        if (i + 1 >= b.length || b(i + 1) != '>') return None
        ended = true
      } else if (c == ' ' || c == '\n' || c == '\r' || c == '\t' ||
        c == '\f' || c == 0) ()
      else if (c == 'z') {
        if (gLen != 0) return None // z only at group start
        out.write(0); out.write(0); out.write(0); out.write(0)
      } else if (c >= '!' && c <= 'u') {
        group(gLen) = c - '!'
        gLen += 1
        if (gLen == 5) {
          var v = 0L
          var k = 0
          while (k < 5) { v = v * 85 + group(k); k += 1 }
          if (v > 0xffffffffL) return None // group overflow
          out.write(((v >>> 24) & 0xff).toInt)
          out.write(((v >>> 16) & 0xff).toInt)
          out.write(((v >>> 8) & 0xff).toInt)
          out.write((v & 0xff).toInt)
          gLen = 0
        }
      } else return None
      i += 1
    }
    if (!ended) return None
    if (gLen == 1) return None // a single leftover digit is malformed
    if (gLen > 1) {
      var v = 0L
      var k = 0
      while (k < 5) { v = v * 85 + (if (k < gLen) group(k) else 84); k += 1 }
      if (v > 0xffffffffL) return None
      var k2 = 0
      while (k2 < gLen - 1) {
        out.write(((v >>> (24 - 8 * k2)) & 0xff).toInt)
        k2 += 1
      }
    }
    Some(out.toByteArray)
  }

  def ascii85Encode(data: Array[Byte]): Array[Byte] = {
    val out = new StringBuilder(data.length * 5 / 4 + 4)
    var i = 0
    while (i + 4 <= data.length) {
      var v = 0L
      var k = 0
      while (k < 4) { v = (v << 8) | (data(i + k) & 0xffL); k += 1 }
      if (v == 0) out.append('z')
      else {
        val g = new Array[Char](5)
        var k2 = 4
        while (k2 >= 0) { g(k2) = ('!' + (v % 85).toInt).toChar; v /= 85; k2 -= 1 }
        out.appendAll(g)
      }
      i += 4
    }
    val rem = data.length - i
    if (rem > 0) {
      var v = 0L
      var k = 0
      while (k < 4) {
        v = (v << 8) | (if (k < rem) data(i + k) & 0xffL else 0L)
        k += 1
      }
      val g = new Array[Char](5)
      var k2 = 4
      while (k2 >= 0) { g(k2) = ('!' + (v % 85).toInt).toChar; v /= 85; k2 -= 1 }
      out.appendAll(g, 0, rem + 1)
    }
    out.append("~>")
    out.toString.getBytes("US-ASCII")
  }

  // ---- RunLengthDecode (PackBits) --------------------------------------

  def runLengthDecode(b: Array[Byte],
      maxOut: Int = 1 << 26): Option[Array[Byte]] = {
    if (b == null) return None
    val out = new ByteArrayOutputStream(b.length * 2)
    var i = 0
    var ended = false
    while (i < b.length && !ended) {
      val l = b(i) & 0xff
      i += 1
      if (l == 128) ended = true
      else if (l < 128) {
        if (i + l + 1 > b.length) return None
        out.write(b, i, l + 1)
        i += l + 1
      } else {
        if (i >= b.length) return None
        val n = 257 - l
        var k = 0
        while (k < n) { out.write(b(i)); k += 1 }
        i += 1
      }
      if (out.size > maxOut) return None
    }
    if (!ended) return None
    Some(out.toByteArray)
  }

  def runLengthEncode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length + data.length / 128 + 2)
    var i = 0
    while (i < data.length) {
      var run = 1
      while (i + run < data.length && run < 128 && data(i + run) == data(i))
        run += 1
      if (run >= 3) {
        out.write(257 - run)
        out.write(data(i))
        i += run
      } else {
        var lit = run
        while (i + lit < data.length && lit < 128 &&
          !(i + lit + 2 < data.length && data(i + lit) == data(i + lit + 1)
            && data(i + lit) == data(i + lit + 2))) lit += 1
        out.write(lit - 1)
        out.write(data, i, lit)
        i += lit
      }
    }
    out.write(128)
    out.toByteArray
  }

  // ---- chain ------------------------------------------------------------

  /** Apply a /Filter array in decode order. Supported names:
    * ASCIIHexDecode, ASCII85Decode, RunLengthDecode, FlateDecode,
    * LZWDecode (with earlyChange). Unknown filter → None. */
  def decodeChain(b: Array[Byte], filters: Seq[String],
      earlyChange: Int = 1): Option[Array[Byte]] =
    filters.foldLeft(Option(b)) { (acc, f) =>
      acc.flatMap { data =>
        f.stripPrefix("/") match {
          case "ASCIIHexDecode"  => asciiHexDecode(data)
          case "ASCII85Decode"   => ascii85Decode(data)
          case "RunLengthDecode" => runLengthDecode(data)
          case "LZWDecode" if earlyChange == 0 || earlyChange == 1 =>
            Lzw.decode(data, Lzw.pdf(earlyChange))
          case "FlateDecode" => Bytes.inflate(data, 0, data.length).map(_._1)
          case _ => None
        }
      }
    }

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(

    // PDF filter chains: five armor/compression shapes cycle over the
    // corpus — plain hex, plain base-85, and base-85 armored
    // RunLength / LZW / Flate (the [/ASCII85Decode /XDecode] array
    // form real generators emit). Decode is map-side; ok is
    // byte-exactness against the original content stream.
    QueryDef(
      "q436_pdf_filter_chains",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val content = s"BT /F1 12 Tf ($id) Tj ET $text".getBytes("UTF-8")
            val (stored, chain, variant) = (id % 5) match {
              case 0 => (asciiHexEncode(content),
                Seq("ASCIIHexDecode"), "ahx")
              case 1 => (ascii85Encode(content),
                Seq("ASCII85Decode"), "a85")
              case 2 => (ascii85Encode(runLengthEncode(content)),
                Seq("ASCII85Decode", "RunLengthDecode"), "a85+rl")
              case 3 => (ascii85Encode(Lzw.encode(content, Lzw.Tiff)),
                Seq("ASCII85Decode", "LZWDecode"), "a85+lzw")
              case _ => (ascii85Encode(Bytes.deflate(content)),
                Seq("ASCII85Decode", "FlateDecode"), "a85+flate")
            }
            val dec = decodeChain(stored, chain)
            (id, variant, dec.map(_.length.toLong).getOrElse(-1L),
              dec.exists(_.sameElements(content)))
          }
          .toDF("doc_id", "variant", "n_bytes", "ok")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE doc_id % 5 WHEN 0 THEN 'ahx' WHEN 1 THEN 'a85'
                 WHEN 2 THEN 'a85+rl' WHEN 3 THEN 'a85+lzw'
                 ELSE 'a85+flate' END AS variant,
               CAST(octet_length(encode(text))
                    + length('BT /F1 12 Tf () Tj ET ')
                    + length(CAST(doc_id AS VARCHAR)) AS BIGINT) AS n_bytes,
               TRUE AS ok
        FROM documents
        ORDER BY doc_id""")))
}
