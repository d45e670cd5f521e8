package graft.operators

import java.io.ByteArrayOutputStream

import graft.operators.Bytes.{be32, crc32, deflate, u32be}

/** PNG metadata chunks (public spec, PNG third edition / RFC 2083):
  * tEXt (Latin-1 keyword/value), zTXt (Latin-1, zlib-deflated value),
  * iTXt (UTF-8, optionally deflated, with language/translated-keyword
  * fields), and eXIf (a bare TIFF stream — parsed by
  * [[TiffHeaders.exifFromTiff]], the same IFD walk JPEG APP1 uses).
  * PNG is the #1 crawl image format and its text chunks carry the
  * attribution/description metadata a curation pass wants next to the
  * pixels; until now the decoders only HOPPED them.
  *
  * Chunk CRCs are verified (ISO 3309 CRC-32 over type+payload — the
  * zlib polynomial, so `java.util.zip.CRC32` IS the reference
  * implementation): a corrupt metadata chunk rejects the stream, the
  * decode-to-None discipline. Inflated output is capped so a hostile
  * deflate bomb cannot balloon a corpus pass.
  */
object PngMeta {

  /** One decoded text chunk. `kind` is the source chunk ("text" /
    * "ztxt" / "itxt"); iTXt adds the language tag (empty when unset). */
  final case class PngText(keyword: String, value: String, kind: String,
      lang: String)

  /** All metadata of one PNG: text chunks in stream order, the eXIf
    * orientation/make when present, and the total chunk count. */
  final case class PngMetadata(texts: Seq[PngText],
      exif: Option[TiffHeaders.ExifMeta], nChunks: Int)

  /** Inflated text cap (16 MiB). */
  private val MaxText = 1 << 24

  private def nulAt(b: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i < until && b(i) != 0) i += 1
    if (i < until) i else -1
  }

  /** Walk every chunk, CRC-verifying and decoding the metadata ones.
    * Keyword sanity per spec (1–79 bytes) is enforced; unknown chunks
    * are hopped but counted. Malformed structure, a bad CRC on a
    * consumed chunk, or an undecodable payload → None. */
  def decodePngMeta(b: Array[Byte]): Option[PngMetadata] =
    try {
      if (b == null || b.length < 8) return None
      val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      var i = 0
      while (i < 8) { if ((b(i) & 0xff) != sig(i)) return None; i += 1 }
      var off = 8
      var texts = Vector.empty[PngText]
      var exif: Option[TiffHeaders.ExifMeta] = None
      var nChunks = 0
      while (off + 8 <= b.length) {
        val len = u32be(b, off)
        if (len < 0 || len > b.length - off - 12) return None
        val typ = new String(b, off + 4, 4, "US-ASCII")
        val p = off + 8
        val e = p + len.toInt
        nChunks += 1
        def crcOk: Boolean = crc32(b, off + 4, 4 + len.toInt) == u32be(b, e)
        def keywordEnd: Int = {
          val k = nulAt(b, p, e)
          if (k < 0 || k == p || k - p > 79) -1 else k
        }
        typ match {
          case "tEXt" =>
            if (!crcOk) return None
            val k = keywordEnd
            if (k < 0) return None
            texts :+= PngText(new String(b, p, k - p, "ISO-8859-1"),
              new String(b, k + 1, e - k - 1, "ISO-8859-1"), "text", "")
          case "zTXt" =>
            if (!crcOk) return None
            val k = keywordEnd
            if (k < 0 || k + 2 > e || b(k + 1) != 0) return None // method 0
            val v = Bytes.inflate(b, k + 2, e - k - 2, MaxText)
              .getOrElse(return None)._1
            texts :+= PngText(new String(b, p, k - p, "ISO-8859-1"),
              new String(v, "ISO-8859-1"), "ztxt", "")
          case "iTXt" =>
            if (!crcOk) return None
            val k = keywordEnd
            if (k < 0 || k + 3 > e) return None
            val compressed = b(k + 1) != 0
            if (compressed && b(k + 2) != 0) return None // method 0 only
            val langEnd = nulAt(b, k + 3, e)
            if (langEnd < 0) return None
            val transEnd = nulAt(b, langEnd + 1, e)
            if (transEnd < 0) return None
            val raw =
              if (compressed)
                Bytes.inflate(b, transEnd + 1, e - transEnd - 1, MaxText)
                  .getOrElse(return None)._1
              else java.util.Arrays.copyOfRange(b, transEnd + 1, e)
            texts :+= PngText(new String(b, p, k - p, "ISO-8859-1"),
              new String(raw, "UTF-8"), "itxt",
              new String(b, k + 3, langEnd - k - 3, "US-ASCII"))
          case "eXIf" =>
            if (!crcOk) return None
            exif = Some(TiffHeaders.exifFromTiff(
              java.util.Arrays.copyOfRange(b, p, e)).getOrElse(return None))
          case "IEND" =>
            return Some(PngMetadata(texts, exif, nChunks))
          case _ => () // pixel/ancillary chunk: hop
        }
        off = e + 4
      }
      None // no IEND: truncated stream
    } catch { case _: Exception => None }

  // ------------------------------------------------------------------
  // fixture emitters — splice real metadata chunks into any existing
  // PNG right before its IEND, so the pixel decoders (which must hop
  // them) and this walk see the same stream
  // ------------------------------------------------------------------

  /** One PNG chunk: big-endian length, type, payload, and the CRC32
    * over type + payload — the one chunk writer of the PNG emitters. */
  private[operators] def chunk(typ: String,
      payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(payload.length + 12)
    be32(out, payload.length.toLong)
    val body = typ.getBytes("US-ASCII") ++ payload
    out.write(body, 0, body.length)
    be32(out, crc32(body))
    out.toByteArray
  }

  def textChunk(keyword: String, value: String): Array[Byte] =
    chunk("tEXt", keyword.getBytes("ISO-8859-1") ++ Array[Byte](0) ++
      value.getBytes("ISO-8859-1"))

  def ztxtChunk(keyword: String, value: String): Array[Byte] =
    chunk("zTXt", keyword.getBytes("ISO-8859-1") ++ Array[Byte](0, 0) ++
      deflate(value.getBytes("ISO-8859-1")))

  def itxtChunk(keyword: String, value: String, lang: String,
      compressed: Boolean): Array[Byte] = {
    val raw = value.getBytes("UTF-8")
    chunk("iTXt", keyword.getBytes("ISO-8859-1") ++
      Array[Byte](0, if (compressed) 1 else 0, 0) ++
      lang.getBytes("US-ASCII") ++ Array[Byte](0) ++
      Array[Byte](0) ++ // empty translated keyword
      (if (compressed) deflate(raw) else raw))
  }

  def exifChunk(orientation: Int, make: String,
      bigEndian: Boolean): Array[Byte] =
    chunk("eXIf", TiffHeaders.encodeExifTiff(orientation, make, bigEndian))

  /** Splice chunks right before the trailing IEND (whose fixed 12
    * bytes close every well-formed PNG). */
  def withChunks(png: Array[Byte], chunks: Seq[Array[Byte]]): Array[Byte] = {
    require(png.length > 20, "not a PNG")
    val iend = png.length - 12
    require(new String(png, iend + 4, 4, "US-ASCII") == "IEND",
      "stream does not end in IEND")
    png.slice(0, iend) ++ chunks.flatten ++ png.slice(iend, png.length)
  }
}
