package graft.operators

import java.io.ByteArrayOutputStream

import graft.operators.Bytes.{be16, be32, u16be, u32be}

/** Font-file sniff (public specs: the OpenType/TrueType `sfnt`
  * container — Microsoft OT spec §"The OpenType Font File" / Apple
  * TrueType Reference — and W3C WOFF 1.0 for the zlib-wrapped web
  * delivery form). Web fonts are a real crawl-asset population and
  * triage needs exactly the skeleton: container kind, the family /
  * subfamily strings from the `name` table, glyph count from `maxp`,
  * units-per-em from `head`.
  *
  * Decode discipline (see q261/q396 siblings): every offset/length is
  * bounds-checked in Long, `head` must carry its 0x5F0F3CF5 magic, a
  * WOFF compressed table must inflate to exactly its declared
  * origLength, and any structural tear → None, never plausible-wrong
  * strings. Name strings prefer the Windows Unicode record
  * (platform 3 / encoding 1, UTF-16BE) and fall back to the Mac
  * record (platform 1, read as Latin-1) — the two shapes real fonts
  * ship.
  */
object Font {

  /** `container` is "ttf" (sfnt 0x00010000 / 'true'), "otf" ('OTTO')
    * or "woff"; `nTables` the directory entry count; the rest are the
    * triage fields (None when the carrying table is absent). */
  final case class FontMeta(container: String, family: Option[String],
      subfamily: Option[String], nTables: Int, nGlyphs: Option[Int],
      unitsPerEm: Option[Int])

  private val HeadMagic = 0x5F0F3CF5L

  /** `head` table: unitsPerEm at offset 18, magic at 12 (required). */
  private def parseHead(t: Array[Byte]): Option[Int] = {
    if (t.length < 54) return None
    if (u32be(t, 12) != HeadMagic) return None
    Some(u16be(t, 18))
  }

  /** `maxp` table: numGlyphs at offset 4 (both the 0.5 CFF and 1.0
    * TrueType versions carry it there). */
  private def parseMaxp(t: Array[Byte]): Option[Int] = {
    if (t.length < 6) return None
    val v = u32be(t, 0)
    if (v != 0x00010000L && v != 0x00005000L) return None
    Some(u16be(t, 4))
  }

  /** `name` table (format 0): the (family, subfamily) strings —
    * nameID 1 / 2, Windows-Unicode record preferred over Mac. */
  private def parseName(t: Array[Byte])
      : Option[(Option[String], Option[String])] = {
    if (t.length < 6) return None
    if (u16be(t, 0) > 1) return None // formats 0 and 1 share the layout
    val count = u16be(t, 2)
    val stringOff = u16be(t, 4)
    if (count > 4096) return None
    if (6 + 12L * count > t.length) return None
    // (value, preferred?) per nameID; Windows-Unicode wins, first-wins
    // within a platform
    var family: Option[(String, Boolean)] = None
    var subfamily: Option[(String, Boolean)] = None
    var i = 0
    while (i < count) {
      val r = 6 + 12 * i
      val platform = u16be(t, r)
      val encoding = u16be(t, r + 2)
      val nameId = u16be(t, r + 6)
      val len = u16be(t, r + 8)
      val off = u16be(t, r + 10)
      if (nameId == 1 || nameId == 2) {
        val from = stringOff.toLong + off
        if (from + len > t.length) return None
        val isWin = platform == 3 && (encoding == 1 || encoding == 10)
        val isMac = platform == 1
        if (isWin || isMac) {
          val s =
            if (isWin) {
              if (len % 2 != 0) return None
              new String(t, from.toInt, len, "UTF-16BE")
            } else new String(t, from.toInt, len, "ISO-8859-1")
          val slot = if (nameId == 1) family else subfamily
          val replace = slot match {
            case None => true
            case Some((_, preferred)) => isWin && !preferred
          }
          if (replace) {
            if (nameId == 1) family = Some((s, isWin))
            else subfamily = Some((s, isWin))
          }
        }
      }
      i += 1
    }
    Some((family.map(_._1), subfamily.map(_._1)))
  }

  /** WOFF2 structural sniff (W3C WOFF2 spec): flavor, the directory
    * walk with its known-tags index and UIntBase128 lengths, and the
    * summed original sfnt size — the data block stays unread, so the
    * sniff stays cheap on blobs whose tables nobody asked for. For
    * family strings and the other triage fields the FULL decode
    * ([[decodeWoff2Font]]) Brotli-decompresses the block (round 16 —
    * the former deferral, promoted once [[Brotli]] landed). */
  final case class Woff2Meta(flavor: String, nTables: Int,
      totalSfntSize: Long, sumOrigLengths: Long, tags: Seq[String])

  /** The spec's known-table-tags index (WOFF2 §5.2, Table 1). */
  private val Woff2KnownTags: Array[String] = Array(
    "cmap", "head", "hhea", "hmtx", "maxp", "name", "OS/2", "post",
    "cvt ", "fpgm", "glyf", "loca", "prep", "CFF ", "VORG", "EBDT",
    "EBLC", "gasp", "hdmx", "kern", "LTSH", "PCLT", "VDMX", "vhea",
    "vmtx", "BASE", "GDEF", "GPOS", "GSUB", "EBSC", "JSTF", "MATH",
    "CBDT", "CBLC", "COLR", "CPAL", "SVG ", "sbix", "acnt", "avar",
    "bdat", "bloc", "bsln", "cvar", "fdsc", "feat", "fmtx", "fvar",
    "gvar", "hsty", "just", "lcar", "mort", "morx", "opbd", "prop",
    "trak", "Zapf", "Silf", "Glat", "Gloc", "Feat", "Sill")

  /** UIntBase128 (WOFF2 §5.2): 1–5 bytes, 7 bits each, MSB-first;
    * a leading 0x80 byte and 32-bit overflow are spec ERRORS. */
  private def uintBase128(b: Array[Byte], at: Int): Option[(Long, Int)] = {
    var v = 0L
    var i = at
    var n = 0
    while (n < 5) {
      if (i >= b.length) return None
      val byte = b(i) & 0xff
      if (n == 0 && byte == 0x80) return None // leading zeros forbidden
      if (v > (0xFFFFFFFFL >> 7)) return None // would overflow 32 bits
      v = (v << 7) | (byte & 0x7f)
      i += 1
      n += 1
      if ((byte & 0x80) == 0) return Some((v, i))
    }
    None // more than 5 bytes
  }

  /** One WOFF2 directory row: `dataLen` is the table's length inside
    * the decompressed block (transformLength when a non-null
    * transform applies, origLength otherwise). */
  private final case class Woff2Entry(tag: String, origLen: Long,
      dataLen: Long, transformed: Boolean)

  /** Shared WOFF2 header + directory walk: (flavor, nTables,
    * totalSfntSize, entries, byte offset past the directory — where
    * the Brotli-compressed data block begins). */
  private def woff2Directory(b: Array[Byte])
      : Option[(String, Int, Long, Vector[Woff2Entry], Int)] = {
    if (b == null || b.length < 48) return None
    if (u32be(b, 0) != 0x774F4632L) return None // 'wOF2'
    val flavor = u32be(b, 4) match {
      case 0x00010000L | 0x74727565L => "ttf"
      case 0x4F54544FL => "otf"
      case _ => return None
    }
    if (u32be(b, 8) != b.length) return None // declared total length
    val nTables = u16be(b, 12)
    if (u16be(b, 14) != 0) return None // reserved must be zero
    if (nTables < 1 || nTables > 512) return None
    val totalSfntSize = u32be(b, 16)
    var at = 48
    val entries = Vector.newBuilder[Woff2Entry]
    var i = 0
    while (i < nTables) {
      if (at >= b.length) return None
      val flags = b(at) & 0xff
      at += 1
      val tagIdx = flags & 0x3f
      val tag =
        if (tagIdx == 0x3f) { // arbitrary tag follows
          if (at + 4 > b.length) return None
          val t = new String(b, at, 4, "ISO-8859-1")
          at += 4
          t
        } else Woff2KnownTags(tagIdx)
      val (origLen, a1) = uintBase128(b, at).getOrElse(return None)
      at = a1
      // a transformed glyf/loca (transform version 0) additionally
      // carries transformLength; other tables only when a non-null
      // transform is flagged (bits 6–7 non-zero)
      val transform = (flags >> 6) & 0x3
      val transformed =
        if (tag == "glyf" || tag == "loca") transform != 3
        else transform != 0
      var dataLen = origLen
      if (transformed) {
        val (tl, a2) = uintBase128(b, at).getOrElse(return None)
        at = a2
        dataLen = tl
      }
      entries += Woff2Entry(tag, origLen, dataLen, transformed)
      i += 1
    }
    Some((flavor, nTables, totalSfntSize, entries.result(), at))
  }

  def decodeWoff2(b: Array[Byte]): Option[Woff2Meta] =
    woff2Directory(b).map { case (flavor, nTables, sfntSize, es, _) =>
      Woff2Meta(flavor, nTables, sfntSize, es.map(_.origLen).sum,
        es.map(_.tag))
    }

  /** FULL WOFF2 decode (round 16 — the Brotli deferral promoted):
    * Brotli-decompress the data block and read head/maxp/name out of
    * the reassembled table stream, with the same per-table
    * degradation as every other container. The decompressed block
    * must measure EXACTLY the directory's summed data lengths
    * (W3C WOFF2 §4), and a triage table carrying a reserved
    * (undecodable) transform rejects rather than mis-slicing. */
  def decodeWoff2Font(b: Array[Byte]): Option[FontMeta] =
    try {
      val (flavor, nTables, _, entries, dataFrom) =
        woff2Directory(b).getOrElse(return None)
      val compLen = u32be(b, 20) // totalCompressedSize
      if (compLen < 0 || dataFrom + compLen > b.length) return None
      val expected = entries.map(_.dataLen).sum
      if (expected < 0 || expected > (64 << 20)) return None
      val blob = Brotli.decompress(b, dataFrom,
        (dataFrom + compLen).toInt, expected.toInt)
        .getOrElse(return None)
      if (blob.length.toLong != expected) return None
      var head: Option[Array[Byte]] = None
      var maxp: Option[Array[Byte]] = None
      var name: Option[Array[Byte]] = None
      var off = 0L
      entries.foreach { e =>
        if (e.tag == "head" || e.tag == "maxp" || e.tag == "name") {
          if (e.transformed) return None // reserved transform: opaque
          val slice = java.util.Arrays.copyOfRange(blob, off.toInt,
            (off + e.dataLen).toInt)
          e.tag match {
            case "head" => head = Some(slice)
            case "maxp" => maxp = Some(slice)
            case _ => name = Some(slice)
          }
        }
        off += e.dataLen
      }
      assemble("woff2", nTables, head, maxp, name)
    } catch { case _: Exception => None }

  /** Fixture emitter: header + directory (known-index and arbitrary
    * tags, UIntBase128 lengths incl. multi-byte values, a transformed
    * glyf pair) + an OPAQUE stand-in data block of the declared
    * compressed size (the real block is Brotli — deferred; the sniff
    * never reads it). */
  def encodeWoff2(flavor: String, tables: Seq[(String, Long)],
      blockSize: Int): Array[Byte] = {
    require(flavor == "ttf" || flavor == "otf", flavor)
    require(tables.nonEmpty && tables.forall(t => t._1.length == 4 &&
      t._2 >= 0 && t._2 <= 0xFFFFFFFFL), "tables")
    require(blockSize >= 0 && blockSize <= (16 << 20), "block size")
    val dir = new ByteArrayOutputStream(64)
    def base128(v: Long): Unit = {
      val bytes = scala.collection.mutable.ArrayBuffer.empty[Int]
      var x = v
      do { bytes += (x & 0x7f).toInt; x >>= 7 } while (x != 0)
      val out = bytes.reverse
      out.init.foreach(bb => dir.write(bb | 0x80))
      dir.write(out.last)
    }
    var sfnt = 12L + 16L * tables.length
    tables.foreach { case (tag, origLen) =>
      val idx = Woff2KnownTags.indexOf(tag)
      // transform bits 0 throughout: the null transform for ordinary
      // tables, and for glyf/loca the TRANSFORMED form (per spec 0 is
      // transformed there), which carries transformLength
      if (idx >= 0) dir.write(idx)
      else {
        dir.write(0x3f)
        dir.write(tag.getBytes("ISO-8859-1"), 0, 4)
      }
      base128(origLen)
      if (tag == "glyf" || tag == "loca") base128(origLen / 2)
      sfnt += (origLen + 3) & ~3L
    }
    val dirBytes = dir.toByteArray
    val total = 48 + dirBytes.length + blockSize
    val o = new ByteArrayOutputStream(total)
    be32(o, 0x774F4632L) // 'wOF2'
    be32(o, if (flavor == "otf") 0x4F54544FL else 0x00010000L)
    be32(o, total.toLong)
    be16(o, tables.length); be16(o, 0)
    be32(o, sfnt)
    be32(o, blockSize.toLong) // totalCompressedSize
    be16(o, 1); be16(o, 0)
    be32(o, 0L); be32(o, 0L); be32(o, 0L) // meta
    be32(o, 0L); be32(o, 0L) // priv
    o.write(dirBytes, 0, dirBytes.length)
    (0 until blockSize).foreach(k => o.write((k * 31 + 7) & 0xff))
    o.toByteArray
  }

  /** COMPLETE WOFF2 fixture (round 16): head/maxp/name built by the
    * shared table builders, concatenated UNPADDED (W3C WOFF2 §4) and
    * carried in a real Brotli stream — the compressed fixed-Huffman
    * form or the stored form, both reference-validated in BrotliSpec.
    * Directory rows use the known-tag index with null transforms. */
  def encodeWoff2Font(flavor: String, family: String, subfamily: String,
      nGlyphs: Int, unitsPerEm: Int, fixedHuffman: Boolean,
      macFamily: Option[String] = None): Array[Byte] = {
    require(flavor == "ttf" || flavor == "otf", flavor)
    val tables = Seq(
      ("head", headTable(unitsPerEm)),
      ("maxp", maxpTable(nGlyphs, cff = flavor == "otf")),
      ("name", nameTable(family, subfamily, macFamily)))
    val blob = new ByteArrayOutputStream(256)
    tables.foreach { case (_, t) => blob.write(t, 0, t.length) }
    val comp =
      if (fixedHuffman) Brotli.encodeFixed(blob.toByteArray)
      else Brotli.encodeStored(blob.toByteArray)
    val dir = new ByteArrayOutputStream(32)
    def base128(v: Long): Unit = {
      val bytes = scala.collection.mutable.ArrayBuffer.empty[Int]
      var x = v
      do { bytes += (x & 0x7f).toInt; x >>= 7 } while (x != 0)
      val out = bytes.reverse
      out.init.foreach(bb => dir.write(bb | 0x80))
      dir.write(out.last)
    }
    var sfnt = 12L + 16L * tables.length
    tables.foreach { case (tag, data) =>
      dir.write(Woff2KnownTags.indexOf(tag)) // transform bits 0 = null
      base128(data.length.toLong)
      sfnt += (data.length + 3) & ~3L
    }
    val dirBytes = dir.toByteArray
    val total = 48 + dirBytes.length + comp.length
    val o = new ByteArrayOutputStream(total)
    be32(o, 0x774F4632L) // 'wOF2'
    be32(o, if (flavor == "otf") 0x4F54544FL else 0x00010000L)
    be32(o, total.toLong)
    be16(o, tables.length); be16(o, 0)
    be32(o, sfnt)
    be32(o, comp.length.toLong) // totalCompressedSize
    be16(o, 1); be16(o, 0)
    be32(o, 0L); be32(o, 0L); be32(o, 0L) // meta
    be32(o, 0L); be32(o, 0L) // priv
    o.write(dirBytes, 0, dirBytes.length)
    o.write(comp, 0, comp.length)
    o.toByteArray
  }

  def decodeFont(b: Array[Byte]): Option[FontMeta] =
    try {
      if (b == null || b.length < 12) return None
      val tag = u32be(b, 0)
      if (tag == 0x774F4646L) return decodeWoff(b) // 'wOFF'
      if (tag == 0x774F4632L) return decodeWoff2Font(b) // 'wOF2'
      val container = tag match {
        case 0x00010000L | 0x74727565L => "ttf" // 1.0 | 'true'
        case 0x4F54544FL => "otf" // 'OTTO'
        case _ => return None
      }
      val nTables = u16be(b, 4)
      if (nTables < 1 || nTables > 512) return None
      if (12 + 16L * nTables > b.length) return None
      // directory: tag, checksum, offset, length per table
      var head: Option[Array[Byte]] = None
      var maxp: Option[Array[Byte]] = None
      var name: Option[Array[Byte]] = None
      var i = 0
      while (i < nTables) {
        val r = 12 + 16 * i
        val t = new String(b, r, 4, "ISO-8859-1")
        val off = u32be(b, r + 8)
        val len = u32be(b, r + 12)
        if (off < 0 || len < 0 || off + len > b.length) return None
        if (t == "head" || t == "maxp" || t == "name") {
          val slice = java.util.Arrays.copyOfRange(b, off.toInt,
            (off + len).toInt)
          t match {
            case "head" => head = Some(slice)
            case "maxp" => maxp = Some(slice)
            case _ => name = Some(slice)
          }
        }
        i += 1
      }
      assemble(container, nTables, head, maxp, name)
    } catch { case _: Exception => None }

  /** WOFF 1.0: the 44-byte header, 20-byte directory entries, tables
    * zlib-compressed when compLength < origLength, stored when
    * equal. */
  private def decodeWoff(b: Array[Byte]): Option[FontMeta] = {
    if (b.length < 44) return None
    val flavor = u32be(b, 4)
    if (flavor != 0x00010000L && flavor != 0x4F54544FL &&
      flavor != 0x74727565L) return None
    if (u32be(b, 8) != b.length) return None // declared total length
    val nTables = u16be(b, 12)
    if (u16be(b, 14) != 0) return None // reserved must be zero
    if (nTables < 1 || nTables > 512) return None
    if (44 + 20L * nTables > b.length) return None
    var head: Option[Array[Byte]] = None
    var maxp: Option[Array[Byte]] = None
    var name: Option[Array[Byte]] = None
    var i = 0
    while (i < nTables) {
      val r = 44 + 20 * i
      val t = new String(b, r, 4, "ISO-8859-1")
      val off = u32be(b, r + 4)
      val compLen = u32be(b, r + 8)
      val origLen = u32be(b, r + 12)
      if (off < 0 || compLen < 0 || off + compLen > b.length) return None
      if (compLen > origLen) return None
      if (t == "head" || t == "maxp" || t == "name") {
        val table =
          if (compLen == origLen)
            java.util.Arrays.copyOfRange(b, off.toInt,
              (off + compLen).toInt)
          else if (origLen > Bytes.MaxInflate) return None
          else Bytes.inflate(b, off.toInt, compLen.toInt, origLen.toInt)
            .filter(_._1.length == origLen).getOrElse(return None)._1
        t match {
          case "head" => head = Some(table)
          case "maxp" => maxp = Some(table)
          case _ => name = Some(table)
        }
      }
      i += 1
    }
    assemble("woff", nTables, head, maxp, name)
  }

  /** Per-table degradation mirrors the EXIF half-present rule: an
    * absent table drops its FIELD, a present-but-corrupt table rejects
    * the file (it would otherwise yield plausible-wrong values). */
  private def assemble(container: String, nTables: Int,
      head: Option[Array[Byte]], maxp: Option[Array[Byte]],
      name: Option[Array[Byte]]): Option[FontMeta] = {
    val upem = head match {
      case Some(t) => Some(parseHead(t).getOrElse(return None))
      case None => None
    }
    val glyphs = maxp match {
      case Some(t) => Some(parseMaxp(t).getOrElse(return None))
      case None => None
    }
    val (fam, sub) = name match {
      case Some(t) => parseName(t).getOrElse(return None)
      case None => (None, None)
    }
    Some(FontMeta(container, fam, sub, nTables, glyphs, upem))
  }

  // ------------------------------------------------------------------
  // fixture emitters
  // ------------------------------------------------------------------

  private def headTable(unitsPerEm: Int): Array[Byte] = {
    val o = new ByteArrayOutputStream(54)
    be32(o, 0x00010000L) // version
    be32(o, 0x00010000L) // fontRevision
    be32(o, 0L) // checkSumAdjustment (fixture: unset)
    be32(o, HeadMagic)
    be16(o, 0x000B) // flags
    be16(o, unitsPerEm)
    (0 until 8).foreach(_ => be32(o, 0L)) // created/modified (8 bytes ea)
    be16(o, 0); be16(o, 0); be16(o, 1000); be16(o, 700) // bbox
    be16(o, 0); be16(o, 8); be16(o, 2) // macStyle, lowestRec, direction
    be16(o, 0); be16(o, 0) // indexToLoc, glyphDataFormat
    o.toByteArray
  }

  private def maxpTable(nGlyphs: Int, cff: Boolean): Array[Byte] = {
    val o = new ByteArrayOutputStream(32)
    // CFF outlines use maxp 0.5 (6 bytes), TrueType 1.0 (32 bytes)
    be32(o, if (cff) 0x00005000L else 0x00010000L)
    be16(o, nGlyphs)
    if (!cff) (0 until 13).foreach(_ => be16(o, 2))
    o.toByteArray
  }

  private def nameTable(family: String, subfamily: String,
      macFamily: Option[String]): Array[Byte] = {
    // records: Mac Latin-1 FIRST, Windows UTF-16BE second — the
    // decoder's platform preference must still pick Windows
    val macFam = macFamily.getOrElse(family)
    val entries = Seq( // (platform, encoding, nameId, bytes)
      (1, 0, 1, macFam.getBytes("ISO-8859-1")),
      (1, 0, 2, subfamily.getBytes("ISO-8859-1")),
      (3, 1, 1, family.getBytes("UTF-16BE")),
      (3, 1, 2, subfamily.getBytes("UTF-16BE")))
    val o = new ByteArrayOutputStream(64)
    be16(o, 0) // format
    be16(o, entries.length)
    be16(o, 6 + 12 * entries.length) // stringOffset
    var off = 0
    entries.foreach { case (p, e, id, bytes) =>
      be16(o, p); be16(o, e); be16(o, if (p == 3) 0x0409 else 0)
      be16(o, id); be16(o, bytes.length); be16(o, off)
      off += bytes.length
    }
    entries.foreach { case (_, _, _, bytes) =>
      o.write(bytes, 0, bytes.length)
    }
    o.toByteArray
  }

  private def pad4(n: Int): Int = (n + 3) & ~3

  /** Emit a minimal structurally-valid sfnt: head + maxp + name (tags
    * sorted, offsets 4-byte aligned, search fields computed per
    * spec). `container` "ttf" or "otf". */
  def encodeSfnt(container: String, family: String, subfamily: String,
      nGlyphs: Int, unitsPerEm: Int,
      macFamily: Option[String] = None): Array[Byte] = {
    require(container == "ttf" || container == "otf", container)
    require(nGlyphs >= 0 && nGlyphs <= 0xffff && unitsPerEm >= 16 &&
      unitsPerEm <= 16384, "head/maxp ranges")
    val tables = Seq( // sorted by tag per spec
      ("head", headTable(unitsPerEm)),
      ("maxp", maxpTable(nGlyphs, cff = container == "otf")),
      ("name", nameTable(family, subfamily, macFamily)))
    val o = new ByteArrayOutputStream(256)
    be32(o, if (container == "otf") 0x4F54544FL else 0x00010000L)
    val n = tables.length
    val pow2 = Integer.highestOneBit(n)
    be16(o, n)
    be16(o, pow2 * 16) // searchRange
    be16(o, 31 - Integer.numberOfLeadingZeros(pow2)) // entrySelector
    be16(o, n * 16 - pow2 * 16) // rangeShift
    var off = 12 + 16 * n
    tables.foreach { case (tag, data) =>
      o.write(tag.getBytes("ISO-8859-1"), 0, 4)
      be32(o, 0L) // table checksum (fixture: unset)
      be32(o, off.toLong)
      be32(o, data.length.toLong)
      off += pad4(data.length)
    }
    tables.foreach { case (_, data) =>
      o.write(data, 0, data.length)
      (data.length until pad4(data.length)).foreach(_ => o.write(0))
    }
    o.toByteArray
  }

  /** Emit a WOFF 1.0 wrapping the same three tables: `name` always
    * zlib-compressed, head/maxp stored — both directory shapes. */
  def encodeWoff(flavor: String, family: String, subfamily: String,
      nGlyphs: Int, unitsPerEm: Int): Array[Byte] = {
    require(flavor == "ttf" || flavor == "otf", flavor)
    val tables = Seq(
      ("head", headTable(unitsPerEm), false),
      ("maxp", maxpTable(nGlyphs, cff = flavor == "otf"), false),
      ("name", nameTable(family, subfamily, None), true))
    val packed = tables.map { case (tag, data, compress) =>
      val comp =
        if (compress) {
          val c = Bytes.deflate(data)
          if (c.length < data.length) c else data // stored if larger
        } else data
      (tag, comp, data.length)
    }
    val n = packed.length
    val dataStart = 44 + 20 * n
    val totalLen = dataStart + packed.map(p => pad4(p._2.length)).sum
    val sfntSize = 12 + 16 * n + packed.map(p => pad4(p._3)).sum
    val o = new ByteArrayOutputStream(totalLen)
    be32(o, 0x774F4646L) // 'wOFF'
    be32(o, if (flavor == "otf") 0x4F54544FL else 0x00010000L)
    be32(o, totalLen.toLong)
    be16(o, n); be16(o, 0) // numTables, reserved
    be32(o, sfntSize.toLong)
    be16(o, 1); be16(o, 0) // woff version
    be32(o, 0L); be32(o, 0L); be32(o, 0L) // meta off/len/origLen
    be32(o, 0L); be32(o, 0L) // priv off/len
    var off = dataStart
    packed.foreach { case (tag, comp, origLen) =>
      o.write(tag.getBytes("ISO-8859-1"), 0, 4)
      be32(o, off.toLong)
      be32(o, comp.length.toLong)
      be32(o, origLen.toLong)
      be32(o, 0L) // origChecksum (fixture: unset)
      off += pad4(comp.length)
    }
    packed.foreach { case (_, comp, _) =>
      o.write(comp, 0, comp.length)
      (comp.length until pad4(comp.length)).foreach(_ => o.write(0))
    }
    o.toByteArray
  }
}
