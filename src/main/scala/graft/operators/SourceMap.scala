package graft.operators

/** JavaScript SOURCE MAPS (public spec: Source Map format v3, now the
  * TC39/WebPlatform "Source map format specification"). Every minified
  * JS/CSS asset a crawl fetches points at one via `//# sourceMappingURL`;
  * the map is the only route from minified positions back to original
  * files/identifiers, which makes it the code-crawl analog of EXIF —
  * structured provenance riding next to the payload.
  *
  * Container: JSON, read by [[Json.parse]] (strict RFC 8259,
  * depth-bounded). The
  * `mappings` field is lines separated by ';', segments by ',', each
  * segment 1/4/5 base64-VLQ fields with RELATIVE values: generated
  * column resets per line; source index / original line / original
  * column / name index accumulate across the whole mappings string.
  * VLQ digits are 6 bits — bit 5 continuation, bits 0–4 payload,
  * little-endian groups — and the assembled value carries its sign in
  * bit 0.
  *
  * Strictness (decode contract): version must be 3, `sources` and
  * `mappings` must be present, segment field counts other than 1/4/5
  * reject, a non-base64 character rejects, an over-long VLQ (> 32-bit)
  * rejects, and accumulated source/name indexes and original
  * line/column must stay in range / non-negative — a relative-delta
  * stream gone negative is corruption, not data. */
object SourceMap {

  import Json.{JArr, JNum, JObj, JStr}

  final case class SourceMapMeta(nSources: Int, nNames: Int,
      nLines: Int, nSegments: Int, nNamed: Int, sumOrigLines: Long)

  private val B64: Array[Int] = {
    val t = Array.fill(128)(-1)
    val alpha =
      "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
    alpha.zipWithIndex.foreach { case (c, i) => t(c.toInt) = i }
    t
  }

  /** Decode one VLQ value starting at `i`; (value, indexAfter). */
  private def vlq(s: String, i0: Int): Option[(Int, Int)] = {
    var i = i0
    var shift = 0
    var v = 0L
    var cont = true
    while (cont) {
      if (i >= s.length || shift > 30) return None
      val c = s.charAt(i)
      if (c >= 128) return None
      val d = B64(c)
      if (d < 0) return None
      v |= (d & 0x1fL) << shift
      cont = (d & 0x20) != 0
      shift += 5
      i += 1
    }
    val mag = v >>> 1
    if (mag > Int.MaxValue) return None
    Some((if ((v & 1) == 1) -mag.toInt else mag.toInt, i))
  }

  def decodeSourceMap(b: Array[Byte]): Option[SourceMapMeta] =
    try {
      if (b == null) return None
      val root = Json.parse(new String(b, "UTF-8")) match {
        case Some(o: JObj) => o
        case _ => return None
      }
      root.get("version") match {
        case Some(JNum(3.0)) =>
        case _ => return None
      }
      val nSources = root.get("sources") match {
        case Some(JArr(xs))
            if xs.forall(_.isInstanceOf[JStr]) => xs.length
        case _ => return None
      }
      val nNames = root.get("names") match {
        case Some(JArr(xs))
            if xs.forall(_.isInstanceOf[JStr]) => xs.length
        case None => 0
        case _ => return None
      }
      val mappings = root.get("mappings") match {
        case Some(JStr(m)) => m
        case _ => return None
      }
      // relative-state accumulators (source/line/col/name persist
      // across lines; generated column resets per line)
      var srcIdx = 0
      var origLine = 0
      var origCol = 0
      var nameIdx = 0
      var nSegments = 0
      var nNamed = 0
      var sumOrigLines = 0L
      val lines = mappings.split(";", -1)
      lines.foreach { line =>
        var genCol = 0
        if (line.nonEmpty) line.split(",", -1).foreach { seg =>
          if (seg.isEmpty) return None // ",," is torn, not empty
          var i = 0
          val fields = scala.collection.mutable.ArrayBuffer.empty[Int]
          while (i < seg.length) {
            val (v, j) = vlq(seg, i).getOrElse(return None)
            fields += v
            i = j
          }
          fields.length match {
            case 1 | 4 | 5 =>
            case _ => return None
          }
          genCol += fields(0)
          if (genCol < 0) return None
          if (fields.length >= 4) {
            srcIdx += fields(1)
            origLine += fields(2)
            origCol += fields(3)
            if (srcIdx < 0 || srcIdx >= nSources) return None
            if (origLine < 0 || origCol < 0) return None
            sumOrigLines += origLine
            if (fields.length == 5) {
              nameIdx += fields(4)
              if (nameIdx < 0 || nameIdx >= nNames) return None
              nNamed += 1
            }
          }
          nSegments += 1
        }
      }
      Some(SourceMapMeta(nSources, nNames, lines.length, nSegments,
        nNamed, sumOrigLines))
    } catch { case _: Exception => None }

  // ------------------------------------------------------------------
  // the asset-side pointer (//# sourceMappingURL=...)
  // ------------------------------------------------------------------

  /** The map pointer of a JS/CSS asset: the LAST
    * `//# sourceMappingURL=` (or legacy `//@`) comment line wins, per
    * the spec's "last occurrence" rule. Returns the raw URL. */
  def sourceMappingUrl(asset: String): Option[String] = {
    if (asset == null) return None
    var found: Option[String] = None
    asset.split("\n", -1).foreach { line0 =>
      val line = line0.stripSuffix("\r").trim
      if (line.startsWith("//# sourceMappingURL=") ||
        line.startsWith("//@ sourceMappingURL=")) {
        val url = line.substring("//# sourceMappingURL=".length).trim
        if (url.nonEmpty) found = Some(url)
      }
    }
    found
  }

  /** Decode an INLINE map pointer — the
    * `data:application/json;base64,` URI form bundlers embed — to the
    * map's bytes. Non-data URLs and malformed base64 → None. */
  def inlineMapBytes(url: String): Option[Array[Byte]] = {
    val prefix = "data:application/json;base64,"
    if (url == null || !url.startsWith(prefix)) return None
    try Some(java.util.Base64.getDecoder.decode(
      url.substring(prefix.length)))
    catch { case _: IllegalArgumentException => None }
  }

  // ------------------------------------------------------------------
  // fixture emitter
  // ------------------------------------------------------------------

  /** One mapping segment in ABSOLUTE coordinates; the emitter does the
    * relative-delta encoding the spec requires. */
  final case class Segment(genCol: Int, srcIdx: Int, origLine: Int,
      origCol: Int, nameIdx: Int = -1)

  private def vlqEnc(sb: StringBuilder, v0: Int): Unit = {
    val alpha =
      "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
    var v = (math.abs(v0.toLong) << 1) | (if (v0 < 0) 1L else 0L)
    var more = true
    while (more) {
      var d = (v & 0x1f).toInt
      v >>>= 5
      more = v != 0
      if (more) d |= 0x20
      sb.append(alpha(d))
    }
  }

  /** Emit a v3 map: JSON with sources/names/file and the VLQ-encoded
    * relative mappings (generated column resetting per line; the other
    * four accumulators running across the whole string — so emitted
    * deltas go negative whenever the planted values jump backwards,
    * the sign-bit path real maps exercise constantly). */
  def encodeSourceMap(file: String, sources: Seq[String],
      names: Seq[String], lines: Seq[Seq[Segment]]): Array[Byte] = {
    val sb = new StringBuilder
    var srcIdx = 0
    var origLine = 0
    var origCol = 0
    var nameIdx = 0
    lines.zipWithIndex.foreach { case (segs, li) =>
      if (li > 0) sb.append(';')
      var genCol = 0
      segs.zipWithIndex.foreach { case (s, si) =>
        if (si > 0) sb.append(',')
        vlqEnc(sb, s.genCol - genCol)
        genCol = s.genCol
        vlqEnc(sb, s.srcIdx - srcIdx)
        srcIdx = s.srcIdx
        vlqEnc(sb, s.origLine - origLine)
        origLine = s.origLine
        vlqEnc(sb, s.origCol - origCol)
        origCol = s.origCol
        if (s.nameIdx >= 0) {
          vlqEnc(sb, s.nameIdx - nameIdx)
          nameIdx = s.nameIdx
        }
      }
    }
    val json = "{\"version\":3,\"file\":" + Json.quote(file) +
      ",\"sourceRoot\":\"\",\"sources\":[" +
      sources.map(Json.quote).mkString(",") + "],\"names\":[" +
      names.map(Json.quote).mkString(",") + "],\"mappings\":" +
      Json.quote(sb.toString) + "}"
    json.getBytes("UTF-8")
  }
}
