package graft.operators

/** JSON-LD extraction — the structured-metadata channel modern pages
  * carry (`<script type="application/ld+json">`, schema.org
  * vocabulary; public specs: W3C JSON-LD 1.1 + WHATWG HTML). For a
  * document pipeline this is the highest-precision metadata on the
  * page: headline, publication date, and type are DECLARED by the
  * publisher rather than inferred from markup, so a curation pass
  * reads them before falling back to `<title>`/og: tags
  * ([[HtmlExtract.pageMetadata]]).
  *
  * Extraction: the script-tag walk is case-insensitive on tag and
  * attribute, keyed on the exact `application/ld+json` type; payloads
  * are parsed with the strict [[Json.parse]], and only the
  * TOP-LEVEL STRING fields surface (nested objects/arrays/numbers are
  * structurally skipped, not flattened — "author":{"name":...} is the
  * author object's field, not the document's). A payload that is not
  * a syntactically complete JSON object yields no block — broken
  * publisher JSON must not poison the fields a filter cuts on.
  */
object JsonLd {

  /** One extracted block: the raw payload, the `@type`, and every
    * top-level string field (incl. `@`-keys). */
  final case class LdBlock(raw: String, atType: Option[String],
      fields: Map[String, String])

  /** The top-level string fields of one JSON object (the first of
    * duplicate keys wins), read with [[Json.parse]]. None = not a
    * complete well-formed object. */
  def topLevelStrings(json: String): Option[Map[String, String]] =
    Json.parse(json).collect { case Json.JObj(fields) =>
      fields.foldLeft(Map.empty[String, String]) {
        case (m, (k, Json.JStr(v))) if !m.contains(k) => m + (k -> v)
        case (m, _) => m
      }
    }

  /** All ld+json blocks of a page, in document order. Scripts with a
    * different (or no) type attribute are skipped; a matching script
    * whose payload fails the object reader is skipped too. */
  def extract(html: String): Vector[LdBlock] = {
    if (html == null) return Vector.empty
    val lower = html.toLowerCase(java.util.Locale.ROOT)
    val out = Vector.newBuilder[LdBlock]
    var i = 0
    while (i >= 0 && i < html.length) {
      val k = lower.indexOf("<script", i)
      if (k < 0) i = -1
      else {
        val after = k + 7
        val delimited = after >= html.length ||
          html.charAt(after).isWhitespace || html.charAt(after) == '>'
        if (!delimited) i = k + 1 // <scriptfoo
        else {
          val (attrs, bodyStart) = HtmlExtract.tagAttrs(html, after)
          val isLd = attrs.get("type")
            .exists(_.trim.equalsIgnoreCase("application/ld+json"))
          val close = lower.indexOf("</script", bodyStart)
          if (close < 0) i = -1
          else {
            if (isLd) {
              val raw = html.substring(bodyStart, close).trim
              topLevelStrings(raw).foreach { fields =>
                out += LdBlock(raw, fields.get("@type"), fields)
              }
            }
            i = close + 8
          }
        }
      }
    }
    out.result()
  }
}
