package graft.operators

/** The one XML scan kernel of the text-format decoders ([[Docx]],
  * [[Xlsx]], [[Pptx]], [[Epub]], [[Feed]], [[Sitemap]], [[Svg]]):
  * entity codec, boundary-checked tag search (a `<w:t` probe never
  * matches `<w:tab`), element bounds, and one quote-aware attribute
  * tokenizer (attribute NAMES are whole tokens, so `r:id` never
  * satisfies `id`). These are deliberately scanners, not a DOM: the
  * decode contract is byte-faithful extraction, and every
  * accept/reject decision is explicit. What a torn element means is
  * the caller's policy (OOXML rejects the document, a sitemap keeps the
  * entries before it).
  *
  * Every scan works inside a region [from, until) of one string, reads
  * no character at or past `until`, and moves only forward, so a caller
  * that walks a region element by element does work linear in the
  * region, however many tags are absent or repeated. */
private[operators] object Xml {

  /** The five predefined entities decoded in one pass; anything else
    * after `&` is kept literally (`&amp;lt;` decodes to `&lt;`). */
  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val hit = if (c == '&') Entities.find(e => s.startsWith(e._1, i))
        else None
      hit match {
        case Some((ref, ch)) => sb.append(ch); i += ref.length
        case None => sb.append(c); i += 1
      }
    }
    sb.toString
  }

  private val Entities = Seq("&lt;" -> '<', "&gt;" -> '>',
    "&quot;" -> '"', "&apos;" -> '\'', "&amp;" -> '&')

  /** Text or attribute value escaped for either position. */
  def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** Whether `<name` sits at `at` with its name ending at a boundary
    * (whitespace, '/' or '>') before `until`. */
  def tagAt(s: String, name: String, at: Int, until: Int): Boolean = {
    val after = at + 1 + name.length
    after < math.min(until, s.length) && s.charAt(at) == '<' &&
      s.regionMatches(at + 1, name, 0, name.length) && {
        val c = s.charAt(after)
        c.isWhitespace || c == '/' || c == '>'
      }
  }

  /** The first tag in [from, until) named one of `names`: its index and
    * name. One forward pass, however many of the names are absent. */
  def nextTag(s: String, names: Seq[String], from: Int,
      until: Int): Option[(Int, String)] = {
    val end = math.min(until, s.length)
    var i = math.max(from, 0)
    while (i < end) {
      if (s.charAt(i) == '<') {
        val hit = names.find(tagAt(s, _, i, end))
        if (hit.isDefined) return Some((i, hit.get))
      }
      i += 1
    }
    None
  }

  /** Index of the first `<name` tag in [from, until), or -1. */
  def findTag(s: String, name: String, from: Int, until: Int): Int =
    nextTag(s, List(name), from, until).fold(-1)(_._1)

  /** How many `<name` tags [from, until) holds. */
  def count(s: String, name: String, from: Int = 0,
      until: Int = Int.MaxValue): Int = {
    var n = 0
    var k = findTag(s, name, from, until)
    while (k >= 0) { n += 1; k = findTag(s, name, k + 1, until) }
    n
  }

  /** An open tag: its attributes (raw values), the index just past its
    * `>`, and whether it closes itself (`/>`). */
  final case class Tag(attrs: Map[String, String], end: Int,
      selfClosing: Boolean)

  /** The open tag `<name` at `at`, read by the one attribute tokenizer:
    * every attribute is `name = "value"` with either quote kind; a `>`
    * or a name inside a quoted value is data, never structure; the
    * first occurrence of a name wins. A valueless, unquoted or
    * unterminated attribute, or no `>` before `until`, makes the tag
    * malformed: None. */
  def openTag(s: String, name: String, at: Int, until: Int): Option[Tag] = {
    val end = math.min(until, s.length)
    val out = Map.newBuilder[String, String]
    val seen = scala.collection.mutable.Set.empty[String]
    var j = at + 1 + name.length
    def skipWs(): Unit = while (j < end && s.charAt(j).isWhitespace) j += 1
    while (j < end) {
      skipWs()
      if (j >= end) return None
      if (s.charAt(j) == '>') return Some(Tag(out.result(), j + 1, false))
      if (s.charAt(j) == '/' && j + 1 < end && s.charAt(j + 1) == '>')
        return Some(Tag(out.result(), j + 2, true))
      val ks = j
      while (j < end && !s.charAt(j).isWhitespace && s.charAt(j) != '=' &&
        s.charAt(j) != '>' && s.charAt(j) != '/') j += 1
      if (j == ks) return None
      val key = s.substring(ks, j)
      skipWs()
      if (j >= end || s.charAt(j) != '=') return None
      j += 1
      skipWs()
      if (j >= end || (s.charAt(j) != '"' && s.charAt(j) != '\'')) return None
      val q = s.charAt(j)
      val vs = j + 1
      j = vs
      while (j < end && s.charAt(j) != q) j += 1
      if (j >= end) return None
      if (seen.add(key)) out += key -> s.substring(vs, j)
      j += 1
    }
    None // tag never closed
  }

  /** An element: its attributes, its body [bodyStart, bodyEnd) (empty
    * for a self-closing tag) and `end`, just past its close tag. */
  final case class Elem(attrs: Map[String, String], bodyStart: Int,
      bodyEnd: Int, end: Int)

  /** The element `name` whose tag starts at `at`. None when torn: a
    * malformed open tag or no `</name>` before `until`. Elements of one
    * name do not nest: the first close tag ends the element. */
  def elementAt(s: String, name: String, at: Int,
      until: Int): Option[Elem] =
    openTag(s, name, at, until).flatMap { t =>
      if (t.selfClosing) Some(Elem(t.attrs, t.end, t.end, t.end))
      else {
        val end = math.min(until, s.length)
        var i = t.end
        var found: Option[Elem] = None
        while (found.isEmpty && i < end) {
          if (s.charAt(i) == '<' && i + 1 < end && s.charAt(i + 1) == '/' &&
            s.regionMatches(i + 2, name, 0, name.length)) {
            var j = i + 2 + name.length
            while (j < end && s.charAt(j).isWhitespace) j += 1
            if (j < end && s.charAt(j) == '>')
              found = Some(Elem(t.attrs, t.end, i, j + 1))
          }
          i += 1
        }
        found
      }
    }

  /** Every `name` element in [from, until) in order, and whether the
    * walk reached `until` (false: it stopped at a torn element). */
  def elements(s: String, name: String, from: Int,
      until: Int): (Vector[Elem], Boolean) = {
    val out = Vector.newBuilder[Elem]
    var k = findTag(s, name, from, until)
    while (k >= 0) {
      elementAt(s, name, k, until) match {
        case Some(e) => out += e; k = findTag(s, name, e.end, until)
        case None => return (out.result(), false)
      }
    }
    (out.result(), true)
  }

  /** Every `name` element of [from, until), or None if one is torn. */
  def blocks(s: String, name: String, from: Int = 0,
      until: Int = Int.MaxValue): Option[Vector[Elem]] = {
    val (es, whole) = elements(s, name, from, until)
    if (whole) Some(es) else None
  }

  /** An element's text: a body that is one CDATA section is unwrapped
    * verbatim, any other body is entity-decoded. Untrimmed. */
  def text(s: String, e: Elem): String = {
    val raw = s.substring(e.bodyStart, e.bodyEnd)
    val t = raw.trim
    if (t.startsWith("<![CDATA[") && t.endsWith("]]>"))
      t.substring(9, t.length - 3)
    else decodeEntities(raw)
  }

  /** The text of the first `name` element in [from, until); None when
    * there is none or it is torn. */
  def text(s: String, name: String, from: Int = 0,
      until: Int = Int.MaxValue): Option[String] = {
    val k = findTag(s, name, from, until)
    if (k < 0) None else elementAt(s, name, k, until).map(text(s, _))
  }
}
