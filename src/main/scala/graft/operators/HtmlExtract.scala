package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML main-text extraction — the first stage of a real crawl
  * pipeline, feeding the text family (lang-ID, quality, dedup, BPE all
  * consume its output). Pure-JVM single-pass parse, no parser library:
  *
  *  1. DROP non-content containers wholesale: `<script>`, `<style>`,
  *     `<title>` (content and all), and `<!-- comments -->`.
  *  2. REASSEMBLE block text: block-level tags (p, div, h1–h6, li, br,
  *     nav, table rows, ...) delimit blocks; inline tags (a, b, span,
  *     em, ...) vanish; entities (&amp;amp; &amp;lt; &amp;#NN; ...)
  *     decode; whitespace runs collapse to one space (the HTML
  *     rendering rule, which also makes the transform replayable with
  *     DuckDB string functions).
  *  3. CUT boilerplate by link density: per block, the fraction of
  *     non-whitespace chars inside `<a>` — nav bars and footer link
  *     farms sit near 1.0, prose near 0 (the classic boilerplate
  *     signal, Kohlschütter et al. WSDM'10 — public). Blocks above the
  *     cut are dropped.
  *
  * Malformed markup is TOLERATED, never thrown on: a stray `<`, an
  * unterminated comment/script/tag, or quote-imbalanced attributes end
  * or skip cleanly — one broken page must not kill a corpus-scale pass
  * (the [[ImageHeaders]] posture, applied to text).
  *
  * Scale shape: map-only — no shuffle, no state; at 100 TB the
  * extraction pipelines with the scan and the downstream text
  * operators fuse behind it.
  */
object HtmlExtract {

  /** One reassembled block: normalized text + the raw non-whitespace
    * char counts its link-density is judged on. */
  final case class Block(text: String, nChars: Int, nLinkChars: Int)

  private val BlockTags: Set[String] = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "br", "hr", "table", "thead", "tbody", "tr", "td", "th", "section",
    "article", "header", "footer", "nav", "aside", "main", "blockquote",
    "pre", "form", "figure", "figcaption", "dl", "dt", "dd", "body",
    "html", "head")

  /** Containers whose CONTENT is dropped wholesale. */
  private val DropTags: Set[String] = Set("script", "style", "title")

  // named entities: the full WHATWG HTML5 table ([[HtmlEntities]],
  // 2125 names incl. 93 two-codepoint sequences) — round 12; the
  // previous 6-name XML set let &nbsp;/&mdash;/&eacute; survive into
  // extracted training text

  /** Parse `html` into content blocks. Single forward pass; tolerant
    * of malformed markup (see class doc). */
  def blocks(html: String): Vector[Block] = {
    if (html == null) return Vector.empty
    val out = Vector.newBuilder[Block]
    val sb = new StringBuilder
    var nChars = 0
    var nLink = 0
    var linkDepth = 0
    val n = html.length

    def flush(): Unit = {
      if (nChars > 0) out += Block(normalize(sb), nChars, nLink)
      sb.setLength(0); nChars = 0; nLink = 0
    }
    def append(c: Char): Unit = {
      sb.append(c)
      // literal U+00A0 gets the same not-visible rule as the &nbsp;
      // entity path — a page must gate identically whether it wrote
      // the entity or the raw byte
      if (!c.isWhitespace && c != '\u00a0') {
        nChars += 1
        if (linkDepth > 0) nLink += 1
      }
    }
    def appendStr(str: String): Unit = {
      var k = 0
      while (k < str.length) {
        val cp = str.codePointAt(k)
        sb.appendAll(Character.toChars(cp))
        // U+00A0: &nbsp; decodes to a REAL no-break space per spec,
        // but for extracted training text it renders as whitespace
        // (normalize collapses it) and must not count as visible
        if (!Character.isWhitespace(cp) && cp != 0xa0) {
          nChars += 1 // one visible char per code point, pair or not
          if (linkDepth > 0) nLink += 1
        }
        k += Character.charCount(cp)
      }
    }
    def tagNameAt(from: Int): String = {
      var i = from
      val b = new StringBuilder
      while (i < n && (html.charAt(i).isLetterOrDigit)) {
        b.append(Character.toLowerCase(html.charAt(i))); i += 1
      }
      b.toString
    }

    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (i + 1 < n && html.charAt(i + 1) == '!') {
          i = skipTag(html, i + 2) // <!DOCTYPE ...>
        } else {
          val closing = i + 1 < n && html.charAt(i + 1) == '/'
          val nameStart = if (closing) i + 2 else i + 1
          val name = tagNameAt(nameStart)
          if (name.isEmpty) {
            // stray '<' (e.g. "a < b"): literal text, not a tag
            append(c); i += 1
          } else if (!closing && DropTags(name)) {
            // drop content to the matching close tag (case-insensitive
            // in-place scan — no lowercase copy of the whole page per
            // script tag); unterminated -> rest of input is dropped
            val after = skipTag(html, nameStart + name.length)
            val close = indexOfIgnoreCase(html, s"</$name", after)
            i = if (close < 0) n else skipTag(html, close + 2 + name.length)
          } else {
            if (name == "a") {
              if (closing) linkDepth = math.max(0, linkDepth - 1)
              else linkDepth += 1
            }
            if (BlockTags(name)) flush()
            i = skipTag(html, nameStart + name.length)
          }
        }
      } else if (c == '&') {
        entityAt(html, i) match {
          case Some((str, next)) => appendStr(str); i = next
          case None => append('&'); i += 1
        }
      } else {
        append(c); i += 1
      }
    }
    flush()
    out.result()
  }

  /** Skip attributes to past the closing '>', honoring quoted values
    * (a '>' inside href="a>b" must not end the tag); unterminated
    * input consumes to the end. Shared by the text and link passes so
    * their tag handling cannot drift. */
  private def skipTag(html: String, from: Int): Int = {
    var i = from
    var quote: Char = 0
    val n = html.length
    while (i < n) {
      val c = html.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == '>') return i + 1
      i += 1
    }
    n
  }

  /** Decode one entity at `i` (where html(i) == '&'): the decoded
    * character sequence (1–2 code points — 93 HTML5 names decode to
    * two) and the index just past the ';', or None. The ';' scan is
    * WINDOW-BOUNDED (34 chars — the longest HTML5 name is 31), so a
    * page full of bare ampersands stays linear, never O(n²). Astral
    * code points are returned whole (surrogate-safe); surrogate
    * halves and > U+10FFFF numeric forms are rejected. */
  private def entityAt(html: String, i: Int): Option[(String, Int)] = {
    val limit = math.min(i + 34, html.length)
    var semi = -1
    var j = i + 1
    while (semi < 0 && j < limit) {
      if (html.charAt(j) == ';') semi = j
      j += 1
    }
    if (semi < 0) return None
    val body = html.substring(i + 1, semi)
    if (body.startsWith("#")) {
      val cp: Option[Int] =
        if (body.startsWith("#x") || body.startsWith("#X"))
          scala.util.Try(Integer.parseInt(body.drop(2), 16)).toOption
        else scala.util.Try(body.drop(1).toInt).toOption
      cp.filter(c => c >= 0 && c <= 0x10ffff &&
          !(c >= 0xd800 && c <= 0xdfff))
        .map(c => (new String(Character.toChars(c)), semi + 1))
    } else HtmlEntities.table.get(body).map(s => (s, semi + 1))
  }

  /** Case-insensitive indexOf without copying `s` (`target` must
    * already be lowercase). */
  private def indexOfIgnoreCase(s: String, target: String,
      from: Int): Int = {
    val n = s.length
    val m = target.length
    var i = math.max(from, 0)
    while (i + m <= n) {
      var j = 0
      while (j < m &&
        Character.toLowerCase(s.charAt(i + j)) == target.charAt(j)) j += 1
      if (j == m) return i
      i += 1
    }
    -1
  }

  /** Whitespace runs collapse to one space; edges trim (the rendering
    * rule — and DuckDB-replayable as trim(regexp_replace(s,'\s+',' '))). */
  private def normalize(sb: StringBuilder): String = {
    val b = new StringBuilder(sb.length)
    var pendingSpace = false
    var started = false
    var i = 0
    while (i < sb.length) {
      val c = sb.charAt(i)
      if (c.isWhitespace || c == '\u00a0') {
        if (started) pendingSpace = true
      }
      else {
        if (pendingSpace) { b.append(' '); pendingSpace = false }
        b.append(c); started = true
      }
      i += 1
    }
    b.toString
  }

  /** Entity decode over a whole string, via [[entityAt]] (same rules
    * as the block parse, same bounded window, astral-safe append). */
  private def decodeCharRefs(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        entityAt(s, i) match {
          case Some((str, next)) => b.append(str); i = next
          case None => b.append('&'); i += 1
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** All `<a href=...>` values in document order (entity-decoded,
    * quoted or unquoted attribute syntax, malformed-tolerant) — the
    * OUTLINK side of a crawl pipeline; [[blocks]] is the text side.
    * Anchors inside dropped containers (script/style/title/comments)
    * are NOT links and are skipped by the same drop rules. */
  def links(html: String): Vector[String] = {
    if (html == null) return Vector.empty
    val out = Vector.newBuilder[String]
    val n = html.length
    var i = 0
    while (i < n) {
      if (html.charAt(i) == '<') {
        if (html.startsWith("<!--", i)) {
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else {
          val closing = i + 1 < n && html.charAt(i + 1) == '/'
          val nameStart = if (closing) i + 2 else i + 1
          var ne = nameStart
          val nb = new StringBuilder
          while (ne < n && html.charAt(ne).isLetterOrDigit) {
            nb.append(Character.toLowerCase(html.charAt(ne))); ne += 1
          }
          val name = nb.toString
          if (!closing && DropTags(name)) {
            // same consumption as blocks(): hop to past the close
            // tag's OWN '>' so the two passes cannot diverge on e.g.
            // '</script foo=">">'
            val after = skipTag(html, ne)
            val close = indexOfIgnoreCase(html, s"</$name", after)
            i = if (close < 0) n else skipTag(html, close + 2 + name.length)
          } else if (!closing && name == "a") {
            // attribute scan to the tag close, quote-aware
            var j = ne
            var href: Option[String] = None
            var quote: Char = 0
            while (j < n && (quote != 0 || html.charAt(j) != '>')) {
              val cc = html.charAt(j)
              if (quote != 0) { if (cc == quote) quote = 0; j += 1 }
              else if (cc == '"' || cc == '\'') { quote = cc; j += 1 }
              else if (href.isEmpty &&
                (cc == 'h' || cc == 'H') &&
                html.regionMatches(true, j, "href", 0, 4) &&
                !html.charAt(j - 1).isLetterOrDigit) {
                var k = j + 4
                while (k < n && html.charAt(k).isWhitespace) k += 1
                if (k < n && html.charAt(k) == '=') {
                  k += 1
                  while (k < n && html.charAt(k).isWhitespace) k += 1
                  if (k < n &&
                    (html.charAt(k) == '"' || html.charAt(k) == '\'')) {
                    val q = html.charAt(k)
                    val end = html.indexOf(q, k + 1)
                    if (end > 0) {
                      href = Some(decodeCharRefs(html.substring(k + 1, end)))
                      j = end + 1
                    } else j = n
                  } else { // unquoted value: to whitespace or '>'
                    val vs = k
                    while (k < n && !html.charAt(k).isWhitespace &&
                      html.charAt(k) != '>') k += 1
                    href = Some(decodeCharRefs(html.substring(vs, k)))
                    j = k
                  }
                } else j += 4
              } else j += 1
            }
            href.filter(_.nonEmpty).foreach(out += _)
            i = if (j < n) j + 1 else n
          } else {
            i = skipTag(html, ne)
          }
        }
      } else i += 1
    }
    out.result()
  }

  /** Parse one tag's attributes into a lowercase-keyed map, returning
    * the offset past the tag's '>'. Quote-aware (quoted values may
    * contain '>' and whitespace), unquoted values end at whitespace or
    * '>'; valueless attributes map to "". */
  private[operators] def tagAttrs(html: String, from: Int): (Map[String, String], Int) = {
    val n = html.length
    val attrs = Map.newBuilder[String, String]
    var i = from
    while (i < n && html.charAt(i) != '>') {
      val c = html.charAt(i)
      if (c.isWhitespace || c == '/') i += 1
      else {
        val ks = i
        while (i < n && !html.charAt(i).isWhitespace &&
          html.charAt(i) != '=' && html.charAt(i) != '>' &&
          html.charAt(i) != '/') i += 1
        val key = html.substring(ks, i).toLowerCase
        while (i < n && html.charAt(i).isWhitespace) i += 1
        if (i < n && html.charAt(i) == '=') {
          i += 1
          while (i < n && html.charAt(i).isWhitespace) i += 1
          if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
            val q = html.charAt(i)
            val end = html.indexOf(q, i + 1)
            if (end < 0) { // unterminated quote: consume to end
              attrs += key -> decodeCharRefs(html.substring(i + 1))
              i = n
            } else {
              attrs += key -> decodeCharRefs(html.substring(i + 1, end))
              i = end + 1
            }
          } else {
            val vs = i
            while (i < n && !html.charAt(i).isWhitespace &&
              html.charAt(i) != '>') i += 1
            attrs += key -> decodeCharRefs(html.substring(vs, i))
          }
        } else if (key.nonEmpty) attrs += key -> ""
      }
    }
    (attrs.result(), if (i < n) i + 1 else n)
  }

  /** One extracted table cell, in document order. */
  final case class TableCell(tableIdx: Int, rowIdx: Int, colIdx: Int,
      text: String, header: Boolean)

  /** Structured TABLE extraction — the table-to-text stage of a
    * curation pipeline (tables carry the densest factual content on a
    * page and flat text extraction destroys their structure). Walks
    * `<table>`/`<tr>`/`<td>`/`<th>` with the same tag/entity/drop
    * discipline as [[blocks]]; nested or stray markup is tolerated —
    * a `<td>` outside any `<tr>`/`<table>` is ignored, an unclosed
    * cell flushes at the next cell/row/table boundary. Cell text is
    * entity-decoded and whitespace-normalized. */
  def tables(html: String): Vector[TableCell] = {
    if (html == null) return Vector.empty
    val out = Vector.newBuilder[TableCell]
    val n = html.length
    var tableIdx = -1
    var rowIdx = -1
    var colIdx = -1
    var inRow = false
    var cellOpen = false
    var cellHeader = false
    val sb = new StringBuilder
    def flushCell(): Unit = {
      if (cellOpen) {
        out += TableCell(tableIdx, rowIdx, colIdx,
          normalize(sb), cellHeader)
        cellOpen = false
      }
      sb.setLength(0)
    }
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else {
          val closing = i + 1 < n && html.charAt(i + 1) == '/'
          val nameStart = if (closing) i + 2 else i + 1
          var ne = nameStart
          val nb = new StringBuilder
          while (ne < n && html.charAt(ne).isLetterOrDigit) {
            nb.append(Character.toLowerCase(html.charAt(ne))); ne += 1
          }
          val name = nb.toString
          if (name.isEmpty) { if (cellOpen) sb.append(c); i += 1 }
          else if (!closing && DropTags(name)) {
            val after = skipTag(html, ne)
            val close = indexOfIgnoreCase(html, s"</$name", after)
            i = if (close < 0) n else skipTag(html, close + 2 + name.length)
          } else {
            name match {
              case "table" =>
                flushCell(); inRow = false
                if (!closing) { tableIdx += 1; rowIdx = -1 }
              case "tr" =>
                flushCell()
                if (!closing && tableIdx >= 0) {
                  rowIdx += 1; colIdx = -1; inRow = true
                } else inRow = false
              case "td" | "th" =>
                flushCell()
                if (!closing && inRow) {
                  colIdx += 1; cellOpen = true; cellHeader = name == "th"
                }
              case _ => () // inline/other markup inside cells vanishes
            }
            i = skipTag(html, ne)
          }
        }
      } else if (c == '&') {
        entityAt(html, i) match {
          case Some((str, next)) =>
            if (cellOpen) sb.append(str)
            i = next
          case None => if (cellOpen) sb.append('&'); i += 1
        }
      } else {
        if (cellOpen) sb.append(c)
        i += 1
      }
    }
    flushCell()
    out.result()
  }

  /** Extracted page metadata — the fields a curation pipeline filters
    * and labels on before touching body text. */
  final case class PageMeta(title: Option[String],
      description: Option[String], ogTitle: Option[String],
      canonical: Option[String])

  /** Page-metadata extraction: `<title>` text (the one DropTags
    * container whose content IS the signal here), `<meta
    * name="description" content=...>`, `<meta property="og:title"
    * content=...>`, `<link rel="canonical" href=...>`. First
    * occurrence wins; attribute names/keys case-fold; values
    * entity-decode; title whitespace-normalizes. */
  def pageMetadata(html: String): PageMeta = {
    if (html == null) return PageMeta(None, None, None, None)
    val n = html.length
    var title: Option[String] = None
    var desc: Option[String] = None
    var og: Option[String] = None
    var canonical: Option[String] = None
    var i = 0
    while (i < n &&
      (title.isEmpty || desc.isEmpty || og.isEmpty || canonical.isEmpty)) {
      if (html.charAt(i) == '<') {
        if (html.startsWith("<!--", i)) {
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else {
          val closing = i + 1 < n && html.charAt(i + 1) == '/'
          val nameStart = if (closing) i + 2 else i + 1
          var ne = nameStart
          val nb = new StringBuilder
          while (ne < n && html.charAt(ne).isLetterOrDigit) {
            nb.append(Character.toLowerCase(html.charAt(ne))); ne += 1
          }
          val name = nb.toString
          if (!closing && name == "title") {
            val after = skipTag(html, ne)
            val close = indexOfIgnoreCase(html, "</title", after)
            val end = if (close < 0) n else close
            if (title.isEmpty) {
              val sb = new StringBuilder(
                decodeCharRefs(html.substring(after, end)))
              title = Some(normalize(sb))
            }
            i = if (close < 0) n else skipTag(html, close + 7)
          } else if (!closing && (name == "script" || name == "style")) {
            val after = skipTag(html, ne)
            val close = indexOfIgnoreCase(html, s"</$name", after)
            i = if (close < 0) n else skipTag(html, close + 2 + name.length)
          } else if (!closing && name == "meta") {
            val (attrs, next) = tagAttrs(html, ne)
            val content = attrs.get("content")
            if (desc.isEmpty &&
              attrs.get("name").exists(_.equalsIgnoreCase("description")))
              desc = content
            if (og.isEmpty &&
              attrs.get("property").exists(_.equalsIgnoreCase("og:title")))
              og = content
            i = next
          } else if (!closing && name == "link") {
            val (attrs, next) = tagAttrs(html, ne)
            if (canonical.isEmpty &&
              attrs.get("rel").exists(_.equalsIgnoreCase("canonical")))
              canonical = attrs.get("href")
            i = next
          } else if (name.isEmpty) i += 1
          else i = skipTag(html, ne)
        }
      } else i += 1
    }
    PageMeta(title, desc, og, canonical)
  }

  /** Lowercased host of an ABSOLUTE http(s) URL — userinfo and port
    * stripped, path/query/fragment ignored; None for relative URLs,
    * other schemes, or an empty authority. The canonical key of a
    * host-level crawl graph. */
  def urlHost(url: String): Option[String] = {
    if (url == null) return None
    val lower = url.toLowerCase
    val rest =
      if (lower.startsWith("https://")) url.substring(8)
      else if (lower.startsWith("http://")) url.substring(7)
      else return None
    var end = 0
    while (end < rest.length && rest.charAt(end) != '/' &&
      rest.charAt(end) != '?' && rest.charAt(end) != '#') end += 1
    var auth = rest.substring(0, end)
    val at = auth.lastIndexOf('@')
    if (at >= 0) auth = auth.substring(at + 1)
    val colon = auth.indexOf(':')
    if (colon >= 0) auth = auth.substring(0, colon)
    if (auth.isEmpty) None else Some(auth.toLowerCase)
  }

  /** Tracking query parameters dropped by [[normalizeUrl]] — the
    * analytics tags that make one page spell as many URLs. */
  private val TrackingParams = Set("fbclid", "gclid", "msclkid")

  /** Canonicalize an absolute http(s) URL for DEDUP — the aggressive
    * crawl-store key, not a byte-faithful RFC form:
    *  - scheme + host lowercased; userinfo stripped; default ports
    *    (http:80, https:443) removed, others kept;
    *  - path: dot-segments resolved (RFC 3986 remove_dot_segments),
    *    duplicate slashes collapsed, empty path → "/", trailing slash
    *    preserved;
    *  - query: `utm_*` and click-id params dropped, the rest sorted by
    *    (key, value) so parameter order cannot split one page into two
    *    keys; an emptied query loses its '?';
    *  - fragment stripped.
    * None for relative URLs or non-http(s) schemes. Deterministic and
    * total — the oracle constructs expected forms arithmetically. */
  def normalizeUrl(url: String): Option[String] = {
    if (url == null) return None
    val lower = url.toLowerCase
    val (scheme, rest) =
      if (lower.startsWith("https://")) ("https", url.substring(8))
      else if (lower.startsWith("http://")) ("http", url.substring(7))
      else return None
    var authEnd = 0
    while (authEnd < rest.length && rest.charAt(authEnd) != '/' &&
      rest.charAt(authEnd) != '?' && rest.charAt(authEnd) != '#') authEnd += 1
    var auth = rest.substring(0, authEnd)
    val at = auth.lastIndexOf('@')
    if (at >= 0) auth = auth.substring(at + 1)
    auth = auth.toLowerCase
    val (host, port) = auth.indexOf(':') match {
      case -1 => (auth, "")
      case c =>
        val p = auth.substring(c + 1)
        val default = (scheme == "http" && p == "80") ||
          (scheme == "https" && p == "443")
        (auth.substring(0, c), if (default) "" else s":$p")
    }
    if (host.isEmpty) return None
    val tail = rest.substring(authEnd)
    val hashIdx = tail.indexOf('#')
    val noFrag = if (hashIdx >= 0) tail.substring(0, hashIdx) else tail
    val qIdx = noFrag.indexOf('?')
    val (rawPath, rawQuery) =
      if (qIdx >= 0) (noFrag.substring(0, qIdx), noFrag.substring(qIdx + 1))
      else (noFrag, "")
    // remove_dot_segments over nonempty segments (collapses // too)
    val trailingSlash = rawPath.endsWith("/") || rawPath.endsWith("/.") ||
      rawPath.endsWith("/..")
    val stack = scala.collection.mutable.ArrayBuffer.empty[String]
    rawPath.split("/").filter(_.nonEmpty).foreach {
      case "." => ()
      case ".." => if (stack.nonEmpty) stack.remove(stack.length - 1)
      case seg => stack += seg
    }
    val path = "/" + stack.mkString("/") +
      (if (trailingSlash && stack.nonEmpty) "/" else "")
    val params = rawQuery.split("&").filter(_.nonEmpty).filterNot { kv =>
      val k = kv.takeWhile(_ != '=')
      k.startsWith("utm_") || TrackingParams(k)
    }.sorted
    val query = if (params.isEmpty) "" else params.mkString("?", "&", "")
    Some(s"$scheme://$host$port$path$query")
  }

  /** Extracted result: kept blocks joined by '\n', plus counts. */
  final case class Extracted(main_text: String, n_blocks: Int,
      n_dropped: Int)

  /** The whole operator on one page: parse, cut blocks whose link
    * density exceeds `maxLinkDensity`, join the survivors. */
  def mainText(html: String, maxLinkDensity: Double): Extracted = {
    val bs = blocks(html)
    val (kept, dropped) = bs.partition(b =>
      b.nLinkChars.toDouble / b.nChars <= maxLinkDensity)
    Extracted(kept.map(_.text).mkString("\n"), kept.size, dropped.size)
  }

  /** The host-level crawl graph: parse every page's outlinks, keep
    * absolute http(s) targets, reduce to (src_host, dst_host,
    * n_links) edges. One map-side parse + one edge-keyed aggregation
    * — the output feeds the Graph family directly (host PageRank,
    * components, k-core) and is |hosts|²-bounded, not |pages|-scaled.
    * `srcHost` is the page's own host column (a crawl store carries
    * it; deriving it from a page URL column is [[urlHost]]). */
  def outlinkHostEdges(df: DataFrame, srcHost: Column,
      htmlCol: Column): DataFrame = {
    val linksFn = udf { html: String =>
      links(html).flatMap(urlHost)
    }
    df.select(srcHost.as("src_host"),
        explode(linksFn(htmlCol)).as("dst_host"))
      .groupBy(col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n_links"))
  }

  /** DataFrame form: adds (main_text, n_blocks, n_dropped) from
    * `htmlCol`. Map-only — fuses with the scan; no shuffle. */
  def extractMainText(df: DataFrame, htmlCol: Column,
      maxLinkDensity: Double): DataFrame = {
    val fn = udf { html: String =>
      val e = mainText(html, maxLinkDensity)
      (e.main_text, e.n_blocks, e.n_dropped)
    }
    df.withColumn("_x", fn(htmlCol))
      .withColumn("main_text", col("_x._1"))
      .withColumn("n_blocks", col("_x._2"))
      .withColumn("n_dropped", col("_x._3"))
      .drop("_x")
  }
}
