package graft.operators

/** XML sitemap parsing (public spec: sitemaps.org protocol 0.9) — the
  * crawl-frontier feed that pairs with [[Robots]]' fetch gate: a host's
  * sitemap enumerates canonical URLs with change metadata, and a
  * frontier prioritizes (lastmod, priority) before spending requests.
  *
  * The parser is a lenient element walk on the [[Xml]] scanners (no
  * XML library): find each `<url>`/`<sitemap>` element, pull
  * `<loc>`/`<lastmod>`/`<priority>` child text, decode the five XML
  * entities. `<urlset>` vs `<sitemapindex>` handled separately —
  * an index's children are sitemaps to fetch, not page URLs. Malformed
  * input yields the entries that DO parse (a half-written sitemap
  * still feeds the frontier); a block with no `<loc>` is skipped.
  * Tag-name matching requires a delimiter after the name, so `<url>`
  * never matches `<urlset>`'s prefix.
  */
object Sitemap {

  final case class Entry(loc: String, lastmod: Option[String],
      priority: Option[Double])

  /** Every `<elem>...</elem>` block mapped through `f` with a reader
    * of its children's trimmed text; a torn block ends the walk, and
    * the blocks before it are kept. */
  private def blocks[A](xml: String, elem: String)(
      f: (String => Option[String]) => Option[A]): Seq[A] =
    if (xml == null) Seq.empty
    else Xml.elements(xml, elem, 0, xml.length)._1.flatMap { e =>
      f(tag => Xml.text(xml, tag, e.bodyStart, e.bodyEnd).map(_.trim))
    }

  /** Page entries of a `<urlset>` sitemap. */
  def parse(xml: String): Seq[Entry] =
    blocks(xml, "url") { text =>
      text("loc").filter(_.nonEmpty).map { loc =>
        Entry(loc, text("lastmod").filter(_.nonEmpty),
          text("priority").flatMap(p => scala.util.Try(p.toDouble).toOption))
      }
    }

  /** Child sitemap locations of a `<sitemapindex>`. */
  def parseIndex(xml: String): Seq[String] =
    blocks(xml, "sitemap")(_("loc").filter(_.nonEmpty))

  /** Fixture emitter: a spec-shaped urlset with entities ENCODED in
    * loc (the parse must decode them) and optional fields omitted
    * per entry. */
  def emit(entries: Seq[(String, Option[String], Option[Double])]): String = {
    val body = entries.map { case (loc, lastmod, priority) =>
      s"  <url>\n    <loc>${Xml.escape(loc)}</loc>\n" +
        lastmod.map(d => s"    <lastmod>$d</lastmod>\n").getOrElse("") +
        priority.map(p => s"    <priority>$p</priority>\n").getOrElse("") +
        "  </url>"
    }.mkString("\n")
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
      "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
      s"$body\n</urlset>\n"
  }
}
