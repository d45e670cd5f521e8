package graft.operators

/** RSS 2.0 / Atom feed parsing — the crawl-discovery channel that
  * pairs with [[Sitemap]] (public specs: RSS 2.0, RFC 4287 Atom). A
  * frontier that reads sitemaps but not feeds misses the freshest
  * URLs a host publishes; a curation pass reads the entry dates to
  * prioritize recency. Same discipline as the sitemap walk: a
  * purpose-built scan (no DOM), entity-decoded text, CDATA tolerated,
  * malformed-but-recoverable entries skipped rather than fatal,
  * not-a-feed → None.
  */
object Feed {

  /** `kind` is "rss" or "atom"; `maxDate` is the lexicographic max of
    * the per-entry date strings — exact for Atom's RFC 3339 stamps,
    * and replayable for fixtures either way. */
  final case class FeedMeta(kind: String, title: Option[String],
      nEntries: Int, nLinks: Int, maxDate: Option[String])

  def decodeFeed(b: Array[Byte]): Option[FeedMeta] =
    try {
      if (b == null || b.length < 10) return None
      val s = new String(b, "UTF-8")
      val rssAt = s.indexOf("<rss")
      val atomAt = s.indexOf("<feed")
      val isRss = rssAt >= 0 && (atomAt < 0 || rssAt < atomAt)
      val isAtom = atomAt >= 0 && !isRss
      if (!isRss && !isAtom) return None
      val (entryTag, dateTag, kind) =
        if (isRss) ("item", "pubDate", "rss") else ("entry", "updated", "atom")
      def text(tag: String, from: Int, until: Int) =
        Xml.text(s, tag, from, until).map(_.trim)
      // channel/feed title = first <title> BEFORE the first entry
      val firstEntry = Xml.findTag(s, entryTag, 0, s.length)
      val title = text("title", 0, if (firstEntry < 0) s.length else firstEntry)
      val entries = Xml.blocks(s, entryTag).getOrElse(return None)
      val nEntries = entries.length
      // links: RSS <link>url</link>; Atom <link href="..."/>
      val nLinks = entries.count { e =>
        if (isRss) text("link", e.bodyStart, e.bodyEnd).exists(_.nonEmpty)
        else {
          val lk = Xml.findTag(s, "link", e.bodyStart, e.bodyEnd)
          lk >= 0 && Xml.openTag(s, "link", lk, e.bodyEnd)
            .flatMap(_.attrs.get("href")).exists(_.nonEmpty)
        }
      }
      val maxDate = entries.flatMap(e => text(dateTag, e.bodyStart, e.bodyEnd))
        .maxOption
      if (nEntries == 0) return None // a feed with no entries is not useful
      Some(FeedMeta(kind, title, nEntries, nLinks, maxDate))
    } catch { case _: Exception => None }

  /** Fixture emitter, RSS 2.0: channel title (entity-escaped), per-item
    * title/link/pubDate with a CDATA title on every third item. */
  def encodeRss(title: String, items: Seq[(String, String, String)])
      : Array[Byte] = {
    val esc = Xml.escape(title)
    val sb = new StringBuilder(
      s"""<?xml version="1.0"?>\n<rss version="2.0"><channel>\n""" +
        s"<title>$esc</title><link>https://example.test/</link>\n")
    items.zipWithIndex.foreach { case ((t, link, date), k) =>
      val it =
        if (k % 3 == 2) s"<![CDATA[$t]]>"
        else Xml.escape(t)
      sb.append(s"<item><title>$it</title><link>$link</link>" +
        s"<pubDate>$date</pubDate></item>\n")
    }
    sb.append("</channel></rss>\n")
    sb.toString.getBytes("UTF-8")
  }

  /** Fixture emitter, Atom (RFC 4287): feed title, per-entry title,
    * href-style link, RFC 3339 updated stamp. */
  def encodeAtom(title: String, entries: Seq[(String, String, String)])
      : Array[Byte] = {
    val esc = Xml.escape(title)
    val sb = new StringBuilder(
      """<?xml version="1.0" encoding="utf-8"?>""" + "\n" +
        s"""<feed xmlns="http://www.w3.org/2005/Atom">\n""" +
        s"<title>$esc</title>\n")
    entries.foreach { case (t, href, updated) =>
      sb.append(s"""<entry><title>${Xml.escape(t)}</title><link href="$href"/>""" +
        s"<updated>$updated</updated></entry>\n")
    }
    sb.append("</feed>\n")
    sb.toString.getBytes("UTF-8")
  }
}
