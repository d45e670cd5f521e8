package graft.operators

/** EPUB metadata extraction — the book-corpus container (public
  * specs: EPUB 3 / OCF packaging; a ZIP with a STORED "mimetype"
  * entry, META-INF/container.xml pointing at the OPF package
  * document, and Dublin Core metadata inside it). Books are a prized
  * long-form corpus, and their metadata lives three hops deep — this
  * operator is deliberately a COMPOSITION over the tested ZIP reader
  * ([[Archive.zipEntries]]/[[Archive.unzipEntry]]) rather than a new
  * byte decoder: container walk → rootfile path → OPF parse.
  *
  * Extracted: dc:title / dc:creator / dc:language / dc:identifier,
  * manifest and spine sizes (the chapter-count signal), the entry
  * count, and whether the mimetype entry is conformant (present,
  * STORED, exactly "application/epub+zip" — the first thing a
  * validator checks). A zip that is not an EPUB (no container.xml /
  * no rootfile / missing OPF) → None.
  */
object Epub {

  final case class EpubMeta(title: Option[String], creator: Option[String],
      language: Option[String], identifier: Option[String],
      nManifest: Int, nSpine: Int, nEntries: Int, mimetypeOk: Boolean)

  def decodeEpub(b: Array[Byte]): Option[EpubMeta] =
    try {
      val entries = Archive.zipEntries(b).getOrElse(return None)
      val read = Ooxml.readPart(b, entries) _
      val mimetypeOk = entries.find(_.name == "mimetype").exists { e =>
        e.method == 0 && Archive.unzipEntry(b, e)
          .map(new String(_, "US-ASCII"))
          .contains("application/epub+zip")
      }
      val container = read("META-INF/container.xml").getOrElse(return None)
      // first <rootfile ...> carries full-path per OCF; the name
      // boundary keeps the <rootfiles> WRAPPER from matching
      val rootAt = Xml.findTag(container, "rootfile", 0, container.length)
      if (rootAt < 0) return None
      val opfPath = Xml.openTag(container, "rootfile", rootAt,
        container.length).flatMap(_.attrs.get("full-path"))
        .getOrElse(return None)
      val opf = read(opfPath).getOrElse(return None)
      def text(tag: String) = Xml.text(opf, tag).map(_.trim)
      Some(EpubMeta(
        text("dc:title"), text("dc:creator"),
        text("dc:language"), text("dc:identifier"),
        Xml.count(opf, "item"), Xml.count(opf, "itemref"),
        entries.size, mimetypeOk))
    } catch { case _: Exception => None }

  /** Fixture emitter: conformant OCF layout — STORED mimetype first,
    * container.xml, an OPF with Dublin Core metadata (entity-escaped
    * title) + one manifest item / spine itemref per chapter, and the
    * chapter XHTML files themselves (deflated). */
  def encodeEpub(title: String, creator: String, language: String,
      identifier: String, nChapters: Int): Array[Byte] = {
    require(nChapters >= 1)
    val esc = Xml.escape(title)
    val container =
      """<?xml version="1.0"?>
        |<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:xmlns:container">
        |<rootfiles><rootfile full-path="OEBPS/content.opf" media-type="application/oebps-package+xml"/></rootfiles>
        |</container>""".stripMargin
    val manifest = (0 until nChapters).map(k =>
      s"""<item id="c$k" href="c$k.xhtml" media-type="application/xhtml+xml"/>""")
      .mkString("\n")
    val spine = (0 until nChapters).map(k =>
      s"""<itemref idref="c$k"/>""").mkString("\n")
    val opf =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<package xmlns="http://www.idpf.org/2007/opf" version="3.0" unique-identifier="uid">
         |<metadata xmlns:dc="http://purl.org/dc/elements/1.1/">
         |<dc:identifier id="uid">$identifier</dc:identifier>
         |<dc:title>$esc</dc:title>
         |<dc:creator>$creator</dc:creator>
         |<dc:language>$language</dc:language>
         |</metadata>
         |<manifest>
         |$manifest
         |</manifest>
         |<spine>
         |$spine
         |</spine>
         |</package>""".stripMargin
    val chapters = (0 until nChapters).map { k =>
      (s"OEBPS/c$k.xhtml",
        s"<html><body><p>chapter $k of $esc</p></body></html>"
          .getBytes("UTF-8"),
        true)
    }
    Archive.encodeZip(
      Seq(("mimetype", "application/epub+zip".getBytes("US-ASCII"), false),
        ("META-INF/container.xml", container.getBytes("UTF-8"), true),
        ("OEBPS/content.opf", opf.getBytes("UTF-8"), true)) ++ chapters)
  }
}
