package graft.operators

/** DOCX text + metadata extraction (public spec: ECMA-376 Office Open
  * XML, WordprocessingML). Office documents are one of the largest
  * text-bearing populations a crawl carries after HTML and PDF; the
  * container is plain ZIP (reused: [[Archive.zipEntries]] /
  * [[Archive.unzipEntry]]) and the text lives in the main document
  * part as `<w:p>` paragraphs of `<w:r>` runs whose visible text is
  * `<w:t>` elements.
  *
  * Fidelity points this decoder gets right (each one a classic naive-
  * extractor bug): the main part's PATH is resolved through the
  * package relationships (`_rels/.rels` officeDocument Target), never
  * hard-coded; one paragraph's text is the CONCATENATION of all its
  * runs (editors split mid-word on formatting changes); `<w:tab/>`
  * and `<w:br/>` inside runs render as tab / newline; self-closing
  * `<w:t/>` is empty; XML entities decode. Title/creator come from
  * the Dublin Core `docProps/core.xml` part (same shape as
  * [[Epub]]'s OPF metadata). A zip that is not a WordprocessingML
  * package (no [Content_Types].xml, no officeDocument relationship,
  * missing main part) or a torn XML structure (an unterminated
  * `<w:t>` or `<w:p>`) → None.
  */
object Docx {

  /** `text` is paragraphs joined with '\n' (empty paragraphs kept —
    * they carry the document's visual structure). */
  final case class DocxMeta(title: Option[String], creator: Option[String],
      nParagraphs: Int, text: String)

  /** What a paragraph walk renders besides `<w:t>` text: tabs, breaks,
    * and the properties block, dropped whole (its
    * `<w:tabs><w:tab w:pos=.../>` tab-stop DEFINITIONS must not render
    * as text tabs — only `<w:tab/>` inside a run is a text tab). */
  private val Rendered = Map("w:tab" -> "\t", "w:br" -> "\n", "w:pPr" -> "")

  def decodeDocx(b: Array[Byte]): Option[DocxMeta] =
    try {
      val entries = Archive.zipEntries(b).getOrElse(return None)
      val read = Ooxml.readPart(b, entries) _
      // the officeDocument relationship names the main part — a
      // WordprocessingML package MUST carry content types + rels
      val mainPath = Ooxml.mainPartPath(read).getOrElse(return None)
      val doc = read(mainPath).getOrElse(return None)
      val bodyAt = Xml.findTag(doc, "w:body", 0, doc.length)
      if (bodyAt < 0) return None
      // paragraph walk (<w:p/> is an empty paragraph)
      val paras = Xml.blocks(doc, "w:p", bodyAt).getOrElse(return None)
        .map(p => Ooxml.paragraphText(doc, p.bodyStart, p.bodyEnd, "w:t",
          Rendered).getOrElse(return None))
      // core properties are OPTIONAL (per-field degradation)
      val core = read("docProps/core.xml")
      Some(DocxMeta(
        core.flatMap(Xml.text(_, "dc:title")),
        core.flatMap(Xml.text(_, "dc:creator")),
        paras.length, paras.mkString("\n")))
    } catch { case _: Exception => None }

  // ------------------------------------------------------------------
  // fixture emitter
  // ------------------------------------------------------------------

  /** Emit a structurally-conformant package: content types, package
    * rels resolving the main part at `mainPath` (exercises non-default
    * paths), Dublin Core props, and the document part with each
    * paragraph SPLIT across multiple runs mid-text (the editor
    * behavior extraction must undo), entities escaped, runs with
    * leading/trailing spaces marked xml:space="preserve", and a tab
    * rendered via `<w:tab/>` wherever the paragraph contains one. */
  def encodeDocx(title: String, creator: String, paragraphs: Seq[String],
      mainPath: String = "word/document.xml"): Array[Byte] = {
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Override PartName="/""".stripMargin + mainPath +
        """" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>
          |<Override PartName="/docProps/core.xml" ContentType="application/vnd.openxmlformats-package.core-properties+xml"/>
          |</Types>""".stripMargin
    val rels =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
         |<Relationship Id="rId9" Type="http://schemas.openxmlformats.org/package/2006/relationships/metadata/core-properties" Target="docProps/core.xml"/>
         |<Relationship Id="rId1" Type="${Ooxml.OfficeDocRel}" Target="$mainPath"/>
         |</Relationships>""".stripMargin
    val core =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<cp:coreProperties xmlns:cp="http://schemas.openxmlformats.org/package/2006/metadata/core-properties" xmlns:dc="http://purl.org/dc/elements/1.1/">
         |<dc:title>${Xml.escape(title)}</dc:title>
         |<dc:creator>${Xml.escape(creator)}</dc:creator>
         |</cp:coreProperties>""".stripMargin
    def runs(text: String): String =
      if (text.isEmpty) "" // paragraph with no runs
      else text.split("\t", -1).zipWithIndex.map { case (seg, i) =>
        val tab = if (i == 0) "" else "<w:tab/>"
        if (seg.isEmpty) s"<w:r>$tab</w:r>"
        else {
          // split the segment across two runs mid-text
          val cut = seg.length / 2
          val parts = Seq(seg.take(cut), seg.drop(cut)).filter(_.nonEmpty)
          val ts = parts.zipWithIndex.map { case (part, j) =>
            val preserve =
              if (part != part.trim) " xml:space=\"preserve\"" else ""
            (if (j == 0) tab else "") + s"<w:t$preserve>${Xml.escape(part)}</w:t>"
          }
          ts.map(t => s"<w:r><w:rPr><w:b/></w:rPr>$t</w:r>").mkString
        }
      }.mkString
    val body = paragraphs.map {
      case "" => "<w:p/>"
      case text =>
        // a paragraph that USES tabs also gets custom tab STOPS in its
        // properties (what Word writes); those <w:tab w:pos=.../>
        // definitions must not render as text tabs
        val stops = if (text.contains('\t'))
          "<w:tabs><w:tab w:val=\"left\" w:pos=\"720\"/>" +
            "<w:tab w:val=\"right\" w:pos=\"8640\"/></w:tabs>"
        else ""
        s"<w:p><w:pPr><w:jc w:val=\"left\"/>$stops</w:pPr>" +
          runs(text) + "</w:p>"
    }.mkString
    val doc =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
         |<w:body>$body<w:sectPr/></w:body>
         |</w:document>""".stripMargin
    Archive.encodeZip(Seq(
      ("[Content_Types].xml", contentTypes.getBytes("UTF-8"), true),
      ("_rels/.rels", rels.getBytes("UTF-8"), true),
      ("docProps/core.xml", core.getBytes("UTF-8"), true),
      (mainPath, doc.getBytes("UTF-8"), true)))
  }
}
