package graft.operators

/** PPTX slide-text extraction (public spec: ECMA-376 PresentationML +
  * DrawingML text) — the third OOXML population after [[Docx]] and
  * [[Xlsx]]: slide decks are dense, short-form text (titles, bullet
  * lists) that a curation pipeline wants separated per slide.
  *
  * Fidelity points: slide ORDER comes from `<p:sldIdLst>` in the
  * presentation part (NOT from part file names — the emitter
  * deliberately scrambles rId→file assignments), each slide path
  * resolves through the presentation's relationship part, one
  * paragraph (`<a:p>`) is the concatenation of its `<a:r><a:t>` runs,
  * and `<a:br/>` renders as a newline. Shapes (`<p:sp>`) are counted
  * across the deck. Non-PresentationML packages and torn XML → None.
  */
object Pptx {

  /** `text`: paragraphs '\n'-joined within a shape, shapes
    * '\n'-joined within a slide, slides '\n'-joined in deck order. */
  final case class PptxMeta(nSlides: Int, nShapes: Int, text: String)

  def decodePptx(b: Array[Byte]): Option[PptxMeta] =
    try {
      val entries = Archive.zipEntries(b).getOrElse(return None)
      val read = Ooxml.readPart(b, entries) _
      val mainPath = Ooxml.mainPartPath(read).getOrElse(return None)
      val pres = read(mainPath).getOrElse(return None)
      val presDir = mainPath.lastIndexOf('/') match {
        case -1 => ""
        case k => mainPath.substring(0, k + 1)
      }
      // a PresentationML main part carries the slide-id list
      val sldIds = Xml.blocks(pres, "p:sldId").getOrElse(return None)
      if (sldIds.isEmpty) return None
      val relsPath = presDir + "_rels/" +
        mainPath.substring(presDir.length) + ".rels"
      val rels = read(relsPath).getOrElse(return None)
      val relTargets = Ooxml.relTargets(rels).getOrElse(return None)
      var nShapes = 0
      // deck order = sldIdLst order, slide paths via the rels hop
      val slideTexts = sldIds.map { sld =>
        val rid = sld.attrs.getOrElse("r:id", return None)
        val target = relTargets.getOrElse(rid, return None)
        val xml = read(presDir + target.stripPrefix("/"))
          .getOrElse(return None)
        val shapes = Xml.blocks(xml, "p:sp").getOrElse(return None)
        nShapes += shapes.length
        shapes.map { sp =>
          Xml.blocks(xml, "a:p", sp.bodyStart, sp.bodyEnd)
            .getOrElse(return None)
            .map(ap => Ooxml.paragraphText(xml, ap.bodyStart, ap.bodyEnd,
              "a:t", Map("a:br" -> "\n")).getOrElse(return None))
            .mkString("\n")
        }.mkString("\n")
      }
      Some(PptxMeta(sldIds.length, nShapes, slideTexts.mkString("\n")))
    } catch { case _: Exception => None }

  // ------------------------------------------------------------------
  // fixture emitter
  // ------------------------------------------------------------------

  /** Each slide = (title, body paragraphs): two `<p:sp>` shapes, the
    * body runs SPLIT mid-text. The rId→slide-part assignment is
    * deliberately REVERSED relative to deck order, so extraction in
    * file-name order would come out backwards — order must follow
    * `<p:sldIdLst>`. */
  def encodePptx(slides: Seq[(String, Seq[String])]): Array[Byte] = {
    require(slides.nonEmpty, "at least one slide")
    val n = slides.length
    def runs(text: String): String =
      if (text.isEmpty) "<a:r><a:t/></a:r>"
      else {
        val cut = text.length / 2
        Seq(text.take(cut), text.drop(cut)).filter(_.nonEmpty)
          .map(part => s"<a:r><a:rPr lang=\"en-US\"/>" +
            s"<a:t>${Xml.escape(part)}</a:t></a:r>")
          .mkString
      }
    val slideXmls = slides.map { case (title, paras) =>
      val titleSp =
        s"""<p:sp><p:nvSpPr><p:nvPr><p:ph type="title"/></p:nvPr></p:nvSpPr>
           |<p:txBody><a:bodyPr/><a:p>${runs(title)}</a:p></p:txBody></p:sp>"""
          .stripMargin
      val bodyPs = paras.map(p => s"<a:p>${runs(p)}</a:p>").mkString
      val bodySp =
        if (paras.isEmpty) ""
        else s"<p:sp><p:nvSpPr><p:nvPr/></p:nvSpPr>" +
          s"<p:txBody><a:bodyPr/>$bodyPs</p:txBody></p:sp>"
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<p:sld xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main">
         |<p:cSld><p:spTree>$titleSp$bodySp</p:spTree></p:cSld>
         |</p:sld>""".stripMargin
    }
    // deck position i -> part slide{n-i}.xml via rId{i+1} (reversed)
    val sldIdLst = slides.indices.map { i =>
      s"""<p:sldId id="${256 + i}" r:id="rId${i + 1}"/>"""
    }.mkString
    val presentation =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<p:presentation xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
         |<p:sldIdLst>$sldIdLst</p:sldIdLst>
         |</p:presentation>""".stripMargin
    val presRels = {
      val rels = slides.indices.map { i =>
        s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/slide" Target="slides/slide${n - i}.xml"/>"""
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">$rels</Relationships>"""
        .stripMargin
    }
    val pkgRels =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
         |<Relationship Id="rId1" Type="${Ooxml.OfficeDocRel}" Target="ppt/presentation.xml"/>
         |</Relationships>""".stripMargin
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Override PartName="/ppt/presentation.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.presentation.main+xml"/>
        |</Types>""".stripMargin
    Archive.encodeZip(
      Seq(("[Content_Types].xml", contentTypes.getBytes("UTF-8"), true),
        ("_rels/.rels", pkgRels.getBytes("UTF-8"), true),
        ("ppt/presentation.xml", presentation.getBytes("UTF-8"), true),
        ("ppt/_rels/presentation.xml.rels", presRels.getBytes("UTF-8"),
          true)) ++
        slideXmls.zipWithIndex.map { case (xml, i) =>
          // deck position i lives in part slide{n-i}.xml (reversed)
          (s"ppt/slides/slide${n - i}.xml", xml.getBytes("UTF-8"), true)
        })
  }
}
