package graft.operators

/** XLSX cell extraction (public spec: ECMA-376 SpreadsheetML) — the
  * tabular sibling of [[Docx]]: spreadsheets are where a crawl's
  * structured numeric data lives, and naive extractors break on
  * exactly the three mechanics implemented here:
  *
  *  - the SHARED STRING table: a string cell (`t="s"`) stores only an
  *    index into `xl/sharedStrings.xml`; the entry may be a plain
  *    `<t>` or RICH TEXT split across `<r><t>` runs that must
  *    concatenate. An index past the table rejects the file.
  *  - sheet part paths resolve through TWO relationship hops: package
  *    rels → workbook, workbook rels → each sheet's `r:id` Target —
  *    never hard-coded `sheet1.xml`.
  *  - cell types: `t="s"` shared, `t="inlineStr"` with nested
  *    `<is><t>`, `t="str"` formula-result literal, and the default
  *    NUMERIC `<v>` (summed; a non-numeric payload in a numeric cell
  *    is a tear → None).
  *
  * Extraction is corpus-shaped: sheet count, first sheet name, total
  * row/cell counts, the numeric sum, and the string-cell text (cells
  * tab-joined, rows newline-joined, sheets in workbook order).
  * Containers that are not SpreadsheetML, torn XML, or out-of-range
  * shared indexes → None. */
object Xlsx {

  final case class XlsxMeta(nSheets: Int, firstSheetName: String,
      nRows: Int, nCells: Int, numericSum: Double, text: String)

  /** Concatenated text of every `<t>` element in [from, until) (the
    * shared-string-item / inlineStr shape: plain or rich-text runs).
    * None on a torn `<t>`. */
  private def tTexts(s: String, from: Int, until: Int): Option[String] =
    Xml.blocks(s, "t", from, until).map(_.map(Xml.text(s, _)).mkString)

  def decodeXlsx(b: Array[Byte]): Option[XlsxMeta] =
    try {
      val entries = Archive.zipEntries(b).getOrElse(return None)
      val read = Ooxml.readPart(b, entries) _
      // hop 1: package rels -> workbook part
      val wbPath = Ooxml.mainPartPath(read).getOrElse(return None)
      val wb = read(wbPath).getOrElse(return None)
      val wbDir = wbPath.lastIndexOf('/') match {
        case -1 => ""
        case k => wbPath.substring(0, k + 1)
      }
      // hop 2: workbook rels -> sheet parts by r:id
      val wbRelsPath = wbDir + "_rels/" +
        wbPath.substring(wbDir.length) + ".rels"
      val wbRels = read(wbRelsPath).getOrElse(return None)
      val targets = Ooxml.relTargets(wbRels).getOrElse(return None)
      val sheets = Xml.blocks(wb, "sheet").getOrElse(return None)
        .map { sheet =>
          val name = sheet.attrs.getOrElse("name", return None)
          val rid = sheet.attrs.getOrElse("r:id", return None)
          val target = targets.getOrElse(rid, return None)
          (name, wbDir + target.stripPrefix("/"))
        }
      if (sheets.isEmpty) return None
      // shared strings (optional part; rich runs concatenate)
      val shared: IndexedSeq[String] = read(wbDir + "sharedStrings.xml")
        .map { sst =>
          Xml.blocks(sst, "si").getOrElse(return None)
            .map(si => tTexts(sst, si.bodyStart, si.bodyEnd)
              .getOrElse(return None))
            .toIndexedSeq
        }.getOrElse(IndexedSeq.empty)
      var nRows = 0
      var nCells = 0
      var sum = 0.0d
      val sheetTexts = sheets.map { case (_, path) =>
        val xml = read(path).getOrElse(return None)
        val rows = Xml.blocks(xml, "row").getOrElse(return None)
        nRows += rows.length
        val rowTexts = rows.map { row =>
          val cells = Xml.blocks(xml, "c", row.bodyStart, row.bodyEnd)
            .getOrElse(return None)
          nCells += cells.length
          val strs = cells.flatMap { c =>
            def v = Xml.text(xml, "v", c.bodyStart, c.bodyEnd)
            c.attrs.get("t") match {
              case Some("s") =>
                val idx = v.getOrElse(return None)
                  .trim.toIntOption.getOrElse(return None)
                if (idx < 0 || idx >= shared.length) return None
                Some(shared(idx))
              case Some("inlineStr") =>
                Some(tTexts(xml, c.bodyStart, c.bodyEnd).getOrElse(return None))
              case Some("str") => Some(v.getOrElse(""))
              case Some(_) => None // b/e/d cell types: not text
              case None =>
                v.foreach { v =>
                  sum += v.trim.toDoubleOption.getOrElse(return None)
                }
                None
            }
          }
          strs.mkString("\t")
        }
        rowTexts.mkString("\n")
      }
      Some(XlsxMeta(sheets.length, sheets.head._1, nRows, nCells, sum,
        sheetTexts.mkString("\n")))
    } catch { case _: Exception => None }

  // ------------------------------------------------------------------
  // fixture emitter
  // ------------------------------------------------------------------

  /** A fixture cell: Left = string (even shared indexes emit as PLAIN
    * `<t>`, odd as RICH runs; every third string cell inline instead
    * of shared), Right = numeric. */
  def encodeXlsx(sheets: Seq[(String, Seq[Seq[Either[String, Long]]])])
      : Array[Byte] = {
    require(sheets.nonEmpty, "at least one sheet")
    // collect shared strings (dedup, insertion order)
    val sstOrder = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    var strCellIdx = 0
    val plans = sheets.map { case (name, rows) =>
      val cellPlan = rows.map(_.map {
        case Left(s) =>
          strCellIdx += 1
          if (strCellIdx % 3 == 0) ("inline", s, -1)
          else {
            val idx = sstOrder.getOrElseUpdate(s, sstOrder.size)
            ("shared", s, idx)
          }
        case Right(v) => ("num", v.toString, -1)
      })
      (name, cellPlan)
    }
    val sst = {
      val items = sstOrder.keys.zipWithIndex.map { case (s, i) =>
        if (i % 2 == 1 && s.nonEmpty) {
          // rich text: split across two runs
          val cut = s.length / 2
          s"<si><r><rPr><b/></rPr><t>${Xml.escape(s.take(cut))}</t></r>" +
            s"<r><t>${Xml.escape(s.drop(cut))}</t></r></si>"
        } else s"<si><t>${Xml.escape(s)}</t></si>"
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${sstOrder.size}" uniqueCount="${sstOrder.size}">$items</sst>"""
        .stripMargin
    }
    def colRef(i: Int): String = {
      require(i < 702, "column fan-out")
      if (i < 26) ('A' + i).toChar.toString
      else s"${('A' + i / 26 - 1).toChar}${('A' + i % 26).toChar}"
    }
    val sheetXmls = plans.map { case (_, rows) =>
      val rowXml = rows.zipWithIndex.map { case (cells, r) =>
        val cellXml = cells.zipWithIndex.map { case (cell, c) =>
          val ref = s"${colRef(c)}${r + 1}"
          cell match {
            case ("shared", _, idx) =>
              s"""<c r="$ref" t="s"><v>$idx</v></c>"""
            case ("inline", s, _) =>
              s"""<c r="$ref" t="inlineStr"><is><t>${Xml.escape(s)}</t></is></c>"""
            case (_, v, _) => s"""<c r="$ref"><v>$v</v></c>"""
          }
        }.mkString
        s"""<row r="${r + 1}">$cellXml</row>"""
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
         |<sheetData>$rowXml</sheetData>
         |</worksheet>""".stripMargin
    }
    val wbSheets = sheets.zipWithIndex.map { case ((name, _), i) =>
      s"""<sheet name="${Xml.escape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    val workbook =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
         |<sheets>$wbSheets</sheets>
         |</workbook>""".stripMargin
    val wbRels = {
      val rels = sheets.indices.map { i =>
        s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>"""
      }.mkString
      val sstRel =
        s"""<Relationship Id="rId${sheets.length + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>"""
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">$rels$sstRel</Relationships>"""
        .stripMargin
    }
    val pkgRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
        |</Types>""".stripMargin
    Archive.encodeZip(
      Seq(("[Content_Types].xml", contentTypes.getBytes("UTF-8"), true),
        ("_rels/.rels", pkgRels.getBytes("UTF-8"), true),
        ("xl/workbook.xml", workbook.getBytes("UTF-8"), true),
        ("xl/_rels/workbook.xml.rels", wbRels.getBytes("UTF-8"), true),
        ("xl/sharedStrings.xml", sst.getBytes("UTF-8"), true)) ++
        sheetXmls.zipWithIndex.map { case (xml, i) =>
          (s"xl/worksheets/sheet${i + 1}.xml", xml.getBytes("UTF-8"), true)
        })
  }
}
