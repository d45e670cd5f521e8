package graft.operators

/** The OOXML package layer shared by [[Docx]], [[Xlsx]] and [[Pptx]]
  * (and [[Epub]]'s part reader): part reads, the relationship hops and
  * the run-text paragraph walk. Their XML walks run on the [[Xml]]
  * scanners, whose contract is byte-faithful extraction; in these
  * decoders a torn structure rejects the whole document. */
private[operators] object Ooxml {

  val OfficeDocRel: String =
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument"

  /** Read a named part of the package as UTF-8 (zip walk reused). */
  def readPart(b: Array[Byte],
      entries: Vector[Archive.ZipEntryMeta])(name: String): Option[String] =
    entries.find(_.name == name)
      .flatMap(Archive.unzipEntry(b, _))
      .map(new String(_, "UTF-8"))

  /** The package's main-part path: [Content_Types].xml must exist and
    * `_rels/.rels` must carry an officeDocument relationship. */
  def mainPartPath(read: String => Option[String]): Option[String] = {
    if (read("[Content_Types].xml").isEmpty) return None
    val rels = read("_rels/.rels").getOrElse(return None)
    Xml.blocks(rels, "Relationship").getOrElse(return None)
      .find(_.attrs.get("Type").contains(OfficeDocRel))
      .flatMap(_.attrs.get("Target")).map(_.stripPrefix("/"))
  }

  /** Id -> Target of a relationship part; None on a torn one. */
  def relTargets(rels: String): Option[Map[String, String]] =
    Xml.blocks(rels, "Relationship").map(_.flatMap { r =>
      for (id <- r.attrs.get("Id"); t <- r.attrs.get("Target")) yield id -> t
    }.toMap)

  /** A paragraph body [from, until) in one forward pass: the text of
    * its `textTag` runs concatenated, each element named in `rendered`
    * replaced by its rendering (an empty one drops the element and all
    * it holds). None on a torn element. */
  def paragraphText(s: String, from: Int, until: Int, textTag: String,
      rendered: Map[String, String]): Option[String] = {
    val names = textTag :: rendered.keys.toList
    val out = new StringBuilder
    var i = from
    while (true) Xml.nextTag(s, names, i, until) match {
      case None => return Some(out.toString)
      case Some((at, name)) =>
        val e = Xml.elementAt(s, name, at, until).getOrElse(return None)
        out.append(if (name == textTag) Xml.text(s, e) else rendered(name))
        i = e.end
    }
    None
  }
}
