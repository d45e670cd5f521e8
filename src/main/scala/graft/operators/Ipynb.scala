package graft.operators

/** Jupyter notebook (.ipynb) extraction (public spec: the nbformat 4
  * JSON schema, jupyter.org). Notebooks are a first-class population
  * in any code crawl — prose and code interleaved, exactly the
  * document shape a code-capable training corpus wants — and the
  * extraction subtleties are all JSON-shape issues:
  *
  *  - a cell's `source` is legally EITHER one string or an array of
  *    line strings (both shapes are common in the wild; array
  *    elements carry their own trailing newlines and concatenate
  *    without a separator);
  *  - cell types dispatch (`code` / `markdown` / `raw`); outputs
  *    exist only on code cells and their count is a useful
  *    executed-ness signal;
  *  - the kernel language lives at `metadata.language_info.name`.
  *
  * Parsing is [[Json.parse]] (strict RFC 8259, depth-bounded, no
  * trailing garbage). Not-a-notebook JSON (no nbformat / no cells) or
  * malformed JSON → None. */
object Ipynb {

  import Json.{JArr, JNum, JObj, JStr}

  // ---- notebook extraction -----------------------------------------

  /** `text`: cells' sources in order (array-of-lines concatenated
    * verbatim), cells joined with '\n'. */
  final case class IpynbMeta(nbformat: Int, language: Option[String],
      nCells: Int, nCode: Int, nMarkdown: Int, nRaw: Int,
      nOutputs: Int, text: String)

  def decodeIpynb(b: Array[Byte]): Option[IpynbMeta] =
    try {
      if (b == null || b.length < 20) return None
      val top = Json.parse(new String(b, "UTF-8")) match {
        case Some(o: JObj) => o
        case _ => return None
      }
      val nbformat = top.get("nbformat") match {
        case Some(JNum(v)) if v >= 1 && v <= 100 && v == v.floor =>
          v.toInt
        case _ => return None // not notebook-shaped
      }
      val cells = top.get("cells") match {
        case Some(JArr(cs)) => cs
        case _ => return None
      }
      val language = for {
        meta <- top.get("metadata").collect { case o: JObj => o }
        li <- meta.get("language_info").collect { case o: JObj => o }
        name <- li.get("name").collect { case JStr(n) => n }
      } yield name
      var nCode = 0
      var nMd = 0
      var nRaw = 0
      var nOutputs = 0
      val texts = cells.map {
        case cell: JObj =>
          cell.get("cell_type") match {
            case Some(JStr("code")) =>
              nCode += 1
              cell.get("outputs") match {
                case Some(JArr(os)) => nOutputs += os.length
                case None => // unexecuted exports may drop the key
                case _ => return None
              }
            case Some(JStr("markdown")) => nMd += 1
            case Some(JStr("raw")) => nRaw += 1
            case _ => return None // unknown cell type
          }
          cell.get("source") match {
            case Some(JStr(one)) => one // single-string shape
            case Some(JArr(lines)) => // array-of-lines shape
              lines.map {
                case JStr(l) => l
                case _ => return None
              }.mkString
            case None => ""
            case _ => return None
          }
        case _ => return None // a cell must be an object
      }
      Some(IpynbMeta(nbformat, language, cells.length, nCode, nMd,
        nRaw, nOutputs, texts.mkString("\n")))
    } catch { case _: Exception => None }

  // ------------------------------------------------------------------
  // fixture emitter
  // ------------------------------------------------------------------

  /** One fixture cell: (cellType, source, nOutputs). Even-indexed
    * cells emit `source` as an ARRAY of lines (trailing newlines kept
    * on each element, the wild-common shape), odd-indexed as one
    * string; code-cell outputs are stream outputs. */
  def encodeIpynb(language: String,
      cells: Seq[(String, String, Int)]): Array[Byte] = {
    require(cells.forall(c => Set("code", "markdown", "raw")(c._1)))
    val cellJson = cells.zipWithIndex.map { case ((tpe, src, nOut), i) =>
      val sourceJson =
        if (i % 2 == 0) {
          // split into lines, each keeping its '\n' (except the last)
          val parts = src.split("\n", -1)
          val lines = parts.zipWithIndex.map { case (l, j) =>
            Json.quote(if (j < parts.length - 1) l + "\n" else l)
          }.filter(_ != "\"\"")
          "[" + lines.mkString(",") + "]"
        } else Json.quote(src)
      val outputs =
        if (tpe == "code") {
          val os = (0 until nOut).map(k =>
            s"""{"output_type":"stream","name":"stdout","text":${Json.quote(s"out $k\n")}}""")
          s""","execution_count":${i + 1},"outputs":[${os.mkString(",")}]"""
        } else ""
      s"""{"cell_type":${Json.quote(tpe)},"metadata":{"collapsed":false},""" +
        s""""source":$sourceJson$outputs}"""
    }
    val json =
      s"""{"nbformat":4,"nbformat_minor":5,"metadata":{""" +
        s""""kernelspec":{"display_name":"K","name":"k1"},""" +
        s""""language_info":{"name":${Json.quote(language)},"version":"3.11"}},""" +
        s""""cells":[${cellJson.mkString(",")}]}"""
    json.getBytes("UTF-8")
  }
}
