package graft.operators

/** SVG sniff — the only VECTOR image format a web crawl carries at
  * population scale (logos, icons, figures). Public spec: SVG 1.1 /
  * SVG 2 (W3C) on the XML 1.0 grammar. A raster decode is out of
  * scope (it needs a full renderer); what a curation pipeline needs
  * is what the other image sniffs yield — dimensions (explicit
  * width/height, falling back to the viewBox), the accessible title,
  * and a cheap complexity signal (path/shape element counts) that
  * separates a real illustration from a tracking pixel or an empty
  * placeholder.
  *
  * Parsing is a purpose-built scan on the [[Xml]] scanners, not a DOM:
  * XML decl / comments / DOCTYPE hopped, the root must be `<svg`,
  * attributes read with either quote kind in any order, `px` units accepted and others
  * rejected (em/%/pt are context-relative — a dimension filter must
  * not guess), viewBox split on whitespace-or-comma per spec.
  * Corrupt/non-SVG → None.
  */
object Svg {

  /** `width`/`height` are the explicit attributes (None when absent or
    * non-px-unit); `viewBoxW/H` the viewBox extent; `title` the first
    * <title> text, entity-decoded; `nPaths`/`nShapes` count path vs
    * basic-shape elements (rect/circle/ellipse/line/polygon/polyline). */
  final case class SvgMeta(width: Option[Double], height: Option[Double],
      viewBoxW: Option[Double], viewBoxH: Option[Double],
      title: Option[String], nPaths: Int, nShapes: Int)

  def decodeSvg(b: Array[Byte]): Option[SvgMeta] =
    try {
      if (b == null || b.length < 5) return None
      var s = new String(b, "UTF-8")
      if (s.nonEmpty && s.charAt(0) == '\uFEFF') s = s.substring(1)
      var i = 0
      // hop XML decl, comments, DOCTYPE, whitespace — in any order
      var scanning = true
      while (scanning) {
        while (i < s.length && s.charAt(i).isWhitespace) i += 1
        if (i >= s.length) return None
        if (s.startsWith("<?", i)) {
          val e = s.indexOf("?>", i); if (e < 0) return None; i = e + 2
        } else if (s.startsWith("<!--", i)) {
          val e = s.indexOf("-->", i); if (e < 0) return None; i = e + 3
        } else if (s.startsWith("<!", i)) {
          val e = s.indexOf('>', i); if (e < 0) return None; i = e + 1
        } else scanning = false
      }
      // the root tag's attributes through the one quote-aware
      // tokenizer: a name inside another attribute's quoted value is
      // never an attribute, and a valueless, unquoted or unterminated
      // attribute makes the root tag non-well-formed → None
      // (decode-to-None, never plausible-wrong)
      if (!Xml.tagAt(s, "svg", i, s.length)) return None // <svgfoo
      val root = Xml.openTag(s, "svg", i, s.length).getOrElse(return None)
      val attrMap = root.attrs
      val tagEnd = root.end
      def attr(name: String): Option[String] = attrMap.get(name)
      def num(v: String): Option[Double] = {
        val t0 = v.trim
        val t = if (t0.endsWith("px")) t0.dropRight(2).trim else t0
        if (t.isEmpty || !t.forall(c => c.isDigit || c == '.' || c == '-' ||
          c == '+' || c == 'e' || c == 'E')) return None
        try {
          val d = t.toDouble
          if (d > 0 && java.lang.Double.isFinite(d)) Some(d) else None
        } catch { case _: NumberFormatException => None }
      }
      val w = attr("width").flatMap(num)
      val h = attr("height").flatMap(num)
      val vb = attr("viewBox").map(_.trim.split("[\\s,]+"))
        .filter(_.length == 4)
      val vbw = vb.flatMap(a => num(a(2)))
      val vbh = vb.flatMap(a => num(a(3)))

      val title = Xml.text(s, "title", tagEnd).map(_.trim)
      def countTag(name: String) = Xml.count(s, name, tagEnd)
      val nPaths = countTag("path")
      val nShapes = Seq("rect", "circle", "ellipse", "line", "polygon",
        "polyline").map(countTag).sum
      Some(SvgMeta(w, h, vbw, vbh, title, nPaths, nShapes))
    } catch { case _: Exception => None }

  /** Fixture emitter: a well-formed SVG with the attribute order,
    * quote kind, and XML-prolog shape varied by `variant` (0-3), a
    * title carrying entities, and `nPaths` path + `nRects` rect
    * elements. The decoder must read the same values back out of
    * every variant. */
  def encodeSvg(width: Int, height: Int, title: String, nPaths: Int,
      nRects: Int, variant: Int): Array[Byte] = {
    require(width >= 1 && height >= 1 && nPaths >= 0 && nRects >= 0)
    val esc = Xml.escape(title)
    val body = new StringBuilder
    var i = 0
    while (i < nPaths) {
      body.append(s"""<path d="M0 0 L$i ${i + 1} Z" fill="#00$i"/>""")
      i += 1
    }
    i = 0
    while (i < nRects) {
      body.append(s"""<rect x="$i" y="0" width="2" height="3"/>""")
      i += 1
    }
    val svg = (variant % 4) match {
      case 0 =>
        s"""<?xml version="1.0" encoding="UTF-8"?>
           |<svg xmlns="http://www.w3.org/2000/svg" width="${width}px" height="$height" viewBox="0 0 $width $height">
           |<title>$esc</title>$body</svg>""".stripMargin
      case 1 => // no decl, single quotes, attr order reversed, comment
        s"""<!-- generated -->
           |<svg viewBox='0,0,$width,$height' height='$height' width='$width' xmlns='http://www.w3.org/2000/svg'>
           |<title id='t'>$esc</title>$body</svg>""".stripMargin
      case 2 => // DOCTYPE, viewBox only (no width/height attrs)
        s"""<?xml version="1.0"?>
           |<!DOCTYPE svg PUBLIC "-//W3C//DTD SVG 1.1//EN" "http://www.w3.org/Graphics/SVG/1.1/DTD/svg11.dtd">
           |<svg viewBox="0 0 $width $height" xmlns="http://www.w3.org/2000/svg">
           |<title>$esc</title>$body</svg>""".stripMargin
      case _ => // width/height only, em-unit decoy attribute, no title
        s"""<svg width="$width" height="$height" font-size="2em" xmlns="http://www.w3.org/2000/svg">$body</svg>"""
    }
    svg.getBytes("UTF-8")
  }
}
