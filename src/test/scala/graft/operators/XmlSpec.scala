package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceGuard

class XmlSpec extends AnyFunSuite {
  import Xml._

  test("entities decode in one pass; escape round-trips") {
    assert(decodeEntities("a &lt;b&gt; &quot;c&quot; &apos;d&apos; &amp;")
      === "a <b> \"c\" 'd' &")
    assert(decodeEntities("&amp;lt; &bogus; & &") === "&lt; &bogus; & &")
    val s = "x < y & \"z\" > 'w' &amp;"
    assert(decodeEntities(escape(s)) === s)
  }

  test("tag search needs a name boundary and never reads past until") {
    val s = "<w:tab/><w:tabs><w:t>x</w:t>"
    assert(findTag(s, "w:t", 0, s.length) === 16)
    assert(findTag(s, "w:tab", 0, s.length) === 0)
    assert(findTag(s, "w:t", 0, 20) === -1) // boundary at 20 is outside
    assert(findTag(s, "w:t", 0, 21) === 16)
    assert(nextTag(s, List("w:t", "w:tabs"), 1, s.length) === Some((8, "w:tabs")))
    assert(count("<a><a/><ab><a x='1'>", "a") === 3)
  }

  test("attribute tokenizer: quote-aware, either quote, first wins") {
    val s = """<r a='1 b="x"' b = "2>" a="3" r:id="9"/>tail"""
    val t = openTag(s, "r", 0, s.length).get
    assert(t.attrs === Map("a" -> "1 b=\"x\"", "b" -> "2>", "r:id" -> "9"))
    assert(t.selfClosing && s.substring(t.end) === "tail")
    for (bad <- Seq("<r a>", "<r a=1>", "<r a=\"1>", "<r a=\"1\""))
      assert(openTag(bad, "r", 0, bad.length) === None, bad)
    // the tag must end inside the region
    assert(openTag(s, "r", 0, 20) === None)
  }

  test("elements: bodies, self-closing, CDATA, torn tail policy") {
    val s = "<i><t> a &amp; b </t></i><i/><i><t><![CDATA[<raw> &amp;]]></t></i><i>"
    val (es, whole) = elements(s, "i", 0, s.length)
    assert(!whole && es.length === 3)
    assert(es(1).bodyStart === es(1).bodyEnd)
    assert(text(s, "t", es(0).bodyStart, es(0).bodyEnd) === Some(" a & b "))
    assert(text(s, "t", es(2).bodyStart, es(2).bodyEnd) === Some("<raw> &amp;"))
    assert(text(s, "t", es(1).bodyStart, es(1).bodyEnd) === None)
    assert(blocks(s, "i") === None)
    assert(blocks(s, "i", 0, es(2).end).map(_.length) === Some(3))
    assert(elementAt("<t>x</t >", "t", 0, 9).map(_.end) === Some(9))
    assert(elementAt("<t>x</t>", "t", 0, 7) === None) // close past until
  }

  test("one markup kernel: entity codec and JSON tree live only in Xml " +
      "and Json") {
    val xml = Some("operators/Xml.scala")
    val json = Some("operators/Json.scala")
    val offenders = SourceGuard.offenders(Seq(
      "\"&lt;\"" -> xml,
      "def decodeEntities" -> xml,
      "sealed trait JVal" -> json,
      "def ws()" -> json))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
