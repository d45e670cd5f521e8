package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import SourceMap._

class SourceMapSpec extends AnyFunSuite {

  private def checkProp(p: Prop, n: Int = 80): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  test("round-trip: relative VLQ encoding (incl. negative deltas and " +
      "multi-digit values) reproduces the planted absolute stats") {
    checkProp(Prop.forAll(Gen.choose(1, 5), Gen.choose(0, 4),
        Gen.choose(1, 7), Gen.choose(0L, 9999L)) { (ns, nn, nl, seed) =>
      val rnd = new scala.util.Random(seed)
      val lines = (0 until nl).map { _ =>
        (0 until rnd.nextInt(4)).map { s =>
          Segment(genCol = s * 10 + rnd.nextInt(9),
            srcIdx = rnd.nextInt(ns),
            origLine = rnd.nextInt(1000), // multi-digit VLQs
            origCol = rnd.nextInt(200),
            nameIdx = if (nn > 0 && rnd.nextBoolean()) rnd.nextInt(nn)
              else -1)
        }
      }
      val blob = encodeSourceMap("app.min.js",
        (0 until ns).map(i => s"src/$i.js"),
        (0 until nn).map(i => s"fn$i"), lines)
      decodeSourceMap(blob).contains(SourceMapMeta(
        ns, nn, nl, lines.map(_.length).sum,
        lines.flatten.count(_.nameIdx >= 0),
        lines.flatten.map(_.origLine.toLong).sum))
    })
  }

  test("1-field (generated-only) segments and empty lines parse") {
    val json = ("""{"version":3,"sources":["a.js"],"names":[],""" +
      """"mappings":"AAAA,C;;AACA,E"}""").getBytes("UTF-8")
    // line0: full segment + 1-field 'C'; two empty lines... line1 is
    // empty, line2 has a full segment and a 1-field 'E'
    val m = decodeSourceMap(json).get
    assert(m === SourceMapMeta(1, 0, 3, 4, 0, 1L))
  }

  test("strictness: wrong version, missing fields, bad base64, " +
      "2/3-field segments, out-of-range indexes, negative absolutes") {
    def doc(mappings: String, version: Int = 3, names: String = "[]") =
      (s"""{"version":$version,"sources":["a.js","b.js"],""" +
        s""""names":$names,"mappings":"$mappings"}""").getBytes("UTF-8")
    assert(decodeSourceMap(doc("AAAA")).isDefined)
    assert(decodeSourceMap(doc("AAAA", version = 2)) === None)
    assert(decodeSourceMap(doc("AA!A")) === None) // bad base64
    assert(decodeSourceMap(doc("AA")) === None) // 2 fields
    assert(decodeSourceMap(doc("AAA")) === None) // 3 fields
    assert(decodeSourceMap(doc("AAAAAA")) === None) // 6 fields
    assert(decodeSourceMap(doc("AEAA")) === None) // srcIdx 2 of 2
    assert(decodeSourceMap(doc("AADA")) === None) // origLine -1
    assert(decodeSourceMap(doc("AAAAA")) === None) // name 0 of []
    assert(decodeSourceMap(doc("AAAA,,C")) === None) // torn ",,"
    // torn VLQ: a lone continuation digit
    assert(decodeSourceMap(doc("g")) === None)
    assert(decodeSourceMap(
      """{"version":3,"names":[],"mappings":""}"""
        .getBytes("UTF-8")) === None) // sources required
    assert(decodeSourceMap(null) === None)
    assert(decodeSourceMap("not json".getBytes) === None)
    // truncation sweep over a real blob
    val good = encodeSourceMap("f", Seq("a"), Seq("n"),
      Seq(Seq(Segment(0, 0, 5, 2, 0), Segment(9, 0, 7, 0))))
    (1 until good.length).foreach(k => decodeSourceMap(good.take(k)))
  }

  test("asset pointer: last sourceMappingURL wins, legacy //@ form, " +
      "inline data-URI round-trips to a decodable map") {
    assert(sourceMappingUrl("var x=1;\n//# sourceMappingURL=a.map\n")
      === Some("a.map"))
    assert(sourceMappingUrl(
      "//@ sourceMappingURL=old.map\ncode()\n//# sourceMappingURL=new.map")
      === Some("new.map"))
    assert(sourceMappingUrl("no pointer here") === None)
    assert(sourceMappingUrl("x// # sourceMappingURL=not.a.comment")
      === None)
    assert(sourceMappingUrl(null) === None)
    val map = encodeSourceMap("f", Seq("a.js"), Nil,
      Seq(Seq(Segment(0, 0, 3, 1))))
    val js = "console.log(1);\n//# sourceMappingURL=data:application/" +
      "json;base64," + java.util.Base64.getEncoder.encodeToString(map)
    val bytes = inlineMapBytes(sourceMappingUrl(js).get).get
    assert(decodeSourceMap(bytes) ===
      Some(SourceMapMeta(1, 0, 1, 1, 0, 3L)))
    assert(inlineMapBytes("https://cdn/app.map") === None)
    assert(inlineMapBytes("data:application/json;base64,!!!") === None)
  }

  test("source names with control characters emit valid JSON") {
    val names = Seq("dir\nname.js", "tab\there.js", "quote\"back\\slash.js")
    val blob = encodeSourceMap("app\r.min.js", names, Nil,
      Seq(Seq(Segment(0, 2, 0, 0))))
    Json.parse(new String(blob, "UTF-8")) match {
      case Some(o: Json.JObj) =>
        assert(o.get("sources") === Some(Json.JArr(names.map(Json.JStr(_))
          .toVector)))
        assert(o.get("file") === Some(Json.JStr("app\r.min.js")))
      case other => fail(s"invalid JSON: $other")
    }
    assert(decodeSourceMap(blob).map(_.nSources) === Some(3))
  }
}
