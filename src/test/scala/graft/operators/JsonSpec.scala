package graft.operators

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import Json._

class JsonSpec extends AnyFunSuite {

  test("path/type emission over a nested document") {
    val pts = pathTypes(
      """{"a":1,"b":[{"c":"x"},{"c":"y"}],"d":{"e":null,"f":true}}""").get
    assert(pts == Vector(
      ("$", "object"), ("$.a", "number"),
      ("$.b", "array"), ("$.b[]", "object"), ("$.b[].c", "string"),
      ("$.b[]", "object"), ("$.b[].c", "string"),
      ("$.d", "object"), ("$.d.e", "null"), ("$.d.f", "boolean")))
  }

  test("scalars, empty containers, whitespace") {
    assert(pathTypes("42").get == Vector(("$", "number")))
    assert(pathTypes("0").get == Vector(("$", "number")))
    assert(pathTypes("0.5").get == Vector(("$", "number")))
    assert(pathTypes("-1.5e-3").get == Vector(("$", "number")))
    assert(pathTypes("\"s\"").get == Vector(("$", "string")))
    assert(pathTypes(" { } ").get == Vector(("$", "object")))
    assert(pathTypes("[]").get == Vector(("$", "array")))
    assert(pathTypes("  [ 1 , 2 ]  ").get ==
      Vector(("$", "array"), ("$[]", "number"), ("$[]", "number")))
  }

  test("string escapes including unicode") {
    assert(pathTypes("""{"kéy":"v\n"}""").get ==
      Vector(("$", "object"), ("$.kéy", "string")))
  }

  test("malformed inputs yield None") {
    for (bad <- Seq(null, "", "{", "{\"a\":}", "[1,]", "{\"a\" 1}",
      "tru", "01x", "1.", "1e", "\"unterminated", "{\"a\":1} trailing",
      "007", "{\"a\":01}", "-01", "{'single':1}", "\"bad  ctrl\"", "nul",
      "\u000b1", "1\u00a0", "[1,\f2]", "\u20281"))
      assert(pathTypes(bad).isEmpty, s"should reject: $bad")
  }

  test("deep nesting is bounded, not a stack overflow") {
    val deep = "[" * 1000 + "]" * 1000
    assert(pathTypes(deep).isEmpty)
    val okDepth = "[" * 200 + "1" + "]" * 200
    assert(pathTypes(okDepth).isDefined)
    assert(pathTypes("[" * 257 + "]" * 257).isDefined)
    assert(pathTypes("[" * 258 + "]" * 258).isEmpty)
  }

  test("duplicate keys both emit (census counts occurrences)") {
    assert(pathTypes("""{"a":1,"a":"x"}""").get ==
      Vector(("$", "object"), ("$.a", "number"), ("$.a", "string")))
  }

  test("parse builds the tree: fields in order, duplicates kept, last wins") {
    val o = parse("""{"a":1,"b":[true,null,"s"],"a":-0.5e1}""").get
      .asInstanceOf[JObj]
    assert(o.fields.map(_._1) === Vector("a", "b", "a"))
    assert(o.get("a") === Some(JNum(-5.0)))
    assert(o.get("b") === Some(JArr(Vector(JBool(true), JNull, JStr("s")))))
    assert(o.get("zz") === None)
  }

  test("quote escapes what JSON requires and round-trips through parse") {
    val s = "q\" b\\ n\n t\t c\u0001 r\r é /"
    assert(parse(quote(s)) === Some(JStr(s)))
    assert(!quote(s).exists(_ < ' '))
  }

  test("parse accepts exactly what Jackson accepts over valid documents " +
      "and their one-byte mutations") {
    val jackson = new ObjectMapper()
      .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    def referee(s: String): Boolean =
      try {
        val n = jackson.readTree(s)
        n != null && !n.isMissingNode
      } catch { case _: Exception => false }
    val rnd = new scala.util.Random(20241)
    def value(depth: Int): String = rnd.nextInt(if (depth >= 64) 6 else 8) match {
      case 0 => rnd.nextInt(2000).toString
      case 1 => "%.3f".formatLocal(java.util.Locale.ROOT,
        rnd.nextDouble() * 100 - 50) +
        (if (rnd.nextBoolean()) "e" + (rnd.nextInt(7) - 3) else "")
      case 2 => quote(rnd.alphanumeric.take(rnd.nextInt(5)).mkString +
        (if (rnd.nextBoolean()) "\"\\\n\u0007" else ""))
      case 3 => Seq("true", "false", "null")(rnd.nextInt(3))
      case 4 => "-0"
      case 5 => "\"\\u00e9\\/\""
      case 6 => (0 until rnd.nextInt(4)).map(_ => value(depth + 1))
        .mkString("[", if (rnd.nextBoolean()) ", " else ",", "]")
      case _ => (0 until rnd.nextInt(4)).map(k =>
        quote("k" + k % 2) + (if (rnd.nextBoolean()) " : " else ":") +
          value(depth + 1)).mkString("{", ",\n\t", "}")
    }
    val alphabet = "{}[],:\"\\0123456789-+.eEtrufalsn \t\n\r\u000b\u0001x/'"
    def mutate(s: String): String = {
      val at = rnd.nextInt(s.length + 1)
      val c = alphabet(rnd.nextInt(alphabet.length))
      rnd.nextInt(3) match {
        case 0 if at < s.length => s.substring(0, at) + c + s.substring(at + 1)
        case 1 if at < s.length => s.substring(0, at) + s.substring(at + 1)
        case _ => s.substring(0, at) + c + s.substring(at)
      }
    }
    var accepted = 0
    var rejected = 0
    (0 until 400).foreach { k =>
      val doc = if (k % 50 == 0) "[" * 64 + "1" + "]" * 64
        else value(if (k % 2 == 0) 0 else 60)
      assert(parse(doc).isDefined && referee(doc), s"valid: $doc")
      (0 until 10).foreach { _ =>
        val m = mutate(doc)
        val ours = parse(m).isDefined
        assert(ours === referee(m), s"disagree on: $m")
        if (ours) accepted += 1 else rejected += 1
      }
    }
    assert(accepted > 200 && rejected > 200, s"$accepted / $rejected")
  }
}
