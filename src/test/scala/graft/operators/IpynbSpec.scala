package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import Ipynb._

class IpynbSpec extends AnyFunSuite {

  private def checkProp(p: Prop, n: Int = 80): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  test("round-trip: both source shapes, cell-type counts, outputs") {
    checkProp(Prop.forAll(Gen.choose(1, 8), Gen.choose(0, 4),
        Gen.choose(0L, 9999L)) { (nCells, nOut, seed) =>
      val cells = (0 until nCells).map { c =>
        (c % 3) match {
          case 0 => ("markdown", s"## head $c ($seed)\nbody \"quoted\"", 0)
          case 1 => ("code", s"x = $seed * $c\nprint(x)\n", nOut)
          case _ => ("raw", s"raw $c\ttab", 0)
        }
      }
      val m = decodeIpynb(encodeIpynb("python", cells)).get
      val code = cells.count(_._1 == "code")
      m == IpynbMeta(4, Some("python"), nCells, code,
        cells.count(_._1 == "markdown"), cells.count(_._1 == "raw"),
        code * nOut, cells.map(_._2).mkString("\n"))
    })
  }

  test("array-of-lines sources concatenate verbatim (elements carry " +
      "their own newlines); trailing-newline sources survive") {
    val m = decodeIpynb(encodeIpynb("python",
      Seq(("code", "a = 1\nb = 2\n", 0)))).get // even idx: array shape
    assert(m.text === "a = 1\nb = 2\n")
    val m2 = decodeIpynb(encodeIpynb("python",
      Seq(("raw", "x", 0), ("code", "line\n", 1)))).get // odd: string
    assert(m2.text === "x\nline\n")
  }

  test("strict JSON: escapes decode, trailing garbage and torn " +
      "structures reject") {
    import Json.{parse, JNum, JObj, JStr}
    assert(parse("""{"a":"qA\n\"z\""}""")
      === Some(JObj(Vector("a" -> JStr("qA\n\"z\"")))))
    assert(parse("""{"a":1}x""") === None)
    assert(parse("""{"a":}""") === None)
    assert(parse("""[1,2""") === None)
    assert(parse("""{"a":"unterminated}""") === None)
    assert(parse("-12.5e2") === Some(JNum(-1250.0)))
  }

  test("not-a-notebook JSON and malformed notebooks reject") {
    assert(decodeIpynb(null) === None)
    assert(decodeIpynb("""{"some":"json"}""".getBytes) === None)
    assert(decodeIpynb("""{"nbformat":4}""".getBytes) === None) // no cells
    assert(decodeIpynb(
      """{"nbformat":4,"cells":[{"cell_type":"mystery","source":""}]}"""
        .getBytes) === None)
    val good = encodeIpynb("r", Seq(("code", "y <- 2", 2)))
    assert(decodeIpynb(good).get.language === Some("r"))
    (1 until good.length by 3).foreach(n => decodeIpynb(good.take(n)))
  }

  test("language degrades per-field when metadata is absent") {
    val m = decodeIpynb(
      """{"nbformat":4,"cells":[{"cell_type":"raw","source":"z"}]}"""
        .getBytes).get
    assert(m.language === None)
    assert(m.text === "z")
    assert(m.nOutputs === 0) // code-less notebook
  }
}
