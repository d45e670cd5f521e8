package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

class DamerauLevenshteinSpec extends SparkSpec {

  import spark.implicits._

  private def dl(a: String, b: String): Int =
    DamerauLevenshtein.computeStr(a, b)

  test("the unrestricted-variant discriminator and classic cases") {
    // OSA/restricted gives 3 here; TRUE DL (and DuckDB) give 2:
    // ca → ac (transpose) → abc (insert)
    assert(dl("ca", "abc") === 2)
    assert(dl("ab", "ba") === 1) // one transposition, not two edits
    assert(dl("abcdef", "abcfad") === 3) // DuckDB-checked value
    assert(dl("", "abc") === 3)
    assert(dl("abc", "") === 3)
    assert(dl("same", "same") === 0)
    assert(dl("kitten", "sitting") === 3) // no transpositions: = lev
  }

  // textbook two-row Levenshtein as the in-test referee bound
  private def lev(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    var curr = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      curr(0) = i
      for (j <- 1 to b.length) {
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        curr(j) = math.min(math.min(curr(j - 1) + 1, prev(j) + 1),
          prev(j - 1) + cost)
      }
      val t = prev; prev = curr; curr = t
    }
    prev(b.length)
  }

  test("bounded by Levenshtein and by max length; symmetric") {
    check(Prop.forAll(Gen.listOfN(8, Gen.choose('a', 'e')).map(_.mkString),
        Gen.listOfN(8, Gen.choose('a', 'e')).map(_.mkString)) { (a, b) =>
      val d = dl(a, b)
      d === dl(b, a) && d >= 0 &&
        d <= lev(a, b) &&
        d <= math.max(a.length, b.length)
    })
  }

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), p)
    assert(res.passed, res.status.toString)
  }

  test("expression evaluates through codegen with null semantics and " +
      "the size guard") {
    val df = Seq(("ca", "abc"), ("ab", "ba"), (null, "x"))
      .toDF("a", "b")
    val out = df.selectExpr("damerau_levenshtein(a, b) AS d").collect()
    assert(out(0).getInt(0) === 2)
    assert(out(1).getInt(0) === 1)
    assert(out(2).isNullAt(0))
    // guard: a pathological length product yields NULL, not an OOM
    val big = "x" * 8000
    val guarded = Seq((big, big)).toDF("a", "b")
      .selectExpr("damerau_levenshtein(a, b) AS d").collect()
    assert(guarded(0).isNullAt(0))
    // wide codegen'd filter
    val n = spark.range(1000)
      .selectExpr("concat('id', id % 43) AS a",
        "concat('id', (id + 1) % 43) AS b")
      .filter(expr("damerau_levenshtein(a, b) <= 1"))
      .count()
    assert(n > 0)
  }
}
