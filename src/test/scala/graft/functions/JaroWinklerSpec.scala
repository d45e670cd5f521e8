package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class JaroWinklerSpec extends SparkSpec {

  import spark.implicits._

  private def jw(a: String, b: String): Double =
    JaroWinkler.computeStr(a, b)

  test("classic published Jaro–Winkler values") {
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-12)
    assert(math.abs(jw("DWAYNE", "DUANE") - 0.8400000000000001) < 1e-12)
    assert(math.abs(jw("TRATE", "TRACE") - 0.9066666666666667) < 1e-12)
  }

  test("edge cases: empties, identity, disjoint, boost threshold") {
    assert(jw("", "") === 0.0) // the pinned DuckDB convention
    assert(jw("a", "") === 0.0)
    assert(jw("same", "same") === 1.0)
    assert(jw("abc", "xyz") === 0.0)
    // below the 0.7 boost threshold the common prefix must NOT help:
    // plain jaro of aaxxxxxxxx/aayyyyyyyy is (0.2+0.2+1)/3
    assert(math.abs(jw("aaxxxxxxxx", "aayyyyyyyy") - 0.4666666666666666)
      < 1e-12)
    // prefix cap at 4: identical 10-char prefix counts as 4
    val long = jw("abcdefghijX", "abcdefghijY")
    val jaro = (10.0 / 11 + 10.0 / 11 + 1.0) / 3
    assert(math.abs(long - (jaro + 4 * 0.1 * (1 - jaro))) < 1e-12)
  }

  test("symmetric, bounded, and monotone under growing agreement") {
    val pairs = Seq(("alpha", "alpeh"), ("spark", "sprak"),
      ("graft", "craft"), ("row", "rowing"))
    pairs.foreach { case (a, b) =>
      val d = jw(a, b)
      assert(d === jw(b, a))
      assert(d >= 0.0 && d <= 1.0)
    }
  }

  test("expression evaluates through codegen AND interpreted paths " +
      "with SQL null semantics") {
    val df = Seq(("MARTHA", "MARHTA"), ("same", "same"), (null, "x"))
      .toDF("a", "b")
    val out = df.selectExpr("jaro_winkler(a, b) AS s").collect()
    assert(math.abs(out(0).getDouble(0) - 0.9611111111111111) < 1e-12)
    assert(out(1).getDouble(0) === 1.0)
    assert(out(2).isNullAt(0))
    // a wide filter drives the codegen'd path over many rows
    val n = spark.range(2000)
      .selectExpr("concat('name', id % 37) AS a",
        "concat('name', (id + 1) % 37) AS b")
      .filter(expr("jaro_winkler(a, b) > 0.9"))
      .count()
    assert(n > 0)
  }
}
