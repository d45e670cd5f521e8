package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.RhpSignature

/** Every native function reaches a session through GraftExtensions alone:
  * SparkSpec's shared session is built `withExtensions(new
  * GraftExtensions)`, and nothing registers a function per call. */
class GraftExtensionsSpec extends SparkSpec {

  private def one(sql: String) = spark.sql(sql).collect().head

  test("all five native functions are injected session-wide") {
    Seq("cosine_sim", "rhp_signature", "jaro_winkler",
      "damerau_levenshtein", "normalize_url").foreach { f =>
      assert(spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier(f)), f)
    }
  }

  test("cosine_sim is injected session-wide via GraftExtensions") {
    val r = one(
      "SELECT cosine_sim(array(1.0D, 2.0D), array(2.0D, 4.0D)) AS c")
      .getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("rhp_signature: the 1-argument and the planes form") {
    val v = (0 until RhpSignature.Dim).map(j => s"${math.sin(j * 3.0)}D")
      .mkString("array(", ", ", ")")
    val r = one(s"SELECT rhp_signature($v) AS s1, rhp_signature($v, 8) AS s8, " +
      s"rhp_signature($v, 64) AS s64")
    assert(r.getLong(0) == r.getLong(1))
    assert((r.getLong(2) & 0xffL) == r.getLong(0))
  }

  test("jaro_winkler and damerau_levenshtein") {
    val r = one("SELECT jaro_winkler('MARTHA', 'MARHTA') AS j, " +
      "damerau_levenshtein('ca', 'abc') AS d")
    assert(math.abs(r.getDouble(0) - 0.9611111111111111) < 1e-12)
    assert(r.getInt(1) == 2)
  }

  test("normalize_url agrees with HtmlExtract.normalizeUrl") {
    val u = "HTTP://Example.COM:80/a/./b/?utm_source=x&b=2&a=1#frag"
    val r = one(s"SELECT normalize_url('$u') AS n, normalize_url('::') AS bad")
    assert(Option(r.getString(0)) == graft.operators.HtmlExtract.normalizeUrl(u))
    assert(Option(r.getString(1)) == graft.operators.HtmlExtract.normalizeUrl("::"))
  }

  test("argument counts are checked by the one builder") {
    val e = intercept[Exception](one("SELECT cosine_sim(array(1.0D)) AS c"))
    assert(e.getMessage.contains("cosine_sim takes exactly 2 arguments"))
  }
}
