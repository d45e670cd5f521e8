package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: TRUE (unrestricted) Damerau–Levenshtein
  * distance (public algorithm, Lowrance & Wagner 1975) — Levenshtein
  * plus adjacent transposition as a FIRST-CLASS edit, including edits
  * between the transposed pair ('ca' → 'abc' is 2 here, 3 under both
  * plain Levenshtein and the restricted/OSA variant). Typos in names
  * and ids are dominated by transpositions, which plain Levenshtein
  * double-charges — the record-linkage reason this distance exists.
  *
  * Spark ships levenshtein but no DL; the oracle referee is DuckDB's
  * damerau_levenshtein, empirically the SAME unrestricted variant
  * ('ca','abc' → 2). Implementation: the full Lowrance–Wagner DP with
  * the last-occurrence row map — O(n·m) time AND memory (the d[k][l]
  * back-reference needs the whole matrix, unlike Levenshtein's two
  * rows). A hostile length product beyond ~16M cells yields NULL
  * rather than an executor OOM: the corrupt-input posture; this is a
  * short-field (names/ids) gate by contract. */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"damerau_levenshtein expects (string, string), got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    DamerauLevenshtein.compute(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("dl")
      s"""
        Object $boxed = graft.functions.DamerauLevenshtein.compute($a, $b);
        if ($boxed == null) { ${ev.isNull} = true; }
        else { ${ev.value} = ((java.lang.Integer) $boxed).intValue(); }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "damerau_levenshtein"
}

object DamerauLevenshtein {

  /** Pathological-size guard: beyond this many DP cells return null
    * instead of allocating (the full matrix is inherent to true DL). */
  private val MaxCells = 16 * 1024 * 1024L

  /** Static entry the generated code calls; null = size guard hit.
    * Boxed Integer so codegen can see the null. */
  def compute(a: UTF8String, b: UTF8String): Integer = {
    val s1 = a.toString
    val s2 = b.toString
    val r = computeStr(s1, s2)
    if (r < 0) null else Integer.valueOf(r)
  }

  /** Lowrance–Wagner unrestricted DL; −1 = size guard hit. */
  def computeStr(s1: String, s2: String): Int = {
    val n1 = s1.length
    val n2 = s2.length
    if (n1 == 0) return n2
    if (n2 == 0) return n1
    if ((n1 + 2L) * (n2 + 2L) > MaxCells) return -1
    val w = n2 + 2 // row stride of the flattened (n1+2)×(n2+2) matrix
    val d = new Array[Int]((n1 + 2) * w)
    val maxDist = n1 + n2
    d(0) = maxDist
    var i = 0
    while (i <= n1) {
      d((i + 1) * w) = maxDist
      d((i + 1) * w + 1) = i
      i += 1
    }
    var j = 0
    while (j <= n2) {
      d(j + 1) = maxDist // row 0
      d(w + j + 1) = j // row 1
      j += 1
    }
    // last row index at which each char of s1 occurred
    val da = new java.util.HashMap[Character, Integer]()
    i = 1
    while (i <= n1) {
      var db = 0
      val c1 = s1.charAt(i - 1)
      j = 1
      while (j <= n2) {
        val c2 = s2.charAt(j - 1)
        val kBox = da.get(c2)
        val k = if (kBox == null) 0 else kBox.intValue()
        val l = db
        val cost = if (c1 == c2) { db = j; 0 } else 1
        val sub = d(i * w + j) + cost
        val ins = d((i + 1) * w + j) + 1
        val del = d(i * w + j + 1) + 1
        val trans = d(k * w + l) + (i - k - 1) + 1 + (j - l - 1)
        var m = sub
        if (ins < m) m = ins
        if (del < m) m = del
        if (trans < m) m = trans
        d((i + 1) * w + j + 1) = m
        j += 1
      }
      da.put(c1, i)
      i += 1
    }
    d((n1 + 1) * w + n2 + 1)
  }

  /** SQL builder for `damerau_levenshtein(a, b)` (injected by
    * GraftExtensions). */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "damerau_levenshtein takes exactly 2 arguments")
    DamerauLevenshtein(exprs.head, exprs(1))
  }
}
