package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: URL canonicalization (the q247 dedup
  * key — scheme/host case-fold, userinfo and default-port strip,
  * remove_dot_segments, tracking-param drop, param sort, fragment
  * drop; the algorithm body is [[graft.operators.HtmlExtract
  * .normalizeUrl]], shared so the expression can never drift from the
  * tested reference path).
  *
  * Why a custom Expression (SURVEY.md §4 candidate (b)): this was the
  * catalog's last row-boxing UDF on a corpus-scaled path — every
  * crawl row passes through URL canonicalization, and a Scala UDF
  * boxes through the encoder AND breaks the WholeStageCodegen span.
  * This expression stays inside codegen: the generated code is one
  * static call into [[NormalizeUrl.compute]]. The parse itself still
  * decodes the UTF8String to a java String (case-folding and
  * dot-segment resolution want one; parse cost dominates the decode),
  * but the per-row encoder boxing and the codegen fence are gone —
  * Scratch A/B on the q247 shape: see SCALING.md round-12 notes.
  *
  * Returns NULL for non-http(s) or hostless inputs (the operator's
  * None), so invalid URLs filter with IS NOT NULL instead of erroring.
  */
case class NormalizeUrl(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"normalize_url expects string, got ${child.dataType.catalogString}")

  override def nullSafeEval(u: Any): Any =
    NormalizeUrl.compute(u.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, u => s"""
      ${ev.value} = graft.functions.NormalizeUrl.compute($u);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "normalize_url"
}

object NormalizeUrl {

  /** Static entry the generated code calls; null = not canonicalizable. */
  def compute(u: UTF8String): UTF8String =
    graft.operators.HtmlExtract.normalizeUrl(u.toString)
      .map(UTF8String.fromString).orNull

  /** SQL builder for `normalize_url(u)` (injected by GraftExtensions). */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "normalize_url takes exactly 1 argument")
    NormalizeUrl(exprs.head)
  }
}
