package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two numeric arrays.
  *
  * Why a custom Expression (SURVEY.md §4 candidate (b)): the pure
  * `functions._` formulation — zip_with + aggregate — is built from
  * HigherOrderFunction nodes whose lambda is interpreted per element, and
  * it breaks the surrounding WholeStageCodegen span. This expression emits
  * a tight fused Java loop (one pass computing dot product and both
  * norms), stays inside codegen, and allocates nothing per row — the
  * difference between scanning 100 TB of embeddings at memory bandwidth
  * vs. at interpreter speed.
  *
  * Accepts array<float> (the fixture layout — half the bytes of double at
  * rest and in cache) or array<double>; arithmetic is double either way.
  * Null inputs, null ELEMENTS, and length-mismatched inputs yield null
  * (SQL semantics — a null component must not silently read as 0.0).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects array<float|double>, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      // a null ELEMENT propagates null (SQL semantics, matches the
      // oracle) — silently reading it as 0.0 would skew the result
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv: Double = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv: Double = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) null else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      val anyNull = ctx.freshName("anyNull")
      s"""
        final int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
          boolean $anyNull = false;
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { $anyNull = true; break; }
            final double $xv = (double) $a.$lGet($i);
            final double $yv = (double) $b.$rGet($i);
            $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
          }
          final double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
          if ($anyNull || $denom == 0.0) {
            ${ev.isNull} = true;
          } else {
            ${ev.value} = $dot / $denom;
          }
        }
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

object CosineSimilarity {
  /** SQL builder for `cosine_sim(a, b)` (injected by GraftExtensions). */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "cosine_sim takes exactly 2 arguments")
    CosineSimilarity(exprs.head, exprs(1))
  }
}
