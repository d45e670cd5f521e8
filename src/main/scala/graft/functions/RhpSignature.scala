package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression: `planes`-bit random-hyperplane LSH
  * signature of a 64-dim numeric array — bit m is set iff
  * dot(plane_m, v) >= 0. Default 8 planes (the q47/q98 single-bucket
  * topK index, 256 buckets); up to 64 planes in one long for banded
  * near-dup candidate generation (q86 reads the 64-plane signature as
  * 8 bands x 8 bits).
  *
  * Why native (SURVEY.md §4 candidate (b)): the `functions._` formulation
  * — aggregate(zip_with(planes, sequence(...), ...)) over a typedLit
  * plane matrix — is interpreted per element AND re-materializes the
  * plane-matrix literal per row; it breaks the WholeStageCodegen span
  * exactly like the interpreted cosine did (the measured 7.6x gap on
  * q46). The signature pass is THE linear scan of LSH indexing — at
  * 100 TB it touches every vector — so it gets the same fused-loop
  * treatment as [[CosineSimilarity]]: one pass, plane matrix shared as
  * a reference object, zero per-row allocation.
  *
  * The planes are deterministic md5-derived constants (component i of
  * plane m = (h60(md5("m_i")) % 2001 - 1000)/1000 ∈ [-1, 1]), identical
  * to what the DuckDB oracles replay (Similarity q47/q86/q98 oracles).
  * Null input, null elements, or length != 64 yield null.
  */
case class RhpSignature(child: Expression, planes: Int = 8)
    extends UnaryExpression {

  require(planes >= 1 && planes <= RhpSignature.MaxPlanes,
    s"rhp_signature planes must be in [1, ${RhpSignature.MaxPlanes}], got $planes")

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"rhp_signature expects array<float|double>, got ${other.catalogString}")
    }

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != RhpSignature.Dim) return null
    val planeW = RhpSignature.flatPlanes
    val isFloat = elemIsFloat
    var bucket = 0L
    var m = 0
    while (m < planes) {
      var dot = 0.0
      var i = 0
      while (i < RhpSignature.Dim) {
        if (v.isNullAt(i)) return null
        val x: Double = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        dot += planeW(m * RhpSignature.Dim + i) * x
        i += 1
      }
      if (dot >= 0.0) bucket |= (1L << m)
      m += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (elemIsFloat) "getFloat" else "getDouble"
    val planesRef = ctx.addReferenceObj("rhpPlanes", RhpSignature.flatPlanes,
      "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val bucket = ctx.freshName("bucket")
      val bad = ctx.freshName("bad")
      s"""
        if ($v.numElements() != ${RhpSignature.Dim}) {
          ${ev.isNull} = true;
        } else {
          long $bucket = 0L;
          boolean $bad = false;
          for (int $m = 0; $m < $planes && !$bad; $m++) {
            double $dot = 0.0;
            for (int $i = 0; $i < ${RhpSignature.Dim}; $i++) {
              if ($v.isNullAt($i)) { $bad = true; break; }
              $dot += $planesRef[$m * ${RhpSignature.Dim} + $i]
                      * (double) $v.$get($i);
            }
            if ($dot >= 0.0) $bucket |= (1L << $m);
          }
          if ($bad) {
            ${ev.isNull} = true;
          } else {
            ${ev.value} = $bucket;
          }
        }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "rhp_signature"
}

object RhpSignature {
  /** Default signature width: the q47/q98 single-bucket index. */
  val Planes = 8
  /** Hard cap: one long. Bit 63 sets the sign bit, which is harmless —
    * bands extract with shiftright + mask, never compare magnitudes. */
  val MaxPlanes = 64
  val Dim = 64

  /** Deterministic hyperplane matrix, row-major [m * Dim + i], all
    * MaxPlanes rows — the same md5 formula the DuckDB oracles
    * interpolate, computed once per JVM (a signature with fewer planes
    * reads a prefix of the rows). */
  lazy val flatPlanes: Array[Double] = {
    val out = new Array[Double](MaxPlanes * Dim)
    val md = java.security.MessageDigest.getInstance("MD5")
    var m = 0
    while (m < MaxPlanes) {
      var i = 0
      while (i < Dim) {
        md.reset()
        val hex = md.digest(s"${m}_$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        out(m * Dim + i) =
          ((java.lang.Long.parseLong(hex, 16) % 2001) - 1000) / 1000.0
        i += 1
      }
      m += 1
    }
    out
  }

  /** SQL builder for `rhp_signature(v[, planes])` (injected by
    * GraftExtensions). 1-arg form = 8 planes (back-compat with q47/q98). */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1 || exprs.length == 2,
      "rhp_signature takes 1 or 2 arguments")
    if (exprs.length == 1) RhpSignature(exprs.head)
    else {
      val p = exprs(1) match {
        case lit: org.apache.spark.sql.catalyst.expressions.Literal =>
          lit.value match {
            case i: Int => i
            case l: Long => l.toInt
            case other => throw new IllegalArgumentException(
              s"rhp_signature planes must be an integer literal, got $other")
          }
        case other => throw new IllegalArgumentException(
          s"rhp_signature planes must be a literal, got $other")
      }
      RhpSignature(exprs.head, p)
    }
  }
}
