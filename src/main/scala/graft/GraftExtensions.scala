package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSimilarity, DamerauLevenshtein, JaroWinkler,
  NormalizeUrl, RhpSignature}

/** Session extension point: the one way the engine's native functions
  * reach a session (SQL included). Every `GraftSession` builder sets
  * `spark.sql.extensions=graft.GraftExtensions`; any other session gets
  * them from `SparkSession.builder().withExtensions(new GraftExtensions)`.
  * Each function's argument checking lives in its companion's `build`.
  *
  * This is tier (b)/(c) of the customization ladder (custom Expression,
  * injected through SparkSessionExtensions). No custom LogicalPlan /
  * SparkStrategy ships deliberately: every operator the reference can
  * express maps onto Catalyst plans that already carry the right
  * physical strategies (see SURVEY.md §4 — e.g. Spark 4 plans per-group
  * top-k as WindowGroupLimit, so a custom TopK operator would duplicate
  * built-in machinery).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
}

object GraftExtensions {
  /** (SQL name, expression class, argument builder) of every native
    * function. */
  private val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity], CosineSimilarity.build),
    ("rhp_signature", classOf[RhpSignature], RhpSignature.build),
    ("jaro_winkler", classOf[JaroWinkler], JaroWinkler.build),
    ("damerau_levenshtein", classOf[DamerauLevenshtein],
      DamerauLevenshtein.build),
    ("normalize_url", classOf[NormalizeUrl], NormalizeUrl.build))
}
