package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.engine.SmallSort
import graft.functions.{CosineSimilarity, DamerauLevenshtein, JaroWinkler,
  NormalizeUrl, RhpSignature}

/** Session extension point: the one way the engine's native functions
  * and its one Catalyst rule reach a session (SQL included). Every
  * `GraftSession` builder sets `spark.sql.extensions=graft.GraftExtensions`;
  * any other session gets them from
  * `SparkSession.builder().withExtensions(new GraftExtensions)`. Each
  * function's argument checking lives in its companion's `build`.
  *
  * This is tier (b)/(c) of the customization ladder (custom Expression
  * and rule, injected through SparkSessionExtensions). One rule ships,
  * [[graft.engine.SmallSort]], as an optimizer rule and as an AQE
  * runtime optimizer rule: a small global sort runs in one partition, so
  * its input is not evaluated a second time by the range-bounds sampling
  * job. No custom LogicalPlan / SparkStrategy ships deliberately: every
  * operator the reference can express maps onto Catalyst plans that
  * already carry the right physical strategies (see SURVEY.md §4 — e.g.
  * Spark 4 plans per-group top-k as WindowGroupLimit, so a custom TopK
  * operator would duplicate built-in machinery).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
    ext.injectOptimizerRule(_ => SmallSort)
    ext.injectRuntimeOptimizerRule(_ => SmallSort)
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
