package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan-inspection helpers: the programmatic form of eyeballing
  * `.explain("formatted")`. Used by PlanAuditSpec to pin scale properties
  * as regression tests, and available to library users to audit their own
  * composed plans before shipping them to a cluster.
  *
  * The reference has nothing comparable — it has no plan at all to
  * inspect (the job dict IS the physical plan, SURVEY.md §3); on Spark
  * the plan is data, so "would this shuffle?" is a checkable predicate
  * instead of a code review.
  */
object PlanInspector {

  def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Runs `df`'s own executed plan to completion (draining every row on
    * the executors) and returns it: the adaptive plan is final
    * (`isFinalPlan=true`) only once this very plan instance has run. */
  def executed(df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan
    plan.execute().foreach(_ => ())
    plan.toString
  }

  /** Does any parquet scan carry this pushed filter (substring of the
    * PushedFilters list, e.g. "GreaterThan(o_totalprice,100000.0)")? */
  def hasPushedFilter(df: DataFrame, filterFragment: String): Boolean =
    formatted(df).contains(filterFragment)

  /** Number of shuffle exchanges in the (pre-AQE) plan. */
  def exchangeCount(df: DataFrame): Int =
    "Exchange".r.findAllIn(formatted(df)).size

  def hasBroadcastJoin(df: DataFrame): Boolean =
    formatted(df).contains("BroadcastHashJoin")

  def hasShuffleJoin(df: DataFrame): Boolean = {
    val p = formatted(df)
    p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
  }

  /** Partial (map-side) + final aggregation pattern present? */
  def hasPartialAggregation(df: DataFrame): Boolean =
    "HashAggregate".r.findAllIn(formatted(df)).size >= 2

  /** Column set actually read from the first parquet scan (ReadSchema). */
  def readSchemaContains(df: DataFrame, column: String): Boolean =
    formatted(df).linesIterator
      .filter(_.contains("ReadSchema"))
      .exists(_.contains(column))
}
