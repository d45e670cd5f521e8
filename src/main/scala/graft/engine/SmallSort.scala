package graft.engine

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** Sorts a small batch result in one partition.
  *
  * The reference (bsautrey/python-mapreduce) sorts the map output once,
  * between MAP and REDUCE (manage_cluster.py:320-339). A Spark global sort
  * evaluates its input twice: once in the `RangePartitioner`'s sampling
  * job, which computes every input partition to pick the range bounds,
  * then again in the shuffle-map stage. When the input is an expensive
  * map (a per-row byte decoder), that is every decode run twice. This
  * rule rewrites a global `Sort` whose input is estimated at or below
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (the size AQE
  * already aims one partition at) to
  * `Sort(order, global, Repartition(1, shuffle = true, child))`. The
  * input then already has one partition, `EnsureRequirements` plans no
  * range partitioning, and the map runs once, in parallel, below a
  * single-partition exchange.
  *
  * `GraftExtensions` injects it twice: as an optimizer rule (estimates
  * from file sizes) and as an AQE runtime optimizer rule (above a
  * materialized stage the estimate is the stage's real output size).
  * Left alone:
  *  - streaming plans;
  *  - a sort under a limit or offset (through a `Project`): the planner
  *    turns it into `TakeOrderedAndProject`, which sorts per partition
  *    and merges the top rows on its own;
  *  - a sort whose input already has one partition, including its own
  *    output (the rule is idempotent);
  *  - a sort above an operator that can emit more rows than it reads
  *    (`Generate`, `Expand`, typed `flatMap`/`mapPartitions`/
  *    `flatMapGroups`/`cogroup`) below it and above the nearest leaf or
  *    materialized stage: there the size estimate is not an upper
  *    bound. */
object SmallSort extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan else rewrite(plan, underLimit = false)

  private def rewrite(p: LogicalPlan, underLimit: Boolean): LogicalPlan =
    p match {
      case s @ Sort(_, true, child, _) if !underLimit && small(child) =>
        s.copy(child = Repartition(1, shuffle = true, rewrite(child, false)))
      case _: GlobalLimit | _: LocalLimit | _: Offset =>
        p.mapChildren(rewrite(_, underLimit = true))
      case _: Project => p.mapChildren(rewrite(_, underLimit))
      case _ => p.mapChildren(rewrite(_, underLimit = false))
    }

  private def small(child: LogicalPlan): Boolean =
    !singlePartition(child) && !multipliesRows(child) &&
      child.stats.sizeInBytes <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** Is `p` planned with one output partition already? */
  private def singlePartition(p: LogicalPlan): Boolean = p match {
    case Repartition(1, _, _) | _: GlobalLimit => true
    case s: LogicalQueryStage => singlePartition(s.logicalPlan)
    case _: Project | _: Filter => singlePartition(p.children.head)
    case _ => p.maxRows.exists(_ <= 1)
  }

  /** Can an operator between `p` and its leaves (or materialized stages,
    * which are leaves here) emit more rows than it reads? */
  private def multipliesRows(p: LogicalPlan): Boolean = p match {
    case _: Generate | _: Expand | _: MapPartitions | _: MapGroups | _: CoGroup => true
    case _ => p.children.exists(multipliesRows)
  }
}
