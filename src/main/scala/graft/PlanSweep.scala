package graft

/** Dev tool: sweep EVERY catalog query's physical plan for the two
  * never-at-scale operators (CartesianProduct, BroadcastNestedLoopJoin)
  * and print one line per hit — the exhaustive complement of
  * PlanAuditSpec's targeted assertions. Queries that execute work on
  * construction (streaming harnesses, sink writers) still yield the
  * final frame's plan; their cost bounds the sweep to small SF dirs.
  * `runMain graft.PlanSweep [sfDir]` */
object PlanSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Harness.session(defaultCpus = 8)
    var hits = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val run = Harness.runOne(spark, name, Bench.timeoutMs) {
        val p = graft.plans.PlanInspector.formatted(fn(spark, sfDir))
        val cart = "CartesianProduct".r.findAllIn(p).size
        val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
        // scan fan-out: >3 parquet scan nodes of one fixture table in a
        // single plan is the recompute-storm smell (multiply-referenced
        // un-materialized frame re-expanding its source subtree)
        val scans = p.linesIterator
          .filter(l => l.contains("Scan parquet") && l.contains("testdata"))
          .flatMap(l => "(\\w+)\\.parquet".r.findFirstMatchIn(l).map(_.group(1)))
          .toSeq.groupBy(identity).view.mapValues(_.size)
          .filter(_._2 > 3).toMap
        if (cart + bnlj > 0 || scans.nonEmpty) {
          hits += 1
          val sc = if (scans.isEmpty) ""
            else scans.map { case (t, n) => s"$t×$n" }.mkString(" scans[", ",", "]")
          println(s"[plansweep] $name cartesian=$cart bnlj=$bnlj$sc")
        }
      }
      run.error.foreach(e =>
        println(s"[plansweep] $name ERROR ${e.getClass.getSimpleName}"))
    }
    println(s"[plansweep] done: $hits queries flagged (cartesian/BNLJ or scan fan-out)")
    spark.stop()
  }
}
