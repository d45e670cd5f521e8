package graft

/** Dev tool: print a query's formatted physical plan (the
  * `.explain("formatted")` view PlanAuditSpec asserts against) without
  * executing it. `runMain graft.PlanDump <name>[,<name>...] [sfDir]`.
  * SPARK_GRAFT_PLAN_EXECUTED=true additionally runs the query and prints
  * its final adaptive plan — AQE decisions (SMJ->SHJ rewrite, coalesced
  * reads, runtime broadcasts) are invisible in the pre-execution explain. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val executed = sys.env.get("SPARK_GRAFT_PLAN_EXECUTED").contains("true")
    val spark = Harness.session(defaultCpus = 8)
    args(0).split(',').foreach { q =>
      println(s"===== $q =====")
      val run = Harness.runOne(spark, q, Bench.timeoutMs) {
        val df = SparkEntry.queries(q)(spark, sfDir)
        println(graft.plans.PlanInspector.formatted(df))
        if (executed) {
          val plan = graft.plans.PlanInspector.executed(df)
          println(s"===== $q (executed, final adaptive plan) =====")
          println(plan)
        }
      }
      run.error.foreach(throw _)
    }
    spark.stop()
  }
}
