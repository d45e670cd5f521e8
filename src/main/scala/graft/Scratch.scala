package graft

/** Ad-hoc timing harness for plan iteration (not part of the driver
  * contract): each rep runs through Harness.runOne on the bench's session,
  * so it pays the bench's between-query reset and its timings compare.
  * Usage: runMain graft.Scratch <queryName>[,<queryName>...] [sfDir] [reps] */
object Scratch {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    // SPARK_GRAFT_EVENTLOG=<dir>: write the Spark event log for offline
    // stage-time profiling (the UI is disabled); SparkConf reads spark.*
    // system properties when the session is built
    sys.env.get("SPARK_GRAFT_EVENTLOG").foreach { d =>
      new java.io.File(d).mkdirs()
      sys.props("spark.eventLog.enabled") = "true"
      sys.props("spark.eventLog.dir") = d
    }
    val spark = Harness.session(defaultCpus = 32)
    name.split(',').foreach { q =>
      val fn = SparkEntry.queries(q)
      (1 to reps).foreach { r =>
        var rows = 0L
        val run = Harness.runOne(spark, q, Bench.timeoutMs) {
          rows = fn(spark, sfDir).count()
        }
        run.error.foreach(throw _)
        println(f"[scratch] $q rep$r: ${run.seconds}%.2fs rows=$rows")
      }
    }
    spark.stop()
  }
}
