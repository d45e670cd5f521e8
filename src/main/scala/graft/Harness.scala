package graft

import org.apache.spark.sql.SparkSession

import graft.engine.GraftSession

/** The one session and the one guarded runner behind every harness main
  * (Bench, Verify, Scratch, PlanDump, PlanSweep, FixtureGen) — the
  * counterpart of the reference's single orchestrator, which starts its
  * cluster and drives each job's MAP → SORT → REDUCE from one place
  * (manage_cluster.py). */
object Harness {

  /** `GraftSession.builder` at `local[n]` with `n` shuffle partitions,
    * `n` from SPARK_GRAFT_CPUS or else `defaultCpus`. SPARK_GRAFT_PREFER_SMJ
    * =true re-plans with the sort-merge join preference (the plans/r19
    * `*_before.txt` posture) for A/B comparison. */
  def session(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(defaultCpus)
    val b = GraftSession.builder(s"local[$cpus]", shufflePartitions = cpus)
    if (sys.env.get("SPARK_GRAFT_PREFER_SMJ").contains("true"))
      b.config("spark.sql.join.preferSortMergeJoin", "true")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "0")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.muteLocalCheckpointUnpersistWarn()
    spark
  }

  /** Between-query hygiene: no query may see what an earlier one left. */
  def reset(spark: SparkSession): Unit = {
    // no cross-query cache reuse: a cached frame left by an earlier
    // query must not flatter a later query's timing
    spark.catalog.clearCache()
    // clearCache only drops SQL-cached frames — RDDs pinned by
    // localCheckpoint (connected components, incremental dedup) survive
    // it and accumulate block-manager memory across a long session,
    // degrading late queries (trivial scalar queries measured 25-45x
    // slower late in a run)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    // drop staged bucketed tables so every run of q155/q161 pays the
    // staging write: stageBucketed's tableExists guard would otherwise
    // make whichever run comes second structurally cheaper
    spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_bkt_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** What one guarded run did: wall seconds, the body's error (or the
    * watchdog's timeout), and whether the worker outlived its interrupt. */
  final case class Outcome(seconds: Double, error: Option[Throwable],
      zombie: Boolean)

  /** [[reset]], then `body` on a worker thread inside its own job group.
    * A wedged query (a contended machine can stall one query 10-100x)
    * must not hang the whole run: after `timeoutMs` the group is
    * cancelled, active streams are stopped (stream jobs run under their
    * own runId group, out of cancelJobGroup's reach), and the worker is
    * interrupted so a thread blocked in awaitTermination unwinds and its
    * finally blocks restore the session confs it set. A worker still alive 30 s later (an
    * uninterruptible native or parquet read) is a zombie: it keeps
    * running beside every later query. */
  def runOne(spark: SparkSession, name: String, timeoutMs: Long)(
      body: => Unit): Outcome = {
    reset(spark)
    val sc = spark.sparkContext
    @volatile var err: Option[Throwable] = None
    val t0 = System.nanoTime()
    val worker = new Thread(() => {
      try {
        // the job group is thread-local: set it on the thread that
        // submits the jobs so cancelJobGroup reaches them
        sc.setJobGroup(name, name, interruptOnCancel = true)
        body
      } catch { case e: Throwable => err = Some(e) }
      finally sc.clearJobGroup()
    }, s"graft-$name")
    worker.setDaemon(true)
    worker.start()
    worker.join(timeoutMs)
    if (!worker.isAlive) Outcome((System.nanoTime() - t0) / 1e9, err, zombie = false)
    else {
      System.err.println(s"[watchdog] $name exceeded ${timeoutMs / 1000}s - cancelling")
      sc.cancelJobGroup(name)
      spark.streams.active.foreach(sq =>
        try sq.stop() catch { case _: Throwable => () })
      worker.interrupt()
      worker.join(30000)
      val zombie = worker.isAlive
      if (zombie)
        System.err.println(s"[watchdog] $name zombie survived interrupt - session degraded")
      Outcome((System.nanoTime() - t0) / 1e9,
        Some(new java.util.concurrent.TimeoutException(
          s"timed out after ${timeoutMs / 1000}s (watchdog cancel)")),
        zombie)
    }
  }
}
