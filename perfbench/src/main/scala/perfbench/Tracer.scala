package perfbench

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters and spans for a traced run, gathered from outside the
  * engine: Spark listeners (public API), the codegen metrics source and
  * the query execution tracker. Listener events arrive on Spark's
  * listener threads; `drain` waits for them before anything is read. */
final class Tracer(spark: SparkSession) {

  /** Epoch nanoseconds of a `System.nanoTime` stamp (millisecond-exact,
    * the precision of listener event times). */
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochNs(nano: Long): Long = nano + offsetNs

  import Tracer.{Batch, Job, Stage}

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val batches = new ConcurrentLinkedQueue[Batch]()
  private val streamStart = new java.util.concurrent.ConcurrentHashMap[UUID, Long]()
  private val streamEnd = new java.util.concurrent.ConcurrentHashMap[UUID, Long]()

  // task totals per stage, so that only the pass's stages are summed;
  // task and storage totals are written only by the listener thread
  private val taskTotals = scala.collection.mutable.Map.empty[Int, Array[Long]]
  private val blockBytes = scala.collection.mutable.Map.empty[String, Long]
  @volatile private var storageNow, storagePeak = 0L
  // (start ms, catalyst phase ms) of Dataset actions, e.g. eager ones
  // inside query construction
  private val actions = new ConcurrentLinkedQueue[(Long, (Long, Long, Long))]()

  private val sentinel = s"perfbench-drain-${UUID.randomUUID()}"
  @volatile private var sentinelSeen = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, group, e.time, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach { j =>
        jobs.put(e.jobId, j.copy(endMs = e.time))
        if (j.group == sentinel) sentinelSeen = true
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Stage(i.stageId, i.attemptNumber(),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = taskTotals.getOrElseUpdate(e.stageId, new Array[Long](Tracer.TaskFields))
      t(0) += 1
      if (e.reason != org.apache.spark.Success) t(1) += 1
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        t(2) += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        t(3) += m.executorRunTime
        t(4) += m.executorCpuTime
        t(5) += m.inputMetrics.bytesRead
        t(6) += m.outputMetrics.bytesWritten
        t(7) += m.shuffleWriteMetrics.bytesWritten
        t(8) += m.shuffleReadMetrics.totalBytesRead
        t(9) += m.shuffleReadMetrics.fetchWaitTime
        t(10) += m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      val key = s"${b.blockManagerId.executorId}/${b.blockId.name}"
      val size = b.memSize + b.diskSize
      storageNow += size - blockBytes.getOrElse(key, 0L)
      if (size == 0L) blockBytes.remove(key) else blockBytes(key) = size
      storagePeak = math.max(storagePeak, storageNow)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      actions.add((qe.tracker.phases.values.map(_.startTimeMs).minOption.getOrElse(0L),
        Tracer.phasesMs(qe)))
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamStart.put(e.runId, System.currentTimeMillis())
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.add(Batch(p.runId, start, p.batchDuration,
        d.getOrElse("triggerExecution", p.batchDuration),
        d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L),
        p.stateOperators.map(_.commitTimeMs).sum,
        p.stateOperators.map(_.numRowsTotal).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamEnd.put(e.runId, System.currentTimeMillis())
  }

  private val codegenStart = Tracer.codegen()
  @volatile private var codegenEnd = codegenStart

  /** Closes the pass for codegen accounting, which is synchronous: later
    * compiles (calibration, table loads) are not charged to it. */
  def passEnded(): Unit = codegenEnd = Tracer.codegen()

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Waits until the listener bus has delivered every event posted so
    * far: a sentinel job's end event arrives after all earlier ones. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(sentinel, sentinel)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(200) // the session and stream buses are separate queues
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Per-layer counters of the pass and the span tree below each item.
    * `outcomes` are the pass's items; `finalPhases` the catalyst phases
    * of each item's last action, read from its own tracker. */
  def report(runSpan: Span, passSpan: Span, outcomes: Seq[Outcome],
      finalPhases: Map[String, (Long, Long, Long)]): (Map[String, Double], Seq[Span]) = {
    val ids = Iterator.from(runSpan.id.toInt + 2).map(_.toLong)
    val itemSpans = outcomes.flatMap { o =>
      val q = Span(ids.next(), passSpan.id, "query", o.name, epochNs(o.startNs),
        epochNs(o.endNs), Map("ok" -> (if (o.ok) 1.0 else 0.0)))
      Seq(q,
        Span(ids.next(), q.id, "construct", o.name, q.startNs, epochNs(o.constructedNs)),
        Span(ids.next(), q.id, "execute", o.name, epochNs(o.constructedNs), q.endNs))
    }
    val queryByName = itemSpans.filter(_.kind == "query").map(s => s.name -> s).toMap
    val ms = 1000000L
    val streamByRun = streamStart.asScala.toSeq.map { case (run, startMs) =>
      val endMs = Option(streamEnd.get(run)).map(_.longValue).getOrElse(startMs)
      val parent = Spans.enclosing(itemSpans, Set("construct", "execute"), startMs * ms)
      run.toString -> Span(ids.next(), parent.map(_.id).getOrElse(passSpan.id),
        "stream", parent.map(_.name).getOrElse(run.toString), startMs * ms, endMs * ms)
    }.toMap
    val streamSpans = streamByRun.values.toSeq
    val batchSpans = batches.asScala.toSeq.map { b =>
      val parent = streamByRun.get(b.run.toString).map(_.id).getOrElse(passSpan.id)
      Span(ids.next(), parent, "batch", b.run.toString, b.startMs * ms,
        (b.startMs + b.durMs) * ms,
        Map("wal_ms" -> b.walMs.toDouble, "state_commit_ms" -> b.stateCommitMs.toDouble))
    }
    val passJobs = jobs.values.asScala.toSeq.filter(j =>
      j.group != sentinel && j.startMs * ms >= passSpan.startNs && j.startMs * ms <= passSpan.endNs)
    val stageList = stages.asScala.toSeq
    val jobSpans = passJobs.map { j =>
      val t = j.startMs * ms
      val parent = streamByRun.get(j.group) match {
        case Some(st) =>
          Spans.enclosing(batchSpans.filter(_.parent == st.id), Set("batch"), t).getOrElse(st)
        case None =>
          queryByName.get(j.group)
            .flatMap(q => Spans.enclosing(itemSpans.filter(_.parent == q.id),
              Set("construct", "execute"), t).orElse(Some(q)))
            .getOrElse(passSpan)
      }
      val js = stageList.filter(s => j.stages.contains(s.id))
      Span(ids.next(), parent.id, "job", s"job ${j.id}", t, j.endMs * ms,
        Map("stages" -> js.size.toDouble, "tasks" -> js.map(_.tasks).sum.toDouble))
    }
    val jobOf = passJobs.zip(jobSpans).flatMap { case (j, s) => j.stages.map(_ -> s) }.toMap
    val stageSpans = stageList.flatMap { st =>
      jobOf.get(st.id).map(parent => Span(ids.next(), parent.id, "stage",
        s"stage ${st.id}.${st.attempt}", st.startMs * ms, st.endMs * ms,
        Map("tasks" -> st.tasks.toDouble)))
    }
    // counts at the query boundary: the jobs, stages and tasks below it
    val parentOf = (itemSpans ++ streamSpans ++ batchSpans ++ jobSpans)
      .map(s => s.id -> s.parent).toMap
    def queryOf(id: Long): Option[Long] = parentOf.get(id) match {
      case Some(p) if queryByName.values.exists(_.id == p) => Some(p)
      case Some(p) => queryOf(p)
      case None => None
    }
    val perQuery = jobSpans.groupBy(j => queryOf(j.id))
    val countedItems = itemSpans.map { s =>
      perQuery.get(Some(s.id)).filter(_ => s.kind == "query").fold(s) { js =>
        s.copy(counts = s.counts ++ Map("jobs" -> js.size.toDouble,
          "stages" -> js.map(_.counts("stages")).sum,
          "tasks" -> js.map(_.counts("tasks")).sum))
      }
    }
    val spans = Seq(runSpan, passSpan) ++ countedItems ++ streamSpans ++ batchSpans ++
      jobSpans ++ stageSpans

    // tasks, failures, delay ms, run ms, cpu ns, input, output, shuffle
    // write, shuffle read, fetch wait ms, spill, over the pass's stages
    val Array(tasks, taskFailures, delayMs, runMs, cpuNs, inBytes, outBytes,
        shWrite, shRead, fetchWaitMs, spillDisk) = jobOf.keys.toSeq
      .flatMap(taskTotals.get).foldLeft(new Array[Long](Tracer.TaskFields))(
        (acc, t) => acc.indices.map(i => acc(i) + t(i)).toArray)
    val passS = passSpan.durNs / 1e9
    val constructJobs = jobSpans.count(j => itemSpans.exists(c =>
      c.kind == "construct" && c.id == j.parent))
    val (cgMs0, cgN0) = codegenStart
    val (cgMs, cgN) = codegenEnd
    val triggers = batches.asScala.toSeq.map(_.triggerMs.toDouble)
    val streamItems = itemSpans.filter(q => q.kind == "query" &&
      streamSpans.exists(s => itemSpans.exists(c => c.id == s.parent && c.parent == q.id)))
    val streamExecS = streamSpans.map(_.durNs).sum / 1e9
    val passActions = actions.asScala.toSeq.collect {
      case (startMs, p) if startMs * ms >= passSpan.startNs && startMs * ms <= passSpan.endNs => p
    }
    val (analysisMs, optimizationMs, planningMs) =
      (passActions ++ finalPhases.values).foldLeft((0L, 0L, 0L)) {
        case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
    val mb = 1024.0 * 1024.0
    val self = Spans.selfByKind(spans)
    val metrics = Map[String, Double](
      "construct.busy_s" -> outcomes.map(_.constructSeconds).sum,
      "construct.jobs" -> constructJobs.toDouble,
      "catalyst.analysis_ms" -> analysisMs.toDouble,
      "catalyst.optimization_ms" -> optimizationMs.toDouble,
      "catalyst.planning_ms" -> planningMs.toDouble,
      "codegen.compile_ms" -> (cgMs - cgMs0),
      "codegen.classes" -> (cgN - cgN0).toDouble,
      "sched.jobs" -> passJobs.size.toDouble,
      "sched.stages" -> stageSpans.size.toDouble,
      "sched.tasks" -> tasks.toDouble,
      "sched.delay_ms" -> delayMs.toDouble,
      "sched.task_failures" -> taskFailures.toDouble,
      "exec.task_run_s" -> runMs / 1e3,
      "exec.task_cpu_s" -> cpuNs / 1e9,
      "exec.core_busy_frac" -> (if (passS > 0) runMs / 1e3 /
        (passS * spark.sparkContext.defaultParallelism) else 0.0),
      "exec.input_mb" -> inBytes / mb,
      "exec.output_mb" -> outBytes / mb,
      "shuffle.write_mb" -> shWrite / mb,
      "shuffle.read_mb" -> shRead / mb,
      "shuffle.fetch_wait_ms" -> fetchWaitMs.toDouble,
      "spill.disk_mb" -> spillDisk / mb,
      "storage.peak_mb" -> storagePeak / mb,
      "stream.setup_s" -> (streamItems.map(_.durNs).sum / 1e9 - streamExecS).max(0.0),
      "stream.exec_s" -> streamExecS,
      "stream.batches" -> batches.size.toDouble,
      "stream.trigger_ms_p50" -> (if (triggers.isEmpty) 0.0
        else triggers.sorted.apply((triggers.size - 1) / 2)),
      "stream.state_commit_ms" -> batches.asScala.map(_.stateCommitMs).sum.toDouble,
      "stream.wal_commit_ms" -> batches.asScala.map(_.walMs).sum.toDouble,
      "stream.state_rows" -> lastStateRows.toDouble,
    ) ++ Seq("construct", "execute", "stream", "batch", "job", "stage")
      .map(k => s"self.${k}_s" -> self.getOrElse(k, 0.0))
    (metrics, spans)
  }

  /** State rows held at the end of each stream, summed over streams. */
  private def lastStateRows: Long =
    batches.asScala.toSeq.groupBy(_.run).values
      .map(_.maxBy(_.startMs).stateRows).sum

  /** Jobs that ran under `group` so far (for table-load accounting). */
  def jobsInGroup(group: String): Int =
    jobs.values.asScala.count(_.group == group)
}

object Tracer {
  private val TaskFields = 11

  private final case class Job(id: Int, group: String, startMs: Long,
      endMs: Long, stages: Seq[Int])
  private final case class Stage(id: Int, attempt: Int, startMs: Long,
      endMs: Long, tasks: Int)
  private final case class Batch(run: UUID, startMs: Long, durMs: Long,
      triggerMs: Long, walMs: Long, stateCommitMs: Long, stateRows: Long)

  /** (analysis, optimization, planning) milliseconds of one execution. */
  def phasesMs(qe: QueryExecution): (Long, Long, Long) = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    (ms("analysis"), ms("optimization"), ms("planning"))
  }

  /** (compile milliseconds, compilations) since the JVM started. The
    * histogram keeps every sample until it holds 1028; past that its
    * mean stands in for the dropped ones. */
  def codegen(): (Double, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    val vals = snap.getValues
    val ms = if (vals.length >= n) vals.sum.toDouble else snap.getMean * n
    (ms, n)
  }
}
