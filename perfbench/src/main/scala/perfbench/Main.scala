package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.engine.{GraftSession, Tables}

/** One benchmark run in a fresh JVM: session set-up, one closed-loop pass
  * over the planned items, and a JSON record of what happened.
  *
  * `run.py` starts it with every option below (`--ingest` and
  * `--ingest-corrupt` only when the plan holds `ingest_ndjson`), writes
  * the plan (one `name<TAB>rows<TAB>hash` line per item, in run order,
  * `-` for a value not checked) and reads the record:
  * --plan --out --work --data --cores --workload --trace --spans --tables
  * --watchdog-s --deadline-s --launch-ms. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = opt("launch-ms").toLong
    val heap = new HeapWatch
    val work = opt("work")

    val t0 = System.nanoTime()
    val cores = opt("cores").toInt
    val spark = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.muteLocalCheckpointUnpersistWarn()
    val buildS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    Warmup.run(spark, work)
    val warmupS = (System.nanoTime() - t1) / 1e9
    // the calibration plan runs once untimed to warm its own code paths,
    // as graft.Bench does, so that the start and end timings compare
    val calibWarmS = Warmup.calibrate(spark)
    val calibStart = Warmup.calibrate(spark)

    val tracer = if (opt("trace") == "1") Some(new Tracer(spark)) else None
    val phases = TrieMap.empty[String, (Long, Long, Long)]
    val plan = readPlan(opt("plan"))
    val items = plan.map { case (name, expect) =>
      val item =
        if (name == "ingest_ndjson")
          Ingest.item(new File(opt("ingest")), new File(work),
            opt("ingest-corrupt").toLong)
        else queryItem(name, SparkEntry.queries(name), opt("data"), phases)
      (item, expect)
    }
    val pass = new Pass(spark, opt("watchdog-s").toLong * 1000)

    heap.measuring = true
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3 - calibWarmS - calibStart
    val passStart = System.nanoTime()
    val deadline = passStart + (opt("deadline-s").toDouble * 1e9).toLong
    val outcomes = items.map { case (item, expect) =>
      if (System.nanoTime() > deadline) Outcome.skipped(item.name, System.nanoTime())
      else pass.run(item, expect)
    }
    val passEnd = System.nanoTime()
    tracer.foreach(_.passEnded())
    val heapPeakMb = heap.finish()
    val calibEnd = Warmup.calibrate(spark)

    val layers = tracer.map { tr =>
      // engine.Tables, measured by direct calls after the timed pass
      val tables = opt("tables").split(',').filter(_.nonEmpty)
      val loads = tables.map { t =>
        val group = s"perfbench-load-$t"
        spark.sparkContext.setJobGroup(group, group)
        val s0 = System.nanoTime()
        try Tables.load(spark, opt("data"), t) finally spark.sparkContext.clearJobGroup()
        (group, (System.nanoTime() - s0) / 1e6)
      }
      tr.drain()
      val runSpan = Span(1, 0, "run", opt("workload"),
        tr.epochNs(t0), tr.epochNs(System.nanoTime()))
      val passSpan = Span(2, 1, "pass", "pass", tr.epochNs(passStart), tr.epochNs(passEnd))
      val (m, spans) = tr.report(runSpan, passSpan, outcomes, phases.toMap)
      tr.close()
      Files.write(Paths.get(opt("spans")), spans.map(Json.span).asJava)
      val ing = Ingest.last
      m ++ Map(
        "tables.load_ms" -> loads.map(_._2).sum,
        "tables.load_jobs" -> loads.map(l => tr.jobsInGroup(l._1)).sum.toDouble,
        "jsonl.read_s" -> ing.map(_.readS).getOrElse(0.0),
        "jsonl.write_s" -> ing.map(_.writeS).getOrElse(0.0),
        "jsonl.corrupt_rows" -> ing.map(_.corruptRows.toDouble).getOrElse(0.0),
        "mapreduce.run_s" -> ing.map(_.mapReduceS).getOrElse(0.0),
        "mapreduce.groups" -> ing.map(_.groups.toDouble).getOrElse(0.0),
        "jobqueue.run_s" -> ing.map(_.queueS).getOrElse(0.0),
        "jobqueue.overhead_s" -> ing.map(_.queueOverheadS).getOrElse(0.0),
        "jvm.gc_s" -> Jvm.gcSeconds,
        "session.build_s" -> buildS,
        "session.warmup_s" -> warmupS)
    }

    val record = Json.obj(
      "setup_s" -> setupS,
      "session_build_s" -> buildS,
      "warmup_s" -> warmupS,
      "calib_start_s" -> calibStart,
      "calib_end_s" -> calibEnd,
      "pass_s" -> (passEnd - passStart) / 1e9,
      "heap_live_peak_mb" -> heapPeakMb,
      "gc_s" -> Jvm.gcSeconds,
      "degraded_from" -> pass.degradedFrom,
      "items" -> outcomes.map(o => Json.obj(
        "name" -> o.name, "seconds" -> o.seconds,
        "construct_s" -> o.constructSeconds, "ok" -> o.ok, "skipped" -> o.skipped,
        "rows" -> o.rows, "hash" -> o.hash, "error" -> o.error)),
      "layers" -> layers.map(l => Json.obj(l.toSeq.sortBy(_._1): _*)))
    Files.writeString(Paths.get(opt("out")), record.s)
    spark.stop()
  }

  def queryItem(name: String, fn: (SparkSession, String) => DataFrame,
      dataDir: String, phases: TrieMap[String, (Long, Long, Long)]): Item =
    Item(name, (spark, constructed) => {
      val df = fn(spark, dataDir)
      constructed()
      val rh = RowHash.of(df)
      phases(name) = Tracer.phasesMs(df.queryExecution)
      rh
    })

  /** `name<TAB>rows<TAB>hash` lines; `-` marks a value not checked. */
  def readPlan(path: String): Seq[(String, Option[Expect])] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty).map { line =>
      line.split('\t') match {
        case Array(name, "-", _) => (name, None)
        case Array(name, rows, hash) =>
          (name, Some(Expect(rows.toLong, if (hash == "-") None else Some(hash.toLong))))
        case _ => throw new IllegalArgumentException(s"bad plan line: $line")
      }
    }
}

/** Just enough JSON for the run record. */
object Json {
  /** Already-encoded JSON. */
  final case class Raw(s: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def span(s: Span): String = obj(
    "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs,
    "counts" -> obj(s.counts.toSeq.sortBy(_._1): _*)).s
}
