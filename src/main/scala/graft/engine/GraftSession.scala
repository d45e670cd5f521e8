package graft.engine

import java.net.URLClassLoader

import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, SparkPlugin}
import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * The reference (bsautrey/python-mapreduce) stands up its "session" by
  * SSH-spawning RPyC workers in GNU screen and flushing Redis
  * (/root/reference/manage_cluster.py:52-304). On Spark the whole cluster
  * lifecycle is the resource manager's job; what remains for the engine is
  * picking configs that hold at 100 TB:
  *
  *  - AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  *    broadcast demotion/promotion) — replaces all the reference's hand
  *    tuning of shuffle file sizes (/root/reference/shuffler.py:79-86).
  *  - shuffle.partitions sized to the cluster, not the 200 default; in
  *    local[N] tests we size to N. AQE coalescing makes over-partitioning
  *    cheap, so at real scale this is set high (2-3x total cores) and AQE
  *    shrinks per-stage.
  *  - UTC session time zone for deterministic timestamp semantics.
  */
object GraftSession {

  /** Scratch dir for shuffle/spill/broadcast files in LOCAL runs.
    * Prefers tmpfs (/dev/shm): the default /tmp here sits on an ext4
    * volume mounted with inline `discard`, so the thousands of shuffle
    * files a 100+-query session creates AND deletes each pay a
    * synchronous TRIM — measured as multi-second single-core stalls
    * late in long benchmark runs. On tmpfs both ends are memory ops.
    * Per-pid naming isolates concurrent JVMs; dirs whose owning process
    * is dead are swept on next session build (a kill -9 would otherwise
    * leak tmpfs pages until reboot). Local-mode only — on a cluster
    * spark.local.dir is the resource manager's concern. */
  /** Memoized per-process scratch root (also hosts every temporary
    * directory the engine makes, via [[TempDir]]) — one sweep + mkdir
    * per JVM. */
  private[graft] lazy val scratchRoot: String = localScratchDir()

  private def localScratchDir(): String = {
    val pid = ProcessHandle.current().pid()
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) shm
      else new java.io.File(sys.props("java.io.tmpdir"))
    Option(base.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft_local_")).foreach { f =>
        val owner = f.getName.stripPrefix("graft_local_")
        val alive = owner.toLongOption
          .flatMap(p => scala.jdk.OptionConverters.RichOptional(
            ProcessHandle.of(p)).toScala)
          .exists(_.isAlive)
        if (!alive) TempDir.delete(f)
      }
    val dir = new java.io.File(base, s"graft_local_$pid")
    dir.mkdirs()
    dir.getAbsolutePath
  }

  /** Settings every graft session shares, local or cluster: AQE with
    * coalescing and skew splitting, the UTC zone, the fixture timestamp
    * reads (below) and the native functions of [[graft.GraftExtensions]]. */
  private def base: SparkSession.Builder =
    SparkSession.builder()
      .appName("graft")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // fixture events.ts is parquet TIMESTAMP(NANOS); read as long and
      // convert in Tables.load (Spark has no nanos timestamp type)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // fixture events.ts has also shipped as isAdjustedToUTC=false micros;
      // read those as TimestampType directly (session is pinned UTC, so the
      // naive micros are value-preserving) instead of TIMESTAMP_NTZ, which
      // withWatermark and unix_micros both reject. Tables.load carries a
      // defensive NTZ cast for sessions built elsewhere.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // graft adds no session artifacts (jars, files, REPL classes), so
      // tasks need no per-session class loader: with isolation off they
      // run under the executor's default loader instead of an
      // ExecutorClassLoader that sends every class-lookup miss to the
      // driver's artifact server
      .config(ArtifactIsolation, "false")

  private val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"

  /** Codegen settings of a local session: each generated class compiles
    * once per JVM. Spark keys its compile cache by the thread's context
    * class loader; the driver compiles every whole-stage class under the
    * app loader, and without these settings the first task compiles it
    * again under its own loader. Repeats `base`'s isolation switch so
    * that the test session, which is not built from `base`, gets it. */
  private[graft] def localCodegen(b: SparkSession.Builder): SparkSession.Builder =
    b.config(ArtifactIsolation, "false")
      .config("spark.plugins", classOf[TaskLoaderPlugin].getName)

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    localCodegen(base)
      .master(master)
      .config("spark.local.dir", scratchRoot)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // guide §3.1/§9: let the planner pick shuffled-hash over sort-merge
      // when its size conditions hold (no sort of either side), and let
      // AQE rewrite a planned SMJ to SHJ at runtime when every
      // post-shuffle partition is small enough to hash (64 MiB — the
      // per-partition build cap that makes SHJ memory-safe at any total
      // scale; partitions at 100 TB are sized by AQE's advisory anyway)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        (64L * 1024 * 1024).toString)
      // bucketed saveAsTable target, under the per-pid scratch root: keeps
      // test/verify runs from dropping a spark-warehouse/ dir into the
      // repo working copy, isolates concurrent JVMs (chunked Bench runs,
      // Verify alongside Bench) that would otherwise race on
      // drop/delete/rewrite of the same deterministic table locations,
      // and puts the staged-table file churn on tmpfs with the shuffles
      .config("spark.sql.warehouse.dir", s"$scratchRoot/warehouse")
      .config("spark.ui.enabled", "false")

  /** Silence ONE known-benign warning in harness logs: every
    * `Materialize.free` of a localCheckpoint emits
    * "RDD N was locally checkpointed, its lineage has been truncated
    * and cannot be recomputed after unpersisting" (logged by
    * `RDD.unpersist`). That is the cache-hygiene contract WORKING —
    * the frame is dead by contract, nothing will recompute it — but a
    * 237-query bench run prints hundreds of them and buries real
    * warnings. There is no unpersist order that avoids it (the log
    * site is inside RDD.unpersist itself), so this installs a DENY
    * filter on the root logger config matching exactly that message
    * from `org.apache.spark.rdd.*` loggers. Scoped to the HARNESS
    * mains (Harness.session calls it; library users never get
    * their logging touched). */
  def muteLocalCheckpointUnpersistWarn(): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.filter.AbstractFilter
    LogManager.getContext(false) match {
      case ctx: LoggerContext =>
        val root = ctx.getConfiguration.getRootLogger
        root.addFilter(new AbstractFilter(
          Filter.Result.DENY, Filter.Result.NEUTRAL) {
          override def filter(event: LogEvent): Filter.Result =
            if (event.getLoggerName.startsWith("org.apache.spark.rdd") &&
              event.getMessage.getFormattedMessage
                .contains("was locally checkpointed, its lineage"))
              Filter.Result.DENY
            else Filter.Result.NEUTRAL
        })
        ctx.updateLoggers()
      case _ => () // non-core LoggerContext (custom binding): leave as-is
    }
  }

  /** Production posture for a real cluster (master/resources come from
    * spark-submit / the resource manager — never hardcoded here). Sizing
    * rules, per SCALING.md:
    *  - shuffle partitions ≈ 2-3x total executor cores; AQE coalesces
    *    per-stage, so over-partitioning is cheap and under-partitioning
    *    spills;
    *  - broadcast threshold raised so all dimension-scale tables
    *    broadcast (the fixtures' region/nation/supplier/part stay
    *    dimension-sized at any SF);
    *  - 128 MB scan partitions keep a task's batch + shuffle buffers
    *    inside executor memory. */
  def clusterBuilder(totalCores: Int): SparkSession.Builder =
    base
      .config("spark.sql.shuffle.partitions", (totalCores * 3).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (200L * 1024 * 1024).toString)
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      // runtime row-group pruning on the fact side of selective joins:
      // a bloom filter built from the dim side cuts the 100 TB scan before
      // the shuffle (complements static partition pruning)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled", "true")
}

/** Runs each task under its context class loader's parent when that
  * loader is a `URLClassLoader` with no URLs, which resolves exactly
  * what its parent resolves: a local executor's default loader. The
  * task then finds the driver's compiled classes in Spark's codegen
  * cache. Spark resets the loader at every task start; on a cluster
  * executor the loader holds the app jar and this does nothing. */
final class TaskLoaderPlugin extends SparkPlugin {
  override def driverPlugin(): DriverPlugin = null
  override def executorPlugin(): ExecutorPlugin = new ExecutorPlugin {
    override def onTaskStart(): Unit = {
      val t = Thread.currentThread()
      t.getContextClassLoader match {
        case u: URLClassLoader if u.getURLs.isEmpty && u.getParent != null =>
          t.setContextClassLoader(u.getParent)
        case _ => ()
      }
    }
  }
}
