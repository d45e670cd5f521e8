package graft.engine

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated fixture tables (TESTDATA.md /
  * FIXTURES.md). Parquet at rest — columnar scan + predicate pushdown +
  * column pruning come free, vs the reference's row-at-a-time JSON lines
  * (/root/reference/shuffler.py:75-76).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeEventTime(parquet(spark, s"$sfDir/$name.parquet"),
      // the nanos-as-long coercion is events-specific knowledge: a plain
      // long `ts` on some future table (epoch seconds, a sequence id)
      // must NOT be silently divided and retyped
      nanosLong = name == "events")

  /** Load-time contract: `ts` is ALWAYS `TimestampType` (UTC session
    * micros) after load, whatever shape the fixture parquet ships in.
    * The driver has regenerated events.parquet with different physical
    * encodings across rounds; each shape gets a branch here so a fixture
    * change is a non-event for the 30+ event-time operators downstream:
    *  - TIMESTAMP(NANOS): no native Spark type; sessions set
    *    spark.sql.legacy.parquet.nanosAsLong, so it arrives as a long we
    *    truncate to micros (integer div — going through double would lose
    *    precision on ~1.7e18 nanos).
    *  - isAdjustedToUTC=false micros (TIMESTAMP_NTZ when inference is on,
    *    e.g. a session not built by GraftSession): cast to TimestampType.
    *    The session time zone is pinned UTC, so the naive micros map 1:1
    *    onto epoch micros — value-preserving and oracle-parity-safe
    *    (DuckDB reads the same column as a naive timestamp).
    *  - TimestampType already: pass through. */
  def normalizeEventTime(df: DataFrame,
      nanosLong: Boolean = true): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) if nanosLong =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Multi-dir scan — the reference's `input_dirs` list is an implicit
    * UNION ALL (/root/reference/mapper.py:75-85); Spark's multi-path read
    * is the same thing with split planning + locality built in. */
  def loadMulti(spark: SparkSession, paths: Seq[String]): DataFrame =
    parquet(spark, paths: _*)

  /** The one parquet reader. `read.parquet` infers the schema with a
    * Spark job that reads one footer (100+ ms and one job per load);
    * this reads the same footer on the driver and hands its schema to
    * `read.schema`, so a load launches no job. The footer is read on
    * every call: nothing is remembered across queries. With no footer
    * to read (no file, an unreadable one) it falls back to
    * `read.parquet`, so the error is Spark's own. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** Parquet files written under different schemas, read as one frame
    * with the union of their schemas (`mergeSchema`: columns a file lacks
    * read as NULL). Spark merges every file's footer in a job, so this
    * is for the schema-evolution path only. */
  def parquetMerged(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** The schema `read.parquet(paths)` would infer, from the footer that
    * Spark's `ParquetUtils.inferSchema` picks: `_common_metadata`, then
    * `_metadata`, then the first data file by full path string, over the
    * leaf files its file index lists (hidden names skipped). Partition
    * columns are not in it: the file index still infers them. */
  private def footerSchema(spark: SparkSession,
      paths: Seq[String]): Option[StructType] =
    try {
      val conf = spark.sessionState.newHadoopConf()
      val leaves = paths.flatMap { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        Option(fs.globStatus(path)).toSeq.flatten.flatMap(st =>
          leafFiles(fs, st.getPath, st.isDirectory))
      }.sortBy(_.toString)
      def named(n: String) = leaves.find(_.getName == n)
      named("_common_metadata").orElse(named("_metadata"))
        .orElse(leaves.find(p =>
          p.getName != "_common_metadata" && p.getName != "_metadata"))
        .map { f =>
          footer(f, conf)(r => ParquetFileFormat.readSchemaFromFooter(
            new Footer(f, r.getFooter),
            new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
        }
    } catch { case NonFatal(_) => None }

  /** Files under `p` as Spark's file index lists them: names starting
    * with `_` (but not `k=v` partition directories or the summary files)
    * or `.`, and in-flight `._COPYING_` files, are skipped. */
  private def leafFiles(fs: FileSystem, p: Path, isDir: Boolean): Seq[Path] =
    if (!isDir) Seq(p)
    else fs.listStatus(p).toSeq.filterNot { st =>
      val n = st.getPath.getName
      ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")) &&
        !(n.startsWith("_common_metadata") || n.startsWith("_metadata"))
    }.flatMap(st => leafFiles(fs, st.getPath, st.isDirectory))

  /** Opens one parquet file's footer (the body is never read) and
    * applies `f` to the reader; throws if the file is not parquet. */
  private[engine] def footer[A](path: Path, conf: Configuration)(
      f: ParquetFileReader => A): A = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try f(r) finally r.close()
  }

  /** Scale-adaptive scan fan-out for CPU-heavy map stages (per-blob
    * decode, per-shingle hashing): the optimization guide's fix for
    * unsplittable input ("one huge unsplittable file ... repartition
    * immediately after the read", §2.5). The fixture tables are
    * single-file single-ROW-GROUP parquet, so every scan plans as ONE
    * task no matter how many cores the session has — a 3 s JPEG-decode
    * pass then serializes on one core while 31 idle.
    *
    * Fires ONLY when (a) the frame is a narrow scan pipeline (leaf +
    * Filter/Project — anything with a shuffle below is already
    * parallel), and (b) the planned scan parallelism is below the
    * session default. At production scale (many files / row groups) the
    * scan plans >= cores partitions and this is a structural no-op, so
    * nothing here is tuned to local[32]; the target tracks
    * `defaultParallelism`, which the driver varies via
    * SPARK_GRAFT_CPUS. Round-robin (not keyed): perfectly balanced for
    * uniform per-row work, and deterministic under retry via Spark's
    * sort-before-repartition. Streaming frames pass through untouched
    * (`.rdd` is illegal on them; the micro-batch planner parallelizes
    * its own scans). */
  def fanout(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def leafOf(p: LogicalPlan): Option[LeafNode] = p match {
      case l: LeafNode => Some(l)
      case p: Project => leafOf(p.child)
      case f: Filter => leafOf(f.child)
      case a: SubqueryAlias => leafOf(a.child)
      case _ => None // a shuffle below means it is already parallel
    }
    if (df.isStreaming) return df
    leafOf(df.queryExecution.analyzed) match {
      case None => df
      case Some(leaf) =>
        val spark = df.sparkSession
        val target = spark.sparkContext.defaultParallelism
        // planned scan parallelism, without paying a physical-planning
        // pass per call (fanout sits inside timed query construction):
        // for file relations, replicate FilePartition's split math from
        // the file listing; anything else falls back to .rdd (narrow ->
        // no AQE wrapper -> pure planning, nothing executes)
        val scanParts = leaf match {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
              if fs.fileFormat.isInstanceOf[
                org.apache.spark.sql.execution.datasources
                  .parquet.ParquetFileFormat] =>
            // parquet only: the split math below assumes splittable
            // files (a one-file gzip/binaryFile scan is 1 task no
            // matter its size — those fall through to .rdd). The
            // unfiltered listing can only OVER-estimate parallelism
            // for partition-pruned reads, i.e. skip a fanout, never
            // mis-fan one.
            val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
            val openCost = spark.sessionState.conf.filesOpenCostInBytes
            val sizes = fs.location.listFiles(Nil, Nil)
              .flatMap(_.files).map(_.getLen)
            val total = sizes.map(_ + openCost).sum
            // floor of 1 byte: openCost can legitimately be tuned to 0,
            // which must not turn the per-file ceil below into a /0
            val targetSplit = math.max(1L, math.max(openCost,
              math.min(maxSplit, total / math.max(1, target))))
            // files don't straddle splits: each contributes at least one
            math.max(sizes.count(_ > 0),
              sizes.map(s => (s + targetSplit - 1) / targetSplit).sum).toInt
          case _ => df.rdd.getNumPartitions
        }
        if (scanParts >= target) df else df.repartition(target)
    }
  }
}
