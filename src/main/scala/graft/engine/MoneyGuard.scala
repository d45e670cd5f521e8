package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, round, sum}

/** Money-sum representation switch — round-13 ENFORCEMENT of the
  * SCALING.md integer-unit ceiling.
  *
  * The exact-money discipline (see q01) sums integer sub-units in a
  * codegen'd long — the fast shape — but a long sum has a capacity:
  * rows × maxAbs × unit must stay under 2⁶³. Through round 12 that
  * ceiling was measured and DOCUMENTED (micro-units certify to ~sf30);
  * past it the sums would wrap silently. This guard makes the switch
  * automatic: the row count comes from parquet FOOTERS only (metadata
  * plane — one O(footer) tail read per file, the file bodies are never
  * touched), and a query promotes to the q332 DECIMAL(38,6) path the
  * moment the worst-case accumulated magnitude could overflow.
  *
  * The bound is deliberately per-TABLE, not per-group: it assumes
  * nothing about how rows distribute over groups, so promotion fires
  * strictly BEFORE any possible per-group overflow (the measured
  * per-group ceiling sits well above the guard's promotion point).
  * Early promotion costs only speed, never correctness — both
  * representations are exact on grid-valued money inputs.
  *
  * Reference analogue: the incrementation law's exactness contract
  * (README.md's f(A+B)=f(A)+f(B)) — a sum that silently wraps breaks
  * the law invisibly.
  */
object MoneyGuard {

  /** Footer-only row count through the Hadoop FileSystem API, so the
    * guard works on any scheme the cluster can reach (hdfs/object
    * stores), not just local files — the same IO plane the transfer
    * job uses. Reads the footer through the loader's reader (the file
    * body is never touched); a file that is not parquet throws. */
  private def footerRows(path: String, conf: Configuration): Long =
    Tables.footer(new Path(path), conf)(_.getRecordCount)

  /** Exact row count for `dir/table.parquet` from parquet footers
    * only. Single files and part-file directories both resolve; an
    * unreadable footer throws (a guard that silently under-counts
    * would defeat its purpose). Small layouts read on the driver; a
    * many-file table (the 100 TB shape) distributes the footer reads
    * so the guard never becomes a sequential driver stall. Executors
    * rebuild a default Configuration per task — scheme resolution for
    * hdfs/file URIs lives in the cluster's default conf; exotic
    * per-session overrides would need an explicit broadcast. */
  def tableRows(dir: String, table: String): Long =
    tableRows(None, dir, table)

  def tableRows(spark: Option[org.apache.spark.sql.SparkSession],
      dir: String, table: String): Long = {
    val conf = spark.map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
    val base = new Path(s"$dir/$table.parquet")
    val fs = base.getFileSystem(conf)
    def collect(p: Path): Seq[Path] = {
      val st = fs.getFileStatus(p)
      if (st.isDirectory) fs.listStatus(p).toSeq.map(_.getPath).flatMap(collect)
      else if (p.getName.endsWith(".parquet")) Seq(p)
      else Seq.empty
    }
    val files = collect(base)
    require(files.nonEmpty, s"no parquet files under $base")
    spark match {
      case Some(s) if files.size > 64 =>
        val paths = files.map(_.toString)
        // reduce in Long: RDD.sum() accumulates in Double, which is
        // exact only below 2^53 — a guard about overflow must not
        // itself round its row count.
        s.sparkContext.parallelize(paths, math.min(paths.size, 256))
          .map(p => footerRows(p, new Configuration()))
          .fold(0L)(_ + _)
      case _ => files.map(p => footerRows(p.toString, conf)).sum
    }
  }

  /** Highest row count at which a `unit`-scaled long sum of values
    * bounded by `maxAbsCurrency` provably cannot overflow. */
  def integerUnitCeiling(unit: Long, maxAbsCurrency: Double): Long =
    Long.MaxValue / math.ceil(maxAbsCurrency * unit).toLong

  /** An exact money sum of `c` (currency units, values on the 1/unit
    * grid, |value| ≤ maxAbsCurrency): integer sub-units while `rows`
    * is under the overflow ceiling, DECIMAL(38,0) sub-units beyond.
    * Both shapes compute the SAME arithmetic the oracles replay —
    * per-row round to integer sub-units, exact integer sum S, then one
    * double rounding double(S)/unit. (A decimal CURRENCY sum followed
    * by a cast would round twice once S exceeds 2^53 sub-units — the
    * only regime the promoted branch runs in — and double rounding can
    * flip the 4th decimal under the exact-match gate.) */
  def moneySum(c: Column, unit: Long, rows: Long,
      maxAbsCurrency: Double): Column =
    if (rows <= integerUnitCeiling(unit, maxAbsCurrency))
      sum(round(c * unit).cast("long")) / lit(unit.toDouble)
    else
      sum(round(c * unit).cast("decimal(38,0)")).cast("double") /
        lit(unit.toDouble)
}
