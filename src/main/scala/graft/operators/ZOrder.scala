package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Z-order (Morton) clustering — the multi-dimensional data-layout
  * primitive behind file skipping on more than one predicate column.
  *
  * A table range-partitioned and sorted by ONE column gives parquet
  * min/max footers that prune scans on that column only; predicates on a
  * second column read everything. Interleaving the bits of both columns
  * into one z-value and laying the table out by z makes every file a
  * small RECTANGLE in (x, y) space — min/max footers stay narrow on BOTH
  * columns simultaneously, so either predicate skips most files. The
  * reference has no layout control at all (files are whatever the last
  * job wrote — /root/reference/README.txt:236-293's fixed shard lists);
  * Spark expresses the whole idea as `repartitionByRange(z).
  * sortWithinPartitions(z)` on a derived column, and Catalyst/parquet do
  * the skipping for free afterwards.
  *
  * Everything here is exact integer arithmetic (scale-to-byte, shift,
  * mask) so the DuckDB oracle replays it bit-for-bit; 8 bits/dim is the
  * fixture-honest grid — at corpus scale widen to 16-20 bits/dim, same
  * expressions.
  */
object ZOrder {
  /** Morton interleave of two pre-scaled `bits`-bit non-negative ints:
    * x occupies even bit positions, y odd. Pure codegen'd bit ops. */
  def mortonZ(xs: Column, ys: Column, bits: Int = 8): Column = {
    val terms = (0 until bits).flatMap { j =>
      Seq(shiftleft(shiftright(xs, j).bitwiseAND(1), 2 * j),
        shiftleft(shiftright(ys, j).bitwiseAND(1), 2 * j + 1))
    }
    terms.reduce(_ + _)
  }

  /** Scale-to-grid SQL fragment, [0, 2^bits): integer-exact
    * (v - lo) * 2^bits DIV (hi - lo + 1).
    *
    * PRECONDITION: v >= lo and hi >= lo (both operands of the DIV
    * non-negative). Callers here satisfy it by construction (lo/hi are
    * min/max over the same rows). For negative operands Spark's DIV
    * truncates toward zero while DuckDB's // floors — the fragment is
    * not engine-portable outside the precondition. */
  def gridScaleSql(v: String, lo: String, hi: String, bits: Int = 8): String =
    s"(($v - $lo) * ${1 << bits}) DIV ($hi - $lo + 1)"

  val defs: Seq[QueryDef] = Seq(

    // layout quality, z-order vs linear: bucket events 64 ways by (a) the
    // z-value of (user_id, event day) and (b) user_id alone (the linear
    // sort layout), then measure the average per-bucket span of each
    // scaled dimension. The z rows show BOTH dims narrow (each bucket a
    // rectangle); the linear rows pin the failure mode this operator
    // exists to fix — user span collapses, day span stays full-width.
    // One scan + one tiny agg per scheme; min/max bounds broadcast.
    QueryDef(
      "q167_zorder_layout",
      (s, dir) => {
        import s.implicits._
        // calendar-day bucket via date conversion, NOT unix_micros DIV
        // 86400000000: date conversion floors for pre-1970 timestamps in
        // both engines, where integer DIV would truncate toward zero in
        // Spark and floor in DuckDB (ADVICE r5 parity trap)
        val ev = Tables.load(s, dir, "events").select($"user_id".as("x"),
          expr("datediff(to_date(ts), date'1970-01-01')").cast("long").as("y"))
        val mm = ev.agg(min($"x").as("xlo"), max($"x").as("xhi"),
          min($"y").as("ylo"), max($"y").as("yhi"))
        // materialized ONCE (repo materialization discipline): both
        // spans() branches of the union below reference this frame, and
        // an un-checkpointed shared subtree would re-run the scan +
        // min/max pass per branch — the round-4 recompute-storm pattern
        val scaled = ev.join(broadcast(mm))
          .selectExpr(gridScaleSql("x", "xlo", "xhi") + " AS xs",
            gridScaleSql("y", "ylo", "yhi") + " AS ys")
          .withColumn("z", mortonZ($"xs", $"ys"))
          .localCheckpoint()
        def spans(df: DataFrame, bucket: Column, scheme: String) = df
          .groupBy(bucket.as("bucket"))
          .agg((max($"xs") - min($"xs")).as("xspan"),
            (max($"ys") - min($"ys")).as("yspan"))
          .agg(count(lit(1)).as("n_buckets"),
            round(avg($"xspan"), 4).as("avg_x_span"),
            round(avg($"yspan"), 4).as("avg_y_span"))
          .select(lit(scheme).as("scheme"), $"n_buckets",
            $"avg_x_span", $"avg_y_span")
        spans(scaled, expr("z DIV 1024"), "zorder")
          .unionAll(spans(scaled, expr("xs DIV 4"), "linear"))
          .orderBy($"scheme")
      },
      Some("""
        WITH ev AS (
          SELECT user_id AS x,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) AS BIGINT) AS y
          FROM events),
        mm AS (SELECT min(x) AS xlo, max(x) AS xhi,
                      min(y) AS ylo, max(y) AS yhi FROM ev),
        scaled AS (
          SELECT ((x - xlo) * 256) // (xhi - xlo + 1) AS xs,
                 ((y - ylo) * 256) // (yhi - ylo + 1) AS ys
          FROM ev CROSS JOIN mm),
        z AS (
          SELECT xs, ys,
                 (((xs >> 0) & 1) << 0) + (((ys >> 0) & 1) << 1) +
                 (((xs >> 1) & 1) << 2) + (((ys >> 1) & 1) << 3) +
                 (((xs >> 2) & 1) << 4) + (((ys >> 2) & 1) << 5) +
                 (((xs >> 3) & 1) << 6) + (((ys >> 3) & 1) << 7) +
                 (((xs >> 4) & 1) << 8) + (((ys >> 4) & 1) << 9) +
                 (((xs >> 5) & 1) << 10) + (((ys >> 5) & 1) << 11) +
                 (((xs >> 6) & 1) << 12) + (((ys >> 6) & 1) << 13) +
                 (((xs >> 7) & 1) << 14) + (((ys >> 7) & 1) << 15) AS z
          FROM scaled),
        zb AS (SELECT z // 1024 AS bucket,
                      max(xs) - min(xs) AS xspan,
                      max(ys) - min(ys) AS yspan
               FROM z GROUP BY z // 1024),
        lb AS (SELECT xs // 4 AS bucket,
                      max(xs) - min(xs) AS xspan,
                      max(ys) - min(ys) AS yspan
               FROM z GROUP BY xs // 4)
        SELECT 'linear' AS scheme, count(*) AS n_buckets,
               round(avg(xspan), 4) AS avg_x_span,
               round(avg(yspan), 4) AS avg_y_span
        FROM lb
        UNION ALL
        SELECT 'zorder' AS scheme, count(*) AS n_buckets,
               round(avg(xspan), 4) AS avg_x_span,
               round(avg(yspan), 4) AS avg_y_span
        FROM zb
        ORDER BY scheme"""))
  )
}
