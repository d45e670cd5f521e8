package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Window-function / ordering / top-k surface (SURVEY.md §2 Table B).
  *
  * The reference's substrate for all of these is its secondary sort — the
  * heap orders the whole item tuple so groups arrive value-sorted and the
  * user hand-writes rank/lag/cumsum in the reduce fn
  * (/root/reference/disk_sort.py:33,55,66-74). Here they are declared
  * Window ops; every window is keyed by a partition column so the sort is
  * per-partition after one hash shuffle — no global single-reducer step.
  * Global top-k uses orderBy+limit, which Spark executes as per-partition
  * TakeOrdered + driver merge of k rows (not a global sort).
  *
  * Ordering-determinism note: the lineitem sort key
  * (l_shipdate, l_orderkey, l_linenumber) is unique on DRIVER fixtures
  * but NOT on builder-generated sfN fixtures — FixtureGen draws
  * l_linenumber independently (reproducing the driver's ~20% duplicate
  * (l_orderkey, l_linenumber) keys), so two duplicate-key rows that also
  * hash to the same ship day tie. q28/q31 therefore extend their window
  * ordering with (l_extendedprice, l_partkey) — duplicate-key rows keep
  * independent value draws (FixtureGen seeds values off the unique row
  * index, not the key), so the extended tuple is total for both engines;
  * on driver fixtures the prefix is already unique and the trailing keys
  * are inert. The same extension lives in the oracle SQL, which is what
  * lets the sfN CORRECTNESS gate include the window family (round 12).
  */
object WindowQueries {
  val defs: Seq[QueryDef] = Seq(

    // ----- global top-k (distributed TakeOrdered) ------------------------
    QueryDef(
      "q25_topk_orders",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "orders")
          .select($"o_orderkey", $"o_custkey", round($"o_totalprice", 4).as("price"))
          .orderBy($"price".desc, $"o_orderkey")
          .limit(10)
      },
      Some("""
        SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS price
        FROM orders
        ORDER BY price DESC, o_orderkey
        LIMIT 10""")),

    // ----- per-group top-k via ranking window ----------------------------
    QueryDef(
      "q26_top3_orders_per_segment",
      (s, dir) => {
        import s.implicits._
        val o = Tables.load(s, dir, "orders")
        val c = Tables.load(s, dir, "customer")
        val w = Window.partitionBy($"c_mktsegment")
          .orderBy($"o_totalprice".desc, $"o_orderkey")
        // customer is SF-scaled — no forced broadcast, AQE decides
        o.join(c, $"o_custkey" === $"c_custkey")
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 3)
          .select($"c_mktsegment", $"rk", $"o_orderkey",
            round($"o_totalprice", 4).as("price"))
          .orderBy($"c_mktsegment", $"rk")
      },
      Some("""
        SELECT c_mktsegment, rk, o_orderkey, round(o_totalprice, 4) AS price
        FROM (
          SELECT c_mktsegment, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY c_mktsegment
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders JOIN customer ON o_custkey = c_custkey)
        WHERE rk <= 3
        ORDER BY c_mktsegment, rk""")),

    // ----- rank / dense_rank / ntile / percent_rank / cume_dist ----------
    QueryDef(
      "q27_ranking_functions",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"c_mktsegment")
          .orderBy($"c_acctbal".desc, $"c_custkey")
        Tables.load(s, dir, "customer")
          .select(
            $"c_mktsegment", $"c_custkey",
            rank().over(w).as("rnk"),
            dense_rank().over(w).as("drnk"),
            ntile(4).over(w).as("quartile"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cume"))
          .orderBy($"c_mktsegment", $"rnk", $"c_custkey")
      },
      Some("""
        SELECT c_mktsegment, c_custkey,
               rank()       OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               ntile(4)     OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist()    OVER w, 6) AS cume
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        ORDER BY c_mktsegment, rnk, c_custkey""")),

    // ----- running aggregate (rows frame) --------------------------------
    QueryDef(
      "q28_running_qty_per_supplier",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"l_suppkey")
          .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber",
            $"l_extendedprice", $"l_partkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.load(s, dir, "lineitem")
          .filter($"l_shipdate" >= lit("2001-01-01").cast("timestamp"))
          .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
            round(sum($"l_quantity").over(w), 4).as("running_qty"))
          .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber")
      },
      Some("""
        SELECT l_suppkey, l_orderkey, l_linenumber,
               round(sum(l_quantity) OVER (
                 PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber,
                          l_extendedprice, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2001-01-01'
        ORDER BY l_suppkey, l_orderkey, l_linenumber""")),

    // ----- lag / lead (analytic offsets) ----------------------------------
    QueryDef(
      "q29_lag_lead_user_events",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        Tables.load(s, dir, "events")
          .filter($"user_id" < 20)
          .select(
            $"user_id", $"event_id",
            round($"value" - lag($"value", 1).over(w), 4).as("delta_prev"),
            lead($"event_type", 1).over(w).as("next_type"))
          .orderBy($"user_id", $"event_id")
      },
      Some("""
        SELECT user_id, event_id,
               round(value - lag(value, 1) OVER w, 4) AS delta_prev,
               lead(event_type, 1) OVER w AS next_type
        FROM events
        WHERE user_id < 20
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY user_id, event_id""")),

    // ----- range frame over an integer day number -------------------------
    // 30-day trailing spend per customer: RANGE frame on a day-number
    // column (Spark rangeBetween needs a numeric order key).
    QueryDef(
      "q30_trailing_30d_spend",
      (s, dir) => {
        import s.implicits._
        val withDay = Tables.load(s, dir, "orders")
          .filter($"o_custkey" < 100)
          .withColumn("day_nr",
            datediff($"o_orderdate", lit("1995-01-01").cast("date")))
        val w = Window.partitionBy($"o_custkey").orderBy($"day_nr")
          .rangeBetween(-30, 0)
        withDay
          .select($"o_custkey", $"o_orderkey", $"day_nr",
            round(sum($"o_totalprice").over(w), 4).as("spend_30d"))
          .orderBy($"o_custkey", $"day_nr", $"o_orderkey")
      },
      Some("""
        SELECT o_custkey, o_orderkey, day_nr,
               round(sum(o_totalprice) OVER (
                 PARTITION BY o_custkey ORDER BY day_nr
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 4) AS spend_30d
        FROM (SELECT *, date_diff('day', DATE '1995-01-01', o_orderdate) AS day_nr
              FROM orders)
        WHERE o_custkey < 100
        ORDER BY o_custkey, day_nr, o_orderkey""")),

    // ----- first_value / last_value / nth_value with explicit frames ------
    QueryDef(
      "q31_first_last_value",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"l_suppkey")
          .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber",
            $"l_extendedprice", $"l_partkey")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.load(s, dir, "lineitem")
          .filter($"l_shipdate" >= lit("2001-06-01").cast("timestamp"))
          .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
            first($"l_orderkey").over(w).as("first_ok"),
            last($"l_orderkey").over(w).as("last_ok"),
            nth_value($"l_orderkey", 2).over(w).as("second_ok"))
          .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber")
      },
      Some("""
        SELECT l_suppkey, l_orderkey, l_linenumber,
               first_value(l_orderkey) OVER w AS first_ok,
               last_value(l_orderkey)  OVER w AS last_ok,
               nth_value(l_orderkey, 2) OVER w AS second_ok
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2001-06-01'
        WINDOW w AS (PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber,
                              l_extendedprice, l_partkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY l_suppkey, l_orderkey, l_linenumber""")),

    // ----- global total sort (range-partitioned in Spark) -----------------
    QueryDef(
      "q32_global_sort_suppliers",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "supplier")
          .select($"s_suppkey", $"s_name", round($"s_acctbal", 4).as("bal"))
          .orderBy($"bal".desc, $"s_suppkey")
          .withColumn("pos",
            row_number().over(Window.orderBy($"bal".desc, $"s_suppkey")))
      },
      Some("""
        SELECT s_suppkey, s_name, round(s_acctbal, 4) AS bal,
               CAST(row_number() OVER (ORDER BY round(s_acctbal, 4) DESC, s_suppkey)
                    AS INT) AS pos
        FROM supplier
        ORDER BY bal DESC, s_suppkey""")),

    // ----- distribution windows: ntile / percent_rank / cume_dist --------
    // Quartile bucketing and rank-normalization per segment — the window
    // family q27's ranking trio doesn't cover. percent_rank/cume_dist
    // are exact rationals of row counts, so the 6dp rounding is stable;
    // the full ORDER BY (acctbal, custkey) makes ntile assignment
    // deterministic cross-engine.
    QueryDef(
      "q107_window_distribution",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"c_mktsegment")
          .orderBy($"c_acctbal", $"c_custkey")
        Tables.load(s, dir, "customer")
          .select($"c_custkey", $"c_mktsegment",
            round($"c_acctbal", 4).as("bal"),
            ntile(4).over(w).as("quartile"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cume"))
          .orderBy($"c_custkey")
      },
      Some("""
        SELECT c_custkey, c_mktsegment, round(c_acctbal, 4) AS bal,
               CAST(ntile(4) OVER w AS INT) AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        ORDER BY c_custkey"""))
  )
}
