package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Core relational operator surface (SURVEY.md §2 Table B: scans,
  * projection, filter, aggregation, joins, set ops).
  *
  * In the reference every one of these exists only as a hand-written
  * map/reduce function pair over JSON lines (hook points
  * /root/reference/mapper.py:59, /root/reference/reducer.py:85-88); here
  * each is a declared DataFrame plan so Catalyst gets to push filters into
  * the parquet scan, prune columns, pick join strategies and run partial
  * (map-side) aggregation — none of which the reference can do (its map fn
  * receives the raw line, so nothing is prunable below it).
  *
  * Determinism discipline for the DuckDB oracle: every floating aggregate
  * is rounded (4 dp) and every result has a total ORDER BY, in both the
  * Spark plan and the oracle SQL.
  */
object Relational {
  val defs: Seq[QueryDef] = Seq(

    // ----- aggregation: the TPC-H Q1 pricing summary (SURVEY §7 M1b) ---
    // Partial hash-agg (map-side combine) + final agg; 2-col grouping key
    // keeps the shuffle tiny regardless of input scale. Filter is pushed
    // to the parquet scan.
    QueryDef(
      "q01_pricing_summary",
      (s, dir) => {
        import s.implicits._
        // money aggregates sum as INTEGER sub-units (cents / charge
        // micro-units), never as floating sums: at sf1 the ≥1M-row
        // double sum diverges from DuckDB's by SUMMATION ORDER past
        // the 4dp round (measured: sum_charge ...7537.0009 vs .0008).
        // Per-row scaling is deterministic (identical IEEE products,
        // values sit ~1e-9 from the integer, never at .5), the
        // integer sum is exact, and one final division cannot drift.
        // l_quantity is integer-valued, so its sums stay exact as-is.
        // The sub-unit representation has a capacity; MoneyGuard
        // counts rows from the parquet footers (metadata plane) and
        // promotes to the q332 DECIMAL(38,6) path past the overflow
        // ceiling — 200k currency bounds the fixture's worst |charge|
        // (measured max ≈ 127k) with margin.
        val rows = graft.engine.MoneyGuard.tableRows(Some(s), dir, "lineitem")
        val money = (c: org.apache.spark.sql.Column, unit: Long) =>
          graft.engine.MoneyGuard.moneySum(c, unit, rows, 200000.0)
        Tables.load(s, dir, "lineitem")
          .filter($"l_shipdate" <= lit("2000-12-01").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            round(sum($"l_quantity"), 4).as("sum_qty"),
            round(money($"l_extendedprice", 100), 4)
              .as("sum_base_price"),
            round(money($"l_extendedprice" * (lit(1) - $"l_discount"),
              1000000), 4).as("sum_disc_price"),
            round(money($"l_extendedprice" * (lit(1) - $"l_discount")
              * (lit(1) + $"l_tax"), 1000000), 4).as("sum_charge"),
            round(avg($"l_quantity"), 4).as("avg_qty"),
            round(money($"l_extendedprice", 100)
              / count(lit(1)), 4).as("avg_price"),
            round(money($"l_discount", 100)
              / count(lit(1)), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4) AS sum_qty,
               round(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                 / 100.0, 4) AS sum_base_price,
               round(sum(CAST(round(l_extendedprice * (1 - l_discount)
                 * 1000000) AS BIGINT)) / 1000000.0, 4) AS sum_disc_price,
               round(sum(CAST(round(l_extendedprice * (1 - l_discount)
                 * (1 + l_tax) * 1000000) AS BIGINT)) / 1000000.0, 4)
                 AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                 / 100.0 / count(*), 4) AS avg_price,
               round(sum(CAST(round(l_discount * 100) AS BIGINT))
                 / 100.0 / count(*), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // q01's money columns past the integer-unit overflow ceiling: the
    // micro-unit Long sums certify to ~sf30 (SCALING.md round-12); the
    // arbitrary-scale path sums DECIMAL(38) — exact at any row count
    // in BOTH engines (Spark decimal sum / DuckDB HUGEINT-backed),
    // summation order irrelevant by construction. Per-row cast
    // double→DECIMAL(38,6) is deterministic (2dp/6dp-exact inputs sit
    // ~1e-9 from the grid); the final double cast is one division.
    QueryDef(
      "q332_pricing_summary_decimal",
      (s, dir) => {
        import s.implicits._
        val d6 = (c: org.apache.spark.sql.Column) =>
          c.cast("decimal(38,6)")
        Tables.load(s, dir, "lineitem")
          .filter($"l_shipdate" <= lit("2000-12-01").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            round(sum(d6($"l_extendedprice")).cast("double"), 4)
              .as("sum_base_price"),
            round(sum(d6($"l_extendedprice" * (lit(1) - $"l_discount")))
              .cast("double"), 4).as("sum_disc_price"),
            round(sum(d6($"l_extendedprice" * (lit(1) - $"l_discount")
              * (lit(1) + $"l_tax"))).cast("double"), 4).as("sum_charge"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6)))
                 AS DOUBLE), 4) AS sum_base_price,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(38,6))) AS DOUBLE), 4) AS sum_disc_price,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE), 4)
                 AS sum_charge,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ----- projection + filter: predicate algebra over one scan --------
    // Catalyst pushes the whole conjunction into the parquet reader
    // (PushedFilters) and reads only 5 of 11 columns (ReadSchema).
    QueryDef(
      "q02_filter_project",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "orders")
          .filter(
            $"o_orderstatus".isin("O", "F") &&
            $"o_totalprice" > 100000.0 &&
            $"o_orderpriority".like("1%") &&
            $"o_orderdate" >= lit("1996-01-01").cast("timestamp"))
          .select(
            $"o_orderkey",
            $"o_custkey",
            round($"o_totalprice" * 0.9, 4).as("discounted"),
            upper($"o_orderstatus").as("status"))
          .orderBy($"o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_custkey,
               round(o_totalprice * 0.9, 4) AS discounted,
               upper(o_orderstatus) AS status
        FROM orders
        WHERE o_orderstatus IN ('O','F') AND o_totalprice > 100000.0
          AND o_orderpriority LIKE '1%'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
        ORDER BY o_orderkey"""))
  )
}
