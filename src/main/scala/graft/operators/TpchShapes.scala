package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Classic TPC-H query shapes (Q4/Q6/Q10/Q12/Q14/Q16/Q17/Q18/Q19/Q21/Q22,
  * adapted to the fixture schema) — each exercises an optimizer pattern
  * beyond the earlier joins: correlated EXISTS semi join (Q4), single-pass
  * filter-aggregate (Q6), returned-item top-k (Q10), two-way conditional
  * counts over a join (Q12), conditional aggregation over a join (Q14),
  * distinct-count with an exclusion anti join (Q16), per-group-threshold
  * correlated filter (Q17), HAVING-subquery semi join (Q18), OR-of-ANDs
  * predicate bundles (Q19), EXISTS + NOT-EXISTS double correlation (Q21),
  * and anti-join + scalar-subquery gating (Q22). The fixture lacks
  * l_commitdate/l_receiptdate/partsupp, so Q4/Q12/Q21's predicates are
  * re-expressed over shipdate lateness / linestatus / returnflag — the
  * plan shapes (what the optimizer must do) are unchanged.
  */
object TpchShapes {
  val defs: Seq[QueryDef] = Seq(

    // ----- Q10 shape: top returners in a quarter -------------------------
    QueryDef(
      "q80_returned_item_customers",
      (s, dir) => {
        import s.implicits._
        val li = Tables.load(s, dir, "lineitem").filter($"l_returnflag" === "R")
        val o = Tables.load(s, dir, "orders")
          .filter($"o_orderdate" >= lit("1997-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1997-07-01").cast("timestamp"))
        val c = Tables.load(s, dir, "customer")
        val n = Tables.load(s, dir, "nation")
        // broadcast hint only on fixed-size nation; customer is SF-scaled
        // (a forced broadcast is an executor OOM at SF 100k) — its join
        // strategy is AQE's call
        li.join(o, $"l_orderkey" === $"o_orderkey")
          .join(c, $"o_custkey" === $"c_custkey")
          .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
          .groupBy($"c_custkey", $"c_name", $"n_name")
          .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 4)
            .as("revenue"))
          .orderBy($"revenue".desc, $"c_custkey")
          .limit(20)
      },
      Some("""
        SELECT c_custkey, c_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-07-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20""")),

    // ----- Q14 shape: promo revenue share --------------------------------
    QueryDef(
      "q81_promo_revenue_share",
      (s, dir) => {
        import s.implicits._
        val li = Tables.load(s, dir, "lineitem")
          .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
        // part is SF-scaled — no forced broadcast, AQE decides
        val p = Tables.load(s, dir, "part")
        li.join(p, $"l_partkey" === $"p_partkey")
          .agg(
            round(
              sum(when($"p_type" === "PROMO",
                $"l_extendedprice" * (lit(1) - $"l_discount"))
                .otherwise(lit(0.0))) * 100.0 /
                sum($"l_extendedprice" * (lit(1) - $"l_discount")), 4)
              .as("promo_pct"))
      },
      Some("""
        SELECT round(
                 sum(CASE WHEN p_type = 'PROMO'
                     THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 * 100.0 / sum(l_extendedprice * (1 - l_discount)), 4)
               AS promo_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'""")),

    // ----- Q18 shape: large-volume orders --------------------------------
    // The HAVING subquery becomes an aggregated semi side joined back —
    // one extra pass over lineitem, no correlated execution.
    QueryDef(
      "q82_large_volume_orders",
      (s, dir) => {
        import s.implicits._
        val li = Tables.load(s, dir, "lineitem")
        val big = li.groupBy($"l_orderkey".as("big_ok"))
          .agg(round(sum($"l_quantity"), 4).as("total_qty"))
          .filter($"total_qty" > 300.0)
        val o = Tables.load(s, dir, "orders")
        val c = Tables.load(s, dir, "customer")
        // customer is SF-scaled — no forced broadcast, AQE decides
        o.join(big, $"o_orderkey" === $"big_ok")
          .join(c, $"o_custkey" === $"c_custkey")
          .select($"c_custkey", $"c_name", $"o_orderkey", $"o_orderdate",
            round($"o_totalprice", 4).as("price"), $"total_qty")
          .orderBy($"price".desc, $"o_orderkey")
          .limit(50)
      },
      Some("""
        SELECT c_custkey, c_name, o_orderkey, o_orderdate,
               round(o_totalprice, 4) AS price, total_qty
        FROM orders
        JOIN (SELECT l_orderkey, round(sum(l_quantity), 4) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING sum(l_quantity) > 300.0) big
          ON o_orderkey = big.l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY price DESC, o_orderkey
        LIMIT 50""")),

    // ----- Q19 shape: OR-of-ANDs predicate brackets ----------------------
    QueryDef(
      "q83_bracketed_revenue",
      (s, dir) => {
        import s.implicits._
        val li = Tables.load(s, dir, "lineitem")
        // part is SF-scaled — no forced broadcast, AQE decides
        val p = Tables.load(s, dir, "part")
        li.join(p, $"l_partkey" === $"p_partkey")
          .filter(
            ($"p_brand" === "Brand#12" && $"p_size".between(1, 15) &&
              $"l_quantity".between(1, 11)) ||
              ($"p_brand" === "Brand#23" && $"p_size".between(1, 25) &&
                $"l_quantity".between(10, 20)) ||
              ($"p_brand" === "Brand#34" && $"p_size".between(1, 50) &&
                $"l_quantity".between(20, 30)))
          .agg(
            round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 4)
              .as("revenue"),
            count(lit(1)).as("n"))
      },
      Some("""
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               count(*) AS n
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 50
               AND l_quantity BETWEEN 20 AND 30)""")),

    // ----- Q22 shape: well-funded customers who never ordered ------------
    QueryDef(
      "q84_dormant_rich_customers",
      (s, dir) => {
        import s.implicits._
        val c = Tables.load(s, dir, "customer")
        val o = Tables.load(s, dir, "orders")
        val avgBal = c.filter($"c_acctbal" > 0.0)
          .agg(avg($"c_acctbal").as("avg_bal"))
        c.join(broadcast(avgBal))
          .filter($"c_acctbal" > $"avg_bal")
          .join(o, $"c_custkey" === $"o_custkey", "left_anti")
          .groupBy($"c_nationkey")
          .agg(count(lit(1)).as("n_cust"),
            round(sum($"c_acctbal"), 4).as("total_bal"))
          .orderBy($"c_nationkey")
      },
      Some("""
        SELECT c_nationkey, count(*) AS n_cust,
               round(sum(c_acctbal), 4) AS total_bal
        FROM customer c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                           WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_nationkey
        ORDER BY c_nationkey""")),

    // ----- Q4 shape: priority counts gated by a correlated EXISTS --------
    // The correlated EXISTS (an order has at least one late-shipping line)
    // plans as a left-semi join with a cross-side predicate — one pass
    // over each table, no per-row subquery execution.
    QueryDef(
      "q91_priority_late_ship",
      (s, dir) => {
        import s.implicits._
        val o = Tables.load(s, dir, "orders")
          .filter($"o_orderdate" >= lit("1997-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1997-10-01").cast("timestamp"))
        val li = Tables.load(s, dir, "lineitem").select($"l_orderkey", $"l_shipdate")
        o.join(li,
          $"o_orderkey" === $"l_orderkey" &&
            $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"),
          "left_semi")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n_orders"))
          .orderBy($"o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-10-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // ----- Q6 shape: single-pass filter-aggregate -------------------------
    // All three predicates push to the parquet scan; the whole query is
    // one scan + partial/final agg, the cheapest possible 100 TB plan.
    QueryDef(
      "q92_forecast_revenue",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "lineitem")
          .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1998-01-01").cast("timestamp") &&
            $"l_discount".between(0.03, 0.07) && $"l_quantity" < 24.0)
          .agg(round(sum($"l_extendedprice" * $"l_discount"), 4).as("revenue"),
            count(lit(1)).as("n"))
      },
      Some("""
        SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
               count(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24.0""")),

    // ----- Q12 shape: two-way conditional counts over a join --------------
    QueryDef(
      "q93_linestatus_priority",
      (s, dir) => {
        import s.implicits._
        val hi = Seq("1-URGENT", "2-HIGH")
        Tables.load(s, dir, "lineitem")
          .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
          .join(Tables.load(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
          .groupBy($"l_linestatus")
          .agg(
            sum(when($"o_orderpriority".isin(hi: _*), 1L).otherwise(0L))
              .as("high_line_count"),
            sum(when(!$"o_orderpriority".isin(hi: _*), 1L).otherwise(0L))
              .as("low_line_count"))
          .orderBy($"l_linestatus")
      },
      Some("""
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_linestatus
        ORDER BY l_linestatus""")),

    // ----- Q16 shape: distinct-count with an exclusion anti join ----------
    // (partsupp is absent; lineitem's (partkey, suppkey) plays its role)
    QueryDef(
      "q94_supplier_part_counts",
      (s, dir) => {
        import s.implicits._
        val excluded = Tables.load(s, dir, "supplier")
          .filter($"s_acctbal" < 0.0).select($"s_suppkey")
        val p = Tables.load(s, dir, "part")
          .filter($"p_brand" =!= "Brand#45" && $"p_size".isin(1, 4, 7))
        Tables.load(s, dir, "lineitem")
          .select($"l_partkey", $"l_suppkey").distinct()
          .join(p, $"l_partkey" === $"p_partkey")
          .join(excluded, $"l_suppkey" === $"s_suppkey", "left_anti")
          .groupBy($"p_brand", $"p_type", $"p_size")
          .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
          .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
      },
      Some("""
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#45'
          AND p_size IN (1, 4, 7)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0.0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")),

    // ----- Q17 shape: per-group threshold (decorrelated) -------------------
    // The correlated avg-quantity subquery decorrelates into one pre-agg
    // over the SAME filtered subset + an equi join: two passes over the
    // brand's lines, never a per-row subquery. (Quantities are integral,
    // so avg is order-independent in double — safe cross-engine.)
    QueryDef(
      "q95_small_qty_revenue",
      (s, dir) => {
        import s.implicits._
        val p = Tables.load(s, dir, "part").filter($"p_brand" === "Brand#23")
          .select($"p_partkey")
        val sel = Tables.load(s, dir, "lineitem")
          .join(p, $"l_partkey" === $"p_partkey")
          .select($"l_partkey", $"l_quantity", $"l_extendedprice")
        val th = sel.groupBy($"l_partkey".as("ap"))
          .agg((avg($"l_quantity") * 0.2).as("thresh"))
        sel.join(th, $"l_partkey" === $"ap")
          .filter($"l_quantity" < $"thresh")
          .agg(round(sum($"l_extendedprice") / 7.0, 4).as("avg_yearly"),
            count(lit(1)).as("n"))
      },
      Some("""
        WITH sel AS (
          SELECT l_partkey, l_quantity, l_extendedprice
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_brand = 'Brand#23'),
        th AS (SELECT l_partkey AS ap, 0.2 * avg(l_quantity) AS thresh
               FROM sel GROUP BY l_partkey)
        SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly,
               count(*) AS n
        FROM sel JOIN th ON l_partkey = ap
        WHERE l_quantity < thresh""")),

    // ----- Q21 shape: EXISTS + NOT EXISTS double correlation --------------
    // Suppliers who are the ONLY supplier with returned lines in a
    // multi-supplier order: both correlations plan as one semi and one
    // anti join over distinct (order, supplier) pairs — no re-scan per row.
    QueryDef(
      "q96_sole_returning_supplier",
      (s, dir) => {
        import s.implicits._
        // EXISTS-other-supplier / NOT-EXISTS-other-R-supplier as one
        // per-order aggregate (n_all > 1, n_r == 1) instead of theta
        // semi/anti joins: two narrow shuffles on l_orderkey replace
        // three lineitem passes + two non-equi sort-merge joins
        val pairs = Tables.load(s, dir, "lineitem")
          .select($"l_orderkey", $"l_suppkey", $"l_returnflag")
        val stats = pairs.groupBy($"l_orderkey").agg(
          countDistinct($"l_suppkey").as("n_all"),
          countDistinct(when($"l_returnflag" === "R", $"l_suppkey")).as("n_r"))
        val r = pairs.filter($"l_returnflag" === "R")
          .select($"l_orderkey", $"l_suppkey").distinct()
        r.join(stats, "l_orderkey")
          .filter($"n_all" > 1 && $"n_r" === 1)
          .join(Tables.load(s, dir, "supplier"),
            $"l_suppkey" === $"s_suppkey")
          .groupBy($"s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy($"numwait".desc, $"s_name")
          .limit(20)
      },
      Some("""
        WITH r AS (SELECT DISTINCT l_orderkey, l_suppkey
                   FROM lineitem WHERE l_returnflag = 'R'),
        a AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
        SELECT s_name, count(*) AS numwait
        FROM r JOIN supplier ON r.l_suppkey = s_suppkey
        WHERE EXISTS (SELECT 1 FROM a
                      WHERE a.l_orderkey = r.l_orderkey
                        AND a.l_suppkey <> r.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM r r2
                          WHERE r2.l_orderkey = r.l_orderkey
                            AND r2.l_suppkey <> r.l_suppkey)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20""")),

    // ----- Q8 shape: market share over a double-dimension snowflake ------
    // Two independent nation lookups (supplier side, customer→region
    // side) hang off one fact join — the optimizer must broadcast both
    // chains and keep the fact table unshuffled; the share is a ratio of
    // two sums over the SAME rows, so FP summation drift cancels at 4dp.
    // Broadcast hints ONLY on the fixed-cardinality dims (nation 25 rows,
    // region 5 rows — constant at every SF); customer/supplier/part grow
    // linearly with scale factor, so their join strategy is left to
    // AQE/autoBroadcastJoinThreshold — a forced broadcast(customer) is an
    // executor OOM at SF 100k.
    QueryDef(
      "q141_market_share",
      (s, dir) => {
        import s.implicits._
        val li = Tables.load(s, dir, "lineitem")
        val o = Tables.load(s, dir, "orders")
          .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
        val p = Tables.load(s, dir, "part").filter($"p_type" === "ECONOMY")
        val sup = Tables.load(s, dir, "supplier")
        val sn = Tables.load(s, dir, "nation").toDF("sn_key", "supp_nation", "sn_rk")
        val c = Tables.load(s, dir, "customer")
        val cn = Tables.load(s, dir, "nation").toDF("cn_key", "cn_name", "cn_rk")
        val r = Tables.load(s, dir, "region").filter($"r_name" === "ASIA")
        li.join(o, $"l_orderkey" === $"o_orderkey")
          .join(p, $"l_partkey" === $"p_partkey")
          .join(sup, $"l_suppkey" === $"s_suppkey")
          .join(broadcast(sn), $"s_nationkey" === $"sn_key")
          .join(c, $"o_custkey" === $"c_custkey")
          .join(broadcast(cn), $"c_nationkey" === $"cn_key")
          .join(broadcast(r), $"cn_rk" === $"r_regionkey")
          .select(year($"o_orderdate").as("yr"),
            ($"l_extendedprice" * (lit(1) - $"l_discount")).as("vol"),
            $"supp_nation")
          .groupBy($"yr")
          .agg(round(
            sum(when($"supp_nation" === "NATION_3", $"vol").otherwise(0.0)) /
              sum($"vol"), 4).as("mkt_share"))
          .orderBy($"yr")
      },
      Some("""
        WITH v AS (
          SELECT year(o_orderdate) AS yr,
                 l_extendedprice*(1-l_discount) AS vol,
                 sn.n_name AS supp_nation
          FROM lineitem JOIN orders ON l_orderkey=o_orderkey
          JOIN part ON l_partkey=p_partkey
          JOIN supplier ON l_suppkey=s_suppkey
          JOIN nation sn ON s_nationkey=sn.n_nationkey
          JOIN customer ON o_custkey=c_custkey
          JOIN nation cn ON c_nationkey=cn.n_nationkey
          JOIN region ON cn.n_regionkey=r_regionkey
          WHERE r_name='ASIA' AND p_type='ECONOMY'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1998-01-01')
        SELECT yr,
               round(sum(CASE WHEN supp_nation='NATION_3' THEN vol ELSE 0 END)
                     / sum(vol), 4) AS mkt_share
        FROM v GROUP BY yr ORDER BY yr""")),

    // ----- Q9 shape: product-type profit by nation and year --------------
    // (ps_supplycost does not exist in the fixture; unit cost is
    // surrogated as 10% of p_retailprice — the plan shape, a LIKE-filtered
    // part dimension over a 4-way snowflake with a two-level grouping, is
    // what matters.) Profit is computed in EXACT integer 10^-4 units:
    // extendedprice*(1-discount) has 4dp (2dp x 2dp) and
    // 0.1*retailprice*quantity has 3dp, so scaling by 10^4 makes every
    // per-row term integer-valued — the sum is order-independent and
    // cannot flip a decimal across engines the way a raw double sum can
    // (same exactness discipline as q143-q147's integer cents). Broadcast
    // hint only on fixed-size nation; part/supplier are SF-scaled and
    // left to AQE.
    QueryDef(
      "q142_nation_profit",
      (s, dir) => {
        import s.implicits._
        val li = Tables.load(s, dir, "lineitem")
        val o = Tables.load(s, dir, "orders")
        val p = Tables.load(s, dir, "part").filter($"p_name".like("%widget%"))
        val sup = Tables.load(s, dir, "supplier")
        val n = Tables.load(s, dir, "nation")
        li.join(o, $"l_orderkey" === $"o_orderkey")
          .join(p, $"l_partkey" === $"p_partkey")
          .join(sup, $"l_suppkey" === $"s_suppkey")
          .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
          .select($"n_name", year($"o_orderdate").as("yr"),
            (round($"l_extendedprice" * (lit(1) - $"l_discount") * 10000) -
              round($"p_retailprice" * 1000) * $"l_quantity")
              .cast("long").as("amount_e4"))
          .groupBy($"n_name", $"yr")
          .agg(round(sum($"amount_e4") / 10000.0, 4).as("profit"))
          .orderBy($"n_name", $"yr".desc)
      },
      Some("""
        SELECT n_name, year(o_orderdate) AS yr,
               round(CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000)
                                   - round(p_retailprice*1000)*l_quantity
                                   AS BIGINT)) AS BIGINT) / 10000.0, 4) AS profit
        FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        JOIN part ON l_partkey=p_partkey
        JOIN supplier ON l_suppkey=s_suppkey
        JOIN nation ON s_nationkey=n_nationkey
        WHERE p_name LIKE '%widget%'
        GROUP BY n_name, yr
        ORDER BY n_name, yr DESC""")),

    // ----- Q2 shape: cheapest supplier per part in a region --------------
    // (partsupp does not exist; the part↔supplier cost relation is
    // derived from lineitem history, with unit cost in EXACT integer
    // cents — `round(price*100) DIV quantity` per row, integer min — so
    // the argmin selection cannot flip on FP summation order.)
    QueryDef(
      "q143_cheapest_supplier",
      (s, dir) => {
        import s.implicits._
        val li = Tables.load(s, dir, "lineitem")
        val sup = Tables.load(s, dir, "supplier")
        val n = Tables.load(s, dir, "nation")
        val r = Tables.load(s, dir, "region").filter($"r_name" === "EUROPE")
        val p = Tables.load(s, dir, "part").filter($"p_size" === 10)
        val pairs = li
          .join(sup, $"l_suppkey" === $"s_suppkey")
          .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
          .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
          .select($"l_partkey", $"l_suppkey",
            expr("CAST(round(l_extendedprice*100) AS BIGINT) DIV CAST(l_quantity AS BIGINT)")
              .as("unit_cents"))
          .groupBy($"l_partkey", $"l_suppkey")
          .agg(min($"unit_cents").as("cost"))
        pairs
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy($"l_partkey").orderBy($"cost", $"l_suppkey")))
          .filter($"rn" === 1)
          .join(p, $"l_partkey" === $"p_partkey")
          .select($"l_partkey".as("p_partkey"), $"l_suppkey".as("s_suppkey"),
            $"cost")
          .orderBy($"p_partkey")
      },
      Some("""
        WITH pairs AS (
          SELECT l_partkey, l_suppkey,
                 min(CAST(round(l_extendedprice*100) AS BIGINT)
                     // CAST(l_quantity AS BIGINT)) AS cost
          FROM lineitem JOIN supplier ON l_suppkey=s_suppkey
          JOIN nation ON s_nationkey=n_nationkey
          JOIN region ON n_regionkey=r_regionkey
          WHERE r_name='EUROPE'
          GROUP BY l_partkey, l_suppkey),
        best AS (
          SELECT l_partkey, l_suppkey, cost,
                 row_number() OVER (PARTITION BY l_partkey
                                    ORDER BY cost, l_suppkey) AS rn
          FROM pairs)
        SELECT l_partkey AS p_partkey, l_suppkey AS s_suppkey, cost
        FROM best JOIN part ON l_partkey=p_partkey
        WHERE rn=1 AND p_size=10
        ORDER BY p_partkey""")),

    // ----- Q11 shape: important stock, global-fraction HAVING ------------
    // (availqty*supplycost surrogated as shipped cents*quantity.) The
    // distinctive plan: a grouped value vs a SCALAR SUBQUERY over the
    // same grouping — kept in exact integers so `val*500 > total` is an
    // integer comparison, immune to FP drift on both engines.
    QueryDef(
      "q144_important_parts",
      (s, dir) => {
        import s.implicits._
        val v = Tables.load(s, dir, "lineitem")
          .join(Tables.load(s, dir, "supplier"), $"l_suppkey" === $"s_suppkey")
          .filter($"s_nationkey" === 5)
          .select($"l_partkey",
            (expr("CAST(round(l_extendedprice*100) AS BIGINT)") *
              $"l_quantity".cast("long")).as("cents"))
          .groupBy($"l_partkey")
          .agg(sum($"cents").as("value_cents"))
        val total = v.agg(sum($"value_cents").as("total"))
        v.crossJoin(broadcast(total))
          .filter($"value_cents" * 500 > $"total")
          .select($"l_partkey", $"value_cents")
          .orderBy($"value_cents".desc, $"l_partkey")
      },
      Some("""
        WITH v AS (
          SELECT l_partkey,
                 CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                          * CAST(l_quantity AS BIGINT)) AS BIGINT) AS value_cents
          FROM lineitem JOIN supplier ON l_suppkey=s_suppkey
          WHERE s_nationkey=5 GROUP BY l_partkey)
        SELECT l_partkey, value_cents
        FROM v WHERE value_cents*500 > (SELECT sum(value_cents) FROM v)
        ORDER BY value_cents DESC, l_partkey""")),

    // ----- Q13 shape: order-count distribution (left join + re-group) ----
    QueryDef(
      "q145_order_count_distribution",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "customer")
          .join(Tables.load(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left")
          .groupBy($"c_custkey")
          .agg(count($"o_orderkey").as("c_count"))
          .groupBy($"c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy($"custdist".desc, $"c_count".desc)
      },
      Some("""
        WITH cc AS (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey=o_custkey
          GROUP BY c_custkey)
        SELECT c_count, count(*) AS custdist
        FROM cc GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC""")),

    // ----- Q15 shape: top supplier (aggregate = scalar max subquery) -----
    // Revenue in exact integer cents (per-row round, integer sum) so the
    // equality against the max cannot miss by one ulp.
    QueryDef(
      "q146_top_supplier",
      (s, dir) => {
        import s.implicits._
        val rev = Tables.load(s, dir, "lineitem")
          .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
          .select($"l_suppkey",
            expr("CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)")
              .as("cents"))
          .groupBy($"l_suppkey")
          .agg(sum($"cents").as("revenue_cents"))
        val mx = rev.agg(max($"revenue_cents").as("mx"))
        rev.crossJoin(broadcast(mx))
          .filter($"revenue_cents" === $"mx")
          .join(Tables.load(s, dir, "supplier"), $"l_suppkey" === $"s_suppkey")
          .select($"s_suppkey", $"s_name", $"revenue_cents")
          .orderBy($"s_suppkey")
      },
      Some("""
        WITH rev AS (
          SELECT l_suppkey,
                 CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100)
                               AS BIGINT)) AS BIGINT) AS revenue_cents
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, revenue_cents
        FROM rev JOIN supplier ON l_suppkey=s_suppkey
        WHERE revenue_cents = (SELECT max(revenue_cents) FROM rev)
        ORDER BY s_suppkey""")),

    // ----- Q20 shape: disproportionate suppliers of a part family --------
    // (availqty does not exist; "excess share" is re-expressed as a
    // supplier shipping more than 1/8 of a part's total volume —
    // per-group total joined back, integral quantities, integer compare.)
    QueryDef(
      "q147_excess_suppliers",
      (s, dir) => {
        import s.implicits._
        val pq = Tables.load(s, dir, "lineitem")
          .join(Tables.load(s, dir, "part").filter($"p_name".like("cold%")),
            $"l_partkey" === $"p_partkey")
          .groupBy($"l_partkey", $"l_suppkey")
          .agg(sum($"l_quantity").cast("long").as("sq"))
        val tot = pq.groupBy($"l_partkey").agg(sum($"sq").as("tq"))
        pq.join(tot, "l_partkey")
          .filter($"sq" * 8 > $"tq")
          .join(Tables.load(s, dir, "supplier"), $"l_suppkey" === $"s_suppkey")
          .select($"s_name").distinct()
          .orderBy($"s_name")
      },
      Some("""
        WITH pq AS (
          SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS sq
          FROM lineitem JOIN part ON l_partkey=p_partkey
          WHERE p_name LIKE 'cold%'
          GROUP BY l_partkey, l_suppkey),
        tot AS (SELECT l_partkey, CAST(sum(sq) AS BIGINT) AS tq
                FROM pq GROUP BY l_partkey)
        SELECT DISTINCT s_name
        FROM pq JOIN tot USING (l_partkey)
        JOIN supplier ON l_suppkey=s_suppkey
        WHERE sq*8 > tq
        ORDER BY s_name"""))
  )
}
