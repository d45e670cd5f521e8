package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Join operator surface (SURVEY.md §2 Table B, join rows).
  *
  * In the reference all of these are the hand-written "reduce-side join"
  * pattern — map both inputs to (joinkey, tagged value) and pair the tags
  * inside one sorted group (/root/reference/disk_sort.py:39-75) — or the
  * "map-side join" pattern of probing broadcast auxiliary data
  * (/root/reference/mapper.py:150-157). Here each variant is a declared
  * join; Catalyst + AQE choose broadcast-hash vs sort-merge vs
  * shuffled-hash at runtime. Broadcast hints appear ONLY on
  * fixed-cardinality relations (nation/region, literal band tables,
  * 1-row aggregates); SF-scaled tables (customer/supplier/part) are left
  * to AQE's size-based decision — at test scale they still broadcast
  * (PlanAuditSpec pins it), and at SF 100k a forced hint would be an
  * executor OOM instead of a graceful shuffle.
  */
object Joins {
  val defs: Seq[QueryDef] = Seq(

    // ----- inner equi-join chain + agg: revenue per nation -------------
    // lineitem⋈orders is the only big-big join (sort-merge / AQE).
    // Broadcast hint only on fixed-cardinality nation (25 rows at every
    // SF); customer grows with scale factor, so its strategy is left to
    // AQE/autoBroadcastJoinThreshold — a forced broadcast(customer) is
    // an executor OOM at SF 100k.
    QueryDef(
      "q03_join_revenue_by_nation",
      (s, dir) => {
        import s.implicits._
        val li = Tables.load(s, dir, "lineitem")
        val o = Tables.load(s, dir, "orders")
        val c = Tables.load(s, dir, "customer")
        val n = Tables.load(s, dir, "nation")
        li.join(o, $"l_orderkey" === $"o_orderkey")
          .join(c, $"o_custkey" === $"c_custkey")
          .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
          .groupBy($"n_name")
          .agg(
            round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 4).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy($"n_name")
      },
      Some("""
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name""")),

    // ----- left outer join: preserved rows + null-aware counting -------
    QueryDef(
      "q04_left_join_order_items",
      (s, dir) => {
        import s.implicits._
        val o = Tables.load(s, dir, "orders")
        val li = Tables.load(s, dir, "lineitem").filter($"l_quantity" >= 45.0)
        o.join(li, $"o_orderkey" === $"l_orderkey", "left")
          .groupBy($"o_orderkey")
          .agg(
            count($"l_orderkey").as("big_items"),
            round(coalesce(sum($"l_quantity"), lit(0.0)), 4).as("big_qty"))
          .orderBy($"o_orderkey")
      },
      Some("""
        SELECT o_orderkey,
               count(l_orderkey) AS big_items,
               round(coalesce(sum(l_quantity), 0), 4) AS big_qty
        FROM orders
        LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity >= 45.0) li
          ON o_orderkey = l_orderkey
        GROUP BY o_orderkey
        ORDER BY o_orderkey""")),

    // ----- left semi join (EXISTS) --------------------------------------
    QueryDef(
      "q05_semi_join_big_spenders",
      (s, dir) => {
        import s.implicits._
        val c = Tables.load(s, dir, "customer")
        val o = Tables.load(s, dir, "orders").filter($"o_totalprice" > 400000.0)
        c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
          .select($"c_custkey", $"c_name", $"c_mktsegment")
          .orderBy($"c_custkey")
      },
      Some("""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
        ORDER BY c_custkey""")),

    // ----- left anti join (NOT EXISTS) ----------------------------------
    QueryDef(
      "q06_anti_join_no_big_order",
      (s, dir) => {
        import s.implicits._
        val c = Tables.load(s, dir, "customer")
        val o = Tables.load(s, dir, "orders").filter($"o_totalprice" > 400000.0)
        c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
          .select($"c_custkey", $"c_acctbal")
          .orderBy($"c_custkey")
      },
      Some("""
        SELECT c_custkey, c_acctbal
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
        ORDER BY c_custkey""")),

    // ----- full outer join of two aggregates ----------------------------
    QueryDef(
      "q07_full_outer_nation_counts",
      (s, dir) => {
        import s.implicits._
        val cust = Tables.load(s, dir, "customer")
          .groupBy($"c_nationkey".as("nationkey")).agg(count(lit(1)).as("n_customers"))
        val supp = Tables.load(s, dir, "supplier")
          .groupBy($"s_nationkey".as("nationkey")).agg(count(lit(1)).as("n_suppliers"))
        cust.join(supp, Seq("nationkey"), "full_outer")
          .select(
            $"nationkey",
            coalesce($"n_customers", lit(0L)).as("n_customers"),
            coalesce($"n_suppliers", lit(0L)).as("n_suppliers"))
          .orderBy($"nationkey")
      },
      Some("""
        SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
               coalesce(n_customers, 0) AS n_customers,
               coalesce(n_suppliers, 0) AS n_suppliers
        FROM (SELECT c_nationkey AS nationkey, count(*) AS n_customers
              FROM customer GROUP BY 1) c
        FULL OUTER JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
                         FROM supplier GROUP BY 1) s
          USING (nationkey)
        ORDER BY nationkey""")),

    // ----- cross join ----------------------------------------------------
    QueryDef(
      "q08_cross_join_region_nation",
      (s, dir) => {
        import s.implicits._
        val r = Tables.load(s, dir, "region").select($"r_name")
        val n = Tables.load(s, dir, "nation").select($"n_name")
        r.crossJoin(n)
          .select($"r_name", $"n_name")
          .orderBy($"r_name", $"n_name")
      },
      Some("""
        SELECT r_name, n_name FROM region CROSS JOIN nation
        ORDER BY r_name, n_name""")),

    // ----- broadcast (map-side) join ------------------------------------
    // The reference's auxiliary-data probe (/root/reference/mapper.py:150)
    // as a broadcast hash join: no shuffle of the fact table. The hint is
    // deliberately OMITTED — part is SF-scaled, so the broadcast decision
    // belongs to AQE/autoBroadcastJoinThreshold, which picks broadcast
    // whenever the dim actually fits; PlanAuditSpec pins that the plan IS
    // a BroadcastHashJoin at test scale.
    QueryDef(
      "q09_broadcast_join_brand_revenue",
      (s, dir) => {
        import s.implicits._
        val li = Tables.load(s, dir, "lineitem")
        val p = Tables.load(s, dir, "part")
        li.join(p, $"l_partkey" === $"p_partkey")
          .groupBy($"p_brand")
          .agg(
            round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 4).as("revenue"),
            round(sum($"l_quantity"), 4).as("qty"))
          .orderBy($"p_brand")
      },
      Some("""
        SELECT p_brand,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               round(sum(l_quantity), 4) AS qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
        ORDER BY p_brand""")),

    // ----- range (band) join --------------------------------------------
    // Non-equi predicate: broadcast nested-loop against a tiny banding
    // relation — the scalable plan for fact-vs-bands at any data size.
    QueryDef(
      "q10_range_join_quantity_bands",
      (s, dir) => {
        import s.implicits._
        val bands = Seq((1.0, 10.0, "low"), (11.0, 25.0, "mid"), (26.0, 50.0, "high"))
          .toDF("lo", "hi", "band")
        Tables.load(s, dir, "lineitem")
          .join(broadcast(bands), $"l_quantity" >= $"lo" && $"l_quantity" <= $"hi")
          .groupBy($"band")
          .agg(
            count(lit(1)).as("n_items"),
            // money sums in integer cents (the MoneyGuard discipline):
            // a Double sum over millions of rows is partition-order
            // dependent in its last ULPs, and round(...,4) flips when
            // the true value sits on a 1e-4 boundary — it flaked ONCE
            // in a 135-query sf1 chunk this way
            sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
              .as("base_price_cents"))
          .orderBy($"band")
      },
      Some("""
        SELECT band, count(*) AS n_items,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                 AS BIGINT) AS base_price_cents
        FROM lineitem
        JOIN (VALUES (1.0, 10.0, 'low'), (11.0, 25.0, 'mid'), (26.0, 50.0, 'high'))
             AS bands(lo, hi, band)
          ON l_quantity >= lo AND l_quantity <= hi
        GROUP BY band
        ORDER BY band""")),

    // ----- as-of join -----------------------------------------------------
    // Latest prior click per purchase, per user. Spark lacks a native
    // as-of join; the scalable recipe is union-merge + running
    // last(ignoreNulls) over one user-partitioned window — a single
    // shuffle on user_id, no per-row subquery, no skew-prone self-join.
    QueryDef(
      "q11_asof_join_last_click",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.load(s, dir, "events")
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"user_id", $"ts", $"event_id", lit(null).cast("timestamp").as("c_ts"),
            lit(1).as("is_p"))
        val clicks = ev.filter($"event_type" === "click")
          .select($"user_id", $"ts", lit(null).cast("long").as("event_id"),
            $"ts".as("c_ts"), lit(0).as("is_p"))
        // at equal ts the click (is_p=0) sorts first, so ts<=purchase.ts holds
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"is_p")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        purchases.unionByName(clicks)
          .withColumn("last_click_ts", last($"c_ts", ignoreNulls = true).over(w))
          .filter($"is_p" === 1)
          .select($"event_id", $"user_id", $"ts", $"last_click_ts")
          .orderBy($"event_id")
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
               (SELECT max(c.ts) FROM events c
                WHERE c.event_type = 'click' AND c.user_id = p.user_id
                  AND c.ts <= p.ts) AS last_click_ts
        FROM events p
        WHERE p.event_type = 'purchase'
        ORDER BY p.event_id""")),

    // ----- as-of join with TOLERANCE (kdb/QuestDB `asof ... within`) ----
    // q11's union-merge running-last, then one row-local staleness test:
    // a match older than the tolerance is null'd out rather than joined.
    // Same single-shuffle shape — the tolerance never becomes a range
    // JOIN PREDICATE (which would fan out candidates); it is applied
    // AFTER the per-key merge, on exact integer microseconds.
    QueryDef(
      "q210_asof_tolerance",
      (s, dir) => {
        import s.implicits._
        val tolUs = 2L * 86400000000L // 2 days
        val ev = Tables.load(s, dir, "events")
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"user_id", $"ts", $"event_id",
            lit(null).cast("timestamp").as("c_ts"), lit(1).as("is_p"))
        val clicks = ev.filter($"event_type" === "click")
          .select($"user_id", $"ts", lit(null).cast("long").as("event_id"),
            $"ts".as("c_ts"), lit(0).as("is_p"))
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"is_p")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        purchases.unionByName(clicks)
          .withColumn("_last", last($"c_ts", ignoreNulls = true).over(w))
          .filter($"is_p" === 1)
          .withColumn("last_click_ts",
            when(unix_micros($"ts") - unix_micros($"_last") <= tolUs, $"_last"))
          .select($"event_id", $"user_id", $"ts", $"last_click_ts")
          .orderBy($"event_id")
      },
      Some("""
        SELECT p.event_id, p.user_id, p.ts,
               (SELECT max(c.ts) FROM events c
                WHERE c.event_type = 'click' AND c.user_id = p.user_id
                  AND c.ts <= p.ts
                  AND c.ts >= p.ts - INTERVAL 2 DAY) AS last_click_ts
        FROM events p
        WHERE p.event_type = 'purchase'
        ORDER BY p.event_id""")),

    // ----- TPC-H Q3 shape: top-k over a 3-way join ----------------------
    QueryDef(
      "q12_top_unshipped_orders",
      (s, dir) => {
        import s.implicits._
        val c = Tables.load(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
        val o = Tables.load(s, dir, "orders")
          .filter($"o_orderdate" < lit("1999-01-01").cast("timestamp"))
        val li = Tables.load(s, dir, "lineitem")
          .filter($"l_shipdate" > lit("1999-01-01").cast("timestamp"))
        // customer is SF-scaled (even segment-filtered it grows with SF)
        // — no forced broadcast, AQE decides
        li.join(o, $"l_orderkey" === $"o_orderkey")
          .join(c, $"o_custkey" === $"c_custkey")
          .groupBy($"l_orderkey", $"o_orderdate")
          .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 4).as("revenue"))
          .orderBy($"revenue".desc, $"l_orderkey")
          .limit(10)
      },
      Some("""
        SELECT l_orderkey, o_orderdate,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1999-01-01'
          AND l_shipdate > TIMESTAMP '1999-01-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10""")),

    // ----- TPC-H Q5 shape: 6-table join --------------------------------
    QueryDef(
      "q13_local_supplier_volume",
      (s, dir) => {
        import s.implicits._
        val li = Tables.load(s, dir, "lineitem")
        val o = Tables.load(s, dir, "orders")
          .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1999-01-01").cast("timestamp"))
        val c = Tables.load(s, dir, "customer")
        val sup = Tables.load(s, dir, "supplier")
        val n = Tables.load(s, dir, "nation")
        val r = Tables.load(s, dir, "region").filter($"r_name" === "ASIA")
        // customer/supplier are SF-scaled — no forced broadcast on them
        li.join(o, $"l_orderkey" === $"o_orderkey")
          .join(c, $"o_custkey" === $"c_custkey")
          .join(sup,
            $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
          .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
          .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
          .groupBy($"n_name")
          .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 4).as("revenue"))
          .orderBy($"revenue".desc, $"n_name")
      },
      Some("""
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1999-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name""")),

    // ----- runtime bloom-filter join pruning -----------------------------
    // The shuffle-join complement of q09's broadcast: when the dimension
    // is too big to broadcast but carries a selective filter, Catalyst's
    // InjectRuntimeFilter builds a bloom filter over the surviving join
    // keys and drops non-matching fact rows AT THE SCAN, before they pay
    // the shuffle — at 100 TB that is "shuffle the ~2% that can join"
    // instead of the whole fact table. The thresholds here emulate
    // fact-scale conditions at fixture size (probe-side floor to 0,
    // broadcast off so the join actually shuffles); PlanAuditSpec's
    // "runtime bloom filter" case pins that the filter really injects
    // into this exact shape. localCheckpoint materializes the (tiny)
    // grouped result while the confs are live — the returned frame must
    // not re-plan after the finally restores them.
    QueryDef(
      "q169_bloom_filter_join",
      (s, dir) => {
        import s.implicits._
        val confs = Seq(
          "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
        val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
        confs.foreach { case (k, v) => s.conf.set(k, v) }
        try {
          val o = Tables.load(s, dir, "orders")
            .filter($"o_orderpriority" === "1-URGENT")
            .select($"o_orderkey", $"o_orderpriority")
          Tables.load(s, dir, "lineitem")
            .select($"l_orderkey", $"l_returnflag", $"l_quantity")
            .join(o, $"l_orderkey" === $"o_orderkey")
            .groupBy($"l_returnflag")
            .agg(count(lit(1)).as("n"),
              round(sum($"l_quantity"), 4).as("sum_qty"))
            .localCheckpoint()
            .orderBy($"l_returnflag")
        } finally prev.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      Some("""
        SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // ----- interval overlap self-join (bin blocking + exact verify) ------
    // max-quantity shipments whose 7-day shipping windows overlapped:
    // the oracle is the O(n²) scan the binning avoids.
    //
    // Scale disposition (q42/q114 pattern): this pair-LISTING form is
    // the exactness baseline. Its OUTPUT is quadratic in interval
    // density over the fixed date range — 10× data ⇒ ~100× pairs — so
    // materializing + globally sorting the listing cannot scale
    // linearly no matter the plan; q222 below is the production shape
    // (same exact pair enumeration, collapsed map-side into a bounded
    // aggregate before any pair-width shuffle).
    //
    // Identity: the fixture's (l_orderkey, l_linenumber) is NOT unique
    // (~20% of rows are key-duplicates at every SF — surfaced by the
    // sf0.1 oracle run, where two key-colliding shipments first produced
    // identical pair rows that intervalSelfOverlap's candidate-dedup
    // collapsed while the O(n²) oracle kept both). The interval identity
    // is therefore the DISTINCT (key, start-day) pair, composite-encoded
    // as one bigint on both sides — well-defined ("distinct shipment
    // windows") and stable under duplicate fixture keys. s < 65536 for
    // any date before year 2149, so the encoding is collision-free.
    QueryDef(
      "q183_interval_overlap_join",
      (s, dir) => {
        import s.implicits._
        intervalSelfOverlap(shipmentWindows(s, dir), binWidth = 8)
          .orderBy($"id_a", $"id_b")
      },
      Some("""
        WITH base AS (
          SELECT DISTINCT l_orderkey * 10 + l_linenumber AS k,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(l_shipdate AS DATE)) AS BIGINT) AS s
          FROM lineitem WHERE l_quantity >= 50),
        iv AS (SELECT k * 65536 + s AS id, s, s + 7 AS e FROM base)
        SELECT a.id AS id_a, b.id AS id_b,
               least(a.e, b.e) - greatest(a.s, b.s) + 1 AS overlap_days
        FROM iv a JOIN iv b
          ON a.id < b.id AND a.s <= b.e AND b.s <= a.e
        ORDER BY id_a, id_b""")),

    // ----- interval overlap stats (the 100 TB shape of q183) -------------
    // Same exact pair enumeration — every overlapping window pair is
    // generated once via canonical-bin emission — but the pair stream
    // collapses into a histogram of overlap lengths INSIDE the join
    // stage: partial hash aggregation runs map-side on the join output,
    // so the only pair-width data movement is codegen'd in-memory
    // streaming; what crosses the wire is ≤8 (overlap_days, count)
    // rows per task. At 100 TB the listing (q183) is something you
    // write to storage per-partition if at all; the global answer you
    // actually compute looks like this. The aggregate is still a
    // strong oracle: any missed, duplicated, or phantom pair shifts a
    // bucket count.
    QueryDef(
      "q222_interval_overlap_stats",
      (s, dir) => {
        import s.implicits._
        intervalSelfOverlap(shipmentWindows(s, dir), binWidth = 8)
          .groupBy($"overlap_days")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy($"overlap_days")
      },
      Some("""
        WITH base AS (
          SELECT DISTINCT l_orderkey * 10 + l_linenumber AS k,
                 CAST(date_diff('day', DATE '1970-01-01',
                                CAST(l_shipdate AS DATE)) AS BIGINT) AS s
          FROM lineitem WHERE l_quantity >= 50),
        iv AS (SELECT k * 65536 + s AS id, s, s + 7 AS e FROM base)
        SELECT least(a.e, b.e) - greatest(a.s, b.s) + 1 AS overlap_days,
               count(*) AS n_pairs
        FROM iv a JOIN iv b
          ON a.id < b.id AND a.s <= b.e AND b.s <= a.e
        GROUP BY 1
        ORDER BY overlap_days"""))
  )

  /** q183/q222's interval set: distinct (line-item key, ship-day) 7-day
    * windows over max-quantity shipments, composite-encoded so the id
    * is unique under the fixture's duplicate keys (see q183 notes). */
  private def shipmentWindows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "lineitem")
      .filter($"l_quantity" >= 50)
      .select(($"l_orderkey" * 10 + $"l_linenumber").as("k"),
        expr("CAST(datediff(to_date(l_shipdate), date'1970-01-01') AS BIGINT)")
          .as("s"))
      .distinct()
      .select(($"k" * 65536 + $"s").as("id"), $"s", ($"s" + 7).as("e"))
  }

  /** All unordered pairs of overlapping integer intervals from one
    * input, via bin blocking + exact verify. Input must carry columns
    * (id, s, e) with s <= e on an integer grid (e.g. days) and UNIQUE
    * ids — duplicate ids make pair identity ill-defined: each duplicate
    * interval combination emits its own (id_a, id_b) row, so a repeated
    * id yields repeated/conflicting pair rows (q183 encodes the
    * fixture's duplicate line-item keys into the id for exactly this
    * reason). Output is (id_a, id_b, overlap_days) with id_a < id_b.
    *
    * Scale shape — the interval analogue of the deletion-neighborhood
    * blocker: a naive overlap self-join is O(n²) comparisons with no
    * equi-key for Spark to hash on (a pure theta-join = broadcast nested
    * loop). Binning makes it an EQUI-join: each interval explodes to the
    * ~(len/binWidth + 1) bins it touches, candidates are pairs sharing a
    * bin, and the exact predicate verifies candidates only. Lossless:
    * overlapping intervals share a covered day, hence its bin (the
    * bin function is monotone — integer DIV truncation included, so
    * negative-day inputs stay correct; bins just straddle zero wider).
    *
    * Sizing: binWidth ≈ the typical interval length keeps the explode
    * factor ~2 and bucket population proportional to interval density
    * per bin-window. Pathologically long intervals explode to many bins
    * — route a bounded "long" subset through a broadcast nested loop
    * instead if the length distribution is heavy-tailed (same hot-key
    * discipline as the salted join, q74).
    *
    * Exactly-once without distinct: a pair touching several shared bins
    * is emitted ONLY from its canonical bin — the bin of
    * greatest(sa, sb). That day lies inside both intervals whenever
    * they overlap (it is ≥ both starts by construction and ≤ both ends
    * by the overlap predicate), so both sides explode to that bin and
    * the pair appears there at least once; the equality filter keeps
    * that single occurrence and no other. This replaces the former
    * pair-width distinct — at sf1 the pair stream is ~10⁷ rows (pair
    * volume grows quadratically with interval density over the fixed
    * date range), and shuffling it once more for dedup was the
    * dominant cost of q183. With the canonical-bin filter, the only
    * pair-width work left is whatever the caller does with the stream
    * (q222 collapses it map-side into a bounded aggregate). */
  def intervalSelfOverlap(iv: DataFrame, binWidth: Long): DataFrame = {
    val s = iv.sparkSession
    import s.implicits._
    require(binWidth > 0, "binWidth must be positive")
    val binned = iv.select($"id", $"s", $"e",
      explode(expr(s"sequence(s DIV ${binWidth}L, e DIV ${binWidth}L)"))
        .as("bin"))
    binned.select($"id".as("id_a"), $"s".as("sa"), $"e".as("ea"), $"bin")
      .join(binned.select($"id".as("id_b"), $"s".as("sb"), $"e".as("eb"),
        $"bin"), Seq("bin"))
      .filter($"id_a" < $"id_b" && $"sa" <= $"eb" && $"sb" <= $"ea" &&
        $"bin" === expr(s"greatest(sa, sb) DIV ${binWidth}L"))
      .select($"id_a", $"id_b",
        (least($"ea", $"eb") - greatest($"sa", $"sb") + lit(1L))
          .as("overlap_days"))
  }
}
