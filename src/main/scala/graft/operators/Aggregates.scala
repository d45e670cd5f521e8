package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Aggregation + set-operation surface (SURVEY.md §2 Table B).
  *
  * The reference's only aggregation paradigm is sort-then-reduce-per-group
  * (/root/reference/reducer.py:50-93) with no map-side combine; every
  * query here instead compiles to Spark's partial (map-side) hash
  * aggregation + final merge, so shuffle volume scales with group
  * cardinality, not input rows — the property that matters at 100 TB.
  * distinct / rollup / cube / grouping sets have no reference equivalent
  * at all (SURVEY §2 Table B marks them absent).
  */
object Aggregates {
  val defs: Seq[QueryDef] = Seq(

    // ----- distinct ------------------------------------------------------
    QueryDef(
      "q14_distinct_segments",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "customer")
          .select($"c_mktsegment", $"c_nationkey")
          .distinct()
          .orderBy($"c_mktsegment", $"c_nationkey")
      },
      Some("""
        SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        ORDER BY c_mktsegment, c_nationkey""")),

    // ----- dropDuplicates(subset) → one row per key, deterministic ------
    // dropDuplicates keeps an arbitrary row per key; for an oracle-exact
    // result the engine uses the argmin pattern (min over the whole
    // struct), which is also the scalable form (one partial-aggregated
    // shuffle, no window sort).
    QueryDef(
      "q15_dedup_first_order_per_customer",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "orders")
          .groupBy($"o_custkey")
          .agg(min(struct($"o_orderdate", $"o_orderkey")).as("first"))
          .select($"o_custkey", $"first.o_orderkey".as("first_orderkey"),
            $"first.o_orderdate".as("first_orderdate"))
          .orderBy($"o_custkey")
      },
      Some("""
        SELECT o_custkey,
               first(o_orderkey ORDER BY o_orderdate, o_orderkey) AS first_orderkey,
               min(o_orderdate) AS first_orderdate
        FROM orders
        GROUP BY o_custkey
        ORDER BY o_custkey""")),

    // ----- approximate distinct (HLL) — property-gated oracle ------------
    // The HLL++ estimate is engine-specific, so its VALUE cannot hash-
    // match DuckDB; what CAN be checked is the accuracy contract: the
    // query referees the sketch against the exact count (exact runs only
    // at fixture scale — at 100 TB the sketch runs alone) and emits a
    // within-5x-rsd flag the oracle pins to 1. A broken sketch flips the
    // flag and fails CORRECTNESS.
    QueryDef(
      "q16_approx_count_distinct",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            approx_count_distinct($"l_partkey", 0.02).as("_approx"),
            count_distinct($"l_partkey").as("n_parts"),
            count(lit(1)).as("n"))
          .select($"l_returnflag", $"n_parts", $"n",
            when(abs($"_approx" - $"n_parts") <= $"n_parts" * 0.1, 1)
              .otherwise(0).as("approx_ok"))
          .orderBy($"l_returnflag")
      },
      Some("""
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS n_parts,
               count(*) AS n,
               1 AS approx_ok
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // ----- rollup ---------------------------------------------------------
    QueryDef(
      "q17_rollup_flag_status",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "lineitem")
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(
            round(sum($"l_quantity"), 4).as("sum_qty"),
            count(lit(1)).as("n"))
          .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // ----- cube ------------------------------------------------------------
    QueryDef(
      "q18_cube_status_priority",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "orders")
          .cube($"o_orderstatus", $"o_orderpriority")
          .agg(
            // money sums as integer cents (the sf1 lesson — see q01):
            // the grand-total cell sums 1.5M doubles and diverged from
            // DuckDB by summation order at the 4dp boundary. MoneyGuard
            // promotes to DECIMAL(38,6) past the cents-overflow ceiling
            // (o_totalprice < 600k currency).
            round(graft.engine.MoneyGuard.moneySum($"o_totalprice", 100,
              graft.engine.MoneyGuard.tableRows(Some(s), dir, "orders"),
              600000.0), 4).as("total"),
            count(lit(1)).as("n"))
          .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
      },
      Some("""
        SELECT o_orderstatus, o_orderpriority,
               round(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 / 100.0, 4) AS total,
               count(*) AS n
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),

    // ----- grouping sets + grouping() marker ------------------------------
    QueryDef(
      "q19_grouping_sets",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "orders")
          .groupingSets(
            Seq(Seq($"o_orderstatus"), Seq($"o_orderpriority")),
            $"o_orderstatus", $"o_orderpriority")
          .agg(
            count(lit(1)).as("n"),
            grouping($"o_orderstatus").cast("int").as("g_status"))
          .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
      },
      Some("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),

    // ----- UNION ALL (the reference's input_dirs concat, mapper.py:75) ---
    QueryDef(
      "q20_union_all",
      (s, dir) => {
        import s.implicits._
        val hi = Tables.load(s, dir, "orders").filter($"o_totalprice" > 450000.0)
          .select($"o_orderkey", lit("high").as("bucket"))
        val lo = Tables.load(s, dir, "orders").filter($"o_totalprice" < 10000.0)
          .select($"o_orderkey", lit("low").as("bucket"))
        hi.unionByName(lo).orderBy($"o_orderkey", $"bucket")
      },
      Some("""
        SELECT o_orderkey, 'high' AS bucket FROM orders WHERE o_totalprice > 450000.0
        UNION ALL
        SELECT o_orderkey, 'low' AS bucket FROM orders WHERE o_totalprice < 10000.0
        ORDER BY o_orderkey, bucket""")),

    // ----- INTERSECT --------------------------------------------------------
    QueryDef(
      "q21_intersect_nations",
      (s, dir) => {
        import s.implicits._
        val cn = Tables.load(s, dir, "customer").select($"c_nationkey".as("nationkey"))
        val sn = Tables.load(s, dir, "supplier").select($"s_nationkey".as("nationkey"))
        cn.intersect(sn).orderBy($"nationkey")
      },
      Some("""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey FROM supplier
        ORDER BY nationkey""")),

    // ----- EXCEPT ------------------------------------------------------------
    QueryDef(
      "q22_except_nations",
      (s, dir) => {
        import s.implicits._
        val cn = Tables.load(s, dir, "customer").select($"c_nationkey".as("nationkey"))
        val sn = Tables.load(s, dir, "supplier").select($"s_nationkey".as("nationkey"))
        cn.except(sn).orderBy($"nationkey")
      },
      Some("""
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey FROM supplier
        ORDER BY nationkey""")),

    // ----- HAVING -------------------------------------------------------------
    QueryDef(
      "q23_having_active_customers",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "orders")
          .groupBy($"o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            round(sum($"o_totalprice"), 4).as("lifetime"))
          .filter($"n_orders" >= 15)
          .orderBy($"o_custkey")
      },
      Some("""
        SELECT o_custkey, count(*) AS n_orders,
               round(sum(o_totalprice), 4) AS lifetime
        FROM orders
        GROUP BY o_custkey
        HAVING count(*) >= 15
        ORDER BY o_custkey""")),

    // ----- DISTINCT aggregates + statistical aggregates ----------------------
    QueryDef(
      "q24_stats_by_segment",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "customer")
          .groupBy($"c_mktsegment")
          .agg(
            countDistinct($"c_nationkey").as("n_nations"),
            round(sum_distinct(round($"c_acctbal", 0)), 4).as("sum_distinct_bal"),
            round(min($"c_acctbal"), 4).as("min_bal"),
            round(max($"c_acctbal"), 4).as("max_bal"),
            round(stddev_samp($"c_acctbal"), 4).as("sd_bal"),
            round(var_samp($"c_acctbal"), 4).as("var_bal"),
            round(median($"c_acctbal"), 4).as("med_bal"))
          .orderBy($"c_mktsegment")
      },
      Some("""
        SELECT c_mktsegment,
               count(DISTINCT c_nationkey) AS n_nations,
               round(sum(DISTINCT round(c_acctbal, 0)), 4) AS sum_distinct_bal,
               round(min(c_acctbal), 4) AS min_bal,
               round(max(c_acctbal), 4) AS max_bal,
               round(stddev_samp(c_acctbal), 4) AS sd_bal,
               round(var_samp(c_acctbal), 4) AS var_bal,
               round(median(c_acctbal), 4) AS med_bal
        FROM customer
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ----- mergeable HLL sketches (q16's contract, plus the merge law) ---
    // What q16 cannot show: DataSketches HLL sketches are MERGEABLE
    // partial aggregates. At 100 TB the pattern is: sketch each shard /
    // day / partition once (one pass, a few KB per group), persist the
    // binary sketches, and answer any cross-partition distinct by
    // hll_union_agg over sketches alone — the base table is never
    // re-scanned, and pre-aggregated groups union without double-counting
    // keys shared across groups (l_partkey spans return flags here, so
    // summing per-group distincts WOULD over-count: the query pins that
    // gap as sum_groups > n_parts). Sketch values are engine-specific, so
    // the oracle pins the accuracy contract, not the estimate.
    QueryDef(
      "q164_hll_sketch_merge",
      (s, dir) => {
        import s.implicits._
        val li = Tables.load(s, dir, "lineitem")
        // stage 1: one sketch per group — at scale these few-KB rows are
        // what persists, not the 100 TB of base rows behind them
        val perGroup = li.groupBy($"l_returnflag")
          .agg(expr("hll_sketch_agg(l_partkey, 14)").as("sk"),
            count_distinct($"l_partkey").as("gd"))
        // stage 2: cross-group distinct from sketches ONLY (no re-scan);
        // exact referee runs at fixture scale to gate the 0.8%-rsd sketch
        val merged = perGroup.agg(
          expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("_approx"),
          sum($"gd").as("sum_groups"))
        val exact = li.agg(count_distinct($"l_partkey").as("n_parts"))
        exact.crossJoin(merged).select(
          $"n_parts", $"sum_groups",
          when(abs($"_approx" - $"n_parts") <= $"n_parts" * 0.05, 1)
            .otherwise(0).as("merged_ok"),
          when($"sum_groups" > $"n_parts", 1).otherwise(0)
            .as("naive_sum_overcounts"))
      },
      Some("""
        SELECT count(DISTINCT l_partkey) AS n_parts,
               -- CAST: sum(BIGINT) is HUGEINT in DuckDB (float64 after
               -- the driver's pandas fetch) - keep it BIGINT-exact
               CAST((SELECT sum(gd) FROM (
                  SELECT count(DISTINCT l_partkey) AS gd
                  FROM lineitem GROUP BY l_returnflag)) AS BIGINT)
                 AS sum_groups,
               1 AS merged_ok, 1 AS naive_sum_overcounts
        FROM lineitem""")),

    // ----- sketch-algebra intersection (audience overlap) ----------------
    // What UNION sketches also buy: |A∩B| ≈ est(A) + est(B) − est(A∪B)
    // by inclusion-exclusion — the "how many clickers also purchased"
    // read, answered from two persisted per-segment sketches with no
    // re-scan and NO intersection sketch type needed. Error compounds
    // across three estimates (~√3 × the lgK=14 rsd, relative to the
    // UNION size, not the intersection), so the pinned contract bounds
    // the gap by 3% of the exact union — q164's referee discipline.
    QueryDef(
      "q236_sketch_intersection",
      (s, dir) => {
        import s.implicits._
        val e = Tables.load(s, dir, "events")
          .filter($"event_type".isin("click", "purchase"))
          .select($"event_type", $"user_id")
        val perSeg = e.groupBy($"event_type")
          .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
        val estU = perSeg.agg(
          expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("eu"))
        val estA = perSeg.filter($"event_type" === "click")
          .select(expr("hll_sketch_estimate(sk)").as("ea"))
        val estB = perSeg.filter($"event_type" === "purchase")
          .select(expr("hll_sketch_estimate(sk)").as("eb"))
        // exact referee at fixture scale
        val a = e.filter($"event_type" === "click")
          .select($"user_id").distinct()
        val b = e.filter($"event_type" === "purchase")
          .select($"user_id").distinct()
        val exact = a.agg(count(lit(1)).as("n_click")).crossJoin(
          b.agg(count(lit(1)).as("n_purchase"))).crossJoin(
          a.intersect(b).agg(count(lit(1)).as("n_both"))).crossJoin(
          a.union(b).distinct().agg(count(lit(1)).as("n_union")))
        exact.crossJoin(estA).crossJoin(estB).crossJoin(estU)
          .select($"n_click", $"n_purchase", $"n_both", $"n_union",
            when(abs(($"ea" + $"eb" - $"eu") - $"n_both") <=
              $"n_union" * 0.03, 1).otherwise(0).as("inter_ok"))
      },
      Some("""
        WITH a AS (SELECT DISTINCT user_id FROM events
                   WHERE event_type = 'click'),
        b AS (SELECT DISTINCT user_id FROM events
              WHERE event_type = 'purchase')
        SELECT (SELECT count(*) FROM a) AS n_click,
               (SELECT count(*) FROM b) AS n_purchase,
               (SELECT count(*) FROM a WHERE user_id IN (SELECT user_id FROM b))
                 AS n_both,
               (SELECT count(*) FROM (SELECT user_id FROM a UNION
                                      SELECT user_id FROM b)) AS n_union,
               1 AS inter_ok""")),

    // ----- mergeable count-min sketches (heavy hitters) ------------------
    // The frequency-side companion of q164's HLL: one CMS per source
    // partition (a few KB of counters), merged centrally, answers "how
    // often does token X occur corpus-wide" without re-scanning. The
    // deliberately-lossy width (eps=0.05) forces counter collisions so
    // the contract is non-trivial: CMS never under-counts, and
    // over-counts at most eps*N (N = corpus token count) at the sketch's
    // confidence — checked for the exact top-20 tokens. The two collects
    // are bounded by GROUP COUNT (|sources| sketch rows) and K (20 probe
    // rows from a TakeOrdered), never by corpus size — this driver-merge
    // step is precisely the production shape for sketch aggregation.
    // Sketch counters are impl-specific, so the oracle pins the contract
    // (under/over-slack violation counts), not the estimates.
    QueryDef(
      "q177_cms_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        val eps = 0.05
        val toks = Tables.load(s, dir, "documents")
          .select($"source", explode(split($"text", " ")).as("tok"))
          .filter($"tok" =!= "")
        val perSrc = toks.groupBy($"source")
          .agg(expr(s"count_min_sketch(tok, ${eps}d, 0.99d, 42)").as("sk"),
            count(lit(1)).as("n"))
          .collect()
        val merged = perSrc
          .map(r => org.apache.spark.util.sketch.CountMinSketch.readFrom(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("sk"))))
          .reduce { (a, b) => a.mergeInPlace(b); a }
        val totalN = perSrc.map(_.getAs[Long]("n")).sum
        val slack = math.ceil(eps * totalN).toLong
        val top = toks.groupBy($"tok").agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"tok").limit(20).collect()
        val nUnder = top.count(r =>
          merged.estimateCount(r.getString(0)) < r.getLong(1))
        val nOver = top.count(r =>
          merged.estimateCount(r.getString(0)) > r.getLong(1) + slack)
        Seq((top.length.toLong, nUnder.toLong, nOver.toLong))
          .toDF("n_checked", "n_under", "n_over_slack")
      },
      Some("""
        SELECT CAST(20 AS BIGINT) AS n_checked,
               CAST(0 AS BIGINT) AS n_under,
               CAST(0 AS BIGINT) AS n_over_slack""")),

    // ----- bivariate statistics ------------------------------------------
    // corr / covariance / closed-form OLS per group — all single-pass
    // co-moment aggregates (Welford-style mergeable partials), so they
    // partial-aggregate map-side like any sum; the per-group trend
    // readout (slope/intercept/r²) without a window or a second scan.
    QueryDef(
      "q180_regression_stats",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "lineitem").groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            round(corr($"l_extendedprice", $"l_quantity"), 4).as("r"),
            round(covar_samp($"l_extendedprice", $"l_quantity"), 4).as("cov_s"),
            round(covar_pop($"l_extendedprice", $"l_quantity"), 4).as("cov_p"),
            round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
            round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("icept"),
            round(expr("regr_r2(l_extendedprice, l_quantity)"), 4).as("r2"))
          .orderBy($"l_returnflag")
      },
      Some("""
        SELECT l_returnflag, count(*) AS n,
               round(corr(l_extendedprice, l_quantity), 4) AS r,
               round(covar_samp(l_extendedprice, l_quantity), 4) AS cov_s,
               round(covar_pop(l_extendedprice, l_quantity), 4) AS cov_p,
               round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
               round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
               round(regr_r2(l_extendedprice, l_quantity), 4) AS r2
        FROM lineitem GROUP BY l_returnflag
        ORDER BY l_returnflag"""))
  )
}
