package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.WeightedAverage

/** Remaining Table-B / extension surface: native-expression KNN, typed
  * Aggregator, sampling (deterministic + seeded), pivot, scalar subquery,
  * TF-IDF.
  */
object Extras {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val defs: Seq[QueryDef] = Seq(

    // ----- KNN via the native codegen'd cosine Expression ----------------
    // Same result contract as q46, but the per-pair math is one fused
    // Java loop inside WholeStageCodegen instead of interpreted
    // higher-order lambdas — the hot-path form for a 100 TB embedding
    // scan. Correctness is pinned by sharing q46's oracle.
    QueryDef(
      "q61_knn_native_expr",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings").select($"vec_id", $"embedding")
        val queries = e.filter($"vec_id" < 5).toDF("qid", "qv")
        val cands = e.filter($"vec_id" >= 5).toDF("cid", "cv")
        val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"cid")
        cands.join(broadcast(queries))
          .withColumn("cosine", round(expr("cosine_sim(qv, cv)"), 4))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 3)
          .select($"qid", $"rk", $"cid", $"cosine")
          .orderBy($"qid", $"rk")
      },
      Some("""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        n AS (SELECT vec_id, v,
                     sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
              FROM e),
        scored AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
                 round(list_sum(list_transform(generate_series(1, len(q.v)),
                       i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 4) AS cosine
          FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id >= 5),
        ranked AS (
          SELECT qid, cid, cosine,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY cosine DESC, cid) AS rk
          FROM scored)
        SELECT qid, CAST(rk AS INT) AS rk, cid, cosine
        FROM ranked WHERE rk <= 3
        ORDER BY qid, rk""")),

    // ----- typed Aggregator: algebraic weighted average ------------------
    // Partial-aggregates on the map side (merge = the incrementation law);
    // compare q01's built-in avg, which Spark treats the same way.
    QueryDef(
      "q62_aggregator_weighted_avg",
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
          .select($"l_returnflag", $"l_extendedprice", $"l_quantity")
          .as[(String, Double, Double)]
        li.groupByKey(_._1)
          .mapValues(r => (r._2, r._3))
          .agg(WeightedAverage.toColumn.name("wavg_price"))
          .toDF("l_returnflag", "wavg_price")
          .select($"l_returnflag", round($"wavg_price", 4).as("wavg_price"))
          .orderBy($"l_returnflag")
      },
      Some("""
        SELECT l_returnflag,
               round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
                 AS wavg_price
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // ----- deterministic hash sampling -----------------------------------
    // The reference's downsample-for-testing story
    // (/root/reference/README.txt:24) made reproducible: membership is a
    // pure function of the key (md5 mod 100 < 10 => ~10%), identical in
    // any engine, stable across runs and cluster sizes.
    QueryDef(
      "q63_sample_hash",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .filter(
            conv(substring(md5($"o_orderkey".cast("string")), 1, 15), 16, 10)
              .cast("long") % 100 < 10)
          .select($"o_orderkey", $"o_custkey", round($"o_totalprice", 4).as("price"))
          .orderBy($"o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS price
        FROM orders
        WHERE CAST(concat('0x',
                substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
              % 100 < 10
        ORDER BY o_orderkey""")),

    // ----- seeded Bernoulli row sampling (engine-native RNG) -------------
    // Spark's seeded sample is reproducible within Spark but its RNG
    // stream is engine-specific, so the MEMBERSHIP cannot hash-match an
    // oracle; the checkable contract is (a) same seed -> bit-identical
    // membership (two independent samples joined full-outer, zero
    // one-sided rows) and (b) the rate lands near the requested
    // fraction. Both flags are pinned to 1 by the oracle — a broken or
    // nondeterministic sampler fails CORRECTNESS. (q63/q102 are the
    // hash-based samplers whose membership IS cross-engine exact.)
    QueryDef(
      "q64_sample_seeded",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
        def sampled() = o
          .sample(withReplacement = false, fraction = 0.1, seed = 42L)
          .select($"o_orderkey")
        val s1 = sampled().toDF("k1")
        val s2 = sampled().toDF("k2")
        val mism = s1.join(s2, $"k1" === $"k2", "full_outer")
          .filter($"k1".isNull || $"k2".isNull)
          .agg(count(lit(1)).as("_mism"))
        s1.agg(count(lit(1)).as("_n1"))
          .crossJoin(o.agg(count(lit(1)).as("n_total")))
          .crossJoin(mism)
          .select($"n_total",
            when($"_mism" === 0, 1).otherwise(0).as("deterministic"),
            when(abs($"_n1" / $"n_total".cast("double") - 0.1) < 0.03, 1)
              .otherwise(0).as("rate_ok"))
      },
      Some("""
        SELECT count(*) AS n_total, 1 AS deterministic, 1 AS rate_ok
        FROM orders""")),

    // ----- stratified deterministic sampling -----------------------------
    // q63's hash sampling with per-stratum rates (oversample the rare /
    // interesting stratum, thin the bulk — the standard shape for building
    // an eval split from a skewed corpus). Membership stays a pure
    // function of (key, stratum), identical in any engine at any cluster
    // size; no sampleBy/RNG, so re-runs and the oracle agree bit-for-bit.
    QueryDef(
      "q102_sample_stratified",
      (s, dir) => {
        import s.implicits._
        val bucket =
          conv(substring(md5($"o_orderkey".cast("string")), 1, 15), 16, 10)
            .cast("long") % 100
        val rate = when($"o_orderpriority" === "1-URGENT", lit(30))
          .when($"o_orderpriority" === "2-HIGH", lit(20))
          .otherwise(lit(5))
        t(s, dir, "orders")
          .filter(bucket < rate)
          .select($"o_orderkey", $"o_orderpriority",
            round($"o_totalprice", 4).as("price"))
          .orderBy($"o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_orderpriority, round(o_totalprice, 4) AS price
        FROM orders
        WHERE CAST(concat('0x',
                substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
              % 100
              < CASE o_orderpriority WHEN '1-URGENT' THEN 30
                                     WHEN '2-HIGH' THEN 20 ELSE 5 END
        ORDER BY o_orderkey""")),

    // ----- deterministic train/val/test split ----------------------------
    // The split every training corpus needs, as a pure function of the
    // doc key (md5 mod 100: <80 train, <90 val, else test): stable across
    // runs, engines and cluster sizes, and NEVER leaks a doc into two
    // splits — re-runs of q63's hash-membership idea as a labeling.
    QueryDef(
      "q112_train_val_test_split",
      (s, dir) => {
        import s.implicits._
        val bucket =
          conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
            .cast("long") % 100
        t(s, dir, "documents")
          .select($"doc_id", $"lang",
            when(bucket < 80, "train")
              .when(bucket < 90, "val")
              .otherwise("test").as("split"))
          .groupBy($"split", $"lang")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy($"split", $"lang")
      },
      Some("""
        WITH b AS (
          SELECT doc_id, lang,
                 CAST(concat('0x',
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                 % 100 AS bucket
          FROM documents)
        SELECT CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split,
               lang, count(*) AS n_docs
        FROM b
        GROUP BY 1, 2
        ORDER BY split, lang""")),

    // ----- pivot ----------------------------------------------------------
    // Explicit pivot values => no discovery pass and stable output schema
    // (at scale, value discovery is an extra full aggregation).
    QueryDef(
      "q65_pivot_status",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .groupBy($"o_orderpriority")
          // money cells in integer CENTS (MoneyGuard discipline): a
          // Double sum over ~100k rows per pivot cell is partition-
          // order dependent in its last ULPs — same hazard q10 hit
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")))
          .na.fill(0L, Seq("F", "O", "P"))
          .orderBy($"o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority,
               coalesce(CAST(sum(CASE WHEN o_orderstatus = 'F'
                   THEN CAST(round(o_totalprice * 100) AS BIGINT)
                 END) AS BIGINT), 0) AS F,
               coalesce(CAST(sum(CASE WHEN o_orderstatus = 'O'
                   THEN CAST(round(o_totalprice * 100) AS BIGINT)
                 END) AS BIGINT), 0) AS O,
               coalesce(CAST(sum(CASE WHEN o_orderstatus = 'P'
                   THEN CAST(round(o_totalprice * 100) AS BIGINT)
                 END) AS BIGINT), 0) AS P
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // ----- scalar subquery ------------------------------------------------
    // Orders above the global mean: the aggregate is a 1-row broadcast
    // joined against the scan — no shuffle of the big side.
    QueryDef(
      "q66_scalar_subquery",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
        val avgPrice = o.agg(avg($"o_totalprice").as("global_avg"))
        o.join(broadcast(avgPrice))
          .filter($"o_totalprice" > $"global_avg" * 1.5)
          .select($"o_orderkey", round($"o_totalprice", 4).as("price"))
          .orderBy($"o_orderkey")
      },
      Some("""
        SELECT o_orderkey, round(o_totalprice, 4) AS price
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.5
        ORDER BY o_orderkey""")),

    // ----- TF-IDF: most characteristic term per document -----------------
    // tf from one explode+groupBy; document frequency from a distinct
    // aggregation; idf joined back broadcast (term dictionary << corpus).
    QueryDef(
      "q67_tfidf_top_term",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val nDocs = docs.select(countDistinct($"doc_id").as("n_docs"))
        val tokens = docs
          .select($"doc_id", explode(split($"text", " ")).as("token"))
          .filter(length($"token") > 0)
        val tf = tokens.groupBy($"doc_id", $"token")
          .agg(count(lit(1)).as("tf"))
        val dfreq = tokens.select($"doc_id", $"token").distinct()
          .groupBy($"token").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"token")
        tf.join(broadcast(dfreq), "token")
          .join(broadcast(nDocs))
          .withColumn("tfidf", round($"tf" * log($"n_docs" / $"df".cast("double")), 6))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" === 1)
          .select($"doc_id", $"token".as("top_term"), $"tfidf")
          .orderBy($"doc_id")
      },
      Some("""
        WITH tokens AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents),
        tok AS (SELECT * FROM tokens WHERE length(token) > 0),
        tf AS (SELECT doc_id, token, count(*) AS tf
               FROM tok GROUP BY doc_id, token),
        dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok
                  GROUP BY token),
        nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.token,
                 round(tf.tf * ln(nd.n_docs / df.df::DOUBLE), 6) AS tfidf
          FROM tf JOIN dfreq df USING (token) CROSS JOIN nd),
        ranked AS (
          SELECT doc_id, token, tfidf,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, token) AS rk
          FROM scored)
        SELECT doc_id, token AS top_term, tfidf
        FROM ranked WHERE rk = 1
        ORDER BY doc_id""")),

    // ----- multiset (ALL) set operations ---------------------------------
    // intersect/except keep multiplicities here — Spark implements both
    // as a count-compare aggregation, not a join blowup.
    QueryDef(
      "q68_set_ops_all",
      (s, dir) => {
        import s.implicits._
        val hi = t(s, dir, "orders").filter($"o_totalprice" > 200000.0)
          .select($"o_custkey")
        val recent = t(s, dir, "orders")
          .filter($"o_orderdate" >= lit("1998-01-01").cast("timestamp"))
          .select($"o_custkey")
        hi.intersectAll(recent)
          .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
          .orderBy($"o_custkey")
      },
      Some("""
        SELECT o_custkey, count(*) AS n
        FROM (
          SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0
          INTERSECT ALL
          SELECT o_custkey FROM orders
          WHERE o_orderdate >= TIMESTAMP '1998-01-01')
        GROUP BY o_custkey
        ORDER BY o_custkey""")),

    // ----- the SQL interface itself --------------------------------------
    // The engine is a library over SparkSession: registering the tables
    // as temp views exposes the full ANSI surface via spark.sql. This
    // query exercises from_json with an explicit schema (the events.props
    // JSON string) and an EXISTS subquery purely in SQL.
    QueryDef(
      "q69_sql_interface",
      (s, dir) => {
        Tables.load(s, dir, "events").createOrReplaceTempView("events_v")
        Tables.load(s, dir, "customer").createOrReplaceTempView("customer_v")
        s.sql("""
          SELECT e.event_type,
                 count(*) AS n,
                 round(avg(from_json(e.props, 'k INT').k), 4) AS avg_k
          FROM events_v e
          WHERE EXISTS (SELECT 1 FROM customer_v c
                        WHERE c.c_custkey = e.user_id
                          AND c.c_acctbal > 5000)
          GROUP BY e.event_type
          ORDER BY e.event_type""")
      },
      Some("""
        SELECT e.event_type, count(*) AS n,
               round(avg(CAST(json_extract_string(e.props, '$.k') AS INT)), 4)
                 AS avg_k
        FROM events e
        WHERE EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = e.user_id AND c.c_acctbal > 5000)
        GROUP BY e.event_type
        ORDER BY e.event_type""")),

    // ----- correlated scalar subquery, decorrelated by hand --------------
    // "orders above their own customer's average" — the correlated
    // subquery is expressed as the decorrelated form Catalyst would aim
    // for: one partial-aggregated pass for per-customer means, joined
    // back. Never a per-row subquery execution.
    QueryDef(
      "q70_correlated_subquery",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
        val custAvg = o.groupBy($"o_custkey".as("ck"))
          .agg(avg($"o_totalprice").as("cust_avg"))
        // the average itself is not emitted: a float mean rounded to 4dp
        // can land exactly on a .00005 boundary and differ from the
        // oracle by summation order (observed at sf0.01)
        o.join(custAvg, $"o_custkey" === $"ck")
          .filter($"o_totalprice" > $"cust_avg" * 1.8)
          .select($"o_orderkey", $"o_custkey",
            round($"o_totalprice", 4).as("price"))
          .orderBy($"o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS price
        FROM orders o
        WHERE o_totalprice > (SELECT avg(o2.o_totalprice) FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey) * 1.8
        ORDER BY o_orderkey""")),

    // ----- unpivot / melt -------------------------------------------------
    QueryDef(
      "q71_unpivot",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            round(sum($"l_quantity"), 4).as("qty"),
            round(sum($"l_discount"), 4).as("discount"),
            round(sum($"l_tax"), 4).as("tax"))
          .unpivot(
            ids = Array($"l_returnflag"),
            values = Array($"qty", $"discount", $"tax"),
            variableColumnName = "measure",
            valueColumnName = "total")
          .orderBy($"l_returnflag", $"measure")
      },
      Some("""
        WITH agg AS (
          SELECT l_returnflag,
                 round(sum(l_quantity), 4) AS qty,
                 round(sum(l_discount), 4) AS discount,
                 round(sum(l_tax), 4) AS tax
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, measure, total
        FROM (
          SELECT l_returnflag, 'qty' AS measure, qty AS total FROM agg
          UNION ALL
          SELECT l_returnflag, 'discount', discount FROM agg
          UNION ALL
          SELECT l_returnflag, 'tax', tax FROM agg)
        ORDER BY l_returnflag, measure""")),

    // ----- TPC-H Q7 shape: bi-national trade volume by year --------------
    QueryDef(
      "q72_nation_trade_volume",
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val sup = t(s, dir, "supplier")
        val n1 = t(s, dir, "nation").select(
          $"n_nationkey".as("s_nk"), $"n_name".as("supp_nation"))
        val n2 = t(s, dir, "nation").select(
          $"n_nationkey".as("c_nk"), $"n_name".as("cust_nation"))
        // supplier/customer are SF-scaled — broadcast hints only on the
        // two fixed-size nation lookups
        li.join(o, $"l_orderkey" === $"o_orderkey")
          .join(sup, $"l_suppkey" === $"s_suppkey")
          .join(c, $"o_custkey" === $"c_custkey")
          .join(broadcast(n1), $"s_nationkey" === $"s_nk")
          .join(broadcast(n2), $"c_nationkey" === $"c_nk")
          .filter(
            ($"supp_nation" === "KENYA" && $"cust_nation" === "PERU") ||
              ($"supp_nation" === "PERU" && $"cust_nation" === "KENYA"))
          .groupBy($"supp_nation", $"cust_nation",
            year($"l_shipdate").as("l_year"))
          .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 4)
            .as("volume"))
          .orderBy($"supp_nation", $"cust_nation", $"l_year")
      },
      Some("""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS volume
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'KENYA' AND n2.n_name = 'PERU')
           OR (n1.n_name = 'PERU' AND n2.n_name = 'KENYA')
        GROUP BY 1, 2, 3
        ORDER BY supp_nation, cust_nation, l_year""")),

    // ----- exact percentiles (distributed sort-based) --------------------
    // percentile() is exact (sort within group); approx_percentile is the
    // sketch alternative for when a shuffle-light answer suffices.
    QueryDef(
      "q73_percentiles",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .groupBy($"c_mktsegment")
          .agg(
            round(expr("percentile(c_acctbal, 0.5)"), 4).as("p50"),
            round(expr("percentile(c_acctbal, 0.9)"), 4).as("p90"),
            round(expr("percentile(c_acctbal, 0.99)"), 4).as("p99"))
          .orderBy($"c_mktsegment")
      },
      Some("""
        SELECT c_mktsegment,
               round(quantile_cont(c_acctbal, 0.5), 4) AS p50,
               round(quantile_cont(c_acctbal, 0.9), 4) AS p90,
               round(quantile_cont(c_acctbal, 0.99), 4) AS p99
        FROM customer
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ----- salted skew join, oracle = the plain join ---------------------
    // Result-identical to an unsalted join by construction; the oracle
    // states exactly that. orders.o_custkey is the "hot" axis here.
    QueryDef(
      "q74_salted_join",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
          .select($"c_custkey", $"c_mktsegment")
        SkewJoin.saltedInnerJoin(o, c, "o_custkey", "c_custkey", salt = 4)
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            // integer-cents sum (the sf1 lesson — see q01): 300k
            // doubles per segment diverged at the 4dp boundary.
            // MoneyGuard promotes to DECIMAL(38,6) past the cents
            // ceiling (o_totalprice < 600k currency).
            round(graft.engine.MoneyGuard.moneySum($"o_totalprice", 100,
              graft.engine.MoneyGuard.tableRows(Some(s), dir, "orders"),
              600000.0), 4).as("total"))
          .orderBy($"c_mktsegment")
      },
      Some("""
        SELECT c_mktsegment, count(*) AS n_orders,
               round(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 / 100.0, 4) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ----- equal-width numeric histogram ---------------------------------
    // 10-bin profile of order totals: global min/max broadcast back, bin
    // assignment is the same double expression in both engines (identical
    // association → identical bin for every row, v=hi clamped into the
    // last bin). One partial-aggregated shuffle on the bin id.
    QueryDef(
      "q119_numeric_histogram",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders").select($"o_totalprice".as("v"))
        val stats = o.agg(min($"v").as("lo"), max($"v").as("hi"))
        o.crossJoin(broadcast(stats))
          .withColumn("bin",
            least(floor(($"v" - $"lo") / ($"hi" - $"lo") * 10), lit(9L))
              .cast("int"))
          .groupBy($"bin")
          .agg(count(lit(1)).as("n"),
            first($"lo").as("lo"), first($"hi").as("hi"))
          .select($"bin", $"n",
            round($"lo" + $"bin" * ($"hi" - $"lo") / 10, 4).as("bin_lo"))
          .orderBy($"bin")
      },
      Some("""
        WITH s AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
                   FROM orders),
        b AS (
          SELECT CAST(least(floor((o_totalprice - lo) / (hi - lo) * 10), 9)
                      AS INT) AS bin,
                 lo, hi
          FROM orders, s)
        SELECT bin, count(*) AS n,
               round(any_value(lo) + bin * (any_value(hi) - any_value(lo))
                     / 10, 4) AS bin_lo
        FROM b
        GROUP BY bin
        ORDER BY bin""")),

    // ----- grouped Pearson correlation (exact-integer bridge) ------------
    // corr(quantity, price) per returnflag. The naive double formula is
    // catastrophic here: n*Σxy - Σx*Σy subtracts ~1e14-scale terms, so
    // the engines' different FP summation orders surface as 1e-2-scale
    // drift. Instead price is scaled to integer cents (round kills the
    // double representation error) and every sum runs in DECIMAL(38,0)
    // — EXACT in both engines — with doubles entering only for the final
    // sqrt/division on identical inputs. The cents scaling cancels in
    // the ratio.
    QueryDef(
      "q117_correlation",
      (s, dir) => {
        import s.implicits._
        // narrow input precisions so q*q / p*p / q*p stay inside both
        // engines' 38-digit decimal cap; the SUMS are therefore exact,
        // and each is cast to double only once (identical nearest-double
        // in both engines) before the final formula
        val q = $"l_quantity".cast("decimal(9,0)")
        val p = round($"l_extendedprice" * 100).cast("decimal(12,0)")
        val d = (c: Column) => c.cast("double")
        t(s, dir, "lineitem")
          .select($"l_returnflag", q.as("q"), p.as("p"))
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum($"q").as("sq"), sum($"p").as("sp"),
            sum($"q" * $"q").as("sqq"), sum($"p" * $"p").as("spp"),
            sum($"q" * $"p").as("sqp"))
          .select($"l_returnflag",
            round((d($"n") * d($"sqp") - d($"sq") * d($"sp")) /
              sqrt((d($"n") * d($"sqq") - d($"sq") * d($"sq")) *
                   (d($"n") * d($"spp") - d($"sp") * d($"sp"))), 4)
              .as("corr_qty_price"))
          .orderBy($"l_returnflag")
      },
      Some("""
        WITH b AS (
          SELECT l_returnflag,
                 CAST(l_quantity AS DECIMAL(9,0)) AS q,
                 CAST(round(l_extendedprice * 100) AS DECIMAL(12,0)) AS p
          FROM lineitem),
        a AS (
          SELECT l_returnflag,
                 count(*) AS n,
                 sum(q) AS sq, sum(p) AS sp,
                 sum(q * q) AS sqq, sum(p * p) AS spp,
                 sum(q * p) AS sqp
          FROM b GROUP BY l_returnflag)
        SELECT l_returnflag,
               round((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE)
                      - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE)) /
                 sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                       - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)) *
                      (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                       - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))), 4)
                 AS corr_qty_price
        FROM a
        ORDER BY l_returnflag""")),

    // ----- approximate percentiles, property-gated (q16's recipe) --------
    // approx_percentile (KLL/GK-style sketch) is THE percentile at
    // 100 TB; its value is engine-specific, so the oracle pins the
    // ACCURACY CONTRACT instead: the sketch estimate must land inside
    // the exact [p45, p55] / [p85, p95] brackets (computed only at
    // fixture scale to referee). A broken sketch flips the flag and
    // fails CORRECTNESS.
    QueryDef(
      "q149_approx_percentile",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy($"event_type")
          .agg(
            expr("approx_percentile(value, 0.5, 1000)").as("_a50"),
            expr("approx_percentile(value, 0.9, 1000)").as("_a90"),
            expr("percentile(value, 0.45)").as("_lo50"),
            expr("percentile(value, 0.55)").as("_hi50"),
            expr("percentile(value, 0.85)").as("_lo90"),
            expr("percentile(value, 0.95)").as("_hi90"),
            round(expr("percentile(value, 0.5)"), 4).as("p50_exact"),
            round(expr("percentile(value, 0.9)"), 4).as("p90_exact"))
          .select($"event_type", $"p50_exact", $"p90_exact",
            when($"_a50".between($"_lo50", $"_hi50"), 1).otherwise(0)
              .as("approx_p50_ok"),
            when($"_a90".between($"_lo90", $"_hi90"), 1).otherwise(0)
              .as("approx_p90_ok"))
          .orderBy($"event_type")
      },
      Some("""
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4) AS p50_exact,
               round(quantile_cont(value, 0.9), 4) AS p90_exact,
               1 AS approx_p50_ok, 1 AS approx_p90_ok
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    // ----- equi-depth histogram (quantile binning via ntile) -------------
    // The complement of q119's equal-width bins: 10 buckets of (nearly)
    // equal POPULATION, the statistics a cost optimizer keeps. ntile is
    // row_number-based (deterministic with the event_id tiebreak), and
    // the bucket bounds are raw min/max values, not sums — no FP
    // reduction anywhere. One global-ordering window at fixture scale;
    // at 100 TB the same statistic comes from approx quantiles per
    // partition (documented trade — exactness is the point here).
    QueryDef(
      "q148_equidepth_histogram",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .select($"o_totalprice".as("v"), $"o_orderkey")
          .withColumn("bucket",
            ntile(10).over(Window.orderBy($"v", $"o_orderkey")).cast("int"))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n"),
            round(min($"v"), 4).as("lo"), round(max($"v"), 4).as("hi"))
          .orderBy($"bucket")
      },
      Some("""
        WITH b AS (
          SELECT o_totalprice AS v,
                 ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
          FROM orders)
        SELECT CAST(bucket AS INT) AS bucket, count(*) AS n,
               round(min(v), 4) AS lo, round(max(v), 4) AS hi
        FROM b
        GROUP BY bucket
        ORDER BY bucket""")),

    // ----- Spearman rank correlation (tie-broken, exact-integer) ---------
    // Rank both variables per group with a deterministic tiebreak
    // (event_id), then Pearson over the INTEGER ranks with the same
    // DECIMAL exact-sum bridge as q117 — rank sums are exact in both
    // engines, doubles enter only for the final sqrt/ratio on identical
    // inputs. (Tie-broken Spearman, not tie-averaged: ranks are a
    // permutation, which is what makes the arithmetic exact.)
    QueryDef(
      "q137_spearman",
      (s, dir) => {
        import s.implicits._
        // explicit NULLS LAST: Spark's ascending default is NULLS FIRST,
        // DuckDB's is NULLS LAST — on a null-free fixture they agree, but
        // the rank permutation must not silently diverge if values go null
        val wv = Window.partitionBy($"event_type")
          .orderBy($"value".asc_nulls_last, $"event_id")
        val wt = Window.partitionBy($"event_type")
          .orderBy($"ts".asc_nulls_last, $"event_id")
        val d = (c: Column) => c.cast("double")
        t(s, dir, "events")
          .select($"event_type", $"event_id", $"ts", $"value")
          .withColumn("rx", row_number().over(wv).cast("decimal(12,0)"))
          .withColumn("ry", row_number().over(wt).cast("decimal(12,0)"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            sum($"rx").as("sx"), sum($"ry").as("sy"),
            sum($"rx" * $"rx").as("sxx"), sum($"ry" * $"ry").as("syy"),
            sum($"rx" * $"ry").as("sxy"))
          .select($"event_type",
            // + 0.0 normalizes IEEE negative zero: at sf1 a ~0
            // correlation rounded to -0.0 in DuckDB and 0.0 here,
            // and the hash compare sees the sign
            (round((d($"n") * d($"sxy") - d($"sx") * d($"sy")) /
              sqrt((d($"n") * d($"sxx") - d($"sx") * d($"sx")) *
                   (d($"n") * d($"syy") - d($"sy") * d($"sy"))), 4)
              + lit(0.0)).as("spearman_value_time"))
          .orderBy($"event_type")
      },
      Some("""
        WITH r AS (
          SELECT event_type,
                 CAST(row_number() OVER (PARTITION BY event_type
                   ORDER BY value, event_id) AS DECIMAL(12,0)) AS rx,
                 CAST(row_number() OVER (PARTITION BY event_type
                   ORDER BY ts, event_id) AS DECIMAL(12,0)) AS ry
          FROM events),
        a AS (
          SELECT event_type, count(*) AS n,
                 sum(rx) AS sx, sum(ry) AS sy,
                 sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
                 sum(rx * ry) AS sxy
          FROM r GROUP BY event_type)
        SELECT event_type,
               round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                 sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                      (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4)
                 + 0.0
                 AS spearman_value_time
        FROM a
        ORDER BY event_type""")),

    // ----- per-key EWMA (ordered fold) -----------------------------------
    // Exponentially weighted moving average of each user's event values
    // in (ts, event_id) order, zero-seeded: ewma = 0.3*v + 0.7*acc. A
    // sequential left fold is ORDER-DETERMINISTIC, so unlike a float
    // sum it is bit-identical across engines (same trick as the q51
    // rolling hash, in doubles).
    QueryDef(
      "q118_ewma_per_user",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy($"user_id")
          .agg(sort_array(collect_list(
            struct($"ts", $"event_id", $"value"))).as("evs"))
          .select($"user_id",
            round(aggregate(transform($"evs", e => e.getField("value")),
              lit(0.0), (acc, v) => lit(0.3) * v + lit(0.7) * acc), 4)
              .as("ewma"))
          .orderBy($"user_id")
      },
      Some("""
        SELECT user_id,
               round(list_reduce(
                 list_prepend(CAST(0.0 AS DOUBLE),
                   list(value ORDER BY ts, event_id)),
                 (acc, v) -> 0.3 * v + 0.7 * acc), 4) AS ewma
        FROM events
        GROUP BY user_id
        ORDER BY user_id""")),

    // ----- key-skew diagnostics ------------------------------------------
    // The measurement half of the salting decision (q74 is the cure):
    // hottest join keys with share-of-rows and skew factor vs the mean
    // key. lineitem.l_suppkey is the profiled axis.
    QueryDef(
      "q106_skew_profile",
      (s, dir) => SkewJoin.keySkewProfile(
        t(s, dir, "lineitem"), "l_suppkey", topK = 20),
      Some("""
        WITH c AS (SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS cnt
                   FROM lineitem GROUP BY 1),
        s AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
                     CAST(count(*) AS BIGINT) AS nkeys FROM c)
        SELECT key, cnt,
               round(cnt / total::DOUBLE, 6) AS share,
               round(cnt * nkeys / total::DOUBLE, 4) AS skew_x
        FROM c CROSS JOIN s
        ORDER BY cnt DESC, key
        LIMIT 20"""))
  )
}
