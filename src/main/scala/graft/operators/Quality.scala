package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Data-quality constraint validation: declared rules evaluated in bulk,
  * reported as (rule, n_checked, n_violations). The reference's only
  * quality story is whatever each hand-written mapper chose to assert
  * inline (`/root/reference/mapper.py:55-62` — per-row Python with no
  * reporting); here constraints are data, not code.
  *
  * Scale shape:
  *  - row-level rules (`checkRules`) compile to ONE pass over the input
  *    — each rule is a conditional count inside a single aggregate, so
  *    checking 50 rules on 100 TB costs one scan plus a 1-row-per-rule
  *    result. No shuffle of data rows at all (partial aggregates only).
  *  - referential integrity (`refViolations`) is a left-anti join — the
  *    bloom-prunable shape AQE handles well; only keys shuffle.
  *  - uniqueness (`duplicateKeys`) is a keyed count>1 — partial-agg
  *    map-side, |dup keys| rows out.
  */
object Quality {

  /** Evaluate row-level rules in one scan. Each rule is (name,
    * violation-predicate); NULL predicate results count as violations
    * (a rule that cannot evaluate did not pass). */
  def checkRules(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty)
    val s = df.sparkSession
    import s.implicits._
    val aggs = count(lit(1)).as("n_checked") +:
      rules.map { case (name, viol) =>
        count(when(coalesce(viol, lit(true)), 1)).as(s"v_$name")
      }
    val row = df.agg(aggs.head, aggs.tail: _*)
    // pivot the single wide row to (rule, n_checked, n_violations) rows
    row.selectExpr(
      s"inline(array(${rules.map { case (n, _) =>
        s"struct('$n' AS rule, n_checked, v_$n AS n_violations)"
      }.mkString(", ")}))")
  }

  /** Rows of `child` whose `childKey` has no match in `parent` — the
    * referential-integrity violation set. */
  def refViolations(child: DataFrame, childKey: String, parent: DataFrame,
      parentKey: String): DataFrame =
    child.join(parent.select(col(parentKey).as(childKey)).distinct(),
      Seq(childKey), "left_anti")

  /** Key values appearing more than once (uniqueness violations). */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** Pipeline metrics via `Dataset.observe`: named aggregate metrics
    * collected AS A SIDE EFFECT of the main job's single pass — the
    * monitoring story for a 100 TB curation run, where "how many rows
    * were short / off-language / kept" must not cost a second scan of
    * the corpus. `checkRules` above answers the same questions as a
    * dedicated one-scan job; `observe` answers them for free while the
    * real job (here: the keep-filter count; in production: the survivor
    * write) is running — the metrics ride the same tasks, accumulated
    * per-partition and merged on the driver like any partial aggregate.
    *
    * Returns one row: input-side metrics from the observation plus the
    * kept-count from the action it piggybacked on. */
  def observedCuration(docs: DataFrame, minChars: Long,
      keepLangs: Seq[String]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val obs = org.apache.spark.sql.Observation()
    val keep = $"n_chars" >= minChars && $"lang".isin(keepLangs: _*)
    val observed = docs.observe(obs,
      count(lit(1)).as("n_rows"),
      count(when($"n_chars" < minChars, 1)).as("n_short"),
      count(when(!$"lang".isin(keepLangs: _*), 1)).as("n_offlang"),
      sum($"n_chars").as("sum_chars"))
    val nKept = observed.filter(keep).count() // the ONE pass
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long], m("n_short").asInstanceOf[Long],
      m("n_offlang").asInstanceOf[Long], m("sum_chars").asInstanceOf[Long],
      nKept))
      .toDF("n_rows", "n_short", "n_offlang", "sum_chars", "n_kept")
  }

  // ------------------------------------------------------------------
  // fixture-bound oracle queries
  // ------------------------------------------------------------------

  /** k-anonymity suppression over prepared quasi-identifier columns:
    * every row whose QI combination occurs on fewer than `k` rows has
    * the whole combination generalized to "*" and its group size
    * withheld (reporting the rare count would leak the very
    * information suppression hides). Rows in groups >= k pass through
    * with the group size attached. Row count is preserved — this is
    * the privacy gate a training-data export runs, not a filter.
    *
    * Scale shape: one partial+final count on the QI key — shuffle rows
    * bounded by |distinct QI combinations|, not input rows — then a
    * join back on the same key: AQE broadcasts the (small) counts side
    * when it fits and co-partitions otherwise. Non-QI payload columns
    * are deliberately DROPPED from the export (output = id + QI +
    * audit columns); direct identifiers never ride along by accident,
    * and a caller who needs payload rejoins on `id` explicitly. */
  def kAnonymize(df: DataFrame, id: String, qi: Seq[String],
      k: Int): DataFrame = {
    require(qi.nonEmpty && k >= 1, "need QI columns and k >= 1")
    // null-safe join keys and '_'-prefixed internals: a NULL QI value
    // forms its own group and must come BACK from the join (an inner
    // equi-join would silently drop exactly the rows most in need of
    // suppression), and caller frames may legitimately carry columns
    // named n_group/suppressed
    val counts = df.groupBy(qi.map(col): _*)
      .agg(count(lit(1)).as("_n_group"))
      .select(qi.map(q => col(q).as(s"_qi_$q")) :+ col("_n_group"): _*)
    val cond = qi.map(q => col(q) <=> col(s"_qi_$q")).reduce(_ && _)
    val sup = col("_n_group") < k
    df.join(counts, cond)
      .select(
        (col(id) +:
          qi.map(q =>
            when(sup, lit("*")).otherwise(col(q).cast("string")).as(q)) :+
          sup.as("suppressed") :+
          when(sup, lit(null).cast("long")).otherwise(col("_n_group"))
            .as("n_group")): _*)
  }

  /** Pair-counting clustering evaluation WITHOUT materializing pairs:
    * the contingency-table combinatorics (Rand-index family, public).
    * tp = Σ C(n_ij, 2) over (pred, truth) cells, predicted pairs =
    * Σ C(a_i, 2) over pred sizes, truth pairs = Σ C(b_j, 2) over truth
    * sizes; fp/fn by subtraction. At 100 TB the naive "join predicted
    * pairs against truth pairs" is O(Σ n²) rows — this is three
    * cluster-size-bounded aggregates and a handful of scalars.
    * Input frames: (idCol, clusterCol) each. Returns one row
    * (tp_pairs, fp_pairs, fn_pairs). */
  def pairCountingEval(pred: DataFrame, truth: DataFrame, idCol: String,
      predCol: String, truthCol: String): DataFrame = {
    val joined = pred.select(col(idCol), col(predCol))
      .join(truth.select(col(idCol), col(truthCol)), idCol)
    def pairsOf(df: DataFrame, cols: Seq[String]): DataFrame =
      // DIV, not '/': SQL division on bigint returns double, which
      // loses integer exactness past 2^53 (a ~2e8-row cluster already
      // has ~2e16 pairs)
      df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L))
          .cast("long").as("pairs"))
    val tp = pairsOf(joined, Seq(predCol, truthCol))
      .withColumnRenamed("pairs", "tp_pairs")
    val pp = pairsOf(joined, Seq(predCol)).withColumnRenamed("pairs", "pp")
    val tt = pairsOf(joined, Seq(truthCol)).withColumnRenamed("pairs", "tt")
    tp.crossJoin(pp).crossJoin(tt) // three 1-row frames
      .select(col("tp_pairs"),
        (col("pp") - col("tp_pairs")).as("fp_pairs"),
        (col("tt") - col("tp_pairs")).as("fn_pairs"))
  }

  /** Two-level Merkle fingerprint of a corpus: leaf = md5(content),
    * shard hash = md5(ordered concat of its leaf hexes), root =
    * md5(ordered concat of shard hexes). Any single-byte change in any
    * document flips its leaf, its shard, and the root — the
    * tamper-evidence / version-identity receipt a released dataset
    * ships with. Shard aggregation is span-bounded; the root fold is
    * ǀshardsǀ-sized. Returns per-shard rows plus a root row
    * (shard = −1). */
  def datasetFingerprint(df: DataFrame, idCol: String, textCol: String,
      shardSpan: Long): DataFrame = {
    val leaves = df.select((col(idCol) / shardSpan).cast("long").as("shard"),
      col(idCol).as("_id"), md5(col(textCol)).as("leaf"))
    val shards = leaves.groupBy(col("shard"))
      .agg(md5(concat_ws("",
        transform(array_sort(collect_list(struct(col("_id"), col("leaf")))),
          x => x.getField("leaf")))).as("hash"),
        count(lit(1)).as("n_docs"))
    val root = shards.agg(md5(concat_ws("",
      transform(array_sort(collect_list(struct(col("shard"), col("hash")))),
        x => x.getField("hash")))).as("hash"),
      sum(col("n_docs")).as("n_docs"))
      .select(lit(-1L).as("shard"), col("hash"), col("n_docs"))
    shards.select(col("shard"), col("hash"), col("n_docs")).unionAll(root)
  }

  val defs: Seq[QueryDef] = Seq(

    // dedup-quality evaluation: planted truth clusters of 3 consecutive
    // ids, members disguised by case flips and doubled spacing (the
    // canonicalization must reunite them), every 5th super-group's two
    // truth clusters given IDENTICAL text (an over-merge -> fp pairs)
    // and every 7th super-group's third member given new content (an
    // under-merge -> fn pairs). Predicted clusters come from the real
    // canonicalization pipeline; the oracle derives them INDEPENDENTLY
    // from the planting rules and replays the contingency
    // combinatorics — no pair set is ever materialized on either side.
    QueryDef(
      "q314_dedup_pair_eval",
      (s, dir) => {
        import s.implicits._
        val planted = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .as[(Long, String)]
          .groupByKey { case (id, _) => id / 6 }
          .flatMapGroups { (sg, it) =>
            val members = it.toSeq.sortBy(_._1)
            // the corpus has rare canonically-identical texts (8 of
            // 5000 at sf0.1) — scope the planted content by the
            // super-group id so predicted merges can only happen where
            // the fixture PLANTS them
            val base = s"g$sg " + members.head._2
            members.map { case (id, _) =>
              val pos = id % 6
              val content =
                if (sg % 7 == 0 && pos == 2) s"unique $id"
                else if (sg % 5 == 0) base
                else if (pos >= 3) base + " extrablock"
                else base
              val disguised = (pos % 3) match {
                case 0 => content
                case 1 => content.toUpperCase
                case _ => content.replace(" ", "  ")
              }
              (id, id / 3, disguised)
            }
          }
          .toDF("doc_id", "truth", "text")
        val pred = planted.withColumn("pred",
          trim(regexp_replace(lower($"text"), "\\s+", " ")))
        Quality.pairCountingEval(pred, planted.select($"doc_id", $"truth"),
          "doc_id", "pred", "truth")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, doc_id // 3 AS truth, doc_id // 6 AS s,
                 CASE WHEN (doc_id // 6) % 7 = 0 AND doc_id % 6 = 2
                        THEN 'u' || doc_id
                      WHEN (doc_id // 6) % 5 = 0 THEN 'base'
                      WHEN doc_id % 6 >= 3 THEN 'extra'
                      ELSE 'base' END AS variant
          FROM documents),
        p AS (SELECT doc_id, truth, s || '#' || variant AS pred FROM d),
        cont AS (SELECT pred, truth, count(*) AS n FROM p GROUP BY 1, 2),
        tp AS (SELECT COALESCE(sum(n * (n - 1) // 2), 0) AS v FROM cont),
        pp AS (SELECT COALESCE(sum(n * (n - 1) // 2), 0) AS v FROM
                 (SELECT pred, count(*) AS n FROM p GROUP BY 1)),
        tt AS (SELECT COALESCE(sum(n * (n - 1) // 2), 0) AS v FROM
                 (SELECT truth, count(*) AS n FROM p GROUP BY 1))
        SELECT CAST(tp.v AS BIGINT) AS tp_pairs,
               CAST(pp.v - tp.v AS BIGINT) AS fp_pairs,
               CAST(tt.v - tp.v AS BIGINT) AS fn_pairs
        FROM tp, pp, tt""")),

    // dataset Merkle fingerprint: shards of 100 ids, per-shard hashes
    // and the root all recomputed independently by DuckDB's own md5 +
    // ordered string_agg — the release-identity receipt. Exact hex
    // equality across engines is the whole point.
    QueryDef(
      "q316_dataset_fingerprint",
      (s, dir) => {
        import s.implicits._
        Quality.datasetFingerprint(Tables.load(s, dir, "documents"),
          "doc_id", "text", shardSpan = 100L)
          .orderBy($"shard")
      },
      Some("""
        WITH l AS (
          SELECT doc_id // 100 AS shard, doc_id, md5(text) AS leaf
          FROM documents),
        sh AS (
          SELECT CAST(shard AS BIGINT) AS shard,
                 md5(string_agg(leaf, '' ORDER BY doc_id)) AS hash,
                 count(*) AS n_docs
          FROM l GROUP BY shard)
        SELECT shard, hash, n_docs FROM sh
        UNION ALL
        SELECT CAST(-1 AS BIGINT),
               md5(string_agg(hash, '' ORDER BY shard)),
               CAST(sum(n_docs) AS BIGINT)
        FROM sh
        ORDER BY shard""")),

    // a rule pack over orders + referential / uniqueness checks, all in
    // one report; the fixture is clean on some rules and dirty on others
    // (totalprice range is violated by design), so both zero and
    // non-zero violation counts are exercised
    QueryDef(
      "q186_quality_rules",
      (s, dir) => {
        import s.implicits._
        val o = Tables.load(s, dir, "orders")
        val c = Tables.load(s, dir, "customer")
        val rowRules = checkRules(o, Seq(
          "orderdate_not_null" -> $"o_orderdate".isNull,
          "priority_domain" -> !$"o_orderpriority".isin(
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
          "totalprice_range" ->
            ($"o_totalprice" <= 0.0 || $"o_totalprice" > 300000.0)))
        val refRule = refViolations(o, "o_custkey", c, "c_custkey")
          .agg(count(lit(1)).as("n_violations"))
          .select(lit("custkey_ref").as("rule"),
            lit(-1L).as("n_checked"), $"n_violations")
        val uniqRule = duplicateKeys(o, Seq("o_orderkey"))
          .agg(count(lit(1)).as("n_violations"))
          .select(lit("orderkey_unique").as("rule"),
            lit(-1L).as("n_checked"), $"n_violations")
        rowRules.unionByName(refRule).unionByName(uniqRule)
          .orderBy($"rule")
      },
      Some("""
        WITH rows_checked AS (SELECT count(*) AS n FROM orders)
        SELECT 'custkey_ref' AS rule, CAST(-1 AS BIGINT) AS n_checked,
               (SELECT count(*) FROM orders
                WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
                 AS n_violations
        UNION ALL
        SELECT 'orderdate_not_null', (SELECT n FROM rows_checked),
               (SELECT count(*) FROM orders WHERE o_orderdate IS NULL)
        UNION ALL
        SELECT 'orderkey_unique', CAST(-1 AS BIGINT),
               (SELECT count(*) FROM (
                  SELECT o_orderkey FROM orders
                  GROUP BY o_orderkey HAVING count(*) > 1))
        UNION ALL
        SELECT 'priority_domain', (SELECT n FROM rows_checked),
               (SELECT count(*) FROM orders
                WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH',
                  '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'))
        UNION ALL
        SELECT 'totalprice_range', (SELECT n FROM rows_checked),
               (SELECT count(*) FROM orders
                WHERE o_totalprice <= 0.0 OR o_totalprice > 300000.0)
        ORDER BY rule""")),

    // k-anonymity gate over customer: QI = (nation, acctbal band of
    // 2000) — coarse enough that both suppressed AND passing groups
    // exist at every fixture SF, so both branches of the generalize
    // are exercised. The oracle replays the group counts and the
    // suppression rewrite; a wrong threshold comparison, a leaked
    // rare-group count, or a dropped row all hash-mismatch.
    QueryDef(
      "q285_k_anonymity",
      (s, dir) => {
        import s.implicits._
        val prepared = Tables.load(s, dir, "customer")
          .select($"c_custkey",
            $"c_nationkey".as("nation"),
            floor($"c_acctbal" / 2000.0).cast("int").as("band"))
        kAnonymize(prepared, "c_custkey", Seq("nation", "band"), k = 5)
          .orderBy($"c_custkey")
      },
      Some("""
        WITH q AS (
          SELECT c_custkey, c_nationkey AS nat,
                 CAST(floor(c_acctbal / 2000.0) AS INT) AS band
          FROM customer),
        g AS (SELECT nat, band, count(*) AS n
              FROM q GROUP BY nat, band)
        SELECT c_custkey,
               CASE WHEN g.n < 5 THEN '*'
                    ELSE CAST(q.nat AS VARCHAR) END AS nation,
               CASE WHEN g.n < 5 THEN '*'
                    ELSE CAST(q.band AS VARCHAR) END AS band,
               g.n < 5 AS suppressed,
               CAST(CASE WHEN g.n < 5 THEN NULL ELSE g.n END AS BIGINT)
                 AS n_group
        FROM q JOIN g ON q.nat = g.nat AND q.band = g.band
        ORDER BY c_custkey""")),

    // single-pass observed curation metrics over documents: the oracle
    // recomputes every metric directly; the Spark side collects them as
    // an Observation riding the keep-filter's one scan
    QueryDef(
      "q204_observe_metrics",
      (s, dir) => observedCuration(Tables.load(s, dir, "documents"),
        minChars = 200L, keepLangs = Seq("en", "de", "fr", "es")),
      Some("""
        SELECT count(*) AS n_rows,
               count(CASE WHEN n_chars < 200 THEN 1 END) AS n_short,
               count(CASE WHEN lang NOT IN ('en','de','fr','es') THEN 1 END)
                 AS n_offlang,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               count(CASE WHEN n_chars >= 200
                           AND lang IN ('en','de','fr','es') THEN 1 END)
                 AS n_kept
        FROM documents"""))
  )
}
