package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Regression tests for the SCALE properties of the declared plans — the
  * things that decide whether a query that passes at sf0.01 still works
  * at 100 TB. Each assertion reads the formatted physical plan the same
  * way a human running .explain("formatted") would.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.plans.PlanInspector.formatted(SparkEntry.queries(name)(spark, sf))

  test("PlanInspector predicates agree with the raw plan checks") {
    val df = SparkEntry.queries("q03_join_revenue_by_nation")(spark, sf)
    assert(graft.plans.PlanInspector.hasBroadcastJoin(df))
    assert(graft.plans.PlanInspector.hasPartialAggregation(df))
    assert(graft.plans.PlanInspector.exchangeCount(df) >= 1)
    val q2 = SparkEntry.queries("q02_filter_project")(spark, sf)
    assert(graft.plans.PlanInspector.hasPushedFilter(q2,
      "GreaterThan(o_totalprice,100000.0)"))
    assert(!graft.plans.PlanInspector.readSchemaContains(q2, "o_comment"))
  }

  test("PlanInspector.executed returns the final adaptive plan") {
    val p = graft.plans.PlanInspector.executed(
      SparkEntry.queries("q03_join_revenue_by_nation")(spark, sf))
    assert(p.contains("isFinalPlan=true"), p.take(1500))
  }

  test("q02: predicate pushdown reaches the parquet scan, columns pruned") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters"), "no pushdown section")
    assert(p.contains("GreaterThan(o_totalprice,100000.0)"),
      "price filter not pushed to scan")
    // 11-column table, 5-column read
    assert(p.contains("o_orderpriority") && !p.contains("o_comment"))
  }

  test("q01: aggregation is partial (map-side) + final") {
    val p = plan("q01_pricing_summary")
    // two HashAggregate nodes around one Exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(p.contains("Exchange"))
  }

  test("q03: dimension joins are broadcast, not shuffled") {
    val p = plan("q03_join_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), "dims should broadcast")
  }

  test("q09: broadcast join never shuffles the fact table") {
    val p = plan("q09_broadcast_join_brand_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "fact-side shuffle join where a broadcast was hinted")
  }

  test("q25: global top-k is TakeOrdered, not a total sort") {
    val p = plan("q25_topk_orders")
    assert(p.contains("TakeOrderedAndProject"),
      "orderBy+limit should plan as distributed top-k")
  }

  test("q25: the top-k sort gets no single-partition exchange below it") {
    val p = plan("q25_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q426: a small decoder sort runs in one partition, with no sampling job") {
    val p = graft.plans.PlanInspector.executed(
      SparkEntry.queries("q426_git_pack_inventory")(spark, sf)).toLowerCase
    assert(!p.contains("rangepartitioning"), p)
    assert(p.contains("exchange singlepartition"), p)
  }

  test("q249 and q325: their decoder sorts run in one partition, with no " +
      "sampling job") {
    Seq("q249_gzip_decode", "q325_zstd_decode").foreach { q =>
      val p = graft.plans.PlanInspector.executed(
        SparkEntry.queries(q)(spark, sf)).toLowerCase
      assert(!p.contains("rangepartitioning"), s"$q: $p")
      assert(p.contains("exchange singlepartition"), s"$q: $p")
    }
  }

  test("q61: native cosine expression appears in the plan and supports codegen") {
    val p = plan("q61_knn_native_expr")
    assert(p.contains("cosine_sim"), "native expression missing from plan")
    // the expression itself must not be a CodegenFallback (which would
    // break the surrounding WholeStageCodegen span)
    val e = graft.functions.CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.default(
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.default(
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    assert(!e.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback])
  }

  test("q86: LSH embedding dedup plans no nested-loop cartesian (unlike q45)") {
    val p = plan("q86_dedup_embedding_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the scale-path near-dup must join within buckets, never all pairs:\n" +
        p.take(1500))
    // q45 is the O(n²) baseline and IS a nested-loop by construction —
    // pin that contrast so a regression can't silently swap them
    val baseline = plan("q45_dedup_embedding_cosine")
    assert(baseline.contains("BroadcastNestedLoopJoin") ||
      baseline.contains("CartesianProduct"))
  }

  test("q46/q47: kNN per-pair math is the native codegen expression") {
    assert(plan("q46_knn_bruteforce").contains("cosine_sim"),
      "brute-force kNN should use the fused native expression")
    assert(plan("q47_knn_lsh").contains("cosine_sim"),
      "LSH kNN verify should use the fused native expression")
  }

  test("q101/q103: prefix-filter join and pipeline plan no cartesian") {
    // q101 must candidate-join on the prefix hash (equi-join), never all
    // pairs — the whole point of prefix filtering
    val p101 = plan("q101_jaccard_prefix_filter")
    assert(!p101.contains("BroadcastNestedLoopJoin") &&
      !p101.contains("CartesianProduct"),
      "prefix-filtered jaccard must be an equi-join on prefix tokens")
    // the fused pipeline stays equi-join/anti-join end to end
    val p103 = plan("q103_training_pipeline")
    assert(!p103.contains("BroadcastNestedLoopJoin") &&
      !p103.contains("CartesianProduct"))
    // and its exact-dedup stage shuffles on the md5 digest — the text
    // column must never be the partition key of an Exchange
    assert(p103.contains("hashpartitioning(_digest"),
      "exact-dedup window should partition on the precomputed digest")
  }

  test("q104: BM25 stats broadcast; top-k is TakeOrdered, not a global sort") {
    val p = plan("q104_bm25_search")
    assert(p.contains("BroadcastExchange"),
      "term df / corpus stats should broadcast to the scoring join")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k should be a per-partition heap, not a total sort")
  }

  test("q89: metadata-only multimodal read prunes the binary column") {
    val df = graft.operators.Multimodal.metadataOnly(spark, sf)
    assert(!graft.plans.PlanInspector.readSchemaContains(df, "text"),
      "binary payload column must not be read for a metadata-only rollup")
  }

  test("q120: benchmark n-gram set broadcasts; corpus is never cartesian-joined") {
    val p = plan("q120_decontamination")
    assert(p.contains("BroadcastHashJoin"),
      "the (tiny) benchmark gram set should broadcast to the corpus pass")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "decontamination must equi-join on the gram hash, never all pairs")
  }

  test("curation windows are partitioned per key, never a global ordering") {
    assert(plan("q122_sequence_packing").contains("hashpartitioning(source"),
      "packing must window per source partition")
    assert(plan("q126_sessionize").contains("hashpartitioning(user_id"),
      "sessionization must window per user")
    assert(plan("q123_deterministic_shuffle").contains("hashpartitioning(shard"),
      "shuffle positions must be computed per shard")
  }

  test("q127: funnel stages equi-join on user_id, no cartesian") {
    val p = plan("q127_funnel")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q43: LSH verify is candidate-pruned and array-free (no all-docs collect_list)") {
    val p = plan("q43_dedup_minhash_lsh")
    // the exact-verify stage must count intersections via hash equi-joins
    // on candidate docs only — never materialize per-doc shingle arrays
    // for the whole corpus and shuffle them
    assert(!p.contains("collect_list"),
      "verify stage rebuilt full-corpus shingle arrays")
    assert(p.contains("LeftSemi"),
      "shingle frame must be semi-joined down to candidate ids before verify")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q141/q142: broadcast is hint-forced only on fixed-size dims") {
    // with auto-broadcast disabled, the only BroadcastHashJoins left are
    // the explicit hints — nation (both lookups) and region, whose
    // cardinality is constant at every SF; customer/supplier/part are
    // SF-scaled and must fall back to shuffle joins (threshold/AQE decide
    // in production, where they'd broadcast again at small SF)
    // restore the SESSION's configured threshold afterwards, not Spark's
    // built-in default — unset would leave later audits running under a
    // different broadcast policy than the shipped GraftSession one
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def joins(name: String) =
        SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => "bhj"
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => "smj"
          case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => "shj"
        }
      val j141 = joins("q141_market_share")
      assert(j141.count(_ == "bhj") == 3,
        s"q141 must force-broadcast exactly nation(x2)+region, saw $j141")
      assert(j141.exists(j => j == "smj" || j == "shj"),
        "SF-scaled dims must shuffle-join when broadcast is not justified")
      val j142 = joins("q142_nation_profit")
      assert(j142.count(_ == "bhj") == 1,
        s"q142 must force-broadcast exactly nation, saw $j142")
      assert(j142.exists(j => j == "smj" || j == "shj"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("no forced broadcast survives on any SF-scaled dim (hint sweep)") {
    // with auto-broadcast disabled, any BroadcastHashJoin left in the
    // plan is a hint-forced one. Hints are allowed ONLY on relations
    // whose cardinality is constant at every SF (nation 25 rows, region
    // 5, literal band tables, 1-row aggregates); customer/supplier/part
    // grow with SF, and a forced broadcast on them is an executor OOM at
    // SF 100k — exactly the class of bug a correctness oracle can't see.
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def bhj(name: String): Int =
        SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
        }.size
      val expected = Seq(
        "q03_join_revenue_by_nation"      -> 1, // nation
        "q09_broadcast_join_brand_revenue"-> 0, // part: AQE's call
        "q12_top_unshipped_orders"        -> 0, // customer
        "q13_local_supplier_volume"       -> 2, // nation + region
        "q26_top3_orders_per_segment"     -> 0, // customer
        "q72_nation_trade_volume"         -> 2, // nation x2
        "q80_returned_item_customers"     -> 1, // nation
        "q81_promo_revenue_share"         -> 0, // part
        "q82_large_volume_orders"         -> 0, // customer
        "q83_bracketed_revenue"           -> 0, // part
        "q94_supplier_part_counts"        -> 0, // part + supplier anti
        "q143_cheapest_supplier"          -> 2, // nation + region
        "q144_important_parts"            -> 0, // supplier
        "q147_excess_suppliers"           -> 0) // part + supplier
      expected.foreach { case (name, n) =>
        val saw = bhj(name)
        assert(saw == n,
          s"$name: expected $n hint-forced broadcasts, saw $saw")
      }
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("q152: incremental near-dup is digest/band-only against history (no text in any Exchange)") {
    val p = plan("q152_incremental_neardup")
    // the cross-batch check must semi-join band keys against the index
    assert(p.contains("LeftSemi"),
      "band-index membership should be a semi-join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // history is a band index: no Exchange may partition on raw text —
    // the whole point of persisting band keys instead of documents
    assert(!p.contains("hashpartitioning(text"),
      "document text must never be a shuffle key")
  }

  test("q156: span dedup shuffles window hashes, never token arrays or text") {
    val p = plan("q156_span_dedup")
    // candidate windows travel as 16-byte md5 rows; the duplicated-hash
    // membership check is a semi-join; reassembly must not partition on
    // the token array (the starts side is the small one)
    assert(p.contains("LeftSemi"),
      "duplicated-hash membership should be a semi-join")
    assert(!p.contains("hashpartitioning(ts") && !p.contains("hashpartitioning(text"),
      "token arrays must never be a shuffle key:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q158: k-means centroids broadcast every round; corpus never repartitions") {
    val p = plan("q158_kmeans_clusters")
    // assignment is corpus x k via BroadcastExchange of the k centroids
    assert(p.contains("BroadcastExchange"),
      "centroids must broadcast to the assignment join")
    assert(!p.contains("hashpartitioning(ve#") && !p.contains("hashpartitioning(embedding"),
      "the vector column must never be a shuffle key:\n" + p.take(2000))
  }

  test("q151: 64-bit simhash pairs stay equi-join candidate-bounded") {
    val p = plan("q151_simhash64_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "simhash64 candidates must come from (band, bk) equi-joins")
  }

  test("q130: centroid assignment aggregates (max_by), never windows the n×k frame") {
    val df = SparkEntry.queries("q130_semantic_dedup")(spark, sf)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    // the row_number argmax would shuffle all n×k scored rows by vec_id;
    // max_by partial-aggregates map-side so one row per vector shuffles.
    // The cached assignment is an InMemoryRelation leaf here, so also
    // audit the cached plan itself for stray windows.
    val cachedWindows = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cachedPlan.collect {
          case w if w.nodeName.contains("Window") => w
        }
    }.flatten
    assert(windows.isEmpty && cachedWindows.isEmpty,
      s"semanticDedup must not window-argmax: $windows $cachedWindows")
  }

  test("q130: pair and survivor joins carry equi-keys (only the cached assignment is a cross)") {
    val df = SparkEntry.queries("q130_semantic_dedup")(spark, sf)
    assert(plan("q130_semantic_dedup").contains("cosine_sim"))
    // the cached centroid assignment collapses to an InMemoryRelation
    // leaf, so the joins visible in the optimized plan are exactly the
    // within-cell pair join and the survivor anti-join — each must keep
    // an equality in its condition (losing the cell equi-key would leave
    // only id1 < id2, a nested-loop over all pairs)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size >= 2, s"expected pair + anti joins, saw ${joins.size}")
    joins.foreach { j =>
      assert(j.condition.exists(_.exists {
        case _: org.apache.spark.sql.catalyst.expressions.EqualTo => true
        case _ => false
      }), s"join without an equi-key: $j")
    }
  }

  test("whole-stage codegen is active on the flagship query (executed plan)") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("WholeStageCodegen") || executed.contains("*("),
      "no WholeStageCodegen span in executed plan:\n" + executed.take(1500))
  }

  test("partitioned parquet: filters prune partitions at plan time") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tempPath("part_").toString + "/events"
    graft.engine.Tables.load(spark, sf, "events")
      .write.partitionBy("event_type").parquet(dir)
    val df = spark.read.parquet(dir)
      .filter($"event_type" === "purchase" && $"value" > 10.0)
      .select($"event_id", $"value")
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters") &&
      p.contains("event_type#") || p.contains("isnotnull(event_type"),
      "partition filter not applied:\n" + p.take(1500))
    // the data filter must still be pushed separately
    assert(p.contains("GreaterThan(value,10.0)"))
    // only the matching partition is listed
    assert(df.count() ==
      graft.engine.Tables.load(spark, sf, "events")
        .filter($"event_type" === "purchase" && $"value" > 10.0).count())
  }

  test("bucketed co-located join eliminates both shuffles") {
    import org.apache.spark.sql.functions._
    val wh = tempPath("wh_").toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import spark.implicits._
      val o = graft.engine.Tables.load(spark, sf, "orders")
      val li = graft.engine.Tables.load(spark, sf, "lineitem")
      o.write.format("parquet").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", s"$wh/orders_b").saveAsTable("orders_b")
      li.write.format("parquet").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", s"$wh/lineitem_b").saveAsTable("lineitem_b")
      val j = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderstatus").agg(sum($"l_quantity"))
      val p = j.queryExecution.explainString(ExplainMode.fromString("formatted"))
      // both sides pre-bucketed on the join key: no Exchange below the join
      val joinSection = p.substring(0, p.indexOf("HashAggregate"))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
      assert(!joinSection.contains("Exchange hashpartitioning"),
        "bucketed join should not re-shuffle either side:\n" + p.take(2000))
      assert(j.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("q164/q166: new-query scans read only the needed columns") {
    // q164: both lineitem passes (sketch build + exact referee) must
    // prune to the 1-2 columns used — a sketch pass that drags the full
    // 16-column row defeats the point of a one-pass sketch at 100 TB
    val p164 = plan("q164_hll_sketch_merge")
    assert(p164.contains("ReadSchema: struct<l_partkey:bigint"),
      "q164 scan not pruned to l_partkey")
    assert(!p164.contains("l_comment") && !p164.contains("l_extendedprice"),
      "q164 reads columns it never uses")
    // q166: the redaction pass is a linear scan of (doc_id, text) only
    val p166 = plan("q166_pii_redaction")
    assert(p166.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "q166 scan not pruned to doc_id+text")
  }

  test("runtime bloom filter from a selective dim filter prunes the fact scan") {
    // the clusterBuilder posture (GraftSession.scala) enables runtime
    // bloom filters; this pins that the rule actually fires on our join
    // shape. Thresholds are lowered because the fixture is far below the
    // production 10 GB application-side default.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val set = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    set.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = graft.engine.Tables.load(spark, sf, "lineitem")
      val o = graft.engine.Tables.load(spark, sf, "orders")
        .filter($"o_orderpriority" === "1-URGENT")
      val j = li.join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag").agg(sum($"l_quantity").as("q"))
      val p = j.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("might_contain"),
        "no runtime bloom filter injected on the fact side:\n" + p.take(2500))
    } finally {
      set.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  test("q183: interval overlap join is an equi-join on bins, never a nested loop") {
    val p = plan("q183_interval_overlap_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "theta-join fell back to a nested loop — bin blocking not in effect")
    // quantity filter still reaches the scan under the explode
    assert(p.contains("GreaterThanOrEqual(l_quantity,50.0)"),
      "selection not pushed below the bin explode")
  }

  test("q184: budget selection sorts at most the boundary bucket, not the corpus") {
    import org.apache.spark.sql.functions._
    // audit the OPERATOR (not the query, whose final orderBy(doc_id) is
    // output determinism for the oracle): the only window sorts are
    // bucket-partitioned or over the |buckets|-row summary — no
    // full-corpus range partitioning
    val docs = graft.engine.Tables.load(spark, sf, "documents")
    val p = graft.plans.PlanInspector.formatted(
      graft.operators.TrainingPipeline.tokenBudgetSelect(docs, 2000L))
    val rangeExchanges = p.linesIterator
      .filter(l => l.contains("Exchange rangepartitioning")).toSeq
    assert(rangeExchanges.isEmpty,
      s"global sort in the selection path:\n${rangeExchanges.mkString("\n")}")
  }

  test("q190: sliding distinct scans events ONCE — no semi-join subtree duplication") {
    val p = plan("q190_sliding_distinct")
    // the only table in the query is events, so any parquet scan is it;
    // count detail headers ("(N) Scan parquet") — formatted mode prints
    // every node twice (tree line + detail section)
    val scans = p.linesIterator
      .count(l => l.trim.startsWith("(") && l.contains("Scan parquet"))
    assert(scans == 1,
      s"events scanned $scans times — the day-list reference re-expanded")
    assert(!p.contains("Join"), "anchor-flag day restriction became a join")
  }

  test("q191: merge-upsert is one keyed full-outer, change log reduced map-side") {
    val p = plan("q191_merge_upsert")
    assert(p.contains("FullOuter"), "merge join shape lost")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // max_by over the full-image struct plans as ObjectHashAggregate —
    // still partial+final; assert the partial side survives
    assert(p.contains("partial_max_by"),
      "last-op-per-key reduction is not map-side partial")
  }

  test("q192: basket rules never cartesian; pair expansion equi-joins on basket id") {
    val p = plan("q192_basket_rules")
    assert(!p.contains("CartesianProduct"),
      "pair expansion fell back to a cross product")
    // the single 1-row basket-count broadcast is the only nested loop
    // allowed in the plan; the pair expansion itself must stay equi
    // (detail headers only — formatted mode prints nodes twice)
    val bnlj = p.linesIterator.count(l =>
      l.trim.startsWith("(") && l.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"$bnlj nested-loop joins — only the 1-row " +
      "n_baskets broadcast is expected")
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 rules became a global sort")
  }

  test("q201: temporal join keeps its equi-key (range predicate must not force a nested loop)") {
    val p = plan("q201_temporal_dim_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "validity-interval predicate displaced the o_custkey equi-join")
  }

  test("q197/q199: single-scan operators never re-read their table") {
    for ((q, label) <- Seq(
        "q197_time_weighted_avg" -> "events",
        "q199_bigram_pmi" -> "documents")) {
      val p = plan(q)
      val scans = p.linesIterator
        .count(l => l.trim.startsWith("(") && l.contains("Scan parquet"))
      // q199's three count-frame consumers must hit the InMemoryRelation,
      // not re-expand the corpus subtree
      assert(scans <= 1, s"$q scanned $label $scans times")
    }
  }

  test("q196/q200: iterative graph rounds are equi-joins, never cartesian") {
    for (q <- Seq("q196_label_propagation", "q200_khop_reachability")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q plans a cross product")
    }
  }

  test("q205: winsorize clip join broadcasts the bounds, aggs are partial") {
    val p = plan("q205_winsorize")
    // the |groups|-row bounds frame must broadcast back onto the input —
    // a sort-merge join here would shuffle the full table a second time
    assert(p.contains("BroadcastHashJoin"),
      "winsorize bounds should broadcast, not shuffle the fact side")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no partial agg")
  }

  test("q206: join cardinality never joins data rows, only key histograms") {
    val p = plan("q206_join_cardinality")
    // both sides reduce to (key, count) BEFORE the join: the join's
    // inputs must each sit above a partial+final aggregate, and no
    // column beyond the keys is ever read
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "per-side histograms should partial-aggregate before the join")
    assert(!p.contains("o_totalprice") && !p.contains("l_quantity"),
      "histogram build read non-key columns")
  }

  test("q209/q210: change feed stays a keyed equi-join; tolerance asof adds no join") {
    val feed = plan("q209_change_feed")
    assert(!feed.contains("CartesianProduct") &&
      !feed.contains("BroadcastNestedLoopJoin"),
      "change feed must stay a keyed full-outer equi-join")
    val asof = plan("q210_asof_tolerance")
    // tolerance must be a row-local cutoff after the union-merge window,
    // never a range-join predicate — the plan has windows but NO join
    assert(!asof.contains("Join"), "tolerance became a join predicate")
    assert(asof.contains("Window"), "union-merge window missing")
  }

  test("q222: overlap stats collapse map-side — no pair-width exchange or sort") {
    val p = plan("q222_interval_overlap_stats")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "bin blocking not in effect")
    // partial + final HashAggregate around the post-join exchange: the
    // quadratic pair stream must reduce to <=8 rows per task BEFORE
    // shuffling (the whole point of the stats form over the listing)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "no partial aggregation on the pair stream")
    // the canonical-bin filter replaced the pair-width distinct: no
    // aggregate in the plan may group on the pair identity — that
    // would be the reintroduced second shuffle of the full pair stream
    assert(!p.linesIterator.exists(l =>
        l.contains("Keys") && l.contains("id_a")),
      "aggregate keyed on (id_a, id_b) — pair-width distinct is back")
  }

  test("q223: k-core's per-round surviving-node set is cached, joins stay equi") {
    // kCore follows the Materialize contract: the returned frame is a
    // bare checkpoint scan, so the loop's real plan is only visible
    // through the handoff tap, captured BEFORE caches are freed
    var captured = List.empty[String]
    graft.engine.Materialize.auditTap =
      Some(df => captured ::= graft.plans.PlanInspector.formatted(df))
    try SparkEntry.queries("q223_kcore")(spark, sf)
    finally graft.engine.Materialize.auditTap = None
    assert(captured.nonEmpty, "handoff tap saw no frame — contract drift?")
    val p = captured.mkString("\n")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "peel round fell back to a nested loop")
    // each round joins the edge frame against the SAME degree-filtered
    // node set twice; the node→node2 rename defeats ReuseExchange, so
    // the operator must cache the set — both joins read the cache
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      "surviving-node aggregate computed twice per round (cache missing)")
  }

  test("q335: image near-dup joins within bands, hamming is bit_count") {
    val p = plan("q335_image_near_dup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "image near-dup must bucket-join on (band, bits), never all pairs:\n" +
        p.take(1500))
    // the hamming path is packed-quarter bit_count(xor), not a
    // per-character lambda — the 5x sf1 rework this spec pins
    assert(p.contains("bit_count"), "hamming regressed off bit_count")
    // both self-join sides read the cached banded frame, not two full
    // PNG encode->decode->hash lineages
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      "banded frame cache missing (lineage would run twice)")
  }
}
