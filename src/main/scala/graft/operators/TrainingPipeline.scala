package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Training-data curation operators beyond the dedup/similarity family:
  * benchmark decontamination, repetition-based quality signals, sequence
  * packing, deterministic shuffling/sharding, incremental (cross-batch)
  * dedup, and per-source quota sampling. These are the operations a
  * 100 TB LLM-pretraining pipeline runs between "raw corpus" and
  * "training shards"; the reference engine could only express them as
  * hand-written map/reduce pairs (/root/reference/README.txt:236-293).
  *
  * All of it is declared-plan `functions._` — no UDFs, every hash
  * md5-derived so the DuckDB oracle replays the computation exactly.
  *
  * Scale notes (100 TB posture):
  *  - decontamination: the benchmark side is tiny by definition (eval
  *    sets, not corpora) → its n-gram set broadcasts; the corpus side is
  *    one linear n-gram pass + a broadcast hash join. No shuffle of the
  *    corpus at all.
  *  - repetition signals: two partial-agg shuffles keyed on (doc, token)
  *    then doc — text itself never ships past the initial explode.
  *  - packing / quota / sharding: windows are PARTITIONED (by source or
  *    shard), never a single global ordering, so parallelism survives any
  *    corpus size; shard count should scale with the cluster (cores × k),
  *    the fixture queries use small constants only for oracle legibility.
  */
object TrainingPipeline {

  /** Distinct n-token shingles per doc as rows (doc_id, s), built from
    * exploded tokens + window `lead` — LINEAR in document length
    * ([[Dedup.shingleRows]] is the n=3 specialization).
    *
    * The obvious higher-order formulation
    * `transform(sequence(1, size-n+1), i -> concat(ts[i], ..., ts[i+n-1]))`
    * is a trap: CollapseProject inlines the `split` into every lambda
    * element access, so each doc re-splits its text O(shingles x n) times
    * — O(L²) per doc, and it shows (this cut the sf0.1 Jaccard query
    * ~5x). Explode + lead keeps everything one pass: one Generate, one
    * hash shuffle on doc_id for the window, already the partitioning the
    * downstream grouping wants. */
  def ngramRows(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 2, "n-gram size must be >= 2")
    val s = docs.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    // fan out before the posexplode so the tokenize pass is not
    // serialized by an under-parallel scan (no-op at real scale)
    val base = graft.engine.Tables.fanout(docs)
      .select($"doc_id", posexplode(split($"text", " ")))
      .toDF("doc_id", "pos", "tk0")
    val withLeads = (1 until n).foldLeft(base) { (df, i) =>
      df.withColumn(s"tk$i", lead($"tk0", i).over(w))
    }
    withLeads
      .filter(col(s"tk${n - 1}").isNotNull)
      .select($"doc_id",
        concat_ws(" ", (0 until n).map(i => col(s"tk$i")): _*).as("s"))
      .distinct()
  }

  /** Benchmark decontamination: corpus docs sharing at least `minOverlap`
    * distinct n-grams with ANY benchmark doc, with the overlap count —
    * the standard eval-set leak check run before training. The benchmark
    * n-gram set is deduped and broadcast (eval sets are MBs, not TBs), so
    * the corpus side is a single linear pass with a broadcast join: the
    * corpus is never shuffled. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 4, minOverlap: Long = 1L): DataFrame = {
    val bg = ngramRows(benchmark, n)
      .select(Dedup.h60(col("s")).as("hb")).distinct()
    ngramRows(corpus, n)
      .select(col("doc_id"), Dedup.h60(col("s")).as("h"))
      .join(broadcast(bg), col("h") === col("hb"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** Per-doc token-repetition quality signals (Gopher-style repetition
    * rules): duplicate-token fraction, top-token fraction, and a keep
    * flag from thresholds on the ROUNDED fractions (so the decision is
    * reproducible across engines and reruns). */
  def repetitionSignals(docs: DataFrame,
      maxDupFrac: Double = 0.55, maxTopFrac: Double = 0.12): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val per = docs.select($"doc_id", explode(split($"text", " ")).as("tk"))
      .groupBy($"doc_id", $"tk").agg(count(lit(1)).as("c"))
    per.groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"), count(lit(1)).as("n_distinct"),
        max($"c").as("top_count"))
      .select($"doc_id", $"n_tokens",
        round(lit(1.0) - $"n_distinct" / $"n_tokens".cast("double"), 4)
          .as("dup_frac"),
        round($"top_count" / $"n_tokens".cast("double"), 4).as("top_frac"))
      .withColumn("keep",
        when($"dup_frac" <= maxDupFrac && $"top_frac" <= maxTopFrac, 1)
          .otherwise(0))
  }

  /** Concatenate-and-chunk sequence packing: documents are laid out in
    * doc_id order within each `source` partition and cut into packs of
    * `budget` tokens; a doc belongs to the pack where it STARTS. This is
    * the packing layout used when pretraining on concatenated documents
    * with a fixed context length. The window is partitioned by source —
    * no global sort — and the pack id is exact integer arithmetic
    * ((cum - n_tok) DIV budget, both non-negative), not double division
    * that would lose exactness past 2^53 cumulative tokens. */
  def packSequences(docs: DataFrame, budget: Long = 512L): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select($"source", $"doc_id",
        size(split($"text", " ")).cast("long").as("n_tok"))
      .withColumn("cum", sum($"n_tok").over(w))
      .withColumn("pack_id", expr(s"(cum - n_tok) DIV $budget"))
      .groupBy($"source", $"pack_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("sum_tokens"))
  }

  /** Deterministic training-order shuffle: every doc gets a pseudo-random
    * but fully reproducible (seeded, content-independent) shard and
    * position — rerunning the pipeline yields the identical training
    * order, unlike rand()-based shuffles. Position is a row_number within
    * the shard ordered by the doc's seeded hash; the window is
    * partitioned BY SHARD, so at cluster scale you raise `nShards` to
    * (cores × k) and every shard sorts independently. */
  def deterministicShuffle(docs: DataFrame, nShards: Int, seed: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val h = Dedup.h60(concat($"doc_id".cast("string"), lit(s":$seed")))
    docs.select($"doc_id", h.as("h"))
      .withColumn("shard", pmod($"h", lit(nShards.toLong)))
      .withColumn("pos",
        row_number().over(Window.partitionBy($"shard")
          .orderBy($"h".asc_nulls_last, $"doc_id"))
          .cast("long"))
  }

  /** Incremental (cross-batch) exact dedup: drop new docs whose content
    * digest already exists in the `seen` digest set, after first deduping
    * the batch internally (keep min doc_id). Only digests ship — the
    * seen set is a digest column, typically the persisted output of
    * previous runs, and the anti-join is the bloom-prunable shape AQE
    * handles well. Returns (doc_id, digest, n_in_batch) survivors.
    *
    * NULL contract: rows with a null digest (null text) are excluded
    * from BOTH sides up front. Without this, engines diverge on nulls —
    * a left_anti keeps a null-digest batch row (null === null is null,
    * never matched) while SQL's NOT IN empties the whole result once
    * `seen` holds one NULL — so the contract is pinned here and mirrored
    * by `WHERE text IS NOT NULL` in the oracle. */
  def incrementalDedup(newDocs: DataFrame, seenDigests: DataFrame): DataFrame = {
    val s = newDocs.sparkSession
    import s.implicits._
    val batch = newDocs.select(md5($"text").as("digest"), $"doc_id")
      .filter($"digest".isNotNull)
      .groupBy($"digest")
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_in_batch"))
    batch.join(
        seenDigests.select($"digest".as("_seen"))
          .filter(col("_seen").isNotNull).distinct(),
        batch("digest") === col("_seen"), "left_anti")
      .select($"doc_id", $"digest", $"n_in_batch")
  }

  /** Per-source quota sampling: keep at most `cap` docs per source,
    * chosen by deterministic content-hash order (not rand(), so reruns
    * and retries agree) — the "domain cap" every web-scale corpus applies
    * so one giant crawl domain can't dominate the mixture. row_number is
    * per-source, so the window parallelizes across sources. */
  def sourceQuota(docs: DataFrame, cap: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // NULLS LAST: a null text hashes to null; Spark's NULLS FIRST default
    // would diverge from DuckDB's NULLS LAST on such rows
    docs.select($"source", $"doc_id", Dedup.h60($"text").as("h"))
      .withColumn("rn",
        row_number().over(Window.partitionBy($"source")
          .orderBy($"h".asc_nulls_last, $"doc_id"))
          .cast("long"))
      .filter($"rn" <= cap)
      .select($"source", $"rn", $"doc_id")
  }

  /** Token-window chunking: cut each document into chunks of `size`
    * tokens every `stride` tokens (overlap = size - stride) — the
    * context-window chunker for RAG indexing and fixed-length training
    * examples. One linear pass: sequence + explode + slice, row-parallel,
    * no shuffle before the output sort. */
  def chunkTokens(docs: DataFrame, size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0)
    val s = docs.sparkSession
    import s.implicits._
    // guard on the raw text, not size(ts): split("") yields [""] (one
    // empty token) in BOTH engines, which would fabricate a chunk
    val nt = org.apache.spark.sql.functions.size($"ts")
    docs.filter(length($"text") > 0)
      .select($"doc_id", split($"text", " ").as("ts"))
      .select($"doc_id", $"ts",
        explode(sequence(lit(0), nt - 1, lit(stride))).as("start"))
      .select($"doc_id", ($"start" / stride).cast("long").as("chunk_idx"),
        array_join(slice($"ts", $"start" + 1, lit(size)), " ").as("chunk"),
        least(nt - $"start", lit(size)).cast("long").as("n_tokens"))
  }

  /** Weight-proportional systematic sampling per source: lay each
    * source's docs on a cumulative-weight axis (doc_id order), place
    * `perSourceK` equally-spaced marks, keep the doc each mark lands in.
    * EXACT integer arithmetic end to end (weights are integer byte/char
    * counts), so the sample is bit-reproducible across engines and
    * retries — the mixture-weighting primitive used when up/down-
    * sampling sources by quality or size. A doc spanning multiple marks
    * is kept once (the standard systematic-sampling caveat).
    *
    * PRECONDITION: weights must be non-negative — a negative weight
    * makes the cumulative axis non-monotonic, letting the mark-crossing
    * predicate select spurious or duplicate docs. Enforced by filtering
    * w < 0 rows out (a doc with negative weight carries no sampling mass
    * by definition). */
  def weightedSystematicSample(docs: DataFrame, weightCol: String,
      perSourceK: Int): DataFrame = {
    require(perSourceK > 0)
    val s = docs.sparkSession
    import s.implicits._
    val cumW = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // step = max(1, ceil(tot / k)): ceil keeps a source whose total
    // weight is below k (it yields its docs instead of silently
    // vanishing) and bounds picks at floor(tot/step) <= k; the max(1)
    // clamp covers an all-zero-weight source, whose tot = 0 would
    // otherwise make `cum DIV 0` throw under Spark's ANSI mode (such a
    // source correctly yields nothing: zero weight, zero marks crossed)
    docs.select($"source", $"doc_id", col(weightCol).cast("long").as("w"))
      .filter($"w" >= 0)
      .withColumn("cum", sum($"w").over(cumW))
      .withColumn("_tot", sum($"w").over(Window.partitionBy($"source")))
      .withColumn("_step",
        greatest(lit(1L), expr(s"(_tot + $perSourceK - 1) DIV $perSourceK")))
      .filter(expr("(cum DIV _step) > ((cum - w) DIV _step)"))
      .select($"source", $"doc_id", $"w")
  }

  /** Temperature-scaled source mixture (T = 2, i.e. sampling weights
    * ∝ n^(1/2)): the standard multilingual/multi-source rebalancing rule
    * (mT5, XLM-R) — big sources are down-weighted, small sources
    * up-weighted, with the exponent 1/α = T controlling how flat the
    * mixture gets. Per-source allocation out of `totalK` picks:
    *
    *   w_s = floor(sqrt(n_s));  k_s = max(1, (totalK * w_s) div Σ w_t)
    *
    * EXACT arithmetic everywhere it matters: counts and w are integers,
    * the allocation is one integer multiply + divide, and doc selection
    * within a source is md5-hash order (deterministic across engines,
    * retries and partitionings — same contract as [[sourceQuota]]).
    * sqrt is the one double op; IEEE-correctly-rounded on both engines,
    * so floor(sqrt(n)) is bit-identical cross-engine. The max(1) clamp
    * guarantees every live source survives into the mixture (the whole
    * point of temperature flattening); Σ k_s may exceed totalK by at
    * most the number of clamped sources.
    *
    * Scale shape: counts are a partial-aggregated groupBy; the 1-row
    * Σ w frame and the per-source k frame are broadcast (sources number
    * in the thousands at worst); the only corpus-wide work is the
    * per-source row_number window — one shuffle by source, same cost
    * class as [[sourceQuota]]. */
  def temperatureMixture(docs: DataFrame, totalK: Int): DataFrame = {
    require(totalK > 0)
    val s = docs.sparkSession
    import s.implicits._
    val w = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      .withColumn("w", floor(sqrt($"n".cast("double"))).cast("long"))
    val tot = w.agg(sum($"w").as("sumw"))
    val alloc = w.crossJoin(broadcast(tot))
      .withColumn("k", greatest(lit(1L), expr(s"(CAST($totalK AS BIGINT) * w) DIV sumw")))
      .select($"source", $"k")
    docs.select($"source", $"doc_id", md5($"text").as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"source").orderBy($"h", $"doc_id")))
      .join(broadcast(alloc), Seq("source"))
      .filter($"rk" <= $"k")
      .select($"source", $"doc_id", $"rk".cast("long").as("rk"))
  }

  /** Per-source composition diagnostics: the language-distribution
    * entropy of each source and its KL divergence from the corpus-wide
    * language mix — the "is this source on-distribution" signal a
    * mixture designer reads before weighting sources
    * ([[temperatureMixture]] decides HOW MUCH of each source;
    * this says HOW DIFFERENT each source is). Low entropy = monolingual
    * source; high KL = source pulls the mixture away from the corpus
    * profile.
    *
    * Scale shape: one partial-aggregated (source, lang) count — the only
    * corpus-wide pass — then everything is |sources × langs| rows:
    * per-source totals, the broadcast corpus profile, and the row-local
    * p·ln(p/q) terms. Doubles appear only in final ln/÷ terms rounded to
    * 4dp (count ratios are exact longs until then). */
  def sourceComposition(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sl = docs.groupBy($"source", $"lang").agg(count(lit(1)).as("nsl"))
      .cache() // three consumers below, |sources×langs| rows
    val perSource = sl.groupBy($"source").agg(sum($"nsl").as("ns"))
    val corpus = sl.groupBy($"lang").agg(sum($"nsl").as("nl"))
    val total = sl.agg(sum($"nsl").as("n"))
    graft.engine.Materialize.adopt(
      sl.join(broadcast(perSource), "source")
        .join(broadcast(corpus), "lang")
        .crossJoin(broadcast(total))
        .withColumn("p", $"nsl".cast("double") / $"ns")
        .withColumn("q", $"nl".cast("double") / $"n")
        .groupBy($"source")
        .agg(
          max($"ns").as("n_docs"),
          round(-sum($"p" * log($"p")), 4).as("lang_entropy"),
          round(sum($"p" * log($"p" / $"q")), 4).as("kl_vs_corpus")),
      Seq(sl))
  }

  // ------------------------------------------------------------------
  // fixture-bound oracle queries
  // ------------------------------------------------------------------

  /** Token-budget-exact corpus selection: take documents in
    * (`rankCol` DESC, doc_id ASC) order while the running token sum
    * stays within `budget` — the budget-constrained "best docs first"
    * subset selection of a data-mixing pipeline.
    *
    * The naive phrasing is a window over the GLOBAL order (single
    * partition — a non-starter at corpus scale). This is the two-level
    * exact equivalent:
    *  1. docs bucket by `rankCol DIV bucketWidth`; per-bucket token
    *     totals aggregate map-side (|buckets| rows shuffle — the only
    *     full-corpus pass);
    *  2. bucket-level exclusive running totals (a window over the TINY
    *     bucket summary) classify each bucket: wholly inside the
    *     budget, wholly outside, or THE boundary bucket (at most one
    *     when totals are positive);
    *  3. wholly-inside buckets pass through with NO sort; only the
    *     boundary bucket pays an exact (rankCol DESC, doc_id) window,
    *     partitioned by bucket — bounded work however large the corpus.
    * Exactness: rankCol DIV w is monotone, so bucket order refines the
    * global order; within the boundary bucket the window replays it
    * exactly. All arithmetic is integer (token counts), so the
    * bucket-offset + in-bucket cumulative decomposition is bit-exact
    * against the single-window oracle. Zero-token docs at the cut line
    * follow the same cum <= budget rule in both phrasings. */
  def tokenBudgetSelect(docs: DataFrame, budget: Long,
      bucketWidth: Long = 64L): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    require(budget >= 0 && bucketWidth > 0)
    val base = docs.select($"doc_id", $"n_chars",
      size(split($"text", " ")).cast("long").as("n_tok"))
    val bucketed = base.withColumn("bucket",
      expr(s"n_chars DIV ${bucketWidth}L"))
    val buckets = bucketed.groupBy($"bucket").agg(sum($"n_tok").as("btok"))
    // exclusive prefix over better (higher) buckets; |buckets| rows, so
    // the unpartitioned window is a few KB on one task by design
    val offs = buckets.withColumn("off",
      coalesce(sum($"btok").over(Window.orderBy($"bucket".desc)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val full = offs.filter($"off" + $"btok" <= budget).select($"bucket")
    val boundary = offs
      .filter($"off" <= budget && $"off" + $"btok" > budget)
      .select($"bucket", $"off")
    val keptFull = bucketed
      .join(broadcast(full), Seq("bucket"), "left_semi")
      .select($"doc_id", $"n_chars", $"n_tok")
    val wIn = Window.partitionBy($"bucket")
      .orderBy($"n_chars".desc, $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keptBoundary = bucketed
      .join(broadcast(boundary), Seq("bucket"))
      .withColumn("cum", sum($"n_tok").over(wIn))
      .filter($"off" + $"cum" <= budget)
      .select($"doc_id", $"n_chars", $"n_tok")
    keptFull.unionByName(keptBoundary)
  }

  /** Deterministic shard write + integrity manifest — the terminal step
    * of a curation pipeline: lay the corpus out as `nShards` hash-
    * assigned shard partitions under `outDir`, then account for what
    * was ACTUALLY written by re-reading the files and summarizing each
    * shard as (n_docs, n_tokens, digest). The digest is an
    * order-independent sum of 40-bit per-doc content hashes
    * (h60(text) DIV 2^20), so at most ~2^23 docs per shard stay clear
    * of 63-bit overflow — KB-scale manifests for TB-scale shards.
    *
    * The integrity story: the oracle (and any downstream consumer)
    * recomputes the same manifest from the SOURCE table; a dropped,
    * duplicated, or cross-assigned row during the write shows up as a
    * digest/count mismatch on exactly the affected shard. This is the
    * reference's per-file accounting (`hold_state` checks file names
    * only — /root/reference/mapper.py:110-143) upgraded to content
    * checksums. Shard assignment is content-keyed (h60 of doc_id), so
    * re-running the pipeline reproduces identical shard membership. */
  def shardManifest(docs: DataFrame, nShards: Int,
      outDir: String): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    require(nShards > 0)
    docs.select($"doc_id", $"text",
        pmod(Dedup.h60($"doc_id".cast("string")), lit(nShards.toLong))
          .as("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    Tables.parquet(s, outDir)
      .groupBy($"shard".cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split($"text", " ")).cast("long")).as("n_tokens"),
        sum(shiftright(Dedup.h60($"text"), 20)).as("digest"))
      .orderBy($"shard")
  }

  val defs: Seq[QueryDef] = Seq(

    // eval-set leak check: docs ≡ 0 (mod 7) play the benchmark, the rest
    // the corpus; any corpus doc sharing a distinct 4-gram is flagged
    QueryDef(
      "q120_decontamination",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        decontaminate(
          docs.filter($"doc_id" % 7 =!= 0),
          docs.filter($"doc_id" % 7 === 0), n = 4)
          .orderBy($"doc_id")
      },
      Some("""
        WITH g AS (
          SELECT doc_id,
                 unnest(list_distinct(CASE WHEN len(string_split(text,' ')) >= 4
                   THEN list_transform(
                     generate_series(1, len(string_split(text,' ')) - 3),
                     i -> concat_ws(' ', string_split(text,' ')[i],
                                    string_split(text,' ')[i+1],
                                    string_split(text,' ')[i+2],
                                    string_split(text,' ')[i+3]))
                   ELSE [] END)) AS s
          FROM documents),
        b AS (SELECT DISTINCT s FROM g WHERE doc_id % 7 = 0)
        SELECT doc_id, count(*) AS n_overlap
        FROM g
        WHERE doc_id % 7 != 0 AND s IN (SELECT s FROM b)
        GROUP BY doc_id
        ORDER BY doc_id""")),

    QueryDef(
      "q121_repetition_quality",
      (s, dir) => repetitionSignals(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some("""
        WITH per AS (
          SELECT doc_id, tk, count(*) AS c
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
                FROM documents)
          GROUP BY doc_id, tk),
        d AS (
          SELECT doc_id,
                 CAST(sum(c) AS BIGINT) AS n_tokens,
                 count(*) AS n_distinct,
                 max(c) AS top_count
          FROM per GROUP BY doc_id)
        SELECT doc_id, n_tokens,
               round(1.0 - n_distinct / CAST(n_tokens AS DOUBLE), 4) AS dup_frac,
               round(top_count / CAST(n_tokens AS DOUBLE), 4) AS top_frac,
               CASE WHEN round(1.0 - n_distinct / CAST(n_tokens AS DOUBLE), 4) <= 0.55
                     AND round(top_count / CAST(n_tokens AS DOUBLE), 4) <= 0.12
                    THEN 1 ELSE 0 END AS keep
        FROM d
        ORDER BY doc_id""")),

    QueryDef(
      "q122_sequence_packing",
      (s, dir) => packSequences(Tables.load(s, dir, "documents"), budget = 512L)
        .orderBy(col("source"), col("pack_id")),
      Some("""
        WITH tk AS (
          SELECT source, doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents),
        c AS (
          SELECT source, doc_id, n_tok,
                 sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM tk)
        SELECT source, CAST((cum - n_tok) // 512 AS BIGINT) AS pack_id,
               count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens
        FROM c
        GROUP BY source, pack_id
        ORDER BY source, pack_id""")),

    // shard-level rollup of the deterministic shuffle: counts, id sums,
    // and the first doc in each shard's order pin the exact permutation
    QueryDef(
      "q123_deterministic_shuffle",
      (s, dir) => {
        import s.implicits._
        deterministicShuffle(Tables.load(s, dir, "documents"),
            nShards = 8, seed = 42L)
          .groupBy($"shard")
          .agg(count(lit(1)).as("n_docs"), sum($"doc_id").as("sum_doc_id"),
            min_by($"doc_id", $"pos").as("first_doc_id"))
          .orderBy($"shard")
      },
      Some("""
        WITH h AS (
          SELECT doc_id,
                 CAST(concat('0x', substring(md5(doc_id || ':42'), 1, 15))
                      AS BIGINT) AS h
          FROM documents)
        SELECT h % 8 AS shard, count(*) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
               arg_min(doc_id, h) AS first_doc_id
        FROM h
        GROUP BY shard
        ORDER BY shard""")),

    // odd doc_ids arrive as the "new batch", even doc_ids' digests are
    // the persisted seen set from previous runs
    QueryDef(
      "q124_incremental_dedup",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        incrementalDedup(
          docs.filter($"doc_id" % 2 === 1),
          docs.filter($"doc_id" % 2 === 0).select(md5($"text").as("digest")))
          .orderBy($"doc_id")
      },
      Some("""
        WITH newb AS (
          SELECT md5(text) AS digest, min(doc_id) AS doc_id,
                 count(*) AS n_in_batch
          FROM documents WHERE doc_id % 2 = 1 AND text IS NOT NULL
          GROUP BY md5(text)),
        seen AS (
          SELECT DISTINCT md5(text) AS digest
          FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL)
        SELECT doc_id, digest, n_in_batch
        FROM newb
        WHERE digest NOT IN (SELECT digest FROM seen)
        ORDER BY doc_id""")),

    QueryDef(
      "q131_text_chunking",
      (s, dir) => chunkTokens(Tables.load(s, dir, "documents"),
        size = 32, stride = 24).orderBy(col("doc_id"), col("chunk_idx")),
      Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS ts
          FROM documents
          WHERE length(text) > 0),
        st AS (
          SELECT doc_id, ts, unnest(generate_series(0, len(ts) - 1, 24))
                   AS start
          FROM t)
        SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_idx,
               array_to_string(list_slice(ts, start + 1, start + 32), ' ')
                 AS chunk,
               CAST(least(len(ts) - start, 32) AS BIGINT) AS n_tokens
        FROM st
        ORDER BY doc_id, chunk_idx""")),

    QueryDef(
      "q132_weighted_sample",
      (s, dir) => weightedSystematicSample(Tables.load(s, dir, "documents"),
        "n_chars", perSourceK = 5).orderBy(col("source"), col("doc_id")),
      Some("""
        WITH c AS (
          SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
                 sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 sum(n_chars) OVER (PARTITION BY source) AS tot
          -- mirrors the operator's non-negative-weight precondition
          -- filter (w >= 0) — the two sides must drop the same rows
          FROM documents WHERE n_chars >= 0)
        SELECT source, doc_id, w
        FROM c
        WHERE (cum // greatest(1, (tot + 4) // 5))
              > ((cum - w) // greatest(1, (tot + 4) // 5))
        ORDER BY source, doc_id""")),

    QueryDef(
      "q125_source_quota",
      (s, dir) => sourceQuota(Tables.load(s, dir, "documents"), cap = 10)
        .orderBy(col("source"), col("rn")),
      Some("""
        WITH r AS (
          SELECT source, doc_id,
                 CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT) AS h,
                 row_number() OVER (PARTITION BY source ORDER BY
                   CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT),
                   doc_id) AS rn
          FROM documents)
        SELECT source, CAST(rn AS BIGINT) AS rn, doc_id
        FROM r
        WHERE rn <= 10
        ORDER BY source, rn""")),

    // temperature-flattened source mixture: 100 picks allocated
    // ∝ floor(sqrt(n_source)), selected in md5-hash order
    QueryDef(
      "q157_temperature_mixture",
      (s, dir) => temperatureMixture(Tables.load(s, dir, "documents"), 100)
        .orderBy(col("source"), col("rk")),
      Some("""
        WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        w AS (SELECT source,
                     CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w
              FROM c),
        a AS (SELECT source,
                     greatest(1, (100 * w) // (SELECT sum(w) FROM w)) AS k
              FROM w),
        r AS (SELECT source, doc_id,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY md5(text), doc_id) AS rk
              FROM documents)
        SELECT r.source, r.doc_id, CAST(rk AS BIGINT) AS rk
        FROM r JOIN a USING (source)
        WHERE rk <= k
        ORDER BY source, rk""")),

    // ----- length-bucketed batching (padding-waste minimization) ---------
    // The batching-efficiency complement of q122's sequence packing:
    // when docs must stay whole (SFT, reward modeling), every batch pads
    // to its longest member, and batching in arrival order wastes
    // sum(max - len) tokens. Bucketing by length (32-token granularity)
    // before forming fixed-size batches keeps batch members near-equal
    // length. The query forms both layouts and reports the measured
    // padding waste of each — bucketed must beat naive on any non-uniform
    // corpus. Scale: the bucketed path is windowed PER BUCKET (bounded
    // partitions, parallel across buckets); the naive baseline's global
    // window is exactly the anti-pattern it exists to quantify.
    QueryDef(
      "q171_length_bucketed_batches",
      (s, dir) => {
        import s.implicits._
        val b = 16 // docs per batch
        // materialized once (repo discipline): both layout branches of
        // the union below read this frame — 16 bytes/doc, not the corpus
        val lens = Tables.load(s, dir, "documents")
          .select($"doc_id",
            size(filter(split($"text", " "), x => length(x) > 0))
              .cast("long").as("len"))
          .localCheckpoint()
        def waste(df: DataFrame, scheme: String) = df
          .groupBy($"bucket", $"batch")
          .agg(count(lit(1)).as("n"), max($"len").as("mx"),
            sum($"len").as("tot"))
          .agg(count(lit(1)).as("n_batches"),
            round(lit(1) - sum($"tot") / sum($"n" * $"mx"), 4)
              .as("padding_waste"))
          .select(lit(scheme).as("scheme"), $"n_batches", $"padding_waste")
        val bucketed = lens
          .withColumn("bucket", expr("len DIV 32"))
          .withColumn("batch", expr(
            s"(row_number() OVER (PARTITION BY len DIV 32 ORDER BY doc_id) - 1) DIV $b"))
        val naive = lens
          .withColumn("bucket", lit(0L))
          .withColumn("batch", expr(
            s"(row_number() OVER (ORDER BY doc_id) - 1) DIV $b"))
        waste(bucketed, "bucketed").unionAll(waste(naive, "naive"))
          .orderBy($"scheme")
      },
      Some("""
        WITH lens AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split(text, ' '),
                   x -> length(x) > 0)) AS BIGINT) AS len
          FROM documents),
        bk AS (
          SELECT len, len // 32 AS bucket,
                 (row_number() OVER (PARTITION BY len // 32
                                     ORDER BY doc_id) - 1) // 16 AS batch
          FROM lens),
        nv AS (
          SELECT len, 0 AS bucket,
                 (row_number() OVER (ORDER BY doc_id) - 1) // 16 AS batch
          FROM lens),
        bw AS (SELECT bucket, batch, count(*) AS n, max(len) AS mx,
                      sum(len) AS tot
               FROM bk GROUP BY bucket, batch),
        nw AS (SELECT bucket, batch, count(*) AS n, max(len) AS mx,
                      sum(len) AS tot
               FROM nv GROUP BY bucket, batch)
        SELECT 'bucketed' AS scheme, count(*) AS n_batches,
               round(1 - sum(tot)::DOUBLE / sum(n * mx), 4) AS padding_waste
        FROM bw
        UNION ALL
        SELECT 'naive' AS scheme, count(*) AS n_batches,
               round(1 - sum(tot)::DOUBLE / sum(n * mx), 4) AS padding_waste
        FROM nw
        ORDER BY scheme""")),

    // budget-constrained "best docs first" selection; the oracle is the
    // single-window global phrasing the bucketed algorithm decomposes
    QueryDef(
      "q184_token_budget_select",
      (s, dir) => tokenBudgetSelect(
        Tables.load(s, dir, "documents"), budget = 20000L)
        .orderBy(col("doc_id")),
      Some("""
        WITH d AS (
          SELECT doc_id, n_chars,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents),
        o AS (
          SELECT *, sum(n_tok) OVER (ORDER BY n_chars DESC, doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum
          FROM d)
        SELECT doc_id, n_chars, n_tok
        FROM o WHERE cum <= 20000
        ORDER BY doc_id""")),

    // shard write + read-back manifest; the oracle recomputes the same
    // accounting from the SOURCE table, so any row dropped, duplicated
    // or misrouted by the write diverges on the affected shard
    QueryDef(
      "q185_shard_manifest",
      (s, dir) => {
        val out = new java.io.File(graft.engine.GraftSession.scratchRoot,
          s"shards_q185_${Integer.toHexString(dir.hashCode)}")
          .getAbsolutePath
        shardManifest(Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")), 8, out)
      },
      Some("""
        SELECT CAST(abs(CAST(concat('0x', substring(md5(
                 CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)) % 8 AS BIGINT)
                 AS shard,
               count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
               CAST(sum(CAST(concat('0x', substring(md5(text), 1, 15))
                 AS BIGINT) // 1048576) AS BIGINT) AS digest
        FROM documents
        GROUP BY 1
        ORDER BY shard""")),

    // per-source language entropy + KL vs the corpus mix; both engines
    // compute the identical exact-count ratios and natural logs
    QueryDef(
      "q208_source_composition",
      (s, dir) => sourceComposition(Tables.load(s, dir, "documents"))
        .orderBy(col("source")),
      Some("""
        WITH sl AS (SELECT source, lang, count(*) AS nsl
                    FROM documents GROUP BY source, lang),
        ps AS (SELECT source, sum(nsl) AS ns FROM sl GROUP BY source),
        cl AS (SELECT lang, sum(nsl) AS nl FROM sl GROUP BY lang),
        t AS (SELECT sum(nsl) AS n FROM sl)
        SELECT sl.source,
               CAST(max(ns) AS BIGINT) AS n_docs,
               round(-sum((CAST(nsl AS DOUBLE) / ns)
                          * ln(CAST(nsl AS DOUBLE) / ns)), 4)
                 AS lang_entropy,
               round(sum((CAST(nsl AS DOUBLE) / ns)
                         * ln((CAST(nsl AS DOUBLE) / ns)
                              / (CAST(nl AS DOUBLE) / n))), 4)
                 AS kl_vs_corpus
        FROM sl JOIN ps ON sl.source = ps.source
               JOIN cl ON sl.lang = cl.lang
               CROSS JOIN t
        GROUP BY sl.source
        ORDER BY sl.source"""))
  )
}
