package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Materialize, Tables}

/** Text-analysis operator family over `documents`: language-ID heuristic,
  * quality scoring, token counting (whitespace + regex token classes) and
  * document fingerprinting (rolling hash).
  *
  * In the reference, token counting is the worked example the whole
  * framework is pitched on (/root/reference/README.txt:18) and everything
  * else would be hand-written Python in the map fn. Here each is one
  * linear scan built from codegen'd `functions._` / higher-order array
  * expressions — per-doc work is independent, so these parallelize
  * embarrassingly at any scale; the only shuffles are the final tiny
  * aggregations.
  */
object TextAnalysis {
  /** Non-empty whitespace tokens. */
  private def toks(c: Column): Column =
    filter(split(c, " "), x => length(x) > 0)

  private def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Tiny per-language marker profiles (bigram heuristics over common
    * function words — public-knowledge frequency tables). The mechanism
    * (n-gram profile scoring, argmax with deterministic tiebreak) is the
    * operator; profiles are pluggable. */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "sch", "ein"),
    "en" -> Seq("the", "and", "ing", "ion", "ta"),
    "es" -> Seq("de ", "la ", "que", "os ", "ci"),
    "fr" -> Seq("le ", "les", "des", "que", "eau"),
    "zh" -> Seq("zh", "sh", "ng", "xi", "qu"))

  // ------------------------------------------------------------------
  // library surface
  // ------------------------------------------------------------------

  /** Language-ID heuristic: per-language marker-n-gram occurrence scores,
    * argmax with deterministic tiebreak. Pure per-row expressions — no
    * shuffle at all. */
  def langId(docs: DataFrame): DataFrame = {
    // literal `replace`, not regexp_replace: markers are data, not
    // patterns — a marker like "c." or "(de" must count literally (and
    // match the oracle's literal replace()), never as a regex
    def occurrences(marker: String): Column =
      ((length(col("text")) -
        length(replace(col("text"), lit(marker), lit("")))) /
        marker.length).cast("long")
    val scores = LangMarkers.map { case (lang, ms) =>
      ms.map(occurrences).reduce(_ + _).as(s"score_$lang")
    }
    val scored = docs.select((col("doc_id") +: scores): _*)
    val best = LangMarkers.map { case (lang, _) =>
      struct(col(s"score_$lang").as("score"), lit(lang).as("lang"))
    }
    scored
      .withColumn("best", greatest(best: _*))
      .select(col("doc_id"), col("best.lang").as("pred_lang"),
        col("best.score").as("score"))
  }

  /** Quality heuristics: size, diversity, stopword density and a
    * composite score — one linear pass per doc. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to")
    val tk = toks(col("text"))
    val nTok = size(tk).cast("long")
    val nStop = size(filter(tk, x => x.isin(stop.map(lit): _*))).cast("long")
    val nDistinct = size(array_distinct(tk)).cast("long")
    val meanLen = aggregate(tk, lit(0L), (acc, x) => acc + length(x))
      .cast("double") / nTok
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      nTok.as("n_tokens"),
      round(nDistinct / nTok.cast("double"), 4).as("distinct_ratio"),
      round(nStop / nTok.cast("double"), 4).as("stopword_ratio"),
      round(meanLen, 4).as("mean_token_len"),
      round(
        least(nTok.cast("double") / 100.0, lit(1.0)) * 0.4 +
          (nDistinct / nTok.cast("double")) * 0.4 +
          least(nStop.cast("double") * 10 / nTok, lit(1.0)) * 0.2,
        4).as("quality"))
  }

  /** Token counting: whitespace tokens, BPE-ish regex pre-tokens, vocab. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(toks(col("text"))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))
        .cast("long").as("bpe_ish_tokens"),
      size(array_distinct(toks(col("text")))).cast("long").as("vocab"))

  /** Order-sensitive rolling-hash fingerprint:
    * fold (acc*31 + h(token)) mod p over the token sequence. */
  def fingerprint(docs: DataFrame): DataFrame = {
    val p = 1000000007L
    docs.select(
      col("doc_id"),
      aggregate(
        transform(toks(col("text")), x => h60(x) % p),
        lit(0L), (acc, h) => (acc * 31 + h) % p).as("fingerprint"))
  }

  /** BM25 top-k retrieval over the corpus for a literal term set (k1/b =
    * standard 1.2/0.75). Pure relational plan: one tokenize pass feeds
    * both doc lengths and term frequencies; global stats (N, avgdl,
    * per-term df — a handful of rows) broadcast back to the scoring join,
    * so the corpus shuffles once on doc_id and the top-k is a TakeOrdered
    * (per-partition heap), never a global sort. Ties at equal rounded
    * score break by doc_id, making the cut deterministic cross-engine. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tok = docs.select($"doc_id", explode(toks($"text")).as("tk"))
    val dl = tok.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
    val tf = tok.filter($"tk".isin(terms: _*))
      .groupBy($"doc_id", $"tk").agg(count(lit(1)).as("tf"))
    val termDf = tf.groupBy($"tk").agg(count(lit(1)).as("df"))
    // avgdl as an explicit exact-sum quotient: both engines derive the
    // same double (a streaming mean would be order-dependent)
    val avgdl = $"sum_dl".cast("double") / $"n_docs"
    val idf = log(lit(1.0) + ($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
    val denom = $"tf" + lit(k1) * (lit(1 - b) + lit(b) * $"dl" / avgdl)
    tf
      .join(broadcast(termDf), "tk")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", idf * ($"tf" * lit(k1 + 1)) / denom)
      .groupBy($"doc_id").agg(round(sum($"contrib"), 4).as("score"))
      .orderBy($"score".desc, $"doc_id")
      .limit(k)
  }

  /** Adjacent character-pair frequencies within lowercase alphabetic
    * word tokens — the statistic the first BPE merge step ranks
    * (Sennrich et al., ACL 2016: merge the most frequent symbol pair).
    * One linear scan; pair extraction is a per-row higher-order array
    * expression (no shuffle until the <=26² pair aggregation), so the
    * tokenizer-training profile of a 100 TB corpus is a map-side
    * combine down to a few hundred rows. */
  def bpePairStats(docs: DataFrame, topN: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(explode(split(lower($"text"), "[^a-z]+")).as("w"))
      .filter(length($"w") >= 2)
      .select(explode(
        expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy($"pair").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(topN)
  }

  /** The full BPE tokenizer-training loop (Sennrich et al., ACL 2016):
    * iterate [[bpePairStats]]'s one ranking step N times — each round
    * merges the corpus-wide most frequent adjacent symbol pair (ties
    * broken lexicographically, so the whole trajectory is deterministic)
    * into a new symbol and re-applies it to the vocabulary. Output is
    * the merge table itself — (step, a, b, merged, freq) — i.e. the
    * artifact a tokenizer ships.
    *
    * Scale shape: the corpus is scanned ONCE, collapsing to the
    * word-frequency table (the classic BPE-on-word-counts formulation —
    * vocabulary-sized, zipf-bounded, NOT corpus-sized); every merge
    * round after that touches only that |vocab|-row frame: one
    * pair-explode + combiner-reduced count (the pair domain is ≤ a few
    * thousand rows), one argmax row to the driver (a 2-string scalar,
    * the q158-centroid/IncrementalJobs-seq pattern), and one map-only
    * greedy-left fold re-encode (codegen'd higher-order aggregate — no
    * shuffle). Round frames are cached for their double reference and
    * unpersisted at checkpoint boundaries (the khop cadence).
    *
    * The greedy-left fold (merge all non-overlapping occurrences,
    * scanning left) is exactly replayable in the oracle as a
    * wrapped-symbol string replace — see [[bpeMergesOracle]]. */
  def bpeMerges(docs: DataFrame, nMerges: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    var words = docs
      .select(explode(split(lower($"text"), "[^a-z]+")).as("w"))
      .filter(length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("n"))
      .select(split($"w", "").as("s"), $"n")
      .cache()
    var pending = List(words)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var exhausted = false
    for (k <- 1 to nMerges if !exhausted) {
      val top = words
        // fully-merged single-symbol words contribute no pairs — and
        // sequence(1, 0) is DESCENDING [1,0] in Spark, which would index
        // past the array; DuckDB's generate_series(1,0) is empty
        .filter(size($"s") >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(s) - 1), " +
            "i -> struct(element_at(s, i) AS a, element_at(s, i + 1) AS b))"))
          .as("p"), $"n")
        .groupBy($"p.a".as("a"), $"p.b".as("b")).agg(sum($"n").as("f"))
        .orderBy($"f".desc, $"a", $"b")
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, f) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((k, a, b, a + b, f))
        words = words.select(expr(greedyMergeFoldSql(a, b)).as("s"), $"n")
        if (k % 5 == 0 && k < nMerges) {
          words = words.localCheckpoint()
          pending.foreach(Materialize.free)
          pending = List(words) // this checkpoint dies at the next boundary
        } else {
          words = words.cache()
          pending ::= words
        }
      }
    }
    // result is a driver-local merge table — free every round frame
    // (cached AND checkpointed; plain unpersist missed the latter)
    pending.foreach(Materialize.free)
    merges.toSeq.toDF("step", "a", "b", "merged", "freq")
      .orderBy($"step")
  }

  /** The canonical greedy-left BPE apply for one merge (a, b) over a
    * symbol-array column `s`: merge every non-overlapping occurrence,
    * scanning left. A codegen'd higher-order aggregate — map-only, no
    * shuffle; symbols are [a-z]+ by construction so inlining them as SQL
    * literals is safe. Shared by the training loop ([[bpeMerges]]) and
    * the corpus encoder ([[bpeEncode]]) so train and apply can never
    * drift. */
  private def greedyMergeFoldSql(a: String, b: String): String =
    s"""aggregate(s, cast(array() as array<string>),
       |  (acc, x) -> CASE
       |    WHEN size(acc) > 0 AND element_at(acc, -1) = '$a'
       |         AND x = '$b'
       |    THEN concat(slice(acc, 1, size(acc) - 1), array('${a + b}'))
       |    ELSE concat(acc, array(x)) END)""".stripMargin

  /** Apply a TRAINED merge table to the corpus — the half of the
    * tokenizer story a pipeline actually runs at 100 TB: [[bpeMerges]]
    * produces the (priority-ordered) merge artifact once; this encodes
    * every document into its token sequence. Output: (doc_id, n_tokens,
    * tokens) with tokens space-joined in document order (docs with no
    * [a-z]+ word are absent — they have no token stream).
    *
    * Scale shape: the corpus is scanned ONCE (posexplode to positioned
    * words); the merge chain itself runs over the DISTINCT-WORD table —
    * vocabulary-sized, zipf-bounded, NOT corpus-sized (the classic
    * encode-each-word-once formulation) — as `merges.length` chained
    * greedy-left folds, all codegen'd and map-only. Encoded words join
    * back on the word key (vocab build side — AQE broadcasts when
    * small) and one groupBy(doc_id) reassembles position-sorted token
    * streams. The expression-chain form suits merge tables up to a few
    * hundred rows (each merge is one plan expression); a 30k-merge
    * production tokenizer would swap the chain for a per-partition
    * typed map with the ranked merge table broadcast — same join +
    * reassembly around it. */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    merges.foreach { case (a, b) =>
      require(a.nonEmpty && b.nonEmpty && (a + b).matches("[a-z]+"),
        s"bpe merge symbols must be [a-z]+, got ('$a', '$b')")
    }
    val toks = docs
      .select($"doc_id",
        posexplode(split(lower($"text"), "[^a-z]+")).as(Seq("pos", "w")))
      .filter($"w" =!= "")
    val vocab = toks.select($"w").distinct()
      .select($"w", split($"w", "").as("s"))
    val enc = merges.foldLeft(vocab) { case (df, (a, b)) =>
      df.select($"w", expr(greedyMergeFoldSql(a, b)).as("s"))
    }
    toks.join(enc, "w")
      .groupBy($"doc_id")
      // struct sort key: pos is unique per doc, so the order is total
      .agg(array_sort(collect_list(struct($"pos", $"s"))).as("ps"))
      .select($"doc_id",
        expr("flatten(transform(ps, x -> x.s))").as("toks"))
      .select($"doc_id",
        size($"toks").cast("long").as("n_tokens"),
        array_join($"toks", " ").as("tokens"))
  }

  /** The unrolled DuckDB replay of [[bpeMerges]] — N WITH-chained
    * stages (the q158/q181 loop-oracle pattern). Vocabulary state is a
    * WRAPPED-SYMBOL string ('•h••a••t•'): every symbol carries its own
    * delimiters, so `replace(w, '•a••b•', '•ab•')` merges exactly the
    * greedy-left non-overlapping occurrences the Spark fold does
    * (boundary characters are never shared between adjacent matches —
    * verified on the 'aaaaa' + (a,a) → 'aa aa a' case). */
  def bpeMergesOracle(nMerges: Int): String = {
    val out = (0 until nMerges).map { k =>
      s"""SELECT ${k + 1} AS step, a, b, a || b AS merged, f AS freq
         |FROM best$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${bpeTrainStagesSql(nMerges)}
       |$out
       |ORDER BY step""".stripMargin
  }

  /** Shared training-replay CTE chain (w0 + per-round pr/best/w CTEs)
    * behind [[bpeMergesOracle]] and [[bpeEncodeOracle]]. Every stage CTE
    * is MATERIALIZED: w(k+1) references w(k) plus three best(k) scalar
    * subqueries, so inlined CTEs would expand the chain ~4^N-fold
    * (observed: fd exhaustion re-opening the parquet). */
  private def bpeTrainStagesSql(nMerges: Int): String = {
    val stages = (0 until nMerges).map { k =>
      s"""pr$k AS MATERIALIZED (
         |  SELECT s[i] AS a, s[i+1] AS b, CAST(sum(n) AS BIGINT) AS f
         |  FROM (SELECT n, string_split(trim(w, '•'), '••') AS s FROM w$k),
         |       unnest(generate_series(1, len(s) - 1)) AS t(i)
         |  GROUP BY 1, 2),
         |best$k AS MATERIALIZED (
         |  SELECT a, b, f FROM pr$k ORDER BY f DESC, a, b LIMIT 1),
         |w${k + 1} AS MATERIALIZED (
         |  SELECT replace(w,
         |    '•' || (SELECT a FROM best$k) || '••' ||
         |      (SELECT b FROM best$k) || '•',
         |    '•' || (SELECT a || b FROM best$k) || '•') AS w, n
         |  FROM w$k)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT regexp_replace(w, '(.)', '•\\1•', 'g') AS w, count(*) AS n
       |  FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
       |        FROM documents)
       |  WHERE length(w) >= 2 GROUP BY w),
       |$stages""".stripMargin
  }

  /** The DuckDB replay of train-then-[[bpeEncode]]: derive the same
    * merge table via [[bpeTrainStagesSql]], then apply each merge to
    * the POSITIONED per-doc word stream as the wrapped-symbol replace
    * chain (the exact greedy-left semantics of the Spark fold), and
    * reassemble per-doc token strings in word order. Unlike training's
    * w0, the encode stream keeps length-1 words — they carry tokens. */
  def bpeEncodeOracle(nMerges: Int): String = {
    val encStages = (0 until nMerges).map { k =>
      s"""e${k + 1} AS MATERIALIZED (
         |  SELECT doc_id, i, replace(w,
         |    '•' || (SELECT a FROM best$k) || '••' ||
         |      (SELECT b FROM best$k) || '•',
         |    '•' || (SELECT a || b FROM best$k) || '•') AS w
         |  FROM e$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeTrainStagesSql(nMerges)},
       |e0 AS MATERIALIZED (
       |  SELECT doc_id, i,
       |         regexp_replace(ws[i], '(.)', '•\\1•', 'g') AS w
       |  FROM (SELECT doc_id,
       |               string_split_regex(lower(text), '[^a-z]+') AS ws
       |        FROM documents),
       |       unnest(generate_series(1, len(ws))) AS t(i)
       |  WHERE ws[i] <> ''),
       |$encStages
       |SELECT doc_id,
       |       CAST(sum(len(string_split(trim(w, '•'), '••'))) AS BIGINT)
       |         AS n_tokens,
       |       string_agg(
       |         array_to_string(string_split(trim(w, '•'), '••'), ' '),
       |         ' ' ORDER BY i) AS tokens
       |FROM e$nMerges
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** Inverted index over whitespace terms: document frequency + the
    * full sorted posting list per term (serialized "id,id,..." so the
    * gate can hash it; the at-scale sink keeps the array column and
    * bucket-partitions by term). Postings are per-term sorted arrays —
    * exactly the structure a distributed retrieval shard serves; df
    * ranking bounds the demo output, not the build. */
  def invertedIndex(docs: DataFrame, topN: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .filter($"term" =!= "")
      .distinct()
      .groupBy($"term")
      .agg(count(lit(1)).as("df"),
        array_join(
          transform(array_sort(collect_set($"doc_id")), _.cast("string")),
          ",").as("postings"))
      .orderBy($"df".desc, $"term")
      .limit(topN)
  }

  /** Ordered phrase-proximity search: documents where `termB` follows
    * `termA` within `maxDist` token positions, with the pair count and
    * the closest distance. The retrieval primitive behind phrase and
    * NEAR queries over q176's inverted index.
    *
    * Scale shape: ONE scan — the corpus is tokenized once, filtered to
    * the two query terms immediately (so only |postings(A)|+|postings(B)|
    * rows survive the explode), and grouped per doc into two small
    * sorted position arrays. The pair enumeration is then row-local
    * higher-order-function math (codegen'd, no shuffle) instead of a
    * positional self-join — which would re-reference the tokenized
    * subtree and plan a SECOND corpus scan (the r4 recompute-storm
    * lesson; same reason q190 carries an anchor flag). With a persisted
    * positional index the same code runs off the index table and the
    * scan term-prunes. */
  def proximitySearch(docs: DataFrame, termA: String, termB: String,
      maxDist: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", posexplode(split($"text", " ")))
      .toDF("doc_id", "pos", "token")
      .filter($"token".isin(termA, termB))
      .groupBy($"doc_id")
      .agg(
        sort_array(collect_list(when($"token" === termA, $"pos")))
          .as("pa"),
        sort_array(collect_list(when($"token" === termB, $"pos")))
          .as("pb"))
      .withColumn("dists", expr(
        s"flatten(transform(pa, a -> transform(" +
          s"filter(pb, b -> b > a AND b <= a + $maxDist), b -> b - a)))"))
      .filter(size($"dists") > 0)
      .select($"doc_id",
        size($"dists").cast("long").as("n_pairs"),
        array_min($"dists").cast("long").as("min_dist"))
  }

  /** Bigram PMI (pointwise mutual information) — the collocation
    * statistic behind phrase mining and word-embedding preprocessing:
    * pmi(a,b) = ln(C(ab)·N / (C(a)·C(b))) over adjacent token pairs.
    *
    * Scale shape: ONE corpus scan. Each document row-locally emits a
    * tagged item array — its unigrams (kind 0) and its adjacent pairs
    * (kind 1) — so one explode + one combiner-reduced groupBy produces
    * both count tables; splitting unigram/bigram counts any other way
    * re-references the tokenized corpus subtree (two scans — the q195
    * lesson). The aggregated counts frame is |vocab|+|bigrams| rows —
    * cached before its three consumers (unigrams, bigrams, N) so the
    * corpus pass runs once; the enrichment joins are tiny-vs-tiny and
    * AQE-broadcast. */
  def bigramPmi(docs: DataFrame, minCount: Long, topK: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val counts = docs
      .withColumn("_toks", expr("filter(split(text, ' '), t -> t != '')"))
      // sequence(1, n) DESCENDS when n < 1 (the q174/Linkage footgun):
      // short docs must yield an empty pair list, not [1, 0]
      .select(explode(expr(
        """flatten(array(
             transform(_toks, t -> struct(0L AS kind, t AS a, '' AS b)),
             if(size(_toks) >= 2,
               transform(sequence(1, size(_toks) - 1),
                 i -> struct(1L AS kind, element_at(_toks, i) AS a,
                             element_at(_toks, i + 1) AS b)),
               array())))""")).as("it"))
      .select($"it.kind", $"it.a", $"it.b")
      .groupBy($"kind", $"a", $"b").agg(count(lit(1)).as("c"))
      .cache()
    val uni = counts.filter($"kind" === 0)
      .select($"a".as("t"), $"c".as("n_t"))
    val bi = counts.filter($"kind" === 1 && $"c" >= minCount)
      .select($"a", $"b", $"c".as("n_ab"))
    val total = counts.filter($"kind" === 1)
      .agg(sum($"c").as("n_pairs"))
    // Materialize-contract handoff: topK rows checkpointed, the
    // vocab-scale counts cache freed before return
    Materialize.handoff(
      bi.join(uni.select($"t".as("a"), $"n_t".as("n_a")), "a")
        .join(uni.select($"t".as("b"), $"n_t".as("n_b")), "b")
        .crossJoin(total)
        .select($"a", $"b", $"n_ab", $"n_a", $"n_b",
          // numerator double × exact-int denominator, mirroring the
          // oracle's 1.0*… phrasing (and dodging long overflow at scale)
          round(log($"n_ab".cast("double") * $"n_pairs" /
            ($"n_a" * $"n_b")), 4).as("pmi"))
        .orderBy(desc("pmi"), $"a", $"b")
        .limit(topK),
      Seq(counts))
  }

  /** Bigram-LM document scoring — the CCNet-style quality signal: train
    * add-one-smoothed bigram probabilities on the corpus itself, then
    * score every document by its mean log-probability
    * avg(ln((n_ab + 1) / (n_a + V))). Low scores = improbable token
    * sequences (gibberish, boilerplate soup, wrong-language fragments);
    * the complement of q170's discriminative filter — this one needs no
    * labels. Documents with fewer than two tokens have no bigrams and
    * are absent from the output (score undefined).
    *
    * Scale shape: one scan builds the token/bigram streams; corpus
    * counts are two hash aggregations (token, token-pair); scoring
    * joins the bigram stream back to the count tables — Zipf-head
    * tokens are hot PROBE keys against a vocabulary-sized build side
    * (sublinear in corpus), which AQE broadcasts when small; the final
    * per-doc avg collapses map-side. The bigram stream feeds both the
    * pair-count agg and the scoring join, so it is cached once. */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // ONE scan (the bigramPmi tagged-explode pattern, doc id carried):
    // unigrams (kind 0) and adjacent pairs (kind 1) come out of a
    // single split/filter pass — the dominant per-row cost — and the
    // stream is cached once for its three consumers (unigram counts,
    // pair counts, per-doc scoring join)
    val stream = docs
      .withColumn("_toks", expr("filter(split(text, ' '), t -> t != '')"))
      .select($"doc_id", explode(expr(
        """flatten(array(
             transform(_toks, t -> struct(0L AS kind, t AS a, '' AS b)),
             if(size(_toks) >= 2,
               transform(sequence(1, size(_toks) - 1),
                 i -> struct(1L AS kind, element_at(_toks, i) AS a,
                             element_at(_toks, i + 1) AS b)),
               array())))""")).as("it"))
      .select($"doc_id", $"it.kind", $"it.a", $"it.b")
      .cache()
    val uni = stream.filter($"kind" === 0)
      .groupBy($"a").agg(count(lit(1)).as("n_t"))
      .select($"a".as("t"), $"n_t")
    val vocab = uni.agg(count(lit(1)).as("v"))
    val nab = stream.filter($"kind" === 1)
      .groupBy($"a", $"b").agg(count(lit(1)).as("n_ab"))
    // Materialize-contract handoff: the per-doc (output-scale) scores
    // are checkpointed and the token-scale stream cache freed — the
    // pre-contract version left `stream` pinned for the session
    Materialize.handoff(
      stream.filter($"kind" === 1)
        .join(nab, Seq("a", "b"))
        .join(uni.select($"t".as("a"), $"n_t".as("n_a")), Seq("a"))
        .crossJoin(vocab) // 1-row aggregate, broadcast by construction
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(log(($"n_ab" + 1).cast("double") / ($"n_a" + $"v"))), 4)
            .as("lm_score")),
      Seq(stream))
  }

  // ------------------------------------------------------------------
  // oracle-gated bindings
  // ------------------------------------------------------------------

  // ------------------------------------------------------------------
  // WordPiece greedy encode
  // ------------------------------------------------------------------

  /** WordPiece-style greedy longest-match-first segmentation (public
    * algorithm: the BERT tokenizer's encode step) with a POSITIONLESS
    * vocabulary (one piece list for initial and continuation positions;
    * continuations are rendered with the '##' marker). Complements
    * [[bpeEncode]]: BPE applies a learned MERGE ORDER, WordPiece
    * re-derives segmentation from the final vocabulary alone — the
    * encoder a serving path uses when only the vocab ships.
    *
    * Runs map-only on the DISTINCT word table (vocabulary-sized — the
    * q230 posture: the zipf-bounded distinct table grows sublinearly in
    * the corpus) with the piece list broadcast via closure; documents
    * join the encoded words back by position. Every [a-z] singleton
    * must be in `vocab`, which makes segmentation total (no [UNK]
    * path) and termination structural. */
  def wordPieceEncode(docs: DataFrame, vocab: Seq[String]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    require(vocab.forall(p => p.nonEmpty && p.matches("[a-z]+")),
      "vocab pieces must be [a-z]+")
    require(('a' to 'z').forall(c => vocab.contains(c.toString)),
      "vocab must contain every single letter (totality)")
    val pieces = vocab.toSet
    val maxLen = vocab.map(_.length).max
    val toks = docs
      .select($"doc_id",
        posexplode(split(lower($"text"), "[^a-z]+")).as(Seq("pos", "w")))
      .filter($"w" =!= "")
    val enc = toks.select($"w").distinct().as[String].map { w =>
      val out = Seq.newBuilder[String]
      var i = 0
      while (i < w.length) {
        // longest vocab piece starting at i — try the longest first
        var len = math.min(maxLen, w.length - i)
        while (len > 1 && !pieces.contains(w.substring(i, i + len))) len -= 1
        val piece = w.substring(i, i + len) // len 1 always in vocab
        out += (if (i == 0) piece else "##" + piece)
        i += len
      }
      (w, out.result())
    }.toDF("w", "s")
    toks.join(enc, "w")
      .groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"pos", $"s"))).as("ps"))
      .select($"doc_id",
        expr("flatten(transform(ps, x -> x.s))").as("toks"))
      .select($"doc_id",
        size($"toks").cast("long").as("n_pieces"),
        array_join($"toks", " ").as("pieces"))
  }

  /** The DuckDB replay of [[wordPieceEncode]]: a recursive CTE walks
    * each distinct word left to right, and the longest-match choice is
    * the piece no LONGER matching piece exists for (NOT EXISTS — no
    * window needed inside the recursion). */
  def wordPieceOracle(vocab: Seq[String]): String = {
    val values = vocab.map(p => s"('$p')").mkString(", ")
    s"""WITH RECURSIVE vocab(piece) AS (VALUES $values),
       |words AS (
       |  SELECT DISTINCT unnest(string_split_regex(lower(text), '[^a-z]+'))
       |           AS w
       |  FROM documents),
       |seg(w, pos, pieces, n) AS (
       |  SELECT w, 1, '', 0 FROM words WHERE w <> ''
       |  UNION ALL
       |  SELECT s.w, s.pos + length(v.piece),
       |         s.pieces
       |           || CASE WHEN s.pos > 1 THEN ' ##' || v.piece
       |              ELSE v.piece END,
       |         s.n + 1
       |  FROM seg s
       |  JOIN vocab v
       |    ON substring(s.w, s.pos, length(v.piece)) = v.piece
       |  WHERE s.pos <= length(s.w)
       |    AND NOT EXISTS (
       |      SELECT 1 FROM vocab v2
       |      WHERE length(v2.piece) > length(v.piece)
       |        AND substring(s.w, s.pos, length(v2.piece)) = v2.piece)),
       |enc AS (SELECT w, pieces, n FROM seg WHERE pos = length(w) + 1),
       |toks AS (
       |  SELECT doc_id, ws[i] AS w, i
       |  FROM (SELECT doc_id,
       |               string_split_regex(lower(text), '[^a-z]+') AS ws
       |        FROM documents),
       |       unnest(generate_series(1, len(ws))) AS t(i)
       |  WHERE ws[i] <> '')
       |SELECT toks.doc_id,
       |       CAST(sum(enc.n) AS BIGINT) AS n_pieces,
       |       string_agg(enc.pieces, ' ' ORDER BY toks.i) AS pieces
       |FROM toks JOIN enc ON toks.w = enc.w
       |GROUP BY toks.doc_id
       |ORDER BY toks.doc_id""".stripMargin
  }

  /** The q267 vocabulary: every [a-z] singleton (totality) plus common
    * English multi-letter pieces — a fixed literal both engines embed,
    * the way a served tokenizer ships its vocab file. */
  val WordPieceVocab: Seq[String] =
    ('a' to 'z').map(_.toString) ++ Seq(
      "th", "he", "in", "er", "an", "re", "on", "at", "en", "es",
      "or", "te", "ed", "is", "it", "al", "ar", "st", "to", "ng",
      "se", "ha", "as", "ou", "le", "ve", "me", "ta", "ro", "ow",
      "the", "ing", "and", "ion", "ent", "ble", "que", "row", "can",
      "tion", "able", "scan", "tab")

  // ------------------------------------------------------------------
  // Unigram-LM (SentencePiece-style) train + Viterbi encode
  // ------------------------------------------------------------------

  /** Integer-quantized piece costs: cost(p) = bitlen(T) − bitlen(c) + 1
    * ≈ ⌈log2(T/c)⌉ + 1, computed ENTIRELY on integers (bit lengths), so
    * Spark and DuckDB agree bit-for-bit — the float −log·probability a
    * textbook unigram LM carries is exactly the ≥1M-term summation-
    * order hazard the oracle discipline bans (SCALING.md float
    * lessons); a served tokenizer quantizes its scores anyway. */
  private def quantCosts(v: Seq[(String, Long)]): Map[String, Long] = {
    val t = v.map(_._2).sum
    val bt = 64 - java.lang.Long.numberOfLeadingZeros(math.max(t, 1L))
    v.map { case (p, c) =>
      val bc = 64 - java.lang.Long.numberOfLeadingZeros(math.max(c, 1L))
      (p, (bt - bc + 1).toLong)
    }.toMap
  }

  /** Viterbi best segmentation of `w` under integer piece costs —
    * argmin over ALL segmentations of (total cost, piece count,
    * space-joined pieces string), the last two as deterministic
    * tiebreaks both engines can replay. DP is exact for this
    * lexicographic objective: candidate prefix-states cover the same
    * letters, so two states first differ at a space-vs-letter position
    * and the order is preserved under any common suffix
    * (UnigramSpec pins DP ≡ brute-force enumeration). Totality comes
    * from the singleton pieces the vocab always retains. */
  private[operators] def unigramViterbi(w: String,
      costs: Map[String, Long], maxLen: Int = 4): (String, Int, Long) = {
    val n = w.length
    val dpCost = new Array[Long](n + 1)
    val dpN = new Array[Int](n + 1)
    val dpS = new Array[String](n + 1)
    dpS(0) = ""
    var i = 1
    while (i <= n) {
      var bCost = Long.MaxValue
      var bN = Int.MaxValue
      var bS: String = null
      var l = 1
      val lMax = math.min(maxLen, i)
      while (l <= lMax) {
        costs.get(w.substring(i - l, i)) match {
          case Some(c) if dpS(i - l) != null =>
            val p = w.substring(i - l, i)
            val cc = dpCost(i - l) + c
            val nn = dpN(i - l) + 1
            val ss = if (dpS(i - l).isEmpty) p else dpS(i - l) + " " + p
            if (cc < bCost || (cc == bCost && (nn < bN ||
                (nn == bN && ss < bS)))) {
              bCost = cc; bN = nn; bS = ss
            }
          case _ => ()
        }
        l += 1
      }
      dpCost(i) = bCost; dpN(i) = bN; dpS(i) = bS
      i += 1
    }
    (dpS(n), dpN(n), dpCost(n))
  }

  /** Unigram-LM tokenizer, train THEN encode (the q230/q267 triad's
    * missing member — the current open-model default): seed the vocab
    * with every ≤`maxLen`-char substring of the distinct-word table
    * (weighted by corpus word frequency; multi-char pieces gated at
    * `minSeedCount`), then two hard-EM rounds — E: Viterbi-segment
    * every distinct word; M: re-estimate integer-quantized costs from
    * frequency-weighted piece usage, dropping unused non-singleton
    * pieces — and encode the corpus with the final model. Hard
    * (Viterbi) EM rather than soft forward–backward keeps every
    * intermediate integer-exact for the DuckDB replay; the E/M
    * structure is the same.
    *
    * 100 TB shape: E-steps and the encode run distributed over the
    * DISTINCT word table (zipf-bounded, sublinear in corpus — the
    * measured q230 posture); documents join the encoded words back by
    * position. The two vocab collects are metadata-plane by
    * construction: a ≤4-char [a-z] piece table is bounded at 475 254
    * entries (Σ 26^k) no matter the corpus size. */
  def unigramEncode(docs: DataFrame, minSeedCount: Long = 5L,
      maxLen: Int = 4): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = docs
      .select($"doc_id",
        posexplode(split(lower($"text"), "[^a-z]+")).as(Seq("pos", "w")))
      .filter($"w" =!= "")
    val words = toks.groupBy($"w").agg(count(lit(1)).as("f"))
    // seed vocabulary: substring counts weighted by word frequency
    val mx = maxLen
    val seed = words.as[(String, Long)]
      .flatMap { case (w, f) =>
        for {
          i <- 0 until w.length
          l <- 1 to math.min(mx, w.length - i)
        } yield (w.substring(i, i + l), f)
      }
      .toDF("p", "f").groupBy($"p").agg(sum($"f").as("c"))
      .filter(length($"p") === 1 || $"c" >= minSeedCount)
      .as[(String, Long)].collect().toSeq // bounded: ≤ Σ_{k≤4} 26^k
    val costs0 = s.sparkContext.broadcast(quantCosts(seed))
    // E-step 1 (distinct table) + M-step (frequency-weighted usage)
    val used = words.as[(String, Long)]
      .flatMap { case (w, f) =>
        unigramViterbi(w, costs0.value, mx)._1.split(' ').map((_, f))
      }
      .toDF("p", "f").groupBy($"p").agg(sum($"f").as("c"))
      .as[(String, Long)].collect().toMap
    val vocab1 = seed.collect {
      case (p, _) if p.length == 1 || used.getOrElse(p, 0L) >= 1L =>
        (p, math.max(used.getOrElse(p, 0L), 1L))
    }
    val costs1 = s.sparkContext.broadcast(quantCosts(vocab1))
    // E-step 2 = final model; encode the corpus by word join-back
    val enc = words.as[(String, Long)]
      .map { case (w, _) =>
        val (ps, n, c) = unigramViterbi(w, costs1.value, mx)
        (w, ps, n, c)
      }
      .toDF("w", "pieces_w", "n_w", "cost_w")
    toks.join(enc, "w")
      .groupBy($"doc_id")
      .agg(array_sort(collect_list(
        struct($"pos", $"pieces_w", $"n_w", $"cost_w"))).as("ps"))
      .select($"doc_id",
        expr("aggregate(ps, 0L, (a, x) -> a + x.n_w)").as("n_pieces"),
        expr("aggregate(ps, 0L, (a, x) -> a + x.cost_w)").as("total_cost"),
        expr("array_join(transform(ps, x -> x.pieces_w), ' ')")
          .as("pieces"))
  }

  /** The DuckDB replay of [[unigramEncode]]: the identical seed/EM/
    * encode pipeline in SQL — substring seed counts, two enumerate-
    * all-segmentations recursive CTEs with argmin by (cost, n_pieces,
    * pieces) per word (the Viterbi objective, materialized), integer
    * bit-length costs via length(bin(x)), and the positional join-back.
    */
  def unigramOracle(minSeedCount: Long = 5L, maxLen: Int = 4): String =
    s"""WITH RECURSIVE
       |toks AS (
       |  SELECT doc_id, i, ws[i] AS w
       |  FROM (SELECT doc_id,
       |               string_split_regex(lower(text), '[^a-z]+') AS ws
       |        FROM documents),
       |       unnest(generate_series(1, len(ws))) AS t(i)
       |  WHERE ws[i] <> ''),
       |words AS (SELECT w, count(*) AS f FROM toks GROUP BY w),
       |seed AS (
       |  SELECT p, c FROM (
       |    SELECT substring(w.w, s.i, l.l) AS p,
       |           CAST(sum(w.f) AS BIGINT) AS c
       |    FROM words w,
       |         unnest(generate_series(1, length(w.w))) AS s(i),
       |         unnest(generate_series(1, $maxLen)) AS l(l)
       |    WHERE s.i + l.l - 1 <= length(w.w)
       |    GROUP BY 1)
       |  WHERE length(p) = 1 OR c >= $minSeedCount),
       |t0 AS (SELECT sum(c) AS t FROM seed),
       |costs0 AS (
       |  SELECT p, length(bin(t0.t)) - length(bin(c)) + 1 AS cost
       |  FROM seed, t0),
       |seg1(w, pos, pieces, n, cost) AS (
       |  SELECT w, 1, '', 0, 0 FROM words
       |  UNION ALL
       |  SELECT s.w, s.pos + length(v.p),
       |         CASE WHEN s.pieces = '' THEN v.p
       |              ELSE s.pieces || ' ' || v.p END,
       |         s.n + 1, s.cost + v.cost
       |  FROM seg1 s JOIN costs0 v
       |    ON substring(s.w, s.pos, length(v.p)) = v.p
       |  WHERE s.pos <= length(s.w)),
       |best1 AS (
       |  SELECT w, pieces FROM (
       |    SELECT w, pieces, row_number() OVER (
       |      PARTITION BY w ORDER BY cost, n, pieces) AS rk
       |    FROM seg1 WHERE pos = length(w) + 1)
       |  WHERE rk = 1),
       |used AS (
       |  SELECT p, CAST(sum(f) AS BIGINT) AS c
       |  FROM (SELECT w, unnest(string_split(pieces, ' ')) AS p
       |        FROM best1) u
       |  JOIN words USING (w)
       |  GROUP BY p),
       |vocab1 AS (
       |  SELECT s.p, greatest(coalesce(u.c, 0), 1) AS c
       |  FROM seed s LEFT JOIN used u ON s.p = u.p
       |  WHERE length(s.p) = 1 OR coalesce(u.c, 0) >= 1),
       |t1 AS (SELECT sum(c) AS t FROM vocab1),
       |costs1 AS (
       |  SELECT p, length(bin(t1.t)) - length(bin(c)) + 1 AS cost
       |  FROM vocab1, t1),
       |seg2(w, pos, pieces, n, cost) AS (
       |  SELECT w, 1, '', 0, 0 FROM words
       |  UNION ALL
       |  SELECT s.w, s.pos + length(v.p),
       |         CASE WHEN s.pieces = '' THEN v.p
       |              ELSE s.pieces || ' ' || v.p END,
       |         s.n + 1, s.cost + v.cost
       |  FROM seg2 s JOIN costs1 v
       |    ON substring(s.w, s.pos, length(v.p)) = v.p
       |  WHERE s.pos <= length(s.w)),
       |best2 AS (
       |  SELECT w, pieces, n, cost FROM (
       |    SELECT w, pieces, n, cost, row_number() OVER (
       |      PARTITION BY w ORDER BY cost, n, pieces) AS rk
       |    FROM seg2 WHERE pos = length(w) + 1)
       |  WHERE rk = 1)
       |SELECT toks.doc_id,
       |       CAST(sum(b.n) AS BIGINT) AS n_pieces,
       |       CAST(sum(b.cost) AS BIGINT) AS total_cost,
       |       string_agg(b.pieces, ' ' ORDER BY toks.i) AS pieces
       |FROM toks JOIN best2 b USING (w)
       |GROUP BY toks.doc_id
       |ORDER BY toks.doc_id""".stripMargin

  /** Regex sentence segmentation: split prose on [.!?] terminators
    * (terminator stays with its sentence), trim, drop empties — the
    * stage between HTML main text and sentence-window chunking in a
    * RAG/curation pipeline. Abbreviation handling is out of scope by
    * contract (the oracle and the operator share the regex). Map-only,
    * one posexplode — row-parallel at any scale. */
  def segmentSentences(docs: DataFrame, textCol: Column): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id", textCol.as("_t"))
      .select($"doc_id",
        posexplode(expr("regexp_extract_all(_t, '[^.!?]+[.!?]', 0)"))
          .as(Seq("sent_idx", "raw")))
      .select($"doc_id", $"sent_idx".cast("long").as("sent_idx"),
        trim($"raw").as("sentence"))
      .filter(length($"sentence") > 1)
      .withColumn("n_words",
        size(split(regexp_replace($"sentence", "[.!?]$", ""), "\\s+"))
          .cast("long"))
  }

  /** Per-document Shannon entropy of the character distribution (bits
    * per char) — the classic cheap gibberish/encoded-blob detector:
    * natural prose sits ~4 bits, base64/hex blobs and key-mash noise
    * run higher, single-char runs collapse toward 0. Map-only typed
    * pass (one char-frequency table per doc, O(ǀtextǀ)); the only
    * float is a per-doc sum over ≤ǀalphabetǀ terms, far inside the
    * 4dp round (the ≥1M-term summation-order hazard does not apply).
    * Empty texts report 0 bits. */
  def charEntropy(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id", $"text").fanout.as[(Long, String)]
      .map { case (id, t) =>
        // iterate CODE POINTS, not UTF-16 units: a supplementary-plane
        // char (emoji) is one symbol here and one char to SQL length()
        // — surrogate halves must not count twice
        val counts = new java.util.HashMap[Integer, Long]()
        var i = 0
        var nCp = 0L
        while (i < t.length) {
          val cp = t.codePointAt(i)
          val c = Integer.valueOf(cp)
          val prev = counts.get(c)
          counts.put(c, if (prev == null) 1L else prev + 1L)
          nCp += 1
          i += Character.charCount(cp)
        }
        val n = nCp.toDouble
        var h = 0.0
        counts.values.forEach { k =>
          val p = k / n
          h -= p * (math.log(p) / math.log(2.0))
        }
        (id, nCp, counts.size, if (nCp == 0L) 0.0 else h)
      }
      .toDF("doc_id", "n_chars", "n_distinct_chars", "_h")
      .select($"doc_id", $"n_chars", $"n_distinct_chars",
        round($"_h", 4).as("entropy_bits"))
  }

  /** Pay-level-domain (registrable-domain) extraction against a
    * public-suffix rule list: per-host candidate suffixes (last 1..L
    * labels) BROADCAST-join the rule table, the longest matching rule
    * wins, and the PLD is that suffix plus one more label. Hosts with
    * an unknown TLD fall back to the PSL's implicit default rule (the
    * last label is the public suffix); a host that IS a public suffix
    * has no PLD (NULL). Per-host traffic/quota accounting keyed by
    * bare host splits one site into thousands of subdomains — PLD is
    * the key that doesn't.
    *
    * This is deliberately a JOIN, not a giant CASE: the real PSL is
    * ~9k rules and changes monthly — data, not code. Work per host is
    * <= L candidate rows (L = max rule depth, 3 here) against a
    * broadcast table: map-side, no shuffle of the host side at all
    * until the final per-host max, which AQE folds into the same
    * stage. Plain suffix rules only (no wildcard/exception rules —
    * documented subset). */
  def payLevelDomain(hosts: DataFrame, idCol: String, hostCol: String,
      psl: Seq[String]): DataFrame = {
    require(psl.nonEmpty, "need at least one public-suffix rule")
    val s = hosts.sparkSession
    import s.implicits._
    val maxL = psl.map(_.count(_ == '.') + 1).max
    val rules = psl.map(r => (r, r.count(_ == '.') + 1))
      .toDF("_suffix", "_rule_labels")
    val cands = hosts
      .select(col(idCol), col(hostCol).as("host"))
      .withColumn("_labels", split($"host", "\\."))
      .withColumn("_n", size($"_labels"))
      .withColumn("_k",
        explode(sequence(lit(1), least($"_n", lit(maxL)))))
      .withColumn("_cand",
        array_join(slice($"_labels", $"_n" - $"_k" + 1, $"_k"), "."))
    cands
      .join(broadcast(rules), cands("_cand") === rules("_suffix"), "left")
      .groupBy(col(idCol), $"host")
      .agg(coalesce(max(when($"_suffix".isNotNull, $"_k")), lit(1))
        .as("_mk"))
      .withColumn("_labels", split($"host", "\\."))
      .withColumn("_n", size($"_labels"))
      .withColumn("public_suffix",
        array_join(slice($"_labels", $"_n" - $"_mk" + 1, $"_mk"), "."))
      .withColumn("pld",
        when($"_n" > $"_mk",
          array_join(slice($"_labels", $"_n" - $"_mk", $"_mk" + 1), ".")))
      .select(col(idCol), $"host", $"public_suffix", $"pld")
  }

  /** Unicode-canonical dedup key: NFC normalization (composed form,
    * java.text.Normalizer — the JDK's implementation of UAX #15), then
    * ASCII-and-beyond lowercasing, then collapse of the explicit
    * whitespace class [ \t\n\r\f] to one space and edge-trim. The
    * class is spelled out rather than \s because Java's \s and RE2's
    * \s disagree on U+000B — an oracle replayed on another engine
    * needs a class both regex dialects read identically. Two
    * crawls of the same page routinely differ ONLY by composition
    * form (é vs e+U+0301), case, or spacing — byte-exact dedup misses
    * them all; this canonical form catches them without any
    * similarity machinery. Output: input columns + `canon_text` +
    * per-group `group_size` + `is_canonical` (the group's min-id row
    * — the survivor an exact-dedup pass would keep).
    *
    * Scale shape: the normalize itself is map-only (typed map — no
    * Catalyst expression exists for NFC); the group stats are one
    * partial+final count keyed by the canonical string, joined back
    * on the same key. At 100 TB the canonical string would key by its
    * hash; here the string keys directly so the DuckDB oracle can
    * replay byte-for-byte. */
  def canonicalDedupKey(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val canon = docs.select($"doc_id", $"text").fanout.as[(Long, String)]
      .map { case (id, text) =>
        val nfc = java.text.Normalizer.normalize(
          text, java.text.Normalizer.Form.NFC)
        // collapse first, then strip single edge spaces — equivalent
        // to DuckDB's space-only trim() after the same collapse
        (id, nfc.toLowerCase(java.util.Locale.ROOT)
          .replaceAll("[ \\t\\n\\r\\f]+", " ")
          .replaceAll("^ | $", ""))
      }
      .toDF("doc_id", "canon_text")
    val groups = canon.groupBy($"canon_text")
      .agg(count(lit(1)).as("group_size"),
        min($"doc_id").as("_canon_id"))
    canon.join(groups, Seq("canon_text"))
      .select($"doc_id", $"canon_text", $"group_size",
        ($"doc_id" === $"_canon_id").as("is_canonical"))
  }

  /** Per-host repeated-LINE removal — the classic crawl-cleaning step
    * (C4 drops lines repeated across the corpus; RefinedWeb per host):
    * a line occurring on >= `minDocs` distinct pages of the SAME host
    * is boilerplate (nav, footer, cookie banner) and is dropped from
    * every page; surviving lines reassemble in original order.
    *
    * Input `pages`: (doc_id, host, text) with '\n'-separated lines.
    * Output: (doc_id, n_kept, n_dropped, clean_text).
    *
    * Scale shape: one posexplode, then a partial+final count-distinct
    * on (host, line) — shuffle rows are bounded by |distinct (host,
    * line)|, not corpus lines, because map-side partial aggregation
    * collapses each host's repeated lines per task. The boilerplate
    * set (lines ABOVE the threshold) is tiny relative to the corpus
    * — per-host template lines, not content — and joins back on the
    * same (host, line) key the aggregation just shuffled on, so AQE
    * picks a broadcast when it fits and a co-partitioned shuffle join
    * when it doesn't. Within-page duplicate lines count ONCE toward
    * the threshold (count DISTINCT doc_id) but every occurrence drops
    * once the line is boilerplate — C4's semantics. */
  def hostLineDedup(pages: DataFrame, minDocs: Int): DataFrame = {
    val s = pages.sparkSession
    import s.implicits._
    val lines = pages
      .select($"doc_id", $"host",
        posexplode(split($"text", "\n")).as(Seq("pos", "line")))
      .filter(length($"line") > 0)
    val boiler = lines
      .groupBy($"host", $"line")
      .agg(countDistinct($"doc_id").as("n_docs"))
      .filter($"n_docs" >= minDocs)
      .select($"host", $"line", lit(true).as("_boiler"))
    val perDoc = lines.join(boiler, Seq("host", "line"), "left")
      .groupBy($"doc_id")
      .agg(
        sum(when($"_boiler".isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when($"_boiler".isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(
              when($"_boiler".isNull, struct($"pos", $"line")))),
            x => x.getField("line")),
          "\n").as("clean_text"))
    // total on the input: a page with NO non-empty lines still reports
    // (0, 0, '') instead of vanishing from the cleaned corpus
    pages.select($"doc_id").distinct()
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"n_dropped", lit(0L)).as("n_dropped"),
        coalesce($"clean_text", lit("")).as("clean_text"))
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q199_bigram_pmi",
      (s, dir) => bigramPmi(Tables.load(s, dir, "documents"),
        minCount = 5L, topK = 50),
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(text, ' '),
                                    t -> t <> '')) AS t,
                 unnest(generate_series(1,
                   len(list_filter(string_split(text, ' '), t -> t <> ''))))
                   AS pos
          FROM documents),
        uni AS (SELECT t, count(*) AS n_t FROM toks GROUP BY t),
        bi AS (
          SELECT x.t AS a, y.t AS b, count(*) AS n_ab
          FROM toks x JOIN toks y
            ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
          GROUP BY x.t, y.t HAVING count(*) >= 5),
        tot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_pairs FROM (
                  SELECT count(*) AS n_ab
                  FROM toks x JOIN toks y
                    ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
                  GROUP BY x.t, y.t))
        SELECT a, b, n_ab, ua.n_t AS n_a, ub.n_t AS n_b,
               round(ln(1.0 * n_ab * tot.n_pairs / (ua.n_t * ub.n_t)), 4)
                 AS pmi
        FROM bi JOIN uni ua ON bi.a = ua.t
                JOIN uni ub ON bi.b = ub.t
                CROSS JOIN tot
        ORDER BY pmi DESC, a, b
        LIMIT 50""")),

    QueryDef(
      "q224_bigram_lm_score",
      (s, dir) => bigramLmScore(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(text, ' '),
                                    t -> t <> '')) AS t,
                 unnest(generate_series(1,
                   len(list_filter(string_split(text, ' '), t -> t <> ''))))
                   AS pos
          FROM documents),
        bi AS (
          SELECT x.doc_id, x.t AS a, y.t AS b
          FROM toks x JOIN toks y
            ON x.doc_id = y.doc_id AND y.pos = x.pos + 1),
        uni AS (SELECT t, count(*) AS n_t FROM toks GROUP BY t),
        v AS (SELECT count(*) AS v FROM uni),
        nab AS (SELECT a, b, count(*) AS n_ab FROM bi GROUP BY a, b)
        SELECT bi.doc_id, count(*) AS n_bigrams,
               round(avg(ln(1.0 * (n_ab + 1) / (n_t + v.v))), 4)
                 AS lm_score
        FROM bi JOIN nab ON bi.a = nab.a AND bi.b = nab.b
                JOIN uni ON bi.a = uni.t
                CROSS JOIN v
        GROUP BY bi.doc_id
        ORDER BY doc_id""")),

    QueryDef(
      "q195_proximity_search",
      (s, dir) => proximitySearch(Tables.load(s, dir, "documents"),
        "hash", "join", maxDist = 5)
        .orderBy(col("doc_id")),
      Some("""
        WITH pos AS (
          SELECT doc_id,
                 unnest(string_split(text, ' ')) AS token,
                 unnest(generate_series(1, len(string_split(text, ' '))))
                   AS pos
          FROM documents),
        pa AS (SELECT doc_id, pos FROM pos WHERE token = 'hash'),
        pb AS (SELECT doc_id, pos FROM pos WHERE token = 'join')
        SELECT pa.doc_id, count(*) AS n_pairs,
               CAST(min(pb.pos - pa.pos) AS BIGINT) AS min_dist
        FROM pa JOIN pb
          ON pa.doc_id = pb.doc_id
         AND pb.pos > pa.pos AND pb.pos - pa.pos <= 5
        GROUP BY pa.doc_id
        ORDER BY pa.doc_id""")),

    QueryDef(
      "q48_lang_id",
      (s, dir) => langId(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some {
        def occ(m: String) =
          s"(length(text) - length(replace(text, '${m}', ''))) // ${m.length}"
        val structs = LangMarkers.map { case (lang, ms) =>
          val score = ms.map(occ).mkString(" + ")
          s"{'score': CAST($score AS BIGINT), 'lang': '$lang'}"
        }.mkString(", ")
        // Spark's greatest(struct...) = max score, tie -> greatest lang;
        // replayed here as a per-doc rank (DuckDB greatest lacks structs)
        s"""
        WITH u AS (
          SELECT doc_id, unnest([$structs]) AS ls FROM documents),
        ranked AS (
          SELECT doc_id, ls.lang AS lang, ls.score AS score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY ls.score DESC, ls.lang DESC) AS rn
          FROM u)
        SELECT doc_id, lang AS pred_lang, score
        FROM ranked WHERE rn = 1
        ORDER BY doc_id"""
      }),

    // ----- quality scoring: length / ratio heuristics --------------------
    QueryDef(
      "q49_quality_score",
      (s, dir) => qualityScore(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some("""
        WITH f AS (
          SELECT doc_id, text,
                 list_filter(string_split(text, ' '), x -> length(x) > 0) AS tk
          FROM documents),
        m AS (
          SELECT doc_id,
                 CAST(length(text) AS BIGINT) AS n_chars,
                 CAST(len(tk) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
                 CAST(len(list_filter(tk,
                   x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop,
                 list_sum(list_transform(tk, x -> length(x)))::DOUBLE
                   / len(tk) AS mean_len
          FROM f)
        SELECT doc_id, n_chars, n_tokens,
               round(n_distinct / n_tokens::DOUBLE, 4) AS distinct_ratio,
               round(n_stop / n_tokens::DOUBLE, 4) AS stopword_ratio,
               round(mean_len, 4) AS mean_token_len,
               round(least(n_tokens::DOUBLE / 100.0, 1.0) * 0.4 +
                     (n_distinct / n_tokens::DOUBLE) * 0.4 +
                     least(n_stop::DOUBLE * 10 / n_tokens, 1.0) * 0.2,
                     4) AS quality
        FROM m
        ORDER BY doc_id""")),

    // ----- token counting: whitespace + regex token classes --------------
    // A BPE-ish pre-tokenizer count: runs of letters, runs of digits, and
    // single non-alphanumeric marks, via regexp_extract_all (identical
    // pattern both engines).
    QueryDef(
      "q50_token_stats",
      (s, dir) => tokenStats(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> length(x) > 0)) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text,
                    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT)
                 AS bpe_ish_tokens,
               CAST(len(list_distinct(list_filter(string_split(text, ' '),
                    x -> length(x) > 0))) AS BIGINT) AS vocab
        FROM documents
        ORDER BY doc_id""")),

    // ----- document fingerprint: order-sensitive rolling hash ------------
    // Left fold (acc*31 + h(token)) mod p over the token sequence — a true
    // rolling hash (token order matters), as one higher-order aggregate
    // expression; DuckDB replays it with list_reduce.
    QueryDef(
      "q51_doc_fingerprint",
      (s, dir) => fingerprint(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(
                     list_filter(string_split(text, ' '), x -> length(x) > 0),
                     x -> CAST(concat('0x', substring(md5(x),1,15)) AS BIGINT)
                          % 1000000007)),
                 (acc, h) -> (acc * 31 + h) % 1000000007) AS fingerprint
        FROM documents
        ORDER BY doc_id""")),

    // ----- PII masking / redaction ---------------------------------------
    // The redaction pass a corpus gets before leaving a trust boundary:
    // identifier digits masked with only the last 3 visible ("keep last
    // group" masking). Split by substring arithmetic, not a lazy regex —
    // digit masking is the only regex, so the two engines' dialects
    // cannot diverge (DuckDB regexp_replace needs the explicit 'g'
    // flag). Embarrassingly parallel, no shuffle before the ORDER BY.
    QueryDef(
      "q116_pii_mask",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "customer")
          .select($"c_custkey",
            concat(
              regexp_replace(
                $"c_name".substr(lit(1), length($"c_name") - 3), "[0-9]", "#"),
              $"c_name".substr(length($"c_name") - 2, lit(3))).as("masked_name"))
          .orderBy($"c_custkey")
      },
      Some("""
        SELECT c_custkey,
               concat(
                 regexp_replace(
                   substring(c_name, 1, length(c_name) - 3),
                   '[0-9]', '#', 'g'),
                 substring(c_name, length(c_name) - 2, 3)) AS masked_name
        FROM customer
        ORDER BY c_custkey""")),

    // ----- BM25 top-k retrieval ------------------------------------------
    // Corpus search by literal terms — the inspect/mine side of a
    // training-data pipeline. The oracle replays the identical scoring
    // formula with the same operator association, so the rounded scores
    // compare exactly.
    QueryDef(
      "q104_bm25_search",
      (s, dir) => bm25TopK(Tables.load(s, dir, "documents"),
        Seq("spark", "join", "slow"), k = 10),
      Some("""
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(text, ' '),
                        x -> length(x) > 0)) AS tk
          FROM documents),
        dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
               FROM tok GROUP BY doc_id),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                         CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        tf AS (SELECT doc_id, tk, CAST(count(*) AS BIGINT) AS tf
               FROM tok WHERE tk IN ('spark', 'join', 'slow')
               GROUP BY doc_id, tk),
        dfx AS (SELECT tk, CAST(count(*) AS BIGINT) AS df
                FROM tf GROUP BY tk)
        SELECT t.doc_id,
               round(sum(
                 ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * (t.tf * 2.2)
                   / (t.tf + 1.2 * (0.25 + 0.75 * l.dl
                        / (s.sum_dl::DOUBLE / s.n_docs)))), 4) AS score
        FROM tf t JOIN dfx d USING (tk) JOIN dl l USING (doc_id)
             CROSS JOIN stats s
        GROUP BY t.doc_id
        ORDER BY score DESC, doc_id
        LIMIT 10""")),

    // ----- PII scrubbing pass --------------------------------------------
    // The redaction pass every corpus runs before training: find + mask
    // email/phone spans, keep per-doc redaction counts for audit. One
    // linear codegen'd scan (regexp_count + regexp_replace), no shuffle
    // at all — the shape that runs unchanged at 100 TB. The fixture text
    // carries no PII, so the query PLANTS one deterministic email+phone
    // per row (derived from doc_id — both engines build the identical
    // string) and the oracle referees that the scrub finds exactly those
    // and the redacted text hashes identically; regexes are RE2-safe so
    // Java (Spark) and RE2 (DuckDB) agree.
    QueryDef(
      "q166_pii_redaction",
      (s, dir) => {
        import s.implicits._
        val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
        val phoneRe = "\\d{3}-\\d{3}-\\d{4}"
        Tables.load(s, dir, "documents")
          .select($"doc_id",
            concat($"text", lit(" contact user"), $"doc_id",
              lit("@example.com or call 555-867-"),
              lpad(pmod($"doc_id", lit(10000)).cast("string"), 4, "0")).as("s"))
          .select($"doc_id",
            regexp_count($"s", lit(emailRe)).cast("long").as("n_emails"),
            regexp_count($"s", lit(phoneRe)).cast("long").as("n_phones"),
            md5(regexp_replace(
              regexp_replace($"s", emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).as("red_digest"))
          .orderBy($"doc_id")
      },
      Some("""
        WITH p AS (
          SELECT doc_id,
                 concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                        '@example.com or call 555-867-',
                        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS s
          FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(s,
                 '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
               len(regexp_extract_all(s, '\d{3}-\d{3}-\d{4}')) AS n_phones,
               md5(regexp_replace(regexp_replace(s,
                     '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
                     '<EMAIL>', 'g'),
                   '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g')) AS red_digest
        FROM p
        ORDER BY doc_id""")),

    // ----- model-based quality filter (inference plumbing) ---------------
    // The learned-filter pass (fastText-style) production corpora run
    // after heuristic quality signals: hash word uni+bigrams into a
    // fixed feature space, dot with a weight vector, sigmoid, threshold.
    // The SCALE shape is what matters: features come from higher-order
    // array fns (no explode of a dictionary join), the "model" is a
    // pure function of the bucket id (at production scale: a broadcast
    // array lookup — same plan, weights pluggable), and the per-doc
    // logit sums INTEGER weights (exact, order-independent) so the one
    // double division + sigmoid at the end is bit-bridgeable to the
    // oracle. One linear scan, zero shuffle before the final sort.
    QueryDef(
      "q170_quality_inference",
      (s, dir) => {
        import s.implicits._
        val d = 4096 // feature buckets
        val tokens = filter(split($"text", " "), x => length(x) > 0)
        val grams = concat(tokens,
          filter(zip_with(tokens, slice(tokens, 2, 1 << 30),
            (a, b) => concat(a, lit("_"), b)), x => x.isNotNull))
        Tables.load(s, dir, "documents")
          .select($"doc_id", explode(grams).as("f"))
          .withColumn("b", pmod(h60($"f"), lit(d)))
          // deterministic pseudo-weights in [-1000, 1000]: md5 of the
          // bucket id — stands in for trained weights, same lookup shape
          .withColumn("w",
            pmod(h60(concat(lit("w"), $"b".cast("string"))), lit(2001)) - 1000)
          .groupBy($"doc_id")
          .agg(sum($"w").as("zsum"), count(lit(1)).as("n_features"))
          .withColumn("score",
            round(lit(1.0) / (lit(1.0) +
              exp(-$"zsum" / ($"n_features" * 1000.0))), 4))
          .select($"doc_id", $"n_features", $"score",
            when($"score" >= 0.5, 1).otherwise(0).as("keep"))
          .orderBy($"doc_id")
      },
      Some("""
        WITH ts AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
          FROM documents),
        feats AS (
          SELECT doc_id, unnest(list_concat(t,
                   list_filter(
                     list_transform(generate_series(1, len(t) - 1),
                       i -> t[i] || '_' || t[i+1]),
                     x -> x IS NOT NULL))) AS f
          FROM ts),
        hw AS (
          SELECT doc_id,
                 CAST(concat('0x', substring(md5(concat('w', CAST(
                   CAST(concat('0x', substring(md5(f),1,15)) AS BIGINT) % 4096
                   AS VARCHAR))),1,15)) AS BIGINT) % 2001 - 1000 AS w
          FROM feats)
        SELECT doc_id, count(*) AS n_features,
               round(1.0 / (1.0 +
                 exp(-(sum(w)::DOUBLE) / (count(*) * 1000.0))), 4) AS score,
               CASE WHEN round(1.0 / (1.0 +
                 exp(-(sum(w)::DOUBLE) / (count(*) * 1000.0))), 4) >= 0.5
                 THEN 1 ELSE 0 END AS keep
        FROM hw
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // deterministic top-N: n desc then pair; 'pair' is unique per group
    QueryDef(
      "q175_bpe_pair_stats",
      (s, dir) => bpePairStats(Tables.load(s, dir, "documents"), topN = 50),
      Some("""
        WITH toks AS (
          SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
          FROM documents),
        t AS (SELECT w FROM toks WHERE length(w) >= 2),
        p AS (
          SELECT substr(w, CAST(unnest(generate_series(1, length(w) - 1))
            AS INT), 2) AS pair
          FROM t)
        SELECT pair, count(*) AS n
        FROM p GROUP BY pair
        ORDER BY n DESC, pair LIMIT 50""")),

    // q175 ranks ONE merge step's candidates; this runs the LOOP — ten
    // BPE merges, the tokenizer-training artifact itself. Oracle is the
    // generated 10-stage unrolled replay (bpeMergesOracle).
    QueryDef(
      "q218_bpe_merge_loop",
      (s, dir) => bpeMerges(Tables.load(s, dir, "documents"), nMerges = 10),
      Some(bpeMergesOracle(10))),

    // train-then-encode: derive the merge table on the corpus (the
    // q218 loop — its result is already a driver-local artifact), then
    // apply it corpus-wide; the oracle replays BOTH halves, so a drift
    // between the training fold and the encoder fold cannot hide
    QueryDef(
      "q230_bpe_encode",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val merges = bpeMerges(docs, nMerges = 8)
          .orderBy(col("step")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        bpeEncode(docs, merges).orderBy(col("doc_id"))
      },
      Some(bpeEncodeOracle(8))),

    // HTML main-text extraction — the missing FIRST stage of the crawl
    // pipeline every operator above consumes. Each doc is wrapped in a
    // realistic page: dropped head/title, a nav link bar (density 1.0
    // -> cut), a script with '<' and '&' traps in its body, a style
    // block, a low-density prose paragraph with an inline anchor
    // (kept, anchor text inlined), an entity paragraph (&amp; &lt;
    // decoded), and a link-farm footer div (density 12/13 -> cut);
    // 4 blocks kept, 2 cut.
    // The oracle replays the expected reassembly string-functionally:
    // any tag-strip slip, entity miss, density miscount, or whitespace
    // non-collapse is a hash mismatch.
    QueryDef(
      "q240_html_main_text",
      (s, dir) => {
        import s.implicits._
        val pages = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            (id,
              s"""<html><head><title>Doc $id</title></head><body>
                 |<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>
                 |<h1>Title $id</h1>
                 |<script>if (1 < 2) { alert("x & y"); }</script>
                 |<p>$text</p>
                 |<style>.footer { display: none; }</style>
                 |<p>Read much more in <a href="/arc">the archive</a> every single day</p>
                 |<p>Tom &amp; Jerry &lt;3</p>
                 |<p>Caf&eacute;&nbsp;menu&mdash;d&eacute;tails&hellip; &copy; 2024 &ne; 2023</p>
                 |<div><a href="/p">Privacy</a> | <a href="/t">Terms</a></div>
                 |</body></html>""".stripMargin)
          }
          .toDF("doc_id", "html")
        HtmlExtract.extractMainText(pages, $"html", maxLinkDensity = 0.5)
          .select($"doc_id", $"main_text",
            $"n_blocks".cast("long").as("n_blocks"),
            $"n_dropped".cast("long").as("n_dropped"))
          .orderBy($"doc_id")
      },
      // the entity paragraph pins the FULL HTML5 named table (round
      // 12): Latin-1 (eacute), typographic (mdash, hellip), symbol
      // (copy, ne) names, and the &nbsp; -> collapse-to-space rule —
      // the oracle carries the decoded UTF-8 literally
      Some("""
        SELECT doc_id,
               'Title ' || doc_id || chr(10)
                 || trim(regexp_replace(text, '\s+', ' ', 'g')) || chr(10)
                 || 'Read much more in the archive every single day'
                 || chr(10) || 'Tom & Jerry <3'
                 || chr(10) || 'Café menu—détails… © 2024 ≠ 2023'
                 AS main_text,
               CAST(5 AS BIGINT) AS n_blocks,
               CAST(2 AS BIGINT) AS n_dropped
        FROM documents
        ORDER BY doc_id""")),

    // the OUTLINK side of the crawl pipeline q240 started: per-page
    // href extraction (quoted AND unquoted attribute syntax, scheme/
    // host case-folding, userinfo+port stripping, fragment/query
    // ignored, relative links dropped, and a script-body link trap
    // that must NOT leak) reduced to the host-level crawl graph —
    // (src_host, dst_host, n_links) edges ready for the Graph family.
    // The oracle replays the planted link arithmetic; a trap leak,
    // missed unquoted href, or botched normalization all change edge
    // counts -> hash mismatch.
    QueryDef(
      "q242_outlink_host_graph",
      (s, dir) => {
        import s.implicits._
        val pages = Tables.load(s, dir, "documents")
          .select($"doc_id")
          .fanout.as[Long]
          .map { id =>
            val (a, b, c) = (id % 7, (id * 3) % 7, (id * 5 + 1) % 7)
            (s"doc${id % 11}.example",
              s"""<html><body><p>See <a href="https://host$a.example/p/$id">one</a>
                 |and <a href="HTTPS://user@Host$b.Example:8443/q?x=1#f">two</a>
                 |and <a href="/relative/path">rel</a>
                 |and <a href=https://host$c.example/r>three</a></p>
                 |<script>var s = '<a href="https://evil.example/x">trap</a>';</script>
                 |</body></html>""".stripMargin)
          }
          .toDF("src_host", "html")
        HtmlExtract.outlinkHostEdges(pages, $"src_host", $"html")
          .orderBy($"src_host", $"dst_host")
      },
      Some("""
        WITH l AS (
          SELECT 'doc' || (doc_id % 11) || '.example' AS src_host,
                 'host' || (doc_id % 7) || '.example' AS dst_host
          FROM documents
          UNION ALL
          SELECT 'doc' || (doc_id % 11) || '.example',
                 'host' || ((doc_id * 3) % 7) || '.example'
          FROM documents
          UNION ALL
          SELECT 'doc' || (doc_id % 11) || '.example',
                 'host' || ((doc_id * 5 + 1) % 7) || '.example'
          FROM documents)
        SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
        FROM l GROUP BY src_host, dst_host
        ORDER BY src_host, dst_host""")),

    // the crawl pipeline END-TO-END: raw HTML -> href extraction ->
    // host canonicalization -> weighted host edges -> PageRank, all
    // engine operators composed (HtmlExtract feeding Graph.prLoop —
    // which is node-type-agnostic, so STRING hosts rank without any
    // id-mapping shuffle). Fixture adds doc->doc host links so rank
    // actually flows (the host{a,b,c} targets are sinks with no
    // out-edges and per simplified-PageRank stay out of the node
    // set). Oracle: the planted-link arithmetic chained into the same
    // unrolled integer PageRank replay q219 pins.
    QueryDef(
      "q243_crawl_host_pagerank",
      (s, dir) => {
        import s.implicits._
        val pages = Tables.load(s, dir, "documents")
          .select($"doc_id")
          .fanout.as[Long]
          .map { id =>
            val (a, b, c) = (id % 7, (id * 3) % 7, (id * 5 + 1) % 7)
            val m = (id * 13) % 11
            (s"doc${id % 11}.example",
              s"""<p><a href="https://host$a.example/p">1</a>
                 |<a href="https://host$b.example/q">2</a>
                 |<a href="https://host$c.example/r">3</a>
                 |<a href="https://doc$m.example/s">4</a></p>""".stripMargin)
          }
          .toDF("src_host", "html")
        val edges = HtmlExtract.outlinkHostEdges(pages, $"src_host", $"html")
          .select($"src_host".as("src"), $"dst_host".as("dst"),
            $"n_links".as("w"))
        Graph.weightedPageRank(edges, iters = 3)
          .select($"node".as("host"), $"rank")
          .orderBy($"host")
      },
      Some(s"""
        WITH l AS (
          SELECT 'doc' || (doc_id % 11) || '.example' AS src,
                 'host' || (doc_id % 7) || '.example' AS dst
          FROM documents
          UNION ALL
          SELECT 'doc' || (doc_id % 11) || '.example',
                 'host' || ((doc_id * 3) % 7) || '.example'
          FROM documents
          UNION ALL
          SELECT 'doc' || (doc_id % 11) || '.example',
                 'host' || ((doc_id * 5 + 1) % 7) || '.example'
          FROM documents
          UNION ALL
          SELECT 'doc' || (doc_id % 11) || '.example',
                 'doc' || ((doc_id * 13) % 11) || '.example'
          FROM documents),
        e AS (SELECT src, dst, count(*) AS w FROM l GROUP BY src, dst),
        deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS deg
                FROM e GROUP BY src),
        nodes AS (SELECT DISTINCT src AS node FROM e),
        p AS (SELECT count(*) AS n FROM nodes),
        r0 AS (SELECT node, (1000000 // p.n) AS rank FROM nodes, p),
        ${Graph.wprIter("r0", "r1")},
        ${Graph.wprIter("r1", "r2")},
        ${Graph.wprIter("r2", "r3")}
        SELECT node AS host, CAST(rank AS BIGINT) AS rank
        FROM r3
        ORDER BY host""")),

    // URL canonicalization as the DEDUP key it exists to be: each doc
    // plants TWO different messy spellings of the same page (case-mixed
    // host, default port, userinfo, dot-segments, tracking params,
    // param order, fragment) and the operator must collapse them to
    // ONE canonical row. The oracle constructs the expected canonical
    // string arithmetically — any normalization slip (port kept, utm
    // retained, ../ unresolved, params unsorted) doubles a row or
    // shifts a string and hash-mismatches.
    QueryDef(
      "q247_url_normalize_dedup",
      (s, dir) => {
        import s.implicits._
        val urls = Tables.load(s, dir, "documents")
          .select($"doc_id")
          .fanout.as[Long]
          .flatMap { id =>
            val a = id % 7
            Seq(
              (id, s"HTTPS://Host$a.Example:443/p/$id/../q?b=2&a=1#frag"),
              (id, s"https://user:pw@host$a.example/p/./q" +
                s"?a=1&utm_source=x&b=2"))
          }
          .toDF("doc_id", "url")
        // round 12: the catalog's last corpus-path UDF retired — the
        // codegen Expression keeps the WholeStageCodegen span intact
        // (no encoder boxing; the same normalizeUrl body runs)
        urls.selectExpr("doc_id", "normalize_url(url) AS url")
          .groupBy($"doc_id", $"url")
          .agg(count(lit(1)).as("n_spellings"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               'https://host' || (doc_id % 7) || '.example/p/q?a=1&b=2'
                 AS url,
               CAST(2 AS BIGINT) AS n_spellings
        FROM documents
        ORDER BY doc_id""")),

    // the crawl fetch-gate: every planted url evaluated against its
    // host's robots.txt under RFC 9309 semantics — named-group
    // exclusivity (a graftbot group exists on every third host and
    // then ONLY its rules apply), longest-pattern precedence (Allow
    // /private/ok/ beats Disallow /private/), and $-anchored rules on
    // even hosts. The oracle replays each semantic branch as boolean
    // arithmetic — a precedence or group-selection slip flips a flag
    // and hash-mismatches.
    QueryDef(
      "q248_robots_fetch_gate",
      (s, dir) => {
        import s.implicits._
        val robots = (0 until 7).map { h =>
          val base =
            s"""# rules for host$h
               |User-agent: *
               |Disallow: /private/
               |Allow: /private/ok/
               |""".stripMargin +
            (if (h % 2 == 0) "Disallow: /tmp$\n" else "") +
            (if (h % 3 == 0)
              "\nUser-agent: graftbot\nDisallow: /graft-only/\n"
            else "")
          (s"host$h.example", base)
        }.toDF("host", "robots_txt")
        val urls = Tables.load(s, dir, "documents")
          .select($"doc_id")
          .fanout.as[Long]
          .map { id =>
            val path = (id % 5) match {
              case 0 => "/public/page"
              case 1 => "/private/doc"
              case 2 => "/private/ok/x"
              case 3 => "/graft-only/x"
              case _ => "/tmp"
            }
            (id, s"host${id % 7}.example", path)
          }
          .toDF("doc_id", "host", "path")
        Robots.filterAllowed(urls, robots, agent = "graftbot/1.0")
          .orderBy($"doc_id")
      },
      Some("""
        WITH u AS (
          SELECT doc_id,
                 'host' || (doc_id % 7) || '.example' AS host,
                 CASE doc_id % 5
                   WHEN 0 THEN '/public/page' WHEN 1 THEN '/private/doc'
                   WHEN 2 THEN '/private/ok/x' WHEN 3 THEN '/graft-only/x'
                   ELSE '/tmp' END AS path,
                 (doc_id % 7) % 3 = 0 AS hb,
                 (doc_id % 7) % 2 = 0 AS evenh
          FROM documents)
        SELECT doc_id, host, path,
               CASE doc_id % 5
                 WHEN 0 THEN TRUE
                 WHEN 1 THEN hb
                 WHEN 2 THEN TRUE
                 WHEN 3 THEN NOT hb
                 ELSE hb OR NOT evenh END AS allowed
        FROM u
        ORDER BY doc_id""")),

    // structured TABLE extraction — tables carry the densest factual
    // content on a page and flat text extraction destroys their
    // structure; this emits (table, row, col, cell, is_header) tuples
    // ready for table-to-text. Planted per doc: a header row, a value
    // row with entities, and a row whose cell wraps its text in inline
    // markup that must vanish. The oracle replays the 3x3 grid.
    QueryDef(
      "q256_html_table_extract",
      (s, dir) => {
        import s.implicits._
        val pages = Tables.load(s, dir, "documents")
          .select($"doc_id")
          .fanout.as[Long]
          .map { id =>
            (id,
              s"""<html><body><p>intro text</p><table>
                 |<tr><th>metric</th><th>value</th><th>note</th></tr>
                 |<tr><td>count</td><td>${id * 2}</td><td>n &amp; m</td></tr>
                 |<tr><td>score</td><td>${id % 97}</td><td><b>bold $id</b></td></tr>
                 |</table></body></html>""".stripMargin)
          }
          .toDF("doc_id", "html")
        val cellsUdf = udf { html: String =>
          HtmlExtract.tables(html).map(c =>
            (c.tableIdx, c.rowIdx, c.colIdx, c.text, c.header))
        }
        pages.select($"doc_id", explode(cellsUdf($"html")).as("c"))
          .select($"doc_id", $"c._1".as("table_idx"),
            $"c._2".as("row_idx"), $"c._3".as("col_idx"),
            $"c._4".as("cell"), $"c._5".as("is_header"))
          .orderBy($"doc_id", $"row_idx", $"col_idx")
      },
      Some("""
        SELECT doc_id,
               CAST(0 AS INT) AS table_idx,
               CAST(r.r AS INT) AS row_idx,
               CAST(c.c AS INT) AS col_idx,
               CASE r.r
                 WHEN 0 THEN CASE c.c WHEN 0 THEN 'metric'
                      WHEN 1 THEN 'value' ELSE 'note' END
                 WHEN 1 THEN CASE c.c WHEN 0 THEN 'count'
                      WHEN 1 THEN CAST(doc_id * 2 AS VARCHAR)
                      ELSE 'n & m' END
                 ELSE CASE c.c WHEN 0 THEN 'score'
                      WHEN 1 THEN CAST(doc_id % 97 AS VARCHAR)
                      ELSE 'bold ' || doc_id END
               END AS cell,
               r.r = 0 AS is_header
        FROM documents
        CROSS JOIN (SELECT unnest(range(3)) AS r) r
        CROSS JOIN (SELECT unnest(range(3)) AS c) c
        ORDER BY doc_id, row_idx, col_idx""")),

    // page-metadata extraction — the fields curation filters and
    // labels on before touching body text: title (the one dropped
    // container whose content IS the signal), meta description,
    // og:title, canonical link. A script planted BEFORE the head
    // fields carries a fake <title> that must not leak; entities in
    // every field must decode. The oracle replays each field.
    QueryDef(
      "q257_html_page_metadata",
      (s, dir) => {
        import s.implicits._
        val pages = Tables.load(s, dir, "documents")
          .select($"doc_id")
          .fanout.as[Long]
          .map { id =>
            (id,
              s"""<html><head>
                 |<script>var t = "<title>fake</title>";</script>
                 |<title>Doc $id &amp; Friends</title>
                 |<meta name="description" content="Summary $id &lt;here&gt;">
                 |<meta property="og:title" content="OG $id">
                 |<link rel="canonical" href="https://host${id % 7}.example/p/$id">
                 |</head><body><p>body</p></body></html>""".stripMargin)
          }
          .toDF("doc_id", "html")
        val metaUdf = udf { html: String =>
          val m = HtmlExtract.pageMetadata(html)
          (m.title, m.description, m.ogTitle, m.canonical)
        }
        pages.select($"doc_id", metaUdf($"html").as("m"))
          .select($"doc_id", $"m._1".as("title"),
            $"m._2".as("description"), $"m._3".as("og_title"),
            $"m._4".as("canonical"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               'Doc ' || doc_id || ' & Friends' AS title,
               'Summary ' || doc_id || ' <here>' AS description,
               'OG ' || doc_id AS og_title,
               'https://host' || (doc_id % 7) || '.example/p/' || doc_id
                 AS canonical
        FROM documents
        ORDER BY doc_id""")),

    QueryDef(
      "q176_inverted_index",
      (s, dir) => invertedIndex(Tables.load(s, dir, "documents"), topN = 100),
      Some("""
        WITH t AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
        d AS (SELECT DISTINCT doc_id, term FROM t WHERE term <> ''),
        g AS (
          SELECT term, count(*) AS df,
                 string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                   AS postings
          FROM d GROUP BY term)
        SELECT term, df, postings FROM g
        ORDER BY df DESC, term LIMIT 100""")),

    // WordPiece greedy encode against a fixed shipped vocabulary —
    // the serving-path tokenizer (q230's BPE needs the merge ORDER;
    // WordPiece re-derives segmentation from the vocab alone). The
    // Spark side longest-matches on the distinct word table; the
    // oracle replays the same greedy walk as a recursive CTE with the
    // longest-match choice enforced by NOT EXISTS. Any disagreement
    // in match length, continuation marker, or word order is a hash
    // mismatch.
    QueryDef(
      "q267_wordpiece_encode",
      (s, dir) => wordPieceEncode(Tables.load(s, dir, "documents"), WordPieceVocab)
        .orderBy(col("doc_id")),
      Some(wordPieceOracle(WordPieceVocab))),

    // the tokenizer triad's third member (q230 BPE merge-order, q267
    // WordPiece greedy, and now the open-model default): unigram-LM
    // train-then-encode — substring-seeded vocab, two hard-EM rounds
    // re-estimating integer-quantized costs from frequency-weighted
    // Viterbi usage, corpus encode by distinct-word join-back. The
    // oracle replays the ENTIRE train+encode pipeline (seed counts,
    // both EM rounds as enumerate-and-argmin recursive CTEs, final
    // positional reassembly) — a drift anywhere in the loop, the
    // pruning rule, the cost quantization, or the tiebreak order is a
    // hash mismatch.
    QueryDef(
      "q328_unigram_lm_encode",
      (s, dir) => unigramEncode(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some(unigramOracle())),

    // sentence segmentation over synthesized prose: each doc's words
    // regroup into sentences of (3 + id%3) words with cycling .!?
    // terminators, and the segmenter re-derives boundaries FROM THE
    // PUNCTUATION; the oracle replays the arithmetic. One posexplode,
    // map-only.
    QueryDef(
      "q268_sentence_segmentation",
      (s, dir) => {
        import s.implicits._
        val prose = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val ws = text.split(" ").filter(_.nonEmpty)
            val sw = (3 + id % 3).toInt
            val sents = ws.grouped(sw).zipWithIndex.map { case (g, j) =>
              g.mkString(" ") + ((j % 3) match {
                case 0 => "."; case 1 => "!"; case _ => "?"
              })
            }
            (id, sents.mkString(" "))
          }
          .toDF("doc_id", "prose")
        segmentSentences(prose, $"prose")
          .orderBy($"doc_id", $"sent_idx")
      },
      Some("""
        WITH t AS (
          -- filter empties to pin tokenization to the Spark side's
          -- filter(_.nonEmpty): irregular spacing must not shift slices
          SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS ws,
                 3 + doc_id % 3 AS sw
          FROM documents
          WHERE length(text) > 0),
        s AS (
          SELECT doc_id, ws, sw,
                 unnest(generate_series(0, (len(ws) - 1) // sw)) AS j
          FROM t)
        SELECT doc_id,
               CAST(j AS BIGINT) AS sent_idx,
               array_to_string(list_slice(ws, j * sw + 1,
                                          LEAST((j + 1) * sw, len(ws))), ' ')
                 || CASE j % 3 WHEN 0 THEN '.' WHEN 1 THEN '!' ELSE '?' END
                 AS sentence,
               CAST(LEAST(sw, len(ws) - j * sw) AS BIGINT) AS n_words
        FROM s
        ORDER BY doc_id, sent_idx""")),

    // C4/RefinedWeb per-host boilerplate-line removal: docs regroup
    // into pages — host = doc_id%7, content lines of 8 words, a nav
    // header + copyright footer on every page of the host, a
    // subscribe banner on every 5th page — and the operator must
    // rediscover the planted template lines FROM FREQUENCY alone
    // (>= 4 distinct pages of one host) and strip them, reassembling
    // the remaining lines in order. The oracle replays the same page
    // construction arithmetically and the same threshold in SQL; any
    // disagreement in the boilerplate set, the drop accounting, or
    // reassembly order is a hash mismatch.
    QueryDef(
      "q283_host_line_dedup",
      (s, dir) => {
        import s.implicits._
        val W = 8
        val pages = Tables.load(s, dir, "documents")
          .select($"doc_id",
            concat(lit("h"), ($"doc_id" % 7).cast("string")).as("host"),
            toks($"text").as("ws"))
          .filter(size($"ws") > 0)
          .select($"doc_id", $"host",
            array_join(
              concat(
                array(concat(lit("nav menu "), $"host")),
                transform(
                  sequence(lit(0),
                    floor((size($"ws") - 1) / W).cast("int")),
                  j => array_join(
                    slice($"ws", (j * W + 1).cast("int"), lit(W)), " ")),
                when($"doc_id" % 5 === 0,
                  array(concat(lit("subscribe banner "), $"host")))
                  .otherwise(array().cast("array<string>")),
                array(concat(lit("copyright "), $"host"))),
              "\n").as("text"))
        hostLineDedup(pages, minDocs = 4).orderBy($"doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, 'h' || (doc_id % 7) AS host,
                 list_filter(string_split(text, ' '), x -> x <> '') AS ws
          FROM documents),
        nz AS (SELECT doc_id, host, ws, (len(ws) - 1) // 8 AS jmax
               FROM base WHERE len(ws) > 0),
        content AS (
          SELECT doc_id, host, ws,
                 unnest(generate_series(0, jmax)) AS j
          FROM nz),
        lines AS (
          SELECT doc_id, host, 0 AS pos, 'nav menu ' || host AS line
          FROM nz
          UNION ALL
          SELECT doc_id, host, 1 + j AS pos,
                 array_to_string(list_slice(ws, j * 8 + 1,
                   LEAST((j + 1) * 8, len(ws))), ' ') AS line
          FROM content
          UNION ALL
          SELECT doc_id, host, jmax + 2 AS pos,
                 'subscribe banner ' || host AS line
          FROM nz WHERE doc_id % 5 = 0
          UNION ALL
          SELECT doc_id, host,
                 jmax + 2 + (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
                   AS pos,
                 'copyright ' || host AS line
          FROM nz),
        freq AS (
          SELECT host, line, count(DISTINCT doc_id) AS n_docs
          FROM lines GROUP BY host, line),
        boiler AS (SELECT host, line FROM freq WHERE n_docs >= 4)
        SELECT l.doc_id,
               CAST(sum(CASE WHEN b.line IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_dropped,
               COALESCE(string_agg(
                 CASE WHEN b.line IS NULL THEN l.line END,
                 chr(10) ORDER BY l.pos), '') AS clean_text
        FROM lines l
        LEFT JOIN boiler b ON l.host = b.host AND l.line = b.line
        GROUP BY l.doc_id
        ORDER BY l.doc_id""")),

    // Unicode-canonical dedup: buckets of 4 docs carry the SAME page
    // in four disguises — composed é, decomposed e+U+0301, uppercase,
    // and ragged spacing — and the canonical key must collapse each
    // bucket to one group with the min-id row as survivor. The oracle
    // replays the same NFC→lower→collapse pipeline with DuckDB's own
    // independent nfc_normalize; a normalizer that misses a
    // composition form or applies the steps out of order splits a
    // group and hash-mismatches.
    QueryDef(
      "q286_unicode_canonical_dedup",
      (s, dir) => {
        import s.implicits._
        val raw = Tables.load(s, dir, "documents")
          .select($"doc_id", ($"doc_id" % 4).as("m"),
            expr("doc_id div 4").cast("string").as("b"))
          .select($"doc_id",
            when($"m" === 0,
              concat(lit("project café "), $"b", lit(" update")))
              .when($"m" === 1,
                concat(lit("project café "), $"b", lit(" update")))
              .when($"m" === 2,
                concat(lit("PROJECT CAFÉ "), $"b", lit(" UPDATE")))
              .otherwise(
                concat(lit("project  café   "), $"b",
                  lit("  update ")))
              .as("text"))
        canonicalDedupKey(raw).orderBy($"doc_id")
      },
      Some("""
        WITH v AS (
          SELECT doc_id, doc_id // 4 AS b, doc_id % 4 AS m
          FROM documents),
        raw AS (
          SELECT doc_id,
                 CASE m
                   WHEN 0 THEN 'project caf' || chr(233) || ' ' || b
                               || ' update'
                   WHEN 1 THEN 'project cafe' || chr(769) || ' ' || b
                               || ' update'
                   WHEN 2 THEN 'PROJECT CAF' || chr(201) || ' ' || b
                               || ' UPDATE'
                   ELSE 'project  caf' || chr(233) || '   ' || b
                        || '  update '
                 END AS t
          FROM v),
        canon AS (
          SELECT doc_id,
                 trim(regexp_replace(lower(nfc_normalize(t)),
                                     '[ \t\n\r\f]+', ' ', 'g'))
                   AS canon_text
          FROM raw),
        g AS (SELECT canon_text, count(*) AS group_size,
                     min(doc_id) AS cid
              FROM canon GROUP BY canon_text)
        SELECT c.doc_id, c.canon_text,
               CAST(g.group_size AS BIGINT) AS group_size,
               c.doc_id = g.cid AS is_canonical
        FROM canon c JOIN g USING (canon_text)
        ORDER BY c.doc_id""")),

    // character entropy over the real doc texts (no synthesis): the
    // oracle recomputes the full char-frequency table per doc in SQL
    // and the -Σ p·log2 p sum independently; a frequency-table bug or
    // a natural-log/log2 mixup shifts every row. Both sides sum
    // ≤ǀalphabetǀ float terms per doc — orders of magnitude inside
    // the 4dp round.
    QueryDef(
      "q289_char_entropy",
      (s, dir) => {
        import s.implicits._
        charEntropy(Tables.load(s, dir, "documents")).orderBy($"doc_id")
      },
      Some("""
        WITH pos AS (
          SELECT doc_id, text,
                 unnest(generate_series(1, length(text))) AS i
          FROM documents),
        cnt AS (
          SELECT doc_id, substr(text, i, 1) AS c, count(*) AS k
          FROM pos GROUP BY doc_id, substr(text, i, 1)),
        d AS (SELECT doc_id, length(text) AS n FROM documents)
        SELECT d.doc_id,
               CAST(d.n AS BIGINT) AS n_chars,
               CAST(count(cnt.c) AS INT) AS n_distinct_chars,
               round(COALESCE(-sum((cnt.k * 1.0 / d.n)
                          * log2(cnt.k * 1.0 / d.n)), 0.0), 4)
                 AS entropy_bits
        FROM d LEFT JOIN cnt ON cnt.doc_id = d.doc_id
        GROUP BY d.doc_id, d.n
        ORDER BY d.doc_id""")),

    // PLD extraction: six host shapes per doc-id residue — known TLD,
    // two-label rule (co.uk), private registry (github.io), deep
    // subdomain, unknown TLD (default rule), and a bare public suffix
    // (NULL pld) — resolved against a 6-rule PSL subset via the
    // broadcast-join path. The oracle replays each shape's expected
    // suffix/pld arithmetically; a longest-match bug (io beating
    // github.io) or an off-by-one label slice flips a column.
    QueryDef(
      "q288_pay_level_domain",
      (s, dir) => {
        import s.implicits._
        val hosts = Tables.load(s, dir, "documents")
          .select($"doc_id",
            expr("doc_id div 6").cast("string").as("i"),
            ($"doc_id" % 6).as("m"))
          .select($"doc_id",
            when($"m" === 0, concat(lit("www.site"), $"i", lit(".com")))
              .when($"m" === 1,
                concat(lit("shop.site"), $"i", lit(".co.uk")))
              .when($"m" === 2,
                concat(lit("site"), $"i", lit(".github.io")))
              .when($"m" === 3,
                concat(lit("a.b.site"), $"i", lit(".org")))
              .when($"m" === 4,
                concat(lit("site"), $"i", lit(".nosuchtld")))
              .otherwise(lit("co.uk"))
              .as("host"))
        payLevelDomain(hosts, "doc_id", "host",
          Seq("com", "org", "io", "uk", "co.uk", "github.io"))
          .orderBy($"doc_id")
      },
      Some("""
        WITH v AS (
          SELECT doc_id, CAST(doc_id // 6 AS VARCHAR) AS i,
                 doc_id % 6 AS m
          FROM documents)
        SELECT doc_id,
               CASE m
                 WHEN 0 THEN 'www.site' || i || '.com'
                 WHEN 1 THEN 'shop.site' || i || '.co.uk'
                 WHEN 2 THEN 'site' || i || '.github.io'
                 WHEN 3 THEN 'a.b.site' || i || '.org'
                 WHEN 4 THEN 'site' || i || '.nosuchtld'
                 ELSE 'co.uk'
               END AS host,
               CASE m
                 WHEN 0 THEN 'com'
                 WHEN 1 THEN 'co.uk'
                 WHEN 2 THEN 'github.io'
                 WHEN 3 THEN 'org'
                 WHEN 4 THEN 'nosuchtld'
                 ELSE 'co.uk'
               END AS public_suffix,
               CASE m
                 WHEN 0 THEN 'site' || i || '.com'
                 WHEN 1 THEN 'site' || i || '.co.uk'
                 WHEN 2 THEN 'site' || i || '.github.io'
                 WHEN 3 THEN 'site' || i || '.org'
                 WHEN 4 THEN 'site' || i || '.nosuchtld'
                 ELSE NULL
               END AS pld
        FROM v
        ORDER BY doc_id""")),

    // sitemap parse: the crawl-frontier feed beside q248's robots
    // gate. Docs group into one urlset per host (id % 11), each
    // entry's loc carrying an ENCODED &amp; the parser must decode,
    // lastmod /
    // priority omitted on planted residues; the oracle replays url,
    // date, and priority arithmetic per doc.
    QueryDef(
      "q269_sitemap_parse",
      (s, dir) => {
        import s.implicits._
        val rows = Tables.load(s, dir, "documents")
          .select($"doc_id")
          .as[Long]
          .groupByKey(_ % 11)
          .flatMapGroups { (host, it) =>
            val entries = it.toSeq.sorted.map { id =>
              (s"https://doc$host.example/p/$id?a=1&b=2",
                if (id % 4 == 3) None
                else Some(java.time.LocalDate.of(2024, 1, 1)
                  .plusDays(id % 365).toString),
                if (id % 5 == 4) None
                else Some((id % 9 + 1) / 10.0))
            }
            val xml = Sitemap.emit(entries)
            Sitemap.parse(xml).map(e =>
              (s"doc$host.example", e.loc, e.lastmod.orNull,
                e.priority))
          }
        rows.toDF("host", "url", "lastmod", "priority")
          .select($"host", $"url", $"lastmod",
            $"priority".cast("double").as("priority"))
          .orderBy($"url")
      },
      Some("""
        SELECT 'doc' || (doc_id % 11) || '.example' AS host,
               'https://doc' || (doc_id % 11) || '.example/p/' || doc_id
                 || '?a=1&b=2' AS url,
               CASE WHEN doc_id % 4 = 3 THEN NULL
                    ELSE CAST(CAST(DATE '2024-01-01'
                              + (doc_id % 365) * INTERVAL 1 DAY AS DATE)
                         AS VARCHAR)
               END AS lastmod,
               CASE WHEN doc_id % 5 = 4 THEN NULL
                    ELSE (doc_id % 9 + 1) / 10.0 END AS priority
        FROM documents
        ORDER BY url""")),

    // the crawl frontier assembled: q269's sitemaps feed q248's robots
    // gate — per host, sitemap entries parse into candidate urls, the
    // host's rules (Disallow /p/1 with an Allow /p/12 longest-match
    // carve-out) gate each path, and the frontier reports per-host
    // allowed/blocked counts. The oracle replays the gate as digit
    // arithmetic on doc_id — a longest-match slip flips the /p/12x
    // rows.
    QueryDef(
      "q275_crawl_frontier_gate",
      (s, dir) => {
        import s.implicits._
        val urls = Tables.load(s, dir, "documents")
          .select($"doc_id")
          .as[Long]
          .groupByKey(_ % 11)
          .flatMapGroups { (host, it) =>
            val entries = it.toSeq.sorted.map { id =>
              (s"https://doc$host.example/p/$id", None, None)
            }
            Sitemap.parse(Sitemap.emit(entries)).map(e =>
              (s"doc$host.example",
                e.loc.replaceFirst("^https://[^/]+", "")))
          }
          .toDF("host", "path")
        val robots = (0 until 11).map { h =>
          (s"doc$h.example",
            "User-agent: *\nDisallow: /p/1\nAllow: /p/12\n")
        }.toDF("host", "robots_txt")
        Robots.filterAllowed(urls, robots, agent = "graftbot/1.0")
          .groupBy($"host")
          .agg(count(lit(1)).as("n_urls"),
            sum(when($"allowed", 1L).otherwise(0L)).as("n_allowed"),
            sum(when(!$"allowed", 1L).otherwise(0L)).as("n_blocked"))
          .orderBy($"host")
      },
      Some("""
        WITH u AS (
          SELECT 'doc' || (doc_id % 11) || '.example' AS host,
                 CAST(doc_id AS VARCHAR) AS ds
          FROM documents)
        SELECT host,
               count(*) AS n_urls,
               CAST(sum(CASE WHEN NOT starts_with(ds, '1')
                              OR starts_with(ds, '12')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
               CAST(sum(CASE WHEN starts_with(ds, '1')
                              AND NOT starts_with(ds, '12')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
        FROM u
        GROUP BY host
        ORDER BY host"""))
  )
}
