package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Materialize, Tables}

/** Deduplication operator family over document corpora — the
  * training-data pipeline surface (exact, n-gram Jaccard with and
  * without PPJoin prefix filtering, MinHash+LSH, SimHash fingerprints +
  * Hamming-banded pairs, embedding-cosine near-dup with an LSH scale
  * path, SemDeDup-style semantic dedup, directional containment,
  * boilerplate mining, blocked fuzzy matching, and connected-components
  * clustering), exposed as library functions over any DataFrame with
  * (doc_id, text) / (vec_id, embedding) columns; the QueryDef entries
  * bind them to the fixture tables for the oracle gate.
  *
  * The reference could only express any of these as hand-written
  * map/reduce pairs (/root/reference/README.txt:236-293); here each is a
  * declared plan built purely from codegen'd `functions._` — no UDFs —
  * and every hash is md5-derived so the DuckDB oracle replays the exact
  * computation.
  *
  * Scale notes (100 TB posture):
  *  - Exact dedup = hash-groupBy → one shuffle on the digest, partial agg.
  *  - Exact pairwise Jaccard (q42) explodes shingles and self-joins: the
  *    oracle baseline, quadratic in bucket size — at scale you run
  *    MinHash+LSH (q43), which bounds the join to per-band buckets and
  *    only exact-verifies candidate pairs.
  *  - SimHash is one linear pass: 32 conditional sums per doc (no row
  *    blowup).
  *
  * Cache lifecycle: the `.cache()` calls in this module pin the shared
  * self-join inputs (shingle/signature frames); the operators return
  * LAZY frames (no completion point inside the operator at which
  * unpersist would be safe — the caller may not have run an action
  * yet), so every internal cache is REGISTERED against the returned
  * frame via [[graft.engine.Materialize.adopt]]: when the caller is
  * done, `Materialize.free(result)` releases the whole chain
  * deterministically (composed operators adopt their inner results, so
  * ownership chains transitively). Callers owning a session loop may
  * still release wholesale (`spark.catalog.clearCache()` — what
  * `graft.Verify` does between queries). All caches here are
  * MEMORY_AND_DISK: at corpus scale they spill rather than OOM, and
  * identical-lineage caches (e.g. [[hashedShingles]] over the same
  * input) still share ONE materialization through the CacheManager —
  * free() of one owner then simply lets the next operator repopulate.
  *
  * [[connectedComponents]] is a LOOP operator and follows the EAGER
  * Materialize contract instead — its result is checkpoint-backed when
  * returned and every internal frame (edge checkpoints, superseded
  * round labels) is freed before return.
  */
object Dedup {
  /** First 15 hex digits of md5 as a non-negative long (60 bits) —
    * identical in DuckDB as CAST(concat('0x', substring(md5(x),1,15)) AS
    * BIGINT). The shared cross-engine hash primitive. */
  /** Write `df` under `dir` partitioned by its `k` column, whose values
    * are 0 until `n`. A class with no rows still gets its `k=<n>`
    * directory, holding one schema-bearing empty file, so every class
    * reads back as a frame. */
  private[operators] def stageClasses(df: DataFrame, dir: String,
      n: Int): Unit = {
    df.write.partitionBy("k").parquet(dir)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    (0 until n).foreach { k =>
      val part = new org.apache.hadoop.fs.Path(dir, s"k=$k")
      if (!part.getFileSystem(conf).exists(part))
        df.drop("k").limit(0).write.parquet(part.toString)
    }
  }

  private[operators] def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** First 8 hex digits of md5 as a long (32 bits). */
  private[operators] def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  private val MinhashK = 16
  private val Bands = 4 // 4 bands x 4 rows

  /** Affine minhash family over one base hash: h_i(s) = (a_i * h30 + b_i)
    * mod P where h30 = h60(s) mod 2^30. ONE md5 per shingle instead of
    * 16 — the signature pass is the dominant cost of LSH dedup, and at
    * corpus scale 16x less hashing is 16x less CPU on the hot path.
    * Constants are generated from i (odd multipliers, Knuth-style mix)
    * and interpolated into the oracle SQL from this same definition, so
    * the two engines cannot drift. a_i*h30+b_i < 2^31 * 2^30 + 2^31 <
    * 2^62 — no 64-bit overflow on either engine. */
  private val MinhashP = 1000000007L
  private[operators] val minhashAB: Seq[(Long, Long)] =
    (0 until MinhashK).map { i =>
      val a = ((i.toLong * 2654435761L + 1) % (1L << 30)) | 1L
      val b = (i.toLong * 40503L * 65537L + 17L) % MinhashP
      (a, b)
    }

  // ------------------------------------------------------------------
  // library surface
  // ------------------------------------------------------------------

  /** Exact dedup by content digest: one row per distinct `text`, keeping
    * the smallest doc_id; never ships the text itself. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(md5(col("text")).as("digest"), col("doc_id"))
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** Distinct 3-token shingles per doc as rows (doc_id, s) — the n=3
    * case of [[TrainingPipeline.ngramRows]], which carries the
    * construction (explode + window lead, linear in document length) and
    * the rationale for avoiding the O(len²) higher-order-function
    * formulation. Single-sourced so the dedup shingles and the
    * decontamination grams can never diverge. */
  def shingleRows(docs: DataFrame): DataFrame =
    TrainingPipeline.ngramRows(docs, 3)

  /** Exact n-gram-Jaccard near-dup pairs (id1 < id2, jaccard >= threshold,
    * 4dp). Quadratic per shingle bucket — the exactness baseline; use
    * [[minhashLshPairs]] at corpus scale.
    *
    * `maxShingleFreq` guards the quadratic blowup: a shingle appearing in
    * f docs contributes f² join rows, so one stopword trigram shared by
    * 10^6 docs is 10^12 rows from a single bucket. With a cap, shingles
    * in more than `cap` docs are dropped from the shingle UNIVERSE
    * (both intersection and union counts — jaccard over the filtered
    * sets, the standard document-frequency cut), bounding any bucket's
    * contribution at cap². None (the oracle default) keeps exact
    * semantics. */
  def jaccardPairs(docs: DataFrame, threshold: Double,
      maxShingleFreq: Option[Int] = None): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // join on a 60-bit hash of the shingle, not the string: fixed-width
    // long keys shrink the shuffle and the sort-merge compares (~25%
    // at sf0.1); a cross-doc hash collision would need ~2^30 distinct
    // shingles to matter (md5-derived, uniform)
    val base = shingleRows(docs)
      .select($"doc_id", h60($"s").as("hs"))
    val guarded = maxShingleFreq match {
      case Some(cap) =>
        base
          .withColumn("_f", count(lit(1)).over(Window.partitionBy($"hs")))
          .filter($"_f" <= cap)
          .drop("_f")
      case None => base
    }
    // both sides of the self-join read this frame: cache it
    // (MEMORY_AND_DISK) or the whole shingle+md5 pass — the dominant
    // cost — runs twice
    val sh = guarded
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"doc_id")))
      .cache()
    val a = sh.toDF("id1", "hs", "n1")
    val b = sh.toDF("id2", "hs", "n2")
    Materialize.adopt(
      a.join(b, a("hs") === b("hs") && a("id1") < b("id2"))
        .groupBy($"id1", $"id2")
        .agg(count(lit(1)).as("inter"),
          first($"n1").as("n1"), first($"n2").as("n2"))
        .withColumn("jaccard",
          round($"inter" / ($"n1" + $"n2" - $"inter"), 4))
        .filter($"jaccard" >= threshold)
        .select($"id1", $"id2", $"jaccard"),
      Seq(sh))
  }

  /** Hashed shingle rows (doc_id, hs 60-bit, h30 30-bit) — the one
    * md5-per-shingle pass every minhash operator starts from. Callers
    * cache it: identical lineage means the CacheManager shares one
    * materialization across operators built over the same input. */
  private[operators] def hashedShingles(docs: DataFrame): DataFrame =
    shingleRows(docs)
      .select(col("doc_id"), h60(col("s")).as("hs"))
      .withColumn("h30", col("hs") % (1L << 30))

  /** MinHash LSH band keys (doc_id, band, bk) from hashed shingle rows:
    * 16 affine minhashes ([[minhashAB]]) grouped into 4 bands of 4, band
    * key = md5 of the comma-joined signature slice. One aggregation pass
    * — the linear index-build over a corpus. */
  private[operators] def bandKeys(ex: DataFrame): DataFrame = {
    val sigAggs = minhashAB.zipWithIndex.map { case ((a, b), i) =>
      min((col("h30") * a + b) % MinhashP).as(s"sig$i")
    }
    val sig = ex.groupBy(col("doc_id")).agg(sigAggs.head, sigAggs.tail: _*)
    val bandStructs = (0 until Bands).map { b =>
      val cols = (0 until 4).map(r => col(s"sig${b * 4 + r}").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws(",", cols: _*)).as("bk"))
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bk").as("bk"))
  }

  /** MinHash(16) + LSH(4 bands x 4 rows) candidate generation with exact
    * Jaccard verification of candidates only — the scale path: join work
    * is bounded by band-bucket population, not corpus size, and the
    * verification never touches non-candidate documents: the shingle
    * frame is semi-joined down to candidate ids first, then the
    * intersection count comes from hash equi-joins on the 60-bit shingle
    * hash (the [[jaccardPrefixPairs]] recipe) — no per-doc array
    * materialization, no full-corpus-width shuffle of shingle sets.
    *
    * Requires threshold > 0: zero-overlap candidate pairs (band-key
    * coincidences between docs sharing no shingle) drop out of the
    * verify equi-join rather than surfacing with jaccard 0.0, so
    * threshold 0 would not enumerate the full candidate set. */
  def minhashLshPairs(docs: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0, "threshold must be > 0 (see scaladoc)")
    val s = docs.sparkSession
    import s.implicits._
    // one shingle+md5 pass feeds both the signature aggregation and the
    // candidate verification — cache the fixed-width hashed rows instead
    // of recomputing the dominant cost (strings never leave this plan)
    val ex = hashedShingles(docs).cache()

    // tiny (docs x Bands rows): cache so the candidate self-join does
    // not recompute the 16-hash signature pass twice
    val banded = bandKeys(ex).cache()

    // cand is referenced THREE times below (both sides of candIds and the
    // final verify join) — without the cache each reference re-runs the
    // band self-join and the signature pass behind it, and under parallel
    // stages those recomputations race multiplicatively (the round-4
    // q100/q103 regression: 121s isolated vs 12s with this materialized)
    val cand = banded.toDF("id1", "band", "bk")
      .join(banded.toDF("id2", "band", "bk"), Seq("band", "bk"))
      .filter($"id1" < $"id2")
      .select($"id1", $"id2").distinct().cache()

    // exact-verify candidates only: prune the shingle frame to candidate
    // docs BEFORE any set-building — at corpus scale the candidate set is
    // orders of magnitude smaller than the corpus, so this semi-join is
    // what keeps verification off the full-corpus shuffle path. |doc| per
    // candidate doc is still the FULL shingle count (the semi-join keeps
    // every row of a kept doc), so jaccard is exact.
    val candIds = cand.select($"id1".as("doc_id"))
      .union(cand.select($"id2".as("doc_id"))).distinct()
    // exCand feeds both sides of the intersection join — cache so the
    // semi-join + per-doc window runs once, not twice
    val exCand = ex.join(candIds, Seq("doc_id"), "left_semi")
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"doc_id")))
      .cache()
    // intersection via two equi-joins on the shingle hash (the join on
    // (id2, hs) keeps exactly the shared shingles) — same array-free
    // verify as jaccardPrefixPairs; pairs with zero overlap drop out of
    // the inner join, which any threshold > 0 discards anyway
    Materialize.adopt(
      cand
        .join(exCand.select($"doc_id".as("id1"), $"hs", $"n".as("n1")),
          Seq("id1"))
        .join(exCand.select($"doc_id".as("id2"), $"hs", $"n".as("n2")),
          Seq("id2", "hs"))
        .groupBy($"id1", $"id2")
        .agg(first($"n1").as("n1"), first($"n2").as("n2"),
          count(lit(1)).as("inter"))
        .withColumn("jaccard",
          round($"inter" / ($"n1" + $"n2" - $"inter"), 4))
        .filter($"jaccard" >= threshold)
        .select($"id1", $"id2", $"jaccard"),
      Seq(ex, banded, cand, exCand))
  }

  /** 32-bit SimHash fingerprint per doc, token multiplicity as weight:
    * one linear pass, 32 conditional sums, then a sum of bit terms. */
  def simhash(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // fan out before the explode: the per-token md5 pass otherwise runs
    // in an under-parallel scan stage (no-op at real scale)
    val tok = graft.engine.Tables.fanout(docs)
      .select($"doc_id", explode(split($"text", " ")).as("tk"))
      .filter(length($"tk") > 0)
      .withColumn("h", h32($"tk"))
    val bitAggs = (0 until 32).map(j =>
      sum(when(expr(s"(h >> $j) & 1") === 1, 1).otherwise(-1)).as(s"b$j"))
    val bits = tok.groupBy($"doc_id").agg(bitAggs.head, bitAggs.tail: _*)
    val sh = (0 until 32)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    bits.select($"doc_id", sh.as("simhash"))
  }

  /** SimHash near-dup pairs within `maxHamming` bits, found WITHOUT an
    * all-pairs comparison: the 32-bit fingerprint is cut into 4 byte
    * bands, and by pigeonhole any pair within Hamming distance 3 agrees
    * on at least one whole band — so candidates come from equi-joins on
    * (band, byte) buckets and only candidates pay the popcount verify.
    * The fingerprint pass is linear ([[simhash]]); join work is bounded
    * by band-bucket population, the same recipe as [[minhashLshPairs]]
    * but LOSSLESS for the Hamming radius (bands are exhaustive, not
    * probabilistic).
    *
    * Scale note: an 8-bit band has only 256 buckets, so bucket
    * population grows as n/256 — fine at fixture scale (and what the
    * 32-bit q44 fingerprint contract allows), but at corpus scale the
    * fingerprint must widen so bands keep buckets small: 64-bit simhash
    * with 4 x 16-bit bands (65k buckets/band) — implemented as
    * [[simhash64Pairs]], same plan shape. `maxBandFreq` is the guard
    * within this 32-bit variant: band-buckets
    * holding more than `cap` docs are dropped from candidate generation
    * (an explicit recall trade on pathological buckets, exactly like
    * [[jaccardPairs]]'s `maxShingleFreq`). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      maxBandFreq: Option[Int] = None): DataFrame = {
    require(maxHamming <= 3, "4 byte bands only guarantee Hamming <= 3")
    val s = docs.sparkSession
    import s.implicits._
    val bandStructs = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftright($"simhash", 8 * b).bitwiseAND(255).as("bk")))
    // tiny (docs x 4 rows): cache so the candidate self-join does not
    // recompute the fingerprint pass twice
    val all = simhash(docs)
      .select($"doc_id", $"simhash", explode(array(bandStructs: _*)).as("bb"))
      .select($"doc_id", $"simhash", $"bb.band".as("band"), $"bb.bk".as("bk"))
    val banded = (maxBandFreq match {
      case Some(cap) =>
        all.withColumn("_f",
            count(lit(1)).over(Window.partitionBy($"band", $"bk")))
          .filter($"_f" <= cap).drop("_f")
      case None => all
    }).cache()
    Materialize.adopt(
      banded.toDF("id1", "sh1", "band", "bk")
        .join(banded.toDF("id2", "sh2", "band", "bk"), Seq("band", "bk"))
        .filter($"id1" < $"id2")
        .select($"id1", $"id2", $"sh1", $"sh2").distinct()
        .withColumn("hamming", expr("bit_count(sh1 ^ sh2)").cast("long"))
        .filter($"hamming" <= maxHamming)
        .select($"id1", $"id2", $"hamming"),
      Seq(banded))
  }

  /** 64-bit SimHash fingerprint per doc as FOUR 16-bit band values
    * (doc_id, band0..band3) — the at-scale widening of [[simhash]] that
    * [[simhashPairs]]'s scaladoc specifies: 16-bit bands give 65k
    * buckets/band, so bucket population grows as n/65536 instead of
    * n/256. The 64 bit-planes come from two 32-bit md5 slices per token
    * (hex chars 1-8 and 9-16 — one md5 call, two extractions).
    * Representing the fingerprint as 4 shorts rather than one 64-bit
    * value keeps every intermediate well inside signed-long range in
    * BOTH engines (bit 63 of a packed fingerprint would need unsigned
    * arithmetic DuckDB's BIGINT rejects). */
  def simhash64(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // fan out before the explode — same rationale as [[simhash]]
    val tok = graft.engine.Tables.fanout(docs)
      .select($"doc_id", explode(split($"text", " ")).as("tk"))
      .filter(length($"tk") > 0)
      .withColumn("h1", h32($"tk"))
      .withColumn("h2",
        conv(substring(md5($"tk"), 9, 8), 16, 10).cast("long"))
    val bitAggs = (0 until 64).map { j =>
      val bit =
        if (j < 32) expr(s"(h1 >> $j) & 1") else expr(s"(h2 >> ${j - 32}) & 1")
      sum(when(bit === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val bits = tok.groupBy($"doc_id").agg(bitAggs.head, bitAggs.tail: _*)
    val bandCols = (0 until 4).map { m =>
      (0 until 16)
        .map(r => when(col(s"b${16 * m + r}") > 0, lit(1L << r)).otherwise(lit(0L)))
        .reduce(_ + _).as(s"band$m")
    }
    bits.select(($"doc_id" +: bandCols): _*)
  }

  /** 64-bit SimHash near-dup pairs within `maxHamming` bits — the
    * corpus-scale counterpart of [[simhashPairs]] (same lossless
    * pigeonhole argument: 4 bands, radius <= 3 → at least one whole band
    * equal), with 16-bit bands so candidate buckets stay small as the
    * corpus grows. Hamming distance is the sum of per-band popcounts —
    * never a packed 64-bit value, see [[simhash64]]. */
  def simhash64Pairs(docs: DataFrame, maxHamming: Int = 3,
      maxBandFreq: Option[Int] = None): DataFrame = {
    require(maxHamming <= 3, "4 16-bit bands only guarantee Hamming <= 3")
    val s = docs.sparkSession
    import s.implicits._
    val bandStructs = (0 until 4).map(m =>
      struct(lit(m).as("band"), col(s"band$m").as("bk")))
    // docs x 4 rows: cache so the candidate self-join does not recompute
    // the 64-bit-plane fingerprint pass twice (session-lifetime pin —
    // see the module scaladoc's cache-lifecycle note)
    val all = simhash64(docs)
      .select($"doc_id", $"band0", $"band1", $"band2", $"band3",
        explode(array(bandStructs: _*)).as("bb"))
      .select($"doc_id", $"band0", $"band1", $"band2", $"band3",
        $"bb.band".as("band"), $"bb.bk".as("bk"))
    val banded = (maxBandFreq match {
      case Some(cap) =>
        all.withColumn("_f",
            count(lit(1)).over(Window.partitionBy($"band", $"bk")))
          .filter($"_f" <= cap).drop("_f")
      case None => all
    }).cache()
    Materialize.adopt(
      banded.toDF("id1", "a0", "a1", "a2", "a3", "band", "bk")
        .join(banded.toDF("id2", "c0", "c1", "c2", "c3", "band", "bk"),
          Seq("band", "bk"))
        .filter($"id1" < $"id2")
        .select($"id1", $"id2", $"a0", $"a1", $"a2", $"a3",
          $"c0", $"c1", $"c2", $"c3").distinct()
        .withColumn("hamming",
          expr("bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + " +
            "bit_count(a2 ^ c2) + bit_count(a3 ^ c3)").cast("long"))
        .filter($"hamming" <= maxHamming)
        .select($"id1", $"id2", $"hamming"),
      Seq(banded))
  }

  /** Embedding near-dup pairs (cosine >= threshold, 4dp) via the native
    * codegen'd cosine Expression. Exact O(n²/2) ORACLE BASELINE — the
    * production path at corpus scale is [[embeddingNearDupLshPairs]],
    * which bounds the join to LSH band buckets. */
  def embeddingNearDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val s = embeddings.sparkSession
    import s.implicits._
    val e = embeddings.select($"vec_id", $"embedding")
    // the theta join plans as BroadcastNestedLoopJoin with `a` STREAMED:
    // every candidate pair's cosine is evaluated in a's scan stage, so an
    // under-parallel scan (single-row-group fixture) serializes the whole
    // n²/2 verify on one core — fan the streamed side out (scale-adaptive
    // no-op when the scan already plans >= cores; the broadcast side b
    // must NOT be fanned, its build collects anyway)
    val a = Tables.fanout(e).toDF("id1", "v1")
    val b = e.toDF("id2", "v2")
    a.join(b, $"id1" < $"id2")
      .withColumn("cosine", round(expr("cosine_sim(v1, v2)"), 4))
      .filter($"cosine" >= threshold)
      .select($"id1", $"id2", $"cosine")
  }

  /** LSH-composed embedding near-dup — the 100 TB path for
    * [[embeddingNearDupPairs]]'s operator: 64-bit random-hyperplane
    * signatures ([[Similarity.lshBuckets]] at 64 planes), banded
    * 8 x 8 bits — a pair is a candidate if ANY band matches; exact
    * cosine verification (native codegen'd expression) of candidates
    * only. Same recipe [[minhashLshPairs]] uses for text: linear
    * signature pass, bucketed candidate join, candidate-only verify —
    * never n²/2 pairs.
    *
    * Band sizing is THE scale parameter (round-8 sf1 lesson): the
    * original 4 x 2-bit banding has only 4 buckets per band, so bucket
    * population is n/4 and the candidate join degenerates to all-pairs/4
    * as the corpus grows (measured: 128 s at sf1 = 99x the sf0.1 cost;
    * 8 x 8 bits with 256 buckets/band runs the identical contract in
    * ~1 s with candidates ~ 8·n²/512 instead of 4·n²/8). Recall for a
    * pair at angle θ is 1-(1-p^8)^8 with p = 1-θ/π per plane: ≈ 93% at
    * cosine 0.9, ≈ 67% at 0.8 — high where near-DUPLICATES live, while
    * uncorrelated pairs (the fixture's random-vector bulk, p ≈ 0.5)
    * collide with probability ≈ 3% so candidate volume stays bounded.
    * At corpus scale, bits-per-band should grow ~log2(n/target_bucket):
    * more bands buys recall, more bits per band caps bucket population.
    * The oracle replays the identical bucketing, so the
    * approximate-by-construction result compares exactly. */
  def embeddingNearDupLshPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val s = embeddings.sparkSession
    import s.implicits._
    val sig = Similarity.lshBuckets(embeddings, planes = 64)
      .select($"vec_id", $"bucket")
    val bandStructs = (0 until 8).map { m =>
      struct(lit(m).as("band"),
        shiftright($"bucket", 8 * m).bitwiseAND(255).as("bk"))
    }
    // tiny (vectors x 8 rows): cache so the candidate self-join does not
    // recompute the hyperplane signature pass twice
    val banded = sig
      .select($"vec_id", explode(array(bandStructs: _*)).as("bb"))
      .select($"vec_id", $"bb.band".as("band"), $"bb.bk".as("bk"))
      .cache()
    val cand = banded.toDF("id1", "band", "bk")
      .join(banded.toDF("id2", "band", "bk"), Seq("band", "bk"))
      .filter($"id1" < $"id2")
      .select($"id1", $"id2").distinct()
    val vecs = embeddings.select($"vec_id", $"embedding")
    Materialize.adopt(
      cand
        .join(vecs.toDF("id1", "v1"), "id1")
        .join(vecs.toDF("id2", "v2"), "id2")
        .withColumn("cosine", round(expr("cosine_sim(v1, v2)"), 4))
        .filter($"cosine" >= threshold)
        .select($"id1", $"id2", $"cosine"),
      Seq(banded))
  }

  /** SemDeDup-style semantic dedup (cluster-then-prune, Abbas et al.
    * 2023, arXiv:2303.09540): assign every vector to its nearest centroid
    * (broadcast centroids, exactly [[Similarity.ivfTopK]]'s cell
    * assignment), then within each cell drop any vector that has a
    * LOWER-id cell-mate with cosine >= threshold. Returns the survivors
    * (vec_id, cell).
    *
    * The join is bounded by cell population — never n²/2 — and at corpus
    * scale the centroids come from a k-means over a sample (still
    * broadcast-sized); here they are a deterministic corpus subset so the
    * oracle can replay the assignment. Size k so cells stay near-constant
    * (k ≈ n / target_cell_size, SemDeDup uses ~constant-population
    * clusters for exactly this reason); a cell that still blows up is
    * visible in [[SkewJoin.keySkewProfile]] over the cell column and is
    * split by re-clustering that cell alone. */
  def semanticDedup(embeddings: DataFrame, isCentroid: Column,
      threshold: Double): DataFrame = {
    val s = embeddings.sparkSession
    import s.implicits._
    // fanned out: the broadcast-centroid crossJoin streams `e`, so an
    // under-parallel scan serializes the n x k scoring pass on one core
    val e = Tables.fanout(embeddings.select($"vec_id", $"embedding"))
    val centroids = e.filter(isCentroid).toDF("cent_id", "cent_v")
    // nearest-centroid argmax via max_by aggregation — partial-aggregated
    // map-side, so ONE row per vector crosses the shuffle instead of all
    // k scored rows (a row_number window would shuffle the whole n×k
    // frame by vec_id just to pick each vector's best centroid).
    // Tie-break matches the oracle's (sim DESC, cent_id ASC): max over
    // the ordered pair (sim, -cent_id). embedding is constant within a
    // vec_id group, so first() is deterministic here and saves a re-join.
    // Both the pair join's two sides and the survivor anti-join read the
    // assignment: cache it so the centroid scoring pass runs once.
    val assigned = e.crossJoin(broadcast(centroids))
      .withColumn("sim", round(expr("cosine_sim(embedding, cent_v)"), 6))
      .groupBy($"vec_id")
      .agg(
        max_by($"cent_id", struct($"sim", (-$"cent_id").as("_neg"))).as("cell"),
        first($"embedding").as("embedding"))
      .select($"vec_id", $"embedding", $"cell")
      .cache()
    val dropped = assigned.select($"vec_id".as("id1"), $"embedding".as("v1"), $"cell")
      .join(assigned.select($"vec_id".as("id2"), $"embedding".as("v2"), $"cell"),
        Seq("cell"))
      .filter($"id1" < $"id2")
      .withColumn("cosine", round(expr("cosine_sim(v1, v2)"), 4))
      .filter($"cosine" >= threshold)
      .select($"id2".as("vec_id")).distinct()
    Materialize.adopt(
      assigned.join(dropped, Seq("vec_id"), "left_anti")
        .select($"vec_id", $"cell"),
      Seq(assigned))
  }

  /** Exact n-gram-Jaccard near-dup pairs via PPJoin-style prefix
    * filtering — the EXACT scale path for [[jaccardPairs]]'s operator
    * (same output contract; q42's quadratic self-join is the oracle
    * baseline). Shingles get a canonical global order (ascending document
    * frequency, ties by hash — rare-first minimizes candidates); a pair
    * with jaccard >= t must share an element of each side's prefix of
    * length n - ceil(t*n) + 1, because the required overlap ceil(t*n)
    * cannot fit in the remaining suffix — and, with the prefix extended
    * by `evidence` instead of 1, must share that many prefix tokens
    * (multi-token evidence, clamped per side at ceil(t*n)). The
    * candidate join therefore touches only prefix tokens (for t=0.8,
    * ~20-30% of shingle rows), plus a size filter
    * (t * max(n1,n2) <= min(n1,n2)) and a count-filtered aggregation in
    * place of the candidate distinct; exact verification runs on
    * candidates only. Lossless by the prefix-filtering lemma
    * (Chaudhuri et al., ICDE'06) extended as in
    * [[containmentPrefixPairs]] — pinned by a property test against
    * [[jaccardPairs]] on a random corpus, sweeping evidence. */
  def jaccardPrefixPairs(docs: DataFrame, threshold: Double,
      evidence: Int = 4): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    require(evidence >= 1, "evidence must be >= 1")
    // the md5-per-shingle pass is the dominant cost and feeds BOTH the
    // prefix build and the exact verify — cache the HASHED rows
    // (doc_id, hs longs; MEMORY_AND_DISK spills rather than OOMs at
    // corpus scale) instead of computing twice
    val base = shingleRows(docs).select($"doc_id", h60($"s").as("hs")).cache()
    // multi-token evidence (the q114 generalization, symmetric form):
    // jaccard >= t forces inter >= ceil(t·n_i) on EACH side, so doc i
    // can miss at most n_i − ceil(t·n_i) tokens; with the prefix
    // extended by qEff_i = min(evidence, ceil(t·n_i)) instead of 1, a
    // qualifying pair's first min(qEff_1, qEff_2) shared tokens all
    // lie in both prefixes — the candidate distinct becomes a
    // count-filtered aggregation, which on dense vocabularies (where
    // single shared tokens are everywhere) is what separates
    // near-random pairs from real ones (measured at sf3: 47.5 s with
    // q=1, the count filter restores linearity)
    // every pruning bound derives from tr = threshold − 5e-5, not
    // threshold: the verify (and the DuckDB oracle) accept pairs by
    // ROUND(jaccard, 4) >= t, which admits ratios up to 5e-5 below t —
    // pruning with the strict t would drop those pairs for documents
    // longer than ~20k shingles (the containmentPrefixPairs relaxation,
    // which this operator's bounds all mirror)
    val tr = threshold - 0.00005
    def qEff(n: Column): Column =
      least(lit(evidence.toLong), ceil(n * tr).cast("long"))
    // document frequency as a window over hs (shares the shuffle the
    // data needs anyway) rather than a groupBy + re-join
    val ordered = base
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"hs")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"doc_id")))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"df", $"hs")))
    val prefix = ordered
      .filter($"rk" <= $"n" - ceil($"n" * tr) + qEff($"n"))
    val a = prefix.select($"doc_id".as("id1"), $"hs", $"n".as("n1"),
      $"rk".as("rk1"))
    val b = prefix.select($"doc_id".as("id2"), $"hs", $"n".as("n2"),
      $"rk".as("rk2"))
    // cand sits behind two window passes and a self-join over the same
    // frame; the verify below references it once but the join planner
    // evaluates both join sides from it — cache so the prefix build runs
    // exactly once (19.1s vs 1.4s at sf0.1 without this, round-4 q101)
    //
    // positional filter (PPJoin proper, Xiao et al. WWW'08): a match on
    // prefix ranks (rk1, rk2) can contribute at most
    // 1 + min(n1 - rk1, n2 - rk2) total overlap (everything else shared
    // must sit in both suffixes), and jaccard >= t needs overlap >=
    // ceil(t/(1+t) * (n1+n2)) — candidates whose bound falls short are
    // pruned BEFORE the distinct/verify. Lossless: a qualifying pair's
    // FIRST shared token (global (df, hs) order) lies in both prefixes
    // and its positional bound >= the pair's true overlap. On the dense
    // fixture vocabulary this is the difference between prefix-df²
    // candidates and verified-shaped candidates (round-8 sf1: 39 s ->
    // the verify joins dominate again).
    val alpha = ceil(lit(tr) / (1 + tr) * ($"n1" + $"n2"))
    // pair-level evidence requirement: min over the two sides' clamps.
    // Each counted row's positional bound is relaxed by qPair − 1 (the
    // earlier shared tokens are overlap the suffix bound cannot see) —
    // same lossless argument as containmentPrefixPairs
    val qPair = least(qEff($"n1"), qEff($"n2"))
    val cand = a.join(b, Seq("hs"))
      .filter($"id1" < $"id2" &&
        greatest($"n1", $"n2") * tr <= least($"n1", $"n2") &&
        lit(1) + least($"n1" - $"rk1", $"n2" - $"rk2") >=
          alpha - (qPair - 1))
      .groupBy($"id1", $"id2", $"n1", $"n2")
      .agg(count(lit(1)).as("ev"))
      .filter($"ev" >= qPair)
      .select($"id1", $"id2", $"n1", $"n2").cache()
    // exact verify on candidates only, against per-doc shingle-hash
    // arrays: one groupBy of the hashed rows, two id-equi-joins, then
    // size(array_intersect) per pair. The earlier formulation (join the
    // pair list back to the shingle ROWS on id1, then (id2, hs)) ships
    // |cand| x avg_doc_shingles narrow rows through two shuffles plus a
    // re-aggregation — measured 62 s of q101's 69 s at sf1 (2.2M
    // candidates x ~50 shingles ≈ 110M join rows). The array verify
    // moves the same bytes as |cand| wide rows in one shot: each
    // candidate carries its two ≤~100-element arrays once, the
    // intersection is a per-row expression, no third shuffle, no
    // re-agg. (Arrays are per-DOC, bounded by document length — this is
    // not the per-PAIR collect_list blowup jaccardPairs avoids.)
    val docArr = base.groupBy($"doc_id").agg(collect_list($"hs").as("arr"))
    Materialize.adopt(
      cand
        .join(docArr.toDF("id1", "arr1"), Seq("id1"))
        .join(docArr.toDF("id2", "arr2"), Seq("id2"))
        .withColumn("inter", size(array_intersect($"arr1", $"arr2")))
        .withColumn("jaccard",
          round($"inter" / ($"n1" + $"n2" - $"inter"), 4))
        .filter($"jaccard" >= threshold)
        .select($"id1", $"id2", $"jaccard"),
      Seq(base, cand))
  }

  /** Connected components over an undirected (id1, id2) edge list:
    * (id, component) with component = smallest reachable id. Each round
    * relaxes against neighbors' labels AND against the label's own label
    * (pointer jumping / path halving), so convergence is O(log diameter)
    * rounds — maxIter=25 therefore covers graphs with diameter ~2^25,
    * not 25, and a long mutation chain cannot crash the query. One
    * shuffle per relaxation, `localCheckpoint` truncates the growing
    * lineage; the driver loop holds only the convergence counter, never
    * data. (Same round bound as large-star/small-star, Kiveris et al.,
    * SoCC'14, with a simpler per-round plan.) */
  /** Golden-record survivorship over clustered duplicates: one
    * canonical row per component from `members`
    * (comp, doc_id, source, lang, n_chars) — canonical id = min member,
    * each categorical attribute picked by (frequency desc, value asc),
    * length = max. The MDM step a curation pipeline runs on q100's
    * component output before re-publishing.
    *
    * Scale: members is cached — it feeds three consumers and is
    * |clustered docs| rows, tiny vs corpus; each attribute pick windows
    * only the (component, value) COUNT frame, never raw members; the
    * final joins are cluster-count sized and AQE-broadcast. */
  def goldenRecords(membersIn: DataFrame): DataFrame = {
    val s = membersIn.sparkSession
    import s.implicits._
    val members = membersIn.cache()
    def pick(attr: String) = members
      .groupBy($"comp", col(attr)).agg(count(lit(1)).as("_c"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy($"comp").orderBy($"_c".desc, col(attr).asc)))
      .filter($"_rn" === 1)
      .select($"comp", col(attr).as(s"best_$attr"))
    Materialize.adopt(
      members.groupBy($"comp")
        .agg(min($"doc_id").as("canonical_id"),
          max($"n_chars").as("max_chars"),
          count(lit(1)).as("members"))
        .join(pick("source"), "comp")
        .join(pick("lang"), "comp")
        .select($"comp".as("component"), $"canonical_id",
          $"best_source", $"best_lang", $"max_chars", $"members"),
      Seq(members))
  }

  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // materialize the edge list ONCE, BEFORE the reverse-union references
    // it twice: edges usually arrive as the output of a whole near-dup
    // pipeline, and a union of two references to that un-materialized
    // subtree runs the full corpus pass twice (racing across parallel
    // stages) just to build `sym` — measured 49.7s cold vs 3.3s with the
    // input materialized first at sf0.1
    val e = edges.select($"id1".as("src"), $"id2".as("dst")).localCheckpoint()
    val sym = e.union(e.select($"dst".as("src"), $"src".as("dst")))
      .distinct().localCheckpoint()
    // sym is eagerly materialized — e's blocks are already dead weight
    Materialize.free(e)
    // initial labels already fold in one relaxation — min(self, neighbors)
    // from a single groupBy on the edge list — so the loop starts a full
    // round ahead of the naive id->id seeding (one fewer join+checkpoint
    // round for the common shallow-cluster case)
    var labels = sym.groupBy($"src".as("id"))
      .agg(least(first($"src"), min($"dst")).as("comp")).localCheckpoint()
    // labels only ever DECREASE, so sum(comp) is a strictly decreasing
    // fixpoint metric: convergence detection is one tiny aggregate per
    // round instead of a join against the previous labels. sum over zero
    // rows is NULL — coalesce so an empty edge list (clean corpus, zero
    // near-dup pairs) converges to an empty labeling instead of NPE-ing
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum($"comp"), lit(0L))).head.getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // SHUFFLE_HASH on the node-scale label side (the loop-join
      // discipline shared with Graph.prLoop/lpaLoop): the static pick
      // was sort-merge, re-sorting the edge frame AND the labels every
      // round; hashing labels costs O(nodes/P) per partition at any
      // total scale and lets the edge side stream unsorted
      // hint skips the size check: O(nodes/P) holds while P grows with nodes
      val viaNbr = sym.join(labels.hint("shuffle_hash"),
          sym("dst") === labels("id"))
        .select(sym("src").as("id"), labels("comp"))
      val relaxed = labels.union(viaNbr)
        .groupBy($"id").agg(min($"comp").as("comp"))
      // pointer jump: also take my label's label (comp values are node
      // ids, so the inner self-join always finds a row) — this is what
      // turns O(diameter) rounds into O(log diameter)
      // (NOT unrolled to two relaxations per checkpoint: the self-join
      // recomputes its un-materialized input subtree, so chaining
      // relaxations compounds recomputation — measured 35% slower)
      val byId = relaxed.toDF("jid", "jcomp")
      // both sides node-scale; hash the renamed side, stream the other
      // hint skips the size check: O(nodes/P) holds while P grows with nodes
      val next = relaxed.join(byId.hint("shuffle_hash"),
          relaxed("comp") === byId("jid"))
        .select(relaxed("id"), least(relaxed("comp"), byId("jcomp")).as("comp"))
        .localCheckpoint()
      val newSum = labelSum(next)
      // next is materialized — the previous round's label checkpoint is
      // superseded (one node-scale frame per round otherwise leaks)
      Materialize.free(labels)
      labels = next
      converged = newSum == prevSum
      prevSum = newSum
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // Materialize contract: the returned labels stay checkpoint-backed
    // (node-scale, caller-owned); the symmetrized edge frame is freed
    Materialize.free(sym)
    labels
  }

  /** Directional containment pairs: fraction of `src`'s shingles present
    * in `dst` (|A∩B| / |A|, >= threshold). The asymmetric cousin of
    * Jaccard — catches a short document quoted/embedded inside a longer
    * one, which symmetric Jaccard dilutes below any useful threshold.
    * Same bounded shape as [[jaccardPairs]]: equi-join on the shingle
    * hash, count per ordered pair. */
  def containmentPairs(docs: DataFrame, threshold: Double,
      maxShingleFreq: Option[Int] = None): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val raw = shingleRows(docs).select($"doc_id", h60($"s").as("hs"))
    // same quadratic-bucket guard as jaccardPairs: drop shingles shared
    // by more than `cap` docs from the universe (n counts the filtered
    // set, keeping the containment denominator consistent)
    val guarded = maxShingleFreq match {
      case Some(cap) =>
        raw.withColumn("_f", count(lit(1)).over(Window.partitionBy($"hs")))
          .filter($"_f" <= cap).drop("_f")
      case None => raw
    }
    // both sides of the self-join read this frame: cache it so the
    // shingle+md5 pass runs once (same trade as jaccardPairs)
    val base = guarded
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"doc_id")))
      .cache()
    val a = base.toDF("src", "hs", "n_src")
    val b = base.select($"doc_id".as("dst"), $"hs")
    Materialize.adopt(
      a.join(b, Seq("hs"))
        .filter($"src" =!= $"dst")
        .groupBy($"src", $"dst")
        .agg(count(lit(1)).as("inter"), first($"n_src").as("n_src"))
        .withColumn("containment",
          round($"inter" / $"n_src".cast("double"), 4))
        .filter($"containment" >= threshold)
        .select($"src", $"dst", $"containment"),
      Seq(base))
  }

  /** Exact containment pairs via prefix filtering — the same output
    * contract as [[containmentPairs]] (uncapped), at PPJoin cost: the
    * asymmetric analogue of [[jaccardPrefixPairs]].
    *
    * containment(src→dst) = |A∩B|/|A| >= t requires overlap >=
    * ceil(t·n_src), so src may MISS at most n_src − ceil(t·n_src)
    * shingles: order each doc's shingles by ascending document
    * frequency (ties by hash — rare first) and the first shared
    * shingle of any qualifying pair must sit within src's first
    * misses+1 entries. The candidate join therefore streams only src
    * PREFIX rows against the full index (dst side is unconstrained —
    * containment is asymmetric), plus a size filter (n_dst >= required
    * overlap) and the positional bound (1 + min(n_src − rk_src,
    * n_dst − rk_dst) >= required — everything else shared must fit in
    * both suffixes after the matched rank). Exact verify runs on
    * candidates only, against per-doc hash arrays (the q101 array form:
    * candidate volume × doc length, one shuffle, no re-aggregation).
    *
    * The required overlap is computed against threshold − 5e-5, not
    * threshold: the verify (and the DuckDB oracle) accept pairs by
    * ROUND(containment, 4) >= t, which admits ratios up to 5e-5 below
    * t — the relaxed bound keeps the filter lossless for documents
    * longer than 20k shingles where that gap exceeds 1/n.
    *
    * `evidence` (q) generalizes the single-shared-token lemma to
    * MULTI-token evidence, the lever that matters on dense
    * vocabularies where every shingle is common (measured at sf1:
    * q=1 leaves 25M candidate pairs — the positional filter alone
    * cannot separate near-random documents — and the array verify
    * ships ~20 GB; q=4 leaves only pairs sharing 4 rare-ordered
    * tokens). Extending the prefix to misses+q guarantees a
    * qualifying pair shares at least q PREFIX tokens (it cannot miss
    * q of them and still reach the required overlap), so the
    * candidate distinct becomes a count-filtered aggregation:
    * group the prefix-join rows by pair, keep count >= q. Each
    * counted row's positional bound is relaxed by q−1 (the q−1
    * earlier shared tokens are overlap the suffix bound cannot see).
    * For short documents q clamps to the required overlap (prefix
    * never exceeds the document). */
  def containmentPrefixPairs(docs: DataFrame, threshold: Double,
      evidence: Int = 4): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    require(evidence >= 1, "evidence must be >= 1")
    val base = shingleRows(docs).select($"doc_id", h60($"s").as("hs")).cache()
    // df/doc-length/rank windows share the shuffles the data needs
    // anyway; the frame feeds BOTH join sides — cache it
    val ordered = base
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"hs")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"doc_id")))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"df", $"hs")))
      .cache()
    def required(n: Column): Column =
      greatest(lit(1L), ceil(n * (threshold - 0.00005)).cast("long"))
    def qEff(n: Column): Column =
      least(lit(evidence.toLong), required(n))
    val a = ordered.filter($"rk" <= $"n" - required($"n") + qEff($"n"))
      .select($"doc_id".as("src"), $"hs", $"n".as("n1"), $"rk".as("rk1"))
    val b = ordered.select($"doc_id".as("dst"), $"hs", $"n".as("n2"),
      $"rk".as("rk2"))
    val cand = a.join(b, Seq("hs"))
      .filter($"src" =!= $"dst" &&
        $"n2" >= required($"n1") &&
        lit(1) + least($"n1" - $"rk1", $"n2" - $"rk2") >=
          required($"n1") - (qEff($"n1") - 1))
      .groupBy($"src", $"dst", $"n1")
      .agg(count(lit(1)).as("ev"))
      .filter($"ev" >= qEff($"n1"))
      .select($"src", $"dst", $"n1").cache()
    val docArr = base.groupBy($"doc_id").agg(collect_list($"hs").as("arr"))
    Materialize.adopt(
      cand
        .join(docArr.toDF("src", "arr1"), Seq("src"))
        .join(docArr.toDF("dst", "arr2"), Seq("dst"))
        .withColumn("inter", size(array_intersect($"arr1", $"arr2")))
        .withColumn("containment",
          round($"inter" / $"n1".cast("double"), 4))
        .filter($"containment" >= threshold)
        .select($"src", $"dst", $"containment"),
      Seq(base, ordered, cand))
  }

  /** Boilerplate n-gram mining: the shingles shared by at least `minDf`
    * documents, hottest first — template headers/footers and license
    * blurbs surface here long before any pairwise comparison. One
    * partial-aggregated shuffle on the shingle; also exactly the
    * histogram that justifies [[jaccardPairs]]'s `maxShingleFreq` cap. */
  def boilerplateShingles(docs: DataFrame, minDf: Int, topK: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    shingleRows(docs)
      .groupBy($"s")
      .agg(count(lit(1)).as("df"))
      .filter($"df" >= minDf)
      .orderBy($"df".desc, $"s")
      .limit(topK)
  }

  /** Blocked fuzzy entity matching (record linkage): candidate pairs
    * come only from equal blocking keys — the classic way to keep edit-
    * distance matching off the n² cliff — then a length pre-filter
    * (|len1-len2| <= maxDistance, implied by the metric, so it never
    * changes results) and the exact levenshtein test. At 100 TB the
    * block key IS the shuffle key; block-size skew is the thing to watch
    * ([[SkewJoin.keySkewProfile]] measures it, a frequency cap like
    * [[jaccardPairs]]'s guards it). */
  def fuzzyMatchBlocked(records: DataFrame, blockCols: Seq[String],
      idCol: String, nameCol: String, maxDistance: Int): DataFrame = {
    // length banding INSIDE each block: edit distance >= |Δlen|, so a
    // qualifying pair's name-length bands (len DIV (maxDistance+1))
    // differ by at most 1 — band becomes part of the equi-key and the
    // per-block candidate set shrinks by ~the number of occupied bands
    // (exact; pre-banding the n² join only POST-filtered on length,
    // which at sf3 left block-quadratic candidates: 145 s → the band
    // key keeps per-key population proportional to length density).
    // One side explodes to {band−1, band, band+1}; each pair joins on
    // exactly ONE key — the other side's single band — so no dedup
    // pass is needed.
    val w = maxDistance + 1
    val a = records.select(
      (blockCols.map(col) :+ col(idCol).as("id1") :+ col(nameCol).as("name1")): _*)
      .withColumn("band", explode(expr(
        s"array(length(name1) DIV $w - 1, length(name1) DIV $w, length(name1) DIV $w + 1)")))
    val b = records.select(
      (blockCols.map(col) :+ col(idCol).as("id2") :+ col(nameCol).as("name2")): _*)
      .withColumn("band", expr(s"length(name2) DIV $w"))
    a.join(b, blockCols :+ "band")
      .filter(col("id1") < col("id2") &&
        abs(length(col("name1")) - length(col("name2"))) <= maxDistance)
      .withColumn("distance", levenshtein(col("name1"), col("name2")))
      .filter(col("distance") <= maxDistance)
      .select(col("id1"), col("id2"), col("distance"))
  }

  /** End-to-end near-dup removal: keep each near-dup cluster's
    * lowest-id member (pairs always satisfy id1 < id2, so dropping every
    * id2 keeps exactly the cluster minima for transitively-closed pairs
    * and a deterministic subset otherwise). Anti-join = one shuffle of
    * the pair ids, corpus side untouched. */
  def dropNearDuplicates(docs: DataFrame, threshold: Double): DataFrame = {
    val pairs = minhashLshPairs(docs, threshold)
    Materialize.adopt(
      docs.join(pairs.select(col("id2").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"),
      Seq(pairs)) // chains the inner operator's adopted caches
  }

  /** MinHash band-key index of a corpus: distinct (band, bk) — the
    * PERSISTABLE near-dup state for incremental pipelines. Tiny relative
    * to the corpus (≤ 4 band keys per kept doc, no text, no shingles);
    * write it out with each batch, union it across batches, and new data
    * dedups against all history without ever touching old text. The
    * LLM-pipeline analogue of the reference's `hold_state` per-file seen
    * set (/root/reference/README.txt:18, mapper.py:110-143): state is a
    * compact digest of what was processed, not the data itself. */
  def minhashBandIndex(docs: DataFrame): DataFrame =
    bandKeys(hashedShingles(docs)).select(col("band"), col("bk")).distinct()

  /** Per-doc LSH band keys (doc_id, band, bk) — the id-carrying form of
    * [[minhashBandIndex]]. Public so incremental jobs can derive a
    * survivor-scoped index from the SAME cached lineage their dedup pass
    * pinned (identical plan → the CacheManager shares the
    * materialization) instead of re-running the shingle+minhash pass
    * over the survivor text. */
  def bandKeysOf(docs: DataFrame): DataFrame =
    bandKeys(hashedShingles(docs))

  /** Incremental (cross-batch) NEAR-dup dedup: drop new docs that (a)
    * share any LSH band key with the persisted `seenBands` index —
    * the same candidate criterion [[minhashLshPairs]] uses, applied
    * against all prior batches — or (b) are batch-internal near-dups
    * (jaccard >= threshold, keep lowest id). Returns the surviving rows
    * of `newDocs`; append [[minhashBandIndex]](survivors) to the index
    * for the next batch.
    *
    * The cross-batch check is the pure LSH screen (candidate = dropped,
    * no exact verify): the index stores band keys only, so history text
    * is never re-read — the deliberate precision trade for state that
    * stays O(kept docs), and it errs toward dropping (a false positive
    * costs one doc; a false negative costs a training dup). Within the
    * new batch, the full candidate-generation + exact-verify path runs.
    * Composes [[minhashLshPairs]] (q43) with the incremental anti-join
    * pattern of [[TrainingPipeline.incrementalDedup]] (q124). */
  def incrementalNearDedup(newDocs: DataFrame, seenBands: DataFrame,
      threshold: Double): DataFrame = {
    val s = newDocs.sparkSession
    import s.implicits._
    // same lineage as minhashLshPairs' internal frames → the CacheManager
    // shares one materialization of the shingle/band passes
    val newHashed = hashedShingles(newDocs).cache()
    val newBands = bandKeys(newHashed).cache()
    val crossDropped = newBands
      .join(seenBands.select($"band", $"bk"), Seq("band", "bk"), "left_semi")
      .select($"doc_id").distinct()
    // adopting the inner operator's RESULT frame chains ownership: its
    // own adopted caches free transitively with this operator's
    val pairs = minhashLshPairs(newDocs, threshold)
    val inBatchDropped = pairs.select($"id2".as("doc_id")).distinct()
    Materialize.adopt(
      newDocs
        .join(crossDropped.union(inBatchDropped).distinct(),
          Seq("doc_id"), "left_anti"),
      Seq(newHashed, newBands, pairs))
  }

  /** Exact duplicated-span REMOVAL — substring-level dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL'22):
    * where doc-level near-dup keeps or drops whole documents, this strips
    * the duplicated PASSAGES (license headers, quoted chain emails,
    * templated paragraphs) and keeps the unique remainder. A span is any
    * exact `w`-token window whose text occurs in >= 2 distinct docs;
    * every token covered by such a window is dropped and the survivors
    * are re-joined in order.
    *
    * Scale shape (the suffix-array of the paper is a single-machine
    * design; this is its shuffle-bounded equivalent):
    *  1. one linear pass hashes each doc's n-w+1 sliding windows —
    *     16-byte md5 rows (doc_id, start, h) are ALL that shuffles, the
    *     text itself never ships;
    *  2. duplicated hashes = groupBy(h) with countDistinct(doc_id) >= 2 —
    *     partial-aggregated map-side;
    *  3. the duplicated-hash set (tiny: true cross-doc repeats) joins
    *     back to window rows, and the matching start offsets are grouped
    *     per doc — one small array per AFFECTED doc;
    *  4. re-joined to the corpus as a LEFT join, the kept text is rebuilt
    *     with higher-order functions (filter over token index vs covered
    *     starts) — row-local, codegen'd, no token explode, and untouched
    *     docs stream through with starts = null.
    * md5-collision risk: two different windows colliding would over-drop;
    * at 128 bits that needs ~2^64 windows — acceptable for 100 TB (and
    * the same contract every md5-keyed op in this module uses). */
  def spanDedup(docs: DataFrame, w: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = docs.select($"doc_id", split($"text", " ").as("ts"))
    val wins = toks
      .filter(org.apache.spark.sql.functions.size($"ts") >= w)
      .select($"doc_id",
        explode(sequence(lit(1), org.apache.spark.sql.functions.size($"ts") - (w - 1)))
          .as("start"),
        $"ts")
      .select($"doc_id", $"start",
        md5(array_join(slice($"ts", $"start", lit(w)), " ")).as("h"))
      .cache()
    val dup = wins.groupBy($"h")
      .agg(countDistinct($"doc_id").as("ndocs"))
      .filter($"ndocs" >= 2)
      .select($"h")
    val starts = wins.join(dup, Seq("h"), "left_semi")
      .groupBy($"doc_id")
      .agg(collect_set($"start").as("starts"))
    Materialize.adopt(
      toks.join(starts, Seq("doc_id"), "left")
        // token at 1-based position p survives unless some duplicated
        // window start s covers it: s <= p < s + w
        .withColumn("kept",
          expr(s"""transform(
                     filter(transform(ts, (t, i) -> struct(t AS t, i + 1 AS p)),
                            x -> starts IS NULL OR
                                 NOT exists(starts, s -> x.p >= s AND x.p < s + $w)),
                     x -> x.t)"""))
        .select($"doc_id",
          array_join($"kept", " ").as("clean_text"),
          (org.apache.spark.sql.functions.size($"ts") -
            org.apache.spark.sql.functions.size($"kept")).cast("long")
            .as("n_dropped")),
      Seq(wins))
  }

  // ------------------------------------------------------------------
  // oracle-gated bindings
  // ------------------------------------------------------------------

  /** Shared DuckDB CTE chain replaying the MinHash+LSH pipeline with the
    * SAME affine constants as the Spark plan (interpolated from
    * [[minhashAB]] — single source of truth). `tail` selects from the
    * final CTEs: sh(doc_id, sh), cand(id1, id2), j(id1, id2, jaccard). */
  private[operators] def minhashOracle(tail: String, recursive: Boolean = false): String = {
    val abValues = minhashAB.zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    val withKw = if (recursive) "WITH RECURSIVE" else "WITH"
    s"""
        $withKw sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
                   THEN list_transform(
                     generate_series(1, len(string_split(text,' ')) - 2),
                     i -> concat_ws(' ', string_split(text,' ')[i],
                                    string_split(text,' ')[i+1],
                                    string_split(text,' ')[i+2]))
                   ELSE [] END) AS sh
          FROM documents WHERE len(string_split(text,' ')) >= 3),
        ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        base AS (
          SELECT doc_id,
                 CAST(concat('0x', substring(md5(s),1,15)) AS BIGINT)
                   % 1073741824 AS h30
          FROM ex),
        ab(i, a, b) AS (VALUES $abValues),
        sig AS (
          SELECT doc_id, i, min((h30 * a + b) % $MinhashP) AS sig
          FROM base, ab GROUP BY doc_id, i),
        banded AS (
          SELECT doc_id, i // 4 AS band,
                 md5(string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i)) AS bk
          FROM sig GROUP BY doc_id, i // 4),
        cand AS (
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
        j AS (
          SELECT c.id1, c.id2,
                 round(len(list_intersect(s1.sh, s2.sh))::DOUBLE /
                       len(list_distinct(list_concat(s1.sh, s2.sh))), 4)
                   AS jaccard
          FROM cand c JOIN sh s1 ON s1.doc_id = c.id1
                      JOIN sh s2 ON s2.doc_id = c.id2)
        $tail"""
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q41_dedup_exact",
      (s, dir) => exact(Tables.load(s, dir, "documents")).orderBy(col("keep_doc_id")),
      Some("""
        SELECT md5(text) AS digest, min(doc_id) AS keep_doc_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
        ORDER BY keep_doc_id""")),

    QueryDef(
      "q42_dedup_ngram_jaccard",
      (s, dir) => jaccardPairs(Tables.load(s, dir, "documents"), 0.8)
        .orderBy(col("id1"), col("id2")),
      Some("""
        WITH sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
                   THEN list_transform(
                     generate_series(1, len(string_split(text,' ')) - 2),
                     i -> concat_ws(' ', string_split(text,' ')[i],
                                    string_split(text,' ')[i+1],
                                    string_split(text,' ')[i+2]))
                   ELSE [] END) AS sh
          FROM documents),
        ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh)
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               round(count(*)::DOUBLE /
                     (any_value(a.n) + any_value(b.n) - count(*)), 4) AS jaccard
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING round(count(*)::DOUBLE /
                     (any_value(a.n) + any_value(b.n) - count(*)), 4) >= 0.8
        ORDER BY id1, id2""")),

    QueryDef(
      "q43_dedup_minhash_lsh",
      (s, dir) => minhashLshPairs(Tables.load(s, dir, "documents"), 0.8)
        .orderBy(col("id1"), col("id2")),
      Some(minhashOracle("""
        SELECT id1, id2, jaccard FROM j
        WHERE jaccard >= 0.8
        ORDER BY id1, id2"""))),

    QueryDef(
      "q44_dedup_simhash",
      (s, dir) => simhash(Tables.load(s, dir, "documents")).orderBy(col("doc_id")),
      Some("""
        WITH tok AS (
          SELECT doc_id,
                 CAST(concat('0x', substring(md5(tk),1,8)) AS BIGINT) AS h
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
                FROM documents)
          WHERE length(tk) > 0),
        bits AS (
          SELECT doc_id, j,
                 CAST(sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)
                      AS BIGINT) AS s
          FROM tok, (SELECT unnest(generate_series(0,31)) AS j)
          GROUP BY doc_id, j)
        -- outer CAST: DuckDB sum() yields HUGEINT, which the comparison
        -- bridge widens to float64 and formats as '...0.0' — BIGINT keeps
        -- the value bit-identical to Spark's int64
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, j) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS simhash
        FROM bits
        GROUP BY doc_id
        ORDER BY doc_id""")),

    QueryDef(
      "q140_simhash_pairs",
      (s, dir) => simhashPairs(Tables.load(s, dir, "documents"), maxHamming = 3)
        .orderBy(col("id1"), col("id2")),
      Some("""
        WITH tok AS (
          SELECT doc_id,
                 CAST(concat('0x', substring(md5(tk),1,8)) AS BIGINT) AS h
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
                FROM documents)
          WHERE length(tk) > 0),
        bits AS (
          SELECT doc_id, j,
                 CAST(sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)
                      AS BIGINT) AS s
          FROM tok, (SELECT unnest(generate_series(0,31)) AS j)
          GROUP BY doc_id, j),
        sh AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, j) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id),
        banded AS (
          SELECT doc_id, simhash, b.band,
                 (simhash >> (8 * b.band)) & 255 AS bk
          FROM sh, (SELECT unnest(generate_series(0,3)) AS band) b),
        cand AS (
          SELECT a.doc_id AS id1, c.doc_id AS id2,
                 any_value(a.simhash) AS sh1, any_value(c.simhash) AS sh2
          FROM banded a JOIN banded c
            ON a.band = c.band AND a.bk = c.bk AND a.doc_id < c.doc_id
          GROUP BY a.doc_id, c.doc_id)
        SELECT id1, id2, CAST(bit_count(xor(sh1, sh2)) AS BIGINT) AS hamming
        FROM cand
        WHERE bit_count(xor(sh1, sh2)) <= 3
        ORDER BY id1, id2""")),

    // 64-bit SimHash with 16-bit bands — the at-scale widening of q140;
    // oracle replays the identical two-slice hashing, 64 bit-planes, and
    // per-band popcount distance
    QueryDef(
      "q151_simhash64_pairs",
      (s, dir) => simhash64Pairs(Tables.load(s, dir, "documents"), maxHamming = 3)
        .orderBy(col("id1"), col("id2")),
      Some("""
        WITH tok AS (
          SELECT doc_id,
                 CAST(concat('0x', substring(md5(tk),1,8)) AS BIGINT) AS h1,
                 CAST(concat('0x', substring(md5(tk),9,8)) AS BIGINT) AS h2
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
                FROM documents)
          WHERE length(tk) > 0),
        bits AS (
          SELECT doc_id, j,
                 CAST(sum(CASE WHEN (CASE WHEN j < 32 THEN (h1 >> j) & 1
                                     ELSE (h2 >> (j - 32)) & 1 END) = 1
                          THEN 1 ELSE -1 END) AS BIGINT) AS s
          FROM tok, (SELECT unnest(generate_series(0,63)) AS j)
          GROUP BY doc_id, j),
        bands AS (
          SELECT doc_id, j // 16 AS band,
                 CAST(sum(CASE WHEN s > 0
                          THEN CAST(power(2, j % 16) AS BIGINT) ELSE 0 END)
                      AS BIGINT) AS bk
          FROM bits GROUP BY doc_id, j // 16),
        cand AS (
          SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
          FROM bands a JOIN bands c
            ON a.band = c.band AND a.bk = c.bk AND a.doc_id < c.doc_id),
        ham AS (
          SELECT cand.id1, cand.id2,
                 CAST(sum(bit_count(xor(x.bk, y.bk))) AS BIGINT) AS hamming
          FROM cand
          JOIN bands x ON x.doc_id = cand.id1
          JOIN bands y ON y.doc_id = cand.id2 AND y.band = x.band
          GROUP BY cand.id1, cand.id2)
        SELECT id1, id2, hamming FROM ham
        WHERE hamming <= 3
        ORDER BY id1, id2""")),

    QueryDef(
      "q45_dedup_embedding_cosine",
      (s, dir) => embeddingNearDupPairs(Tables.load(s, dir, "embeddings"), 0.45)
        .orderBy(col("id1"), col("id2")),
      Some("""
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        n AS (
          SELECT vec_id, v,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM e)
        SELECT a.vec_id AS id1, b.vec_id AS id2,
               round(list_sum(list_transform(generate_series(1, len(a.v)),
                     i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) AS cosine
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE round(list_sum(list_transform(generate_series(1, len(a.v)),
                    i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) >= 0.45
        ORDER BY id1, id2""")),

    // the 100 TB path for q45's operator: same threshold, but candidates
    // come from banded hyperplane buckets instead of all pairs; the oracle
    // replays the identical bucketing, so the (approximate-by-construction)
    // result compares exactly
    QueryDef(
      "q86_dedup_embedding_lsh",
      (s, dir) => embeddingNearDupLshPairs(Tables.load(s, dir, "embeddings"), 0.45)
        .orderBy(col("id1"), col("id2")),
      // replays the 64-plane signature as 8 bands x 8 bits; the plane
      // matrix is a 4096-row CTE (md5 computed once per (m, i), not per
      // vector) folded into one i-ordered list per plane, so each dot is
      // an ORDERED list_sum — the same i=0..63 summation order as the
      // Scala loop (a GROUP BY sum is unordered, and a dot near 0 can
      // round to a different sign under a different order, flipping a
      // signature bit); band buckets are built per band directly so no
      // value ever needs bit 63 of a bigint
      Some("""
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        n AS (
          SELECT vec_id, v,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM e),
        planes AS (
          SELECT m.m, i.i,
                 ((CAST(concat('0x', substring(md5(concat(m.m, '_', i.i - 1)),
                    1, 15)) AS BIGINT) % 2001 - 1000) / 1000.0) AS w
          FROM (SELECT unnest(generate_series(0, 63)) AS m) m,
               (SELECT unnest(generate_series(1, 64)) AS i) i),
        pl AS (
          SELECT m, list(w ORDER BY i) AS ws FROM planes GROUP BY m),
        dots AS (
          SELECT e.vec_id, pl.m,
                 list_sum(list_transform(generate_series(1, 64),
                   i -> pl.ws[i] * e.v[i])) AS d
          FROM e CROSS JOIN pl),
        banded AS (
          SELECT vec_id, m // 8 AS band,
                 CAST(sum(CASE WHEN d >= 0
                   THEN CAST(power(2, m % 8) AS BIGINT) ELSE 0 END)
                   AS BIGINT) AS bk
          FROM dots GROUP BY vec_id, m // 8),
        cand AS (
          SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bk = b.bk AND a.vec_id < b.vec_id)
        SELECT c.id1, c.id2,
               round(list_sum(list_transform(generate_series(1, len(a.v)),
                     i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) AS cosine
        FROM cand c JOIN n a ON a.vec_id = c.id1
                    JOIN n b ON b.vec_id = c.id2
        WHERE round(list_sum(list_transform(generate_series(1, len(a.v)),
                    i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) >= 0.45
        ORDER BY id1, id2""")),

    // exact scale path for q42's operator: identical output contract
    // (prefix filtering is lossless), so the oracle IS the exact-Jaccard
    // SQL — only the candidate-generation plan differs
    QueryDef(
      "q101_jaccard_prefix_filter",
      (s, dir) => jaccardPrefixPairs(Tables.load(s, dir, "documents"), 0.8)
        .orderBy(col("id1"), col("id2")),
      Some("""
        WITH sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
                   THEN list_transform(
                     generate_series(1, len(string_split(text,' ')) - 2),
                     i -> concat_ws(' ', string_split(text,' ')[i],
                                    string_split(text,' ')[i+1],
                                    string_split(text,' ')[i+2]))
                   ELSE [] END) AS sh
          FROM documents),
        ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh)
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               round(count(*)::DOUBLE /
                     (any_value(a.n) + any_value(b.n) - count(*)), 4) AS jaccard
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING round(count(*)::DOUBLE /
                     (any_value(a.n) + any_value(b.n) - count(*)), 4) >= 0.8
        ORDER BY id1, id2""")),

    // near-dup pairs -> transitive clusters: the missing last step of a
    // corpus dedup (a~b, b~c must collapse to ONE cluster even when a~c
    // never paired); oracle replays reachability as a recursive CTE
    QueryDef(
      "q100_dedup_components",
      (s, dir) => {
        import s.implicits._
        val pairs = minhashLshPairs(Tables.load(s, dir, "documents"), 0.8)
          .select($"id1", $"id2")
        connectedComponents(pairs)
          .withColumn("cluster_size",
            count(lit(1)).over(Window.partitionBy($"comp")))
          .select($"id".as("doc_id"), $"comp".as("component"), $"cluster_size")
          .orderBy($"doc_id")
      },
      Some(minhashOracle("""
        , p AS (SELECT id1, id2 FROM j WHERE jaccard >= 0.8),
        e AS (SELECT id1 AS src, id2 AS dst FROM p
              UNION SELECT id2 AS src, id1 AS dst FROM p),
        reach AS (
          SELECT src AS id, src AS r FROM e
          UNION
          SELECT e.dst AS id, reach.r FROM reach JOIN e ON e.src = reach.id),
        comp AS (SELECT id AS doc_id, min(r) AS component
                 FROM reach GROUP BY id)
        SELECT doc_id, component,
               count(*) OVER (PARTITION BY component) AS cluster_size
        FROM comp
        ORDER BY doc_id""", recursive = true))),

    // survivorship AFTER clustering (see goldenRecords scaladoc)
    QueryDef(
      "q202_golden_record",
      (s, dir) => {
        import s.implicits._
        val pairs = minhashLshPairs(Tables.load(s, dir, "documents"), 0.8)
          .select($"id1", $"id2")
        val comp = connectedComponents(pairs)
        val members = comp
          .join(Tables.load(s, dir, "documents"), $"id" === col("doc_id"))
          .select($"comp", $"doc_id", $"source", $"lang", $"n_chars")
        goldenRecords(members).orderBy($"component")
      },
      Some(minhashOracle("""
        , p AS (SELECT id1, id2 FROM j WHERE jaccard >= 0.8),
        e AS (SELECT id1 AS src, id2 AS dst FROM p
              UNION SELECT id2 AS src, id1 AS dst FROM p),
        reach AS (
          SELECT src AS id, src AS r FROM e
          UNION
          SELECT e.dst AS id, reach.r FROM reach JOIN e ON e.src = reach.id),
        comp AS (SELECT id AS doc_id, min(r) AS comp
                 FROM reach GROUP BY id),
        mem AS (SELECT comp.comp, d.doc_id, d.source, d.lang, d.n_chars
                FROM comp JOIN documents d USING (doc_id)),
        srcpick AS (SELECT comp, source AS best_source FROM (
          SELECT comp, source, row_number() OVER (PARTITION BY comp
            ORDER BY count(*) DESC, source ASC) AS rn
          FROM mem GROUP BY comp, source) WHERE rn = 1),
        langpick AS (SELECT comp, lang AS best_lang FROM (
          SELECT comp, lang, row_number() OVER (PARTITION BY comp
            ORDER BY count(*) DESC, lang ASC) AS rn
          FROM mem GROUP BY comp, lang) WHERE rn = 1),
        gagg AS (SELECT comp, min(doc_id) AS canonical_id,
                        max(n_chars) AS max_chars, count(*) AS members
                 FROM mem GROUP BY comp)
        SELECT gagg.comp AS component, canonical_id, best_source,
               best_lang, max_chars, members
        FROM gagg JOIN srcpick ON gagg.comp = srcpick.comp
                  JOIN langpick ON gagg.comp = langpick.comp
        ORDER BY component""", recursive = true))),

    // cluster-aware train/val/test split: the step AFTER q100 in a real
    // training pipeline. Splitting docs independently leaks near-dups
    // across train/eval (a train doc's 0.9-jaccard twin in the test set
    // inflates eval); the leakage-safe split assigns the WHOLE near-dup
    // cluster to one side by hashing the cluster representative, so
    // members can never straddle a boundary. Singleton docs (no near-dup
    // pair) are their own cluster. Assignment is h60(md5) on the cluster
    // id — deterministic, engine-bridgeable, and shuffle-free on top of
    // the CC output (one broadcast-sized left join at fixture scale; at
    // corpus scale the same join shuffles on doc_id, which the CC output
    // already carries). 80/10/10 by hash residue.
    QueryDef(
      "q165_cluster_aware_split",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val pairs = minhashLshPairs(docs, 0.8).select($"id1", $"id2")
        val comp = connectedComponents(pairs)
          .select($"id".as("doc_id"), $"comp")
        val clustered = docs.select($"doc_id")
          .join(comp, Seq("doc_id"), "left")
          .withColumn("cluster", coalesce($"comp", $"doc_id"))
        clustered
          .withColumn("_h", pmod(h60($"cluster".cast("string")), lit(10)))
          .withColumn("split",
            when($"_h" < 8, "train").when($"_h" === 8, "val")
              .otherwise("test"))
          .select($"doc_id", $"cluster", $"split")
          .orderBy($"doc_id")
      },
      Some(minhashOracle("""
        , p AS (SELECT id1, id2 FROM j WHERE jaccard >= 0.8),
        e AS (SELECT id1 AS src, id2 AS dst FROM p
              UNION SELECT id2 AS src, id1 AS dst FROM p),
        reach AS (
          SELECT src AS id, src AS r FROM e
          UNION
          SELECT e.dst AS id, reach.r FROM reach JOIN e ON e.src = reach.id),
        comp AS (SELECT id AS doc_id, min(r) AS comp FROM reach GROUP BY id),
        cl AS (SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS cluster
               FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
        hs AS (SELECT doc_id, cluster,
                      CAST(concat('0x', substring(
                        md5(CAST(cluster AS VARCHAR)), 1, 15)) AS BIGINT)
                        % 10 AS h
               FROM cl)
        SELECT doc_id, cluster,
               CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'val'
                    ELSE 'test' END AS split
        FROM hs
        ORDER BY doc_id""", recursive = true))),

    // directional containment (quote/subset detection) over documents
    QueryDef(
      "q130_semantic_dedup",
      (s, dir) => semanticDedup(Tables.load(s, dir, "embeddings"),
        col("vec_id") % 29 === 3, 0.45).orderBy(col("vec_id")),
      Some("""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        n AS (SELECT vec_id, v,
                     sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
              FROM e),
        cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
                 FROM n WHERE vec_id % 29 = 3),
        scored AS (
          SELECT a.vec_id, c.cent_id,
                 round(list_sum(list_transform(generate_series(1, len(a.v)),
                       i -> a.v[i] * c.cv[i])) / (a.nrm * c.cnrm), 6) AS sim
          FROM n a CROSS JOIN cent c),
        assigned AS (
          SELECT vec_id, cent_id AS cell
          FROM (SELECT vec_id, cent_id,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cent_id) AS rn
                FROM scored)
          WHERE rn = 1),
        dropped AS (
          SELECT a2.vec_id AS id2
          FROM assigned a1
          JOIN assigned a2 ON a1.cell = a2.cell AND a1.vec_id < a2.vec_id
          JOIN n n1 ON n1.vec_id = a1.vec_id
          JOIN n n2 ON n2.vec_id = a2.vec_id
          WHERE round(list_sum(list_transform(generate_series(1, len(n1.v)),
                i -> n1.v[i] * n2.v[i])) / (n1.nrm * n2.nrm), 4) >= 0.45)
        SELECT a.vec_id, a.cell
        FROM assigned a
        WHERE a.vec_id NOT IN (SELECT id2 FROM dropped)
        ORDER BY a.vec_id""")),

    // exact (uncapped) containment, prefix-filtered: identical output
    // to the naive all-shingle self-join ([[containmentPairs]] with no
    // cap — the formulation the oracle replays), but candidates come
    // only from src-prefix rows + positional/size pruning, then an
    // array verify. The sf1 run that motivated this measured the
    // uncapped join at 43-121 s (quadratic in per-shingle df); the
    // prefix form is the exact scale path, and q221's df-cut remains
    // the variant that also BOUNDS any single shingle's contribution.
    QueryDef(
      "q114_containment_pairs",
      (s, dir) => containmentPrefixPairs(Tables.load(s, dir, "documents"), 0.8)
        .orderBy(col("src"), col("dst")),
      Some("""
        WITH sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
                   THEN list_transform(
                     generate_series(1, len(string_split(text,' ')) - 2),
                     i -> concat_ws(' ', string_split(text,' ')[i],
                                    string_split(text,' ')[i+1],
                                    string_split(text,' ')[i+2]))
                   ELSE [] END) AS sh
          FROM documents),
        ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh)
        SELECT a.doc_id AS src, b.doc_id AS dst,
               round(count(*)::DOUBLE / any_value(a.n), 4) AS containment
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING round(count(*)::DOUBLE / any_value(a.n), 4) >= 0.8
        ORDER BY src, dst""")),

    // the 100 TB path for q114's operator: identical containment
    // formula, but shingles shared by more than 40 documents are
    // dropped from the universe first (the standard document-frequency
    // cut; the denominator counts the filtered set, so both engines
    // score the same universe). q114's uncapped join is quadratic in
    // per-shingle df — fine as the exactness baseline, but a shared
    // boilerplate shingle contributes df² candidate rows (measured:
    // 121 s at sf1, 70x the sf0.1 cost, on the fixture's dense
    // 31-word vocabulary); with the cap any single shingle's
    // contribution is bounded at cap² regardless of corpus size.
    QueryDef(
      "q221_containment_df_cut",
      (s, dir) => containmentPairs(Tables.load(s, dir, "documents"), 0.8,
        maxShingleFreq = Some(40))
        .orderBy(col("src"), col("dst")),
      Some("""
        WITH sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
                   THEN list_transform(
                     generate_series(1, len(string_split(text,' ')) - 2),
                     i -> concat_ws(' ', string_split(text,' ')[i],
                                    string_split(text,' ')[i+1],
                                    string_split(text,' ')[i+2]))
                   ELSE [] END) AS sh
          FROM documents),
        ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        kept AS (
          SELECT doc_id, s
          FROM (SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df
                FROM ex)
          WHERE df <= 40),
        base AS (
          SELECT doc_id, s, count(*) OVER (PARTITION BY doc_id) AS n
          FROM kept)
        SELECT a.doc_id AS src, b.doc_id AS dst,
               round(count(*)::DOUBLE / any_value(a.n), 4) AS containment
        FROM base a JOIN base b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING round(count(*)::DOUBLE / any_value(a.n), 4) >= 0.8
        ORDER BY src, dst""")),

    // boilerplate shingle mining (df histogram head)
    QueryDef(
      "q115_boilerplate_ngrams",
      (s, dir) => boilerplateShingles(Tables.load(s, dir, "documents"),
        minDf = 5, topK = 20),
      Some("""
        WITH sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
                   THEN list_transform(
                     generate_series(1, len(string_split(text,' ')) - 2),
                     i -> concat_ws(' ', string_split(text,' ')[i],
                                    string_split(text,' ')[i+1],
                                    string_split(text,' ')[i+2]))
                   ELSE [] END) AS sh
          FROM documents),
        ex AS (SELECT doc_id, unnest(sh) AS s FROM sh)
        SELECT s, count(*) AS df
        FROM ex
        GROUP BY s
        HAVING count(*) >= 5
        ORDER BY df DESC, s
        LIMIT 20""")),

    // blocked record linkage: same (nation, segment) block, customer
    // names within edit distance 2 — DuckDB ships the same levenshtein
    // (unit-cost insert/delete/substitute), so distances compare exactly
    QueryDef(
      "q108_fuzzy_match_blocked",
      (s, dir) => fuzzyMatchBlocked(Tables.load(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), "c_custkey", "c_name",
        maxDistance = 2)
        .orderBy(col("id1"), col("id2")),
      Some("""
        SELECT a.c_custkey AS id1, b.c_custkey AS id2,
               CAST(levenshtein(a.c_name, b.c_name) AS INT) AS distance
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
         AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 2
        ORDER BY id1, id2""")),

    // incremental near-dup: even docs are history (band index only), odd
    // docs are the new batch — dropped on any band collision with
    // history or an in-batch verified near-dup pair. The oracle replays
    // the full-corpus band/jaccard pipeline and filters by parity: a
    // doc's band keys depend only on its own text, so banded/j restricted
    // to a parity class equal the same pipeline run on that class alone.
    QueryDef(
      "q152_incremental_neardup",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        incrementalNearDedup(
          docs.filter($"doc_id" % 2 === 1),
          minhashBandIndex(docs.filter($"doc_id" % 2 === 0)),
          0.8)
          .select($"doc_id", $"source", $"n_chars")
          .orderBy($"doc_id")
      },
      Some(minhashOracle("""
        , seenb AS (SELECT DISTINCT band, bk FROM banded WHERE doc_id % 2 = 0),
        newbk AS (SELECT doc_id, band, bk FROM banded WHERE doc_id % 2 = 1),
        crossdrop AS (
          SELECT DISTINCT n.doc_id
          FROM newbk n JOIN seenb sb ON n.band = sb.band AND n.bk = sb.bk),
        indrop AS (
          SELECT DISTINCT id2 AS doc_id FROM j
          WHERE jaccard >= 0.8 AND id1 % 2 = 1 AND id2 % 2 = 1)
        SELECT doc_id, source, n_chars
        FROM documents
        WHERE doc_id % 2 = 1
          AND doc_id NOT IN (SELECT doc_id FROM crossdrop)
          AND doc_id NOT IN (SELECT doc_id FROM indrop)
        ORDER BY doc_id"""))),

    QueryDef(
      "q75_dedup_corpus",
      (s, dir) => dropNearDuplicates(Tables.load(s, dir, "documents"), 0.8)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id")),
      Some(minhashOracle("""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE doc_id NOT IN (SELECT DISTINCT id2 FROM j WHERE jaccard >= 0.8)
        ORDER BY doc_id"""))),

    // substring-level dedup: strip 8-token spans that occur verbatim in
    // >= 2 docs, keep the unique remainder of every document
    QueryDef(
      "q156_span_dedup",
      (s, dir) => spanDedup(Tables.load(s, dir, "documents"), 8)
        .orderBy(col("doc_id")),
      Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        win AS (SELECT doc_id, unnest(generate_series(1, len(ts) - 7)) AS start, ts
                FROM t WHERE len(ts) >= 8),
        h AS (SELECT doc_id, start,
                     md5(array_to_string(ts[start:start+7], ' ')) AS h
              FROM win),
        dup AS (SELECT h FROM h GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        cov AS (SELECT DISTINCT h.doc_id, h.start + j.j AS pos
                FROM h JOIN dup USING (h)
                CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) j),
        tok AS (SELECT doc_id, unnest(generate_series(1, len(ts))) AS pos, ts
                FROM t),
        kept AS (SELECT tok.doc_id, tok.pos, tok.ts[tok.pos] AS tk
                 FROM tok LEFT JOIN cov
                   ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
                 WHERE cov.pos IS NULL)
        SELECT t.doc_id,
               coalesce(string_agg(kept.tk, ' ' ORDER BY kept.pos), '') AS clean_text,
               len(t.ts) - count(kept.tk) AS n_dropped
        FROM t LEFT JOIN kept USING (doc_id)
        GROUP BY t.doc_id, len(t.ts)
        ORDER BY t.doc_id""")),

    // the scheduler-driven form of q152: three batches (doc_id % 3) run
    // as queue jobs over an on-disk band index ([[jobs.IncrementalJobs]]
    // — survivors and index partitions written per batch, each batch
    // dedup'd against the PERSISTED state of all earlier ones). The
    // oracle replays the three-stage chain with the same parity argument
    // as q152: band keys depend only on a doc's own text, so banded/j
    // restricted to a class equal the pipeline run on that class alone.
    QueryDef(
      "q162_incremental_job_pipeline",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        // fixed per-fixture root, cleared on entry: repeated in-session
        // invocations (Verify + Bench first pass + a stall retry) reuse
        // one footprint instead of leaking a fresh tmpfs copy each time
        val rootFile = new java.io.File(
          graft.engine.GraftSession.scratchRoot,
          s"neardup_q162_${Integer.toHexString(dir.hashCode)}")
        def rmTree(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
          f.delete(); ()
        }
        if (rootFile.exists()) rmTree(rootFile)
        rootFile.mkdirs()
        val root = rootFile.getAbsolutePath
        val (indexDir, outDir) = (s"$root/index", s"$root/out")
        val q = new graft.jobs.JobQueue()
        // stage all three batch inputs in ONE pass: a partitionBy write
        // splits the corpus by doc_id % 3 in a single scan where the
        // previous per-batch filter+write pattern re-scanned the corpus
        // three times (guide §2.4 — at 100 TB that is two saved corpus
        // scans; each batch job reads its k=<n> subdirectory, whose files
        // carry exactly the original columns). Batch contents and every
        // survivor set are byte-identical to the per-filter staging.
        stageClasses(docs.withColumn("k", $"doc_id" % 3), s"$root/in", 3)
        Seq("a", "b", "c").zipWithIndex.foreach { case (name, k) =>
          q.submit(graft.jobs.IncrementalJobs
            .nearDupBatchJob(name, s"$root/in/k=$k", indexDir, outDir, 0.8))
        }
        val rs = q.runAll(s)
        require(rs.size == 3 && rs.forall(_.ok),
          s"incremental jobs failed: ${rs.filterNot(_.ok)}")
        Tables.parquet(s, outDir)
          .select($"doc_id", $"source", $"n_chars")
          .orderBy($"doc_id")
      },
      Some(minhashOracle("""
        , surv0 AS (
          SELECT doc_id FROM documents WHERE doc_id % 3 = 0
            AND doc_id NOT IN (SELECT DISTINCT id2 FROM j
                               WHERE jaccard >= 0.8
                                 AND id1 % 3 = 0 AND id2 % 3 = 0)),
        seen1 AS (SELECT DISTINCT band, bk FROM banded
                  WHERE doc_id IN (SELECT doc_id FROM surv0)),
        surv1 AS (
          SELECT doc_id FROM documents WHERE doc_id % 3 = 1
            AND doc_id NOT IN (SELECT DISTINCT n.doc_id FROM banded n
                               JOIN seen1 s ON n.band = s.band AND n.bk = s.bk)
            AND doc_id NOT IN (SELECT DISTINCT id2 FROM j
                               WHERE jaccard >= 0.8
                                 AND id1 % 3 = 1 AND id2 % 3 = 1)),
        seen2 AS (SELECT DISTINCT band, bk FROM banded
                  WHERE doc_id IN (SELECT doc_id FROM surv0
                                   UNION SELECT doc_id FROM surv1)),
        surv2 AS (
          SELECT doc_id FROM documents WHERE doc_id % 3 = 2
            AND doc_id NOT IN (SELECT DISTINCT n.doc_id FROM banded n
                               JOIN seen2 s ON n.band = s.band AND n.bk = s.bk)
            AND doc_id NOT IN (SELECT DISTINCT id2 FROM j
                               WHERE jaccard >= 0.8
                                 AND id1 % 3 = 2 AND id2 % 3 = 2))
        SELECT doc_id, source, n_chars FROM documents
        WHERE doc_id IN (SELECT doc_id FROM surv0
                         UNION ALL SELECT doc_id FROM surv1
                         UNION ALL SELECT doc_id FROM surv2)
        ORDER BY doc_id""")))
  )
}
