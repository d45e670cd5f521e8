package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Incremental aggregate maintenance — the materialized-view refresh
  * primitive. The reference's only way to keep an aggregate current is
  * re-running the full map/reduce over all input plus `hold_state` to
  * skip already-seen FILES (/root/reference/mapper.py:110-143); the
  * aggregate itself is still recomputed from scratch every run. Here the
  * state IS the aggregate: a per-key row of mergeable partials
  * (count/sum/min/max) that each new batch folds into.
  *
  * Scale notes (100 TB posture):
  *  - a refresh scans ONLY the delta batch; history is represented by
  *    |keys| state rows, never re-read. At 100 TB of accumulated input
  *    with a daily 100 GB delta, refresh cost is the delta scan + one
  *    key-partitioned shuffle of |state ∪ delta-keys| partial rows.
  *  - merge is union + re-aggregate of PARTIALS — the same
  *    partial/final split Spark's own hash aggregate uses, expressed at
  *    the storage level. All four partials are associative+commutative,
  *    so batch arrival order cannot change the result (the law is
  *    property-tested in MaintenanceSpec, and q182's oracle replays the
  *    three-batch chain as one full recompute).
  *  - sums are kept on an integer grid (cents) by the caller: a DOUBLE
  *    sum would make the state order-sensitive at the 1e-15 level and
  *    the merge law only approximately true.
  *  - avg/stddev derive from (n, s) at read time; they are NOT stored
  *    (a stored avg is not mergeable). DELETE/retraction support would
  *    need signed counts — out of scope, documented, and detectable
  *    (n going negative).
  */
object Maintenance {

  /** Incremental JOIN maintenance — the delta-join identity
    * (A∪ΔA) ⋈ (B∪ΔB) = A⋈B ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB. Returns the NEW
    * rows a refresh must add to a materialized equi-join when each side
    * receives an insert-only delta; the old A⋈B is never recomputed —
    * that is the entire point. Multiset semantics (duplicates carry
    * their multiplicity, matching EXCEPT ALL against a full recompute).
    *
    * Scale: three equi-joins, each with AT LEAST ONE delta-sized side —
    * a daily delta against 100 TB of history shuffles the delta plus
    * the matching history partitions (AQE broadcasts the delta when it
    * is small), never history × history. Deltas feed two terms each, so
    * callers stream them from storage or pass cached frames. */
  def joinDelta(aOld: DataFrame, aDelta: DataFrame,
      bOld: DataFrame, bDelta: DataFrame, key: String): DataFrame =
    aDelta.join(bOld, key)
      .unionByName(aOld.join(bDelta, key))
      .unionByName(aDelta.join(bDelta, key))

  /** Per-key mergeable aggregate state of one batch:
    * (k, n, s, mn, mx). */
  def aggState(batch: DataFrame, key: Column, value: Column): DataFrame =
    batch.groupBy(key.as("k"))
      .agg(count(lit(1)).as("n"), sum(value).as("s"),
        min(value).as("mn"), max(value).as("mx"))

  /** Fold a delta batch's state into prior state: union + re-aggregate,
    * one shuffle sized by state rows + delta keys (never history rows). */
  def mergeState(state: DataFrame, delta: DataFrame): DataFrame =
    state.unionByName(delta)
      .groupBy(col("k"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"))

  // ------------------------------------------------------------------
  // mergeable quantile state (the percentile sibling of q189's HLL)
  // ------------------------------------------------------------------

  /** Per-key mergeable QUANTILE state of one batch: a SPARSE fixed-grid
    * histogram in long form — one (k, b, c, o) row per OCCUPIED bin of
    * the affine grid [lo, hi) / bins, out-of-domain values clamped to
    * the edge bins WITH the clamped count carried in `o` (per-key
    * Σo = n_oob, the domain-violation observability counter every
    * reader surfaces).
    *
    * Why a fixed grid and not t-digest/KLL: the merge is EXACT counter
    * addition — associative, commutative, batch-order independent (the
    * module's f(A+B)=f(A)+f(B) law holds bit-for-bit, not just in
    * expectation), and the whole estimator is deterministic, so the
    * DuckDB oracle replays it exactly instead of pinning a
    * probabilistic contract. The trade: accuracy is VALUE-resolution
    * (± half a bin width at the answer, see [[quantileFromState]])
    * rather than rank-resolution, and the caller must know the domain —
    * both acceptable for the monitoring/SLA percentiles this maintains,
    * where the domain is a business fact (price caps, latency ceilings).
    *
    * Why sparse long form and not a dense per-key array: state is
    * bounded by min(values seen, bins) rows per key — a key with 15
    * observations carries ≤15 rows, not a 4 KB 500-counter array. The
    * dense form was measured 4x slower end-to-end on the q233
    * incremental fold at sf1 (the state table was 97% zeros and its
    * parquet writes dominated); worst case (all bins occupied) the
    * long form degrades to the dense size. Scale shape: one
    * combiner-reduced (k, bin) count per batch; a refresh scans only
    * the delta batch. */
  def quantileState(batch: DataFrame, key: Column, value: Column,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins >= 2 && hi > lo, "need bins >= 2 and hi > lo")
    val wid = (hi - lo) / bins
    batch.select(key.as("k"), value.as("v"))
      .select(col("k"),
        least(greatest(floor((col("v") - lo) / wid), lit(0)), lit(bins - 1))
          .cast("int").as("b"),
        // out-of-domain observability: a value outside [lo, hi] still
        // clamps into an edge bin (c counts it — totals stay exact) but
        // ALSO increments the cell's oob counter `o`, so the per-key
        // Σo = n_oob rides the state through every merge and a reader
        // can tell "p99 = hi − wid/2" apart from "the domain was wrong".
        // Only the two edge bins can carry o > 0.
        when(col("v") < lo || col("v") > hi, lit(1L)).otherwise(lit(0L))
          .as("o"))
      .groupBy(col("k"), col("b"))
      .agg(count(lit(1)).as("c"), sum(col("o")).as("o"))
  }

  /** [[quantileState]] with WEIGHTED observations: each row contributes
    * `weight` to its bin instead of 1 — the token-weighted length
    * profile ("the median TOKEN sits in a doc of length X"), latency
    * weighted by request count, spend-weighted price bands. Weights
    * must be non-negative integers; the merge stays the same exact
    * counter add, so weighted and unweighted states share
    * [[mergeQuantileState]]/[[quantileFromState]]/[[quantilesFromState]]. */
  def weightedQuantileState(batch: DataFrame, key: Column, value: Column,
      weight: Column, lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins >= 2 && hi > lo, "need bins >= 2 and hi > lo")
    val wid = (hi - lo) / bins
    batch.select(key.as("k"), value.as("v"), weight.cast("long").as("w"))
      .select(col("k"), col("w"),
        least(greatest(floor((col("v") - lo) / wid), lit(0)), lit(bins - 1))
          .cast("int").as("b"),
        // oob counter in the unit of c (weight mass, not row count) so
        // n_oob / n reads as "fraction of MASS outside the domain" —
        // the same unit every other read of this state uses
        when(col("v") < lo || col("v") > hi, col("w")).otherwise(lit(0L))
          .as("o"))
      .groupBy(col("k"), col("b"))
      .agg(sum(col("w")).as("c"), sum(col("o")).as("o"))
  }

  /** [[quantileState]] with the domain DERIVED rather than declared —
    * the other exit from the fixed-grid footgun the n_oob counter makes
    * observable: a one-row min/max pre-pass (two scalars to the driver,
    * the bounded metadata fetch; a production run reads them off the
    * file-stats manifest, [[DataSkipping.statsManifest]], for free)
    * sizes [lo, hi] to the data, so n_oob is structurally 0 for THIS
    * batch and the half-bin-width contract holds unconditionally.
    * The trade vs a declared domain: states from different batches
    * merge only when built with the SAME returned domain — pass
    * (lo, hi) forward, exactly like the wid every reader needs.
    * Returns (state, lo, hi); degenerate all-equal batches widen hi by
    * 1 so bins stay well-formed. */
  def quantileStateAutoDomain(batch: DataFrame, key: Column, value: Column,
      bins: Int): (DataFrame, Double, Double) = {
    val mm = batch.agg(min(value).cast("double"),
      max(value).cast("double")).head()
    require(!mm.isNullAt(0), "auto-domain needs at least one non-null value")
    val lo = mm.getDouble(0)
    val hi0 = mm.getDouble(1)
    val hi = if (hi0 > lo) hi0 else lo + 1.0d
    (quantileState(batch, key, value, lo, hi, bins), lo, hi)
  }

  /** Fold quantile states: per-(key, bin) counter add over however many
    * state rows share the cell — one combiner-reduced shuffle of
    * |state| rows, exact, order-independent. */
  def mergeQuantileState(state: DataFrame, delta: DataFrame): DataFrame =
    state.unionByName(delta)
      .groupBy(col("k"), col("b"))
      .agg(sum(col("c")).as("c"), sum(col("o")).as("o"))

  /** Discrete p-quantile estimate from quantile state: one row per key
    * with (n, q) — total count and the midpoint of the first bin whose
    * cumulative count reaches ceil(p·n). The ceil(p·n)-th smallest
    * value lies INSIDE that bin, so |q − exact discrete quantile|
    * <= wid/2 for in-domain data — the pinned accuracy contract q231
    * referees against the exact sorted-rank value, and it is asserted
    * ONLY where n_oob = 0: clamped out-of-domain mass sits in an edge
    * bin, so any quantile it reaches is a domain-width artifact the
    * n_oob column makes observable. One per-key rollup (≤ bins rows per
    * key) + a row-local fold — never corpus rows.
    * Output: (k, n, n_oob, q). */
  def quantileFromState(state: DataFrame, p: Double, lo: Double,
      wid: Double): DataFrame =
    state
      .groupBy(col("k"))
      .agg(sort_array(collect_list(struct(col("b"), col("c")))).as("bc"),
        sum(col("o")).as("n_oob"))
      .withColumn("n",
        expr("aggregate(bc, CAST(0 AS BIGINT), (a, x) -> a + x.c)"))
      .withColumn("_t", ceil(lit(p) * col("n")).cast("long"))
      .withColumn("_idx", expr(
        """aggregate(bc,
          |  struct(CAST(0 AS BIGINT) AS cum, -1 AS idx),
          |  (acc, x) -> IF(acc.idx >= 0, acc,
          |    named_struct('cum', acc.cum + x.c,
          |      'idx', IF(acc.cum + x.c >= _t, x.b, -1))),
          |  acc -> acc.idx)""".stripMargin))
      .withColumn("q", lit(lo) + (col("_idx") + lit(0.5d)) * lit(wid))
      // qb (the picked bin) rides along for readers that need an
      // INTEGER-EXACT answer (a data-derived domain can park q's 4dp
      // rounding on a cross-engine double boundary — q277's sf0.1 find)
      .select(col("k"), col("n"), col("n_oob"), col("q"),
        col("_idx").as("qb"))

  /** Population Stability Index between two quantile states — THE
    * production drift metric (credit-scoring lineage, public formula:
    * PSI = Σ_bins (pRef − pCur)·ln(pRef/pCur); < 0.1 stable, > 0.25
    * action) computed ON THE STATES ALONE: two monitoring periods'
    * sparse histograms compare without re-reading either period's rows
    * — the payoff of keeping the mergeable state around. Zero-count
    * bins are add-one smoothed over the union of occupied bins (the
    * deterministic variant of the usual eps floor, so the oracle
    * replays it exactly). One full-outer join on (key, bin) + one
    * per-key window over ≤ bins rows — never corpus rows.
    * Output: (k, n_ref, n_cur, n_oob_ref, n_oob_cur, psi) — the oob
    * columns flag a PSI that is really a domain mismatch (clamped mass
    * piling into an edge bin reads as "drift" otherwise). */
  def psiDrift(ref: DataFrame, cur: DataFrame): DataFrame =
    smoothedCells(ref, cur, "b")
      .groupBy(col("k"))
      .agg(first(col("nr")).as("n_ref"), first(col("nc")).as("n_cur"),
        sum(col("or")).as("n_oob_ref"), sum(col("oc")).as("n_oob_cur"),
        round(sum((col("pr") - col("pc")) * log(col("pr") / col("pc"))), 4)
          .as("psi"))

  /** The drift SERIES over retained state versions, oldest first (q245
    * generalized past its consecutive pair): every adjacent pair
    * (v_i, v_{i+1}) yields a per-key [[psiDrift]], tagged with its fold
    * index — "which arrival batch moved each key's distribution, and
    * by how much", computed entirely from on-disk histograms (no
    * period re-read). None before two versions exist. */
  def driftSeries(states: Seq[DataFrame]): Option[DataFrame] =
    if (states.size < 2) None
    else Some(states.zip(states.tail).zipWithIndex.map { case ((a, b), i) =>
      psiDrift(a, b).withColumn("fold", lit(i + 1).cast("long"))
    }.reduce(_.unionByName(_)))

  /** Shared drift scaffolding ([[psiDrift]] / [[hellingerJsFromStates]]
    * / [[psiFromHeavyHitters]]): full-outer the two states' cells on
    * (k, idCol), zero-fill both sides (and the oob counters when the
    * state carries them), attach per-key u (union-cell count), nr/nc
    * (exact totals), and the add-one-smoothed pr/pc — ONE copy of the
    * smoothing convention every drift oracle replays, so the metrics
    * cannot drift from each other. Inputs: (k, idCol, c[, o]). */
  private def smoothedCells(refIn: DataFrame, curIn: DataFrame,
      idCol: String): DataFrame = {
    val hasOob = refIn.columns.contains("o")
    def side(df: DataFrame, cName: String, oName: String) =
      df.select(Seq(col("k"), col(idCol), col("c").as(cName)) ++
        (if (hasOob) Seq(col("o").as(oName)) else Nil): _*)
    val zero = lit(0L)
    val joined = side(refIn, "cr", "or")
      .join(side(curIn, "cc", "oc"), Seq("k", idCol), "full_outer")
      .select(Seq(col("k"), col(idCol),
        coalesce(col("cr"), zero).as("cr"),
        coalesce(col("cc"), zero).as("cc")) ++
        (if (hasOob) Seq(coalesce(col("or"), zero).as("or"),
          coalesce(col("oc"), zero).as("oc")) else Nil): _*)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
    joined
      .withColumn("u", count(lit(1)).over(w))
      .withColumn("nr", sum(col("cr")).over(w))
      .withColumn("nc", sum(col("cc")).over(w))
      .withColumn("pr", (col("cr") + 1).cast("double") / (col("nr") + col("u")))
      .withColumn("pc", (col("cc") + 1).cast("double") / (col("nc") + col("u")))
  }

  /** Kolmogorov–Smirnov statistic between two quantile states — the
    * drift metric with a DIFFERENT sensitivity than [[psiDrift]] (KS
    * catches location shifts PSI's binwise sum can dilute; PSI catches
    * mass reshuffling KS's single sup can miss — production monitors
    * run both), computed ON THE STATES ALONE: KS = max over the union
    * of occupied bins of |cdf_ref − cdf_cur|, with the cdfs as exact
    * integer cumulative counts divided once at the end. Resolution is
    * bin-width (the state's contract); neither period's rows are
    * re-read. One full-outer join on (key, bin) + one per-key ordered
    * window over ≤ bins rows — never corpus rows.
    * Output: (k, n_ref, n_cur, n_oob_ref, n_oob_cur, ks). */
  def ksFromStates(ref: DataFrame, cur: DataFrame): DataFrame = {
    val joined = ref.select(col("k"), col("b"), col("c").as("cr"),
        col("o").as("or"))
      .join(cur.select(col("k"), col("b"), col("c").as("cc"),
        col("o").as("oc")),
        Seq("k", "b"), "full_outer")
      .select(col("k"), col("b"),
        coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("cc"), lit(0L)).as("cc"),
        coalesce(col("or"), lit(0L)).as("or"),
        coalesce(col("oc"), lit(0L)).as("oc"))
    val byBin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("b"))
    val perKey = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k"))
    joined
      .withColumn("cumr", sum(col("cr")).over(byBin))
      .withColumn("cumc", sum(col("cc")).over(byBin))
      .withColumn("nr", sum(col("cr")).over(perKey))
      .withColumn("nc", sum(col("cc")).over(perKey))
      .groupBy(col("k"))
      .agg(first(col("nr")).as("n_ref"), first(col("nc")).as("n_cur"),
        sum(col("or")).as("n_oob_ref"), sum(col("oc")).as("n_oob_cur"),
        // a key present in only ONE period (the other side's n = 0) is
        // the MOST extreme drift — report ks = 1. The divisors are
        // NULLed when zero (under ANSI mode a plain zero division
        // would kill the job; non-ANSI would silently NULL the row a
        // threshold monitor most needs to see) and the outer when maps
        // the all-NULL aggregate to 1.0.
        when(first(col("nr")) === 0 || first(col("nc")) === 0, lit(1.0d))
          .otherwise(round(max(abs(
            col("cumr").cast("double")
              / when(col("nr") > 0, col("nr"))
              - col("cumc").cast("double")
              / when(col("nc") > 0, col("nc")))), 4)).as("ks"))
  }

  /** Multi-percentile read from ONE state pass — the SLA-dashboard
    * shape (p50/p90/p99 per key without re-aggregating per p): one
    * per-key rollup of the sparse cells, then one row-local fold PER
    * requested percentile over the same sorted (bin, count) list.
    * Output: (k, n, n_oob, p, q) — one row per key × percentile, same
    * half-bin-width contract per row as [[quantileFromState]] (asserted
    * only where n_oob = 0). */
  def quantilesFromState(state: DataFrame, ps: Seq[Double], lo: Double,
      wid: Double): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      "percentiles must be in (0, 1]")
    val folded = state.groupBy(col("k"))
      .agg(sort_array(collect_list(struct(col("b"), col("c")))).as("bc"),
        sum(col("o")).as("n_oob"))
      .withColumn("n",
        expr("aggregate(bc, CAST(0 AS BIGINT), (a, x) -> a + x.c)"))
    val qStructs = ps.map { p =>
      val idx = expr(
        s"""aggregate(bc,
           |  struct(CAST(0 AS BIGINT) AS cum, -1 AS idx),
           |  (acc, x) -> IF(acc.idx >= 0, acc,
           |    named_struct('cum', acc.cum + x.c,
           |      'idx', IF(acc.cum + x.c >= CAST(ceil($p * n) AS BIGINT),
           |                x.b, -1))),
           |  acc -> acc.idx)""".stripMargin)
      struct(lit(p).as("p"),
        (lit(lo) + (idx + lit(0.5d)) * lit(wid)).as("q"))
    }
    folded
      .select(col("k"), col("n"), col("n_oob"),
        explode(array(qStructs: _*)).as("pq"))
      .select(col("k"), col("n"), col("n_oob"),
        col("pq.p").as("p"), col("pq.q").as("q"))
  }

  // ------------------------------------------------------------------
  // retraction (signed-delta) maintenance
  // ------------------------------------------------------------------

  /** Signed per-key state of one delta batch: `sign` is +1 (insert) or
    * -1 (retraction). count/sum merge exactly under retraction
    * (n = Σsign, s = Σsign·v); min/max DO NOT — a retraction that
    * removes the current extremum needs a repair pass (below). The
    * batch's own candidate extrema travel along so the repair set can
    * be decided without re-reading history. */
  def signedState(batch: DataFrame, key: Column, value: Column,
      sign: Column): DataFrame =
    batch.select(key.as("k"), value.as("v"), sign.as("sg"))
      .groupBy(col("k"))
      .agg(sum(col("sg")).as("n"), sum(col("sg") * col("v")).as("s"),
        min(when(col("sg") === 1, col("v"))).as("mn"),
        max(when(col("sg") === 1, col("v"))).as("mx"),
        min(when(col("sg") === -1, col("v"))).as("rmn"),
        max(when(col("sg") === -1, col("v"))).as("rmx"))

  /** Fold a signed delta into signed state, dropping keys whose live
    * count reaches zero. Exact for n/s; mn/mx are OPTIMISTIC (inserts
    * tighten them, retractions cannot widen them) and the returned
    * frame marks keys needing repair: a retraction at or below the
    * running min / at or above the running max may have removed the
    * extremum. Feed those keys to [[repairMinMax]] with the live base.
    * Never-inserted retract-only keys surface with n < 0 — a consumer
    * contract violation made visible rather than silently dropped. */
  def mergeSigned(state: DataFrame, delta: DataFrame): DataFrame = {
    // accept both fresh signedState frames and prior mergeSigned output
    // (whose derived needs_repair column is not part of the state shape)
    val merged = state.drop("needs_repair")
      .unionByName(delta.drop("needs_repair"))
      .groupBy(col("k"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"),
        min(col("rmn")).as("rmn"), max(col("rmx")).as("rmx"))
      .filter(col("n") =!= 0)
    merged.withColumn("needs_repair",
      (col("rmn").isNotNull && col("rmn") <= col("mn")) ||
        (col("rmx").isNotNull && col("rmx") >= col("mx")))
  }

  /** Re-derive exact min/max for ONLY the flagged keys from the live
    * base relation (a semi-join-bounded scan — the production answer to
    * non-retractable aggregates: repair the touched keys, never the
    * table). Returns the state with mn/mx exact everywhere and the
    * retraction bookkeeping cleared. */
  def repairMinMax(merged: DataFrame, liveBase: DataFrame, key: Column,
      value: Column): DataFrame = {
    val s = merged.sparkSession
    import s.implicits._
    val bad = merged.filter($"needs_repair")
    val fixed = liveBase.select(key.as("k"), value.as("v"))
      .join(bad.select($"k"), Seq("k"), "left_semi")
      .groupBy($"k")
      .agg(min($"v").as("mn2"), max($"v").as("mx2"))
    merged.join(fixed, Seq("k"), "left")
      .select($"k", $"n", $"s",
        when($"needs_repair", $"mn2").otherwise($"mn").as("mn"),
        when($"needs_repair", $"mx2").otherwise($"mx").as("mx"),
        // bookkeeping cleared (typed nulls) so the repaired state
        // composes into further mergeSigned rounds
        when(lit(false), $"rmn").as("rmn"),
        when(lit(false), $"rmx").as("rmx"))
  }

  // ------------------------------------------------------------------
  // bottom-k (KMV) sample state — deterministic mergeable uniform
  // sample + distinct estimator
  // ------------------------------------------------------------------

  /** 32-bit multiplicative/xor-shift mix both engines replay in plain
    * integer SQL: h1 = (v·2654435761) mod 2³², x = h1 ⊕ (h1 ≫ 16),
    * h2 = (x·40503) mod 2³², h = h2 ⊕ (h2 ≫ 13). Intermediates stay
    * < 2⁴⁸ (no Long overflow, no DuckDB overflow error); ≫ equals
    * floor-div for the non-negative values this runs on. Knuth's
    * multiplicative constants — public. */
  def mix32(c: Column): Column = {
    val h1 = (c.cast("long") * lit(2654435761L)) % lit(4294967296L)
    val x = h1.bitwiseXOR(shiftright(h1, 16))
    val h2 = (x * lit(40503L)) % lit(4294967296L)
    h2.bitwiseXOR(shiftright(h2, 13))
  }

  /** Scalar twin of [[mix32]] for driver-side probe hashing — the ONE
    * other implementation, law-tested equal to the Column form, so an
    * index built with mix32 and a probe hashed here can never drift. */
  def mix32Long(v: Long): Long = {
    val h1 = (v * 2654435761L) % 4294967296L
    val x = h1 ^ (h1 >> 16)
    val h2 = (x * 40503L) % 4294967296L
    h2 ^ (h2 >> 13)
  }

  /** Bottom-k sketch state of one batch: the k DISTINCT values with
    * the smallest [[mix32]] hashes per key. The sketch is three things
    * at once (KMV lineage, Bar-Yossef et al. — public): a uniform
    * without-replacement sample over the key's distinct values, a
    * distinct-count estimator ([[distinctFromBottomK]]), and — because
    * min-k(A ∪ B) = min-k(min-k(A) ∪ min-k(B)) — an EXACTLY mergeable
    * state: [[mergeBottomK]] reproduces the single-pass sketch
    * bit-for-bit, so fold order can never change an answer (the
    * f(A+B)=f(A)+f(B) law, here as set identity rather than counter
    * add). Deterministic by construction: no RNG, the hash IS the
    * sample order, and ties break on the value itself.
    * State: (k, h, v), ≤ k rows per key. Scale shape: one distinct
    * reduce + one per-key top-k window over the distinct rows; state
    * size is k rows per key regardless of corpus size. */
  def bottomKState(batch: DataFrame, key: Column, value: Column,
      k: Int): DataFrame = {
    require(k >= 2, "need k >= 2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("h"), col("v"))
    batch.select(key.as("k"), value.as("v"))
      .distinct()
      .withColumn("h", mix32(col("v")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** Fold bottom-k states: union, re-dedup (the same value may appear
    * in both sides), keep the k smallest — exactly the single-pass
    * sketch of the united input. |state| rows in, ≤ k·keys out. */
  def mergeBottomK(state: DataFrame, delta: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("h"), col("v"))
    state.unionByName(delta)
      .distinct()
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** Distinct-count estimate from a bottom-k state: a key holding
    * fewer than k rows saw fewer than k distinct values — its count is
    * EXACT; a saturated key estimates ndv ≈ (k−1)/U(k) with U(k) the
    * k-th smallest hash normalized to (0,1] over the 2³² hash space
    * (the KMV estimator). Output: (k, n_sample, saturated, ndv_est). */
  def distinctFromBottomK(state: DataFrame, k: Int): DataFrame =
    state.groupBy(col("k"))
      .agg(count(lit(1)).as("n_sample"), max(col("h")).as("_hmax"))
      .withColumn("saturated", col("n_sample") >= k)
      .withColumn("ndv_est",
        when(!col("saturated"), col("n_sample").cast("double"))
          .otherwise(round(
            lit((k - 1).toDouble) * lit(4294967296.0d)
              // ANSI-safe: a zero max hash (all k hashes = 0 — 2⁻³²ᵏ)
              // nulls rather than kills the job
              / when(col("_hmax") > 0, col("_hmax")), 4)))
      .drop("_hmax")

  /** Set-overlap estimation from two bottom-k states — the
    * query-planning / dedup-scoping primitive (K-min-values lineage,
    * Beyer et al. — public): how many DISTINCT values do two
    * partitions/periods share, without touching either side's rows?
    * min-k(A∪B) is computable from the two sketches alone; the
    * fraction of its members present in BOTH sketches estimates
    * Jaccard, and × the union's ndv estimate gives the intersection
    * size. Deterministic end to end — the estimate itself is the
    * replayable contract. Output: (k, n_union_sample, n_common,
    * jaccard, ndv_union_est, intersection_est). */
  def intersectionFromBottomK(a: DataFrame, b: DataFrame,
      k: Int): DataFrame = {
    val u = mergeBottomK(a, b, k)
    val inA = a.select(col("k"), col("h"), col("v"))
      .withColumn("_ina", lit(1))
    val inB = b.select(col("k"), col("h"), col("v"))
      .withColumn("_inb", lit(1))
    u.join(inA, Seq("k", "h", "v"), "left")
      .join(inB, Seq("k", "h", "v"), "left")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_union_sample"),
        sum(when(col("_ina") === 1 && col("_inb") === 1, 1L)
          .otherwise(0L)).as("n_common"),
        max(col("h")).as("_hmax"))
      .withColumn("jaccard",
        round(col("n_common").cast("double")
          / when(col("n_union_sample") > 0, col("n_union_sample")), 4))
      .withColumn("ndv_union_est",
        when(col("n_union_sample") < k,
          col("n_union_sample").cast("double"))
          .otherwise(round(
            lit((k - 1).toDouble) * lit(4294967296.0d)
              / when(col("_hmax") > 0, col("_hmax")), 4)))
      .withColumn("intersection_est",
        round(col("jaccard") * col("ndv_union_est"), 4))
      .drop("_hmax")
  }

  // ------------------------------------------------------------------
  // Misra–Gries heavy-hitter state — mergeable frequency summary with
  // an observable error bound
  // ------------------------------------------------------------------

  /** MG-compress exact per-(key, item) counts to ≤ m surviving items:
    * subtract the (m+1)-th largest count t from every item, keep
    * c − t > 0, and bank the subtracted + dropped mass on the key's
    * NULL-item row (the [[quantileState]] n_oob discipline: the error
    * is IN the state, not a paper bound). Totals stay exact —
    * Σc over all rows including the NULL row equals the input mass.
    * Deterministic: t is a count VALUE (ties included), no order
    * dependence — the input is already an exact groupBy. */
  private def compressMg(counts: DataFrame, m: Int): DataFrame = {
    val items = counts.filter(col("i").isNotNull)
    val banked = counts.filter(col("i").isNull)
      .groupBy(col("k")).agg(sum(col("c")).as("_d0"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("c").desc, col("i"))
    val ranked = items.withColumn("_rn", row_number().over(w))
    val t = ranked.filter(col("_rn") === m + 1)
      .select(col("k"), col("c").as("_t"))
    val adjusted = ranked.drop("_rn").join(t, Seq("k"), "left")
      .withColumn("_t", coalesce(col("_t"), lit(0L)))
    val survivors = adjusted.filter(col("c") > col("_t"))
      .select(col("k"), col("i"), (col("c") - col("_t")).as("c"))
    // banked mass = prior NULL rows + everything compress removed
    val removed = adjusted.groupBy(col("k"))
      .agg(sum(when(col("c") > col("_t"), col("_t")).otherwise(col("c")))
        .as("_rm"))
    val nullRows = removed.join(banked, Seq("k"), "left")
      .select(col("k"), lit(null).cast(survivors.schema("i").dataType).as("i"),
        (col("_rm") + coalesce(col("_d0"), lit(0L))).as("c"))
      .filter(col("c") > 0)
    survivors.unionByName(nullRows)
  }

  /** Misra–Gries heavy-hitter state of one batch: exact per-(key,
    * item) counts, MG-compressed to ≤ m items + one NULL-item row
    * banking the removed mass (mergeable-summaries lineage, Agarwal
    * et al. — public). Any item's true batch count lies in
    * [c, c + banked]; an item absent from the state has true count
    * ≤ banked. Σc including the NULL row is the EXACT batch mass.
    * Scale shape: one combiner-reduced groupBy of the batch, then
    * windows/joins over ≤ items-per-key rows — state is m+1 rows per
    * key regardless of corpus size. */
  def heavyHitterState(batch: DataFrame, key: Column, item: Column,
      m: Int): DataFrame = {
    require(m >= 1, "need m >= 1")
    compressMg(
      batch.select(key.as("k"), item.as("i"))
        .groupBy(col("k"), col("i"))
        .agg(count(lit(1)).as("c")),
      m)
  }

  /** Fold MG states: per-(key, item) counter add (NULL banks add
    * too), then re-compress to m — the standard mergeable-summary
    * fold; the bound stays additive (banked_A + banked_B + what this
    * compress removes), and it rides the state. */
  def mergeHeavyHitters(state: DataFrame, delta: DataFrame,
      m: Int): DataFrame =
    compressMg(
      state.unionByName(delta)
        .groupBy(col("k"), col("i"))
        .agg(sum(col("c")).as("c")),
      m)

  /** Read heavy hitters out of MG state: per surviving item the
    * certified bounds [c_min, c_max] = [c, c + banked], plus the
    * key's exact total mass. Output: (k, i, c_min, c_max, n_total). */
  def heavyHittersFromState(state: DataFrame): DataFrame = {
    val perKey = state.groupBy(col("k"))
      .agg(sum(when(col("i").isNull, col("c")).otherwise(lit(0L)))
        .as("_banked"),
        sum(col("c")).as("n_total"))
    state.filter(col("i").isNotNull)
      .join(perKey, Seq("k"))
      .select(col("k"), col("i"), col("c").as("c_min"),
        (col("c") + col("_banked")).as("c_max"), col("n_total"))
  }

  /** PSI between two Misra–Gries states — CATEGORICAL drift (top-app,
    * top-domain, top-token distributions), where the quantile-state
    * metrics don't apply because there is no ordering to bin over.
    * Each state's surviving items are its categories; the banked
    * NULL-item mass participates as an OTHER category (so probability
    * mass is conserved and a shift INTO the tail is visible), and
    * add-one smoothing over the union of categories keeps the formula
    * total and replayable. Items must be non-negative (the OTHER
    * sentinel is −1). Output: (k, n_ref, n_cur, psi). */
  def psiFromHeavyHitters(ref: DataFrame, cur: DataFrame): DataFrame = {
    def withSentinel(df: DataFrame) =
      df.select(col("k"),
        coalesce(col("i"), lit(-1L)).as("i"), col("c"))
    smoothedCells(withSentinel(ref), withSentinel(cur), "i")
      .groupBy(col("k"))
      .agg(first(col("nr")).as("n_ref"), first(col("nc")).as("n_cur"),
        round(sum((col("pr") - col("pc")) * log(col("pr") / col("pc"))), 4)
          .as("psi"))
  }

  /** Hellinger distance and Jensen–Shannon divergence between two
    * quantile states — the bounded drift metrics ([0,1] / [0, ln 2])
    * that complement [[psiDrift]]'s unbounded score and [[ksFromStates]]'
    * location sensitivity, computed ON THE STATES ALONE with the same
    * add-one smoothing over the union of occupied bins (deterministic,
    * replayable). H = √(1 − Σ√(p_ref·p_cur)); JS = ½ΣKL terms against
    * the midpoint, natural log. Output: (k, n_ref, n_cur, n_oob_ref,
    * n_oob_cur, hellinger, js). */
  def hellingerJsFromStates(ref: DataFrame, cur: DataFrame): DataFrame = {
    smoothedCells(ref, cur, "b")
      .withColumn("mid", (col("pr") + col("pc")) / 2)
      .groupBy(col("k"))
      .agg(first(col("nr")).as("n_ref"), first(col("nc")).as("n_cur"),
        sum(col("or")).as("n_oob_ref"), sum(col("oc")).as("n_oob_cur"),
        // float-noise clamp: Σ√(pr·pc) can exceed 1 by an ulp when the
        // distributions coincide
        round(sqrt(greatest(lit(0.0d),
          lit(1.0d) - sum(sqrt(col("pr") * col("pc"))))), 4).as("hellinger"),
        round(sum(col("pr") * log(col("pr") / col("mid")) / 2
          + col("pc") * log(col("pc") / col("mid")) / 2), 4).as("js"))
  }

  // ------------------------------------------------------------------
  // fixture-bound oracle queries
  // ------------------------------------------------------------------

  /** Equi-depth range-partition bounds from a single-key quantile
    * STATE ([[quantileState]]) — the sketch-driven range partitioner
    * that makes a 100 TB global sort / sorted write possible: one
    * mergeable-state pass picks B−1 split bins, then every row routes
    * map-side. The collect is bins-bounded metadata (≤ a few hundred
    * rows), never data. Split i = smallest bin whose cumulative count
    * satisfies cum·B ≥ i·n (integer cross-multiply — exact, no float
    * quantile). Balance bound: each bucket ≤ n/B + max single-bin
    * count (bin-granularity equi-depth). */
  def rangeBoundsFromState(state: DataFrame, buckets: Int): Seq[Int] = {
    require(buckets >= 2)
    val hist = state.select(col("b"), col("c")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = hist.map(_._2).sum
    var cum = 0L
    val cumByBin = hist.map { case (b, c) => cum += c; (b, cum) }
    (1 until buckets).map { i =>
      cumByBin.find { case (_, cc) => cc * buckets >= i.toLong * n }
        .map(_._1).getOrElse(Int.MaxValue)
    }
  }

  /** Route rows to the equi-depth buckets of [[rangeBoundsFromState]]:
    * bucket = #{i : split_i ≤ bin(row)} — a pure map-side projection
    * (the splits are a broadcast-sized literal), shuffle-free. */
  def assignRangeBucket(df: DataFrame, value: Column, lo: Double,
      hi: Double, bins: Int, splits: Seq[Int]): DataFrame = {
    val wid = (hi - lo) / bins
    val bin = least(greatest(floor((value - lo) / wid), lit(0)),
      lit(bins - 1)).cast("int")
    val bucket = splits.foldLeft(lit(0)) { (acc, s) =>
      acc + when(bin >= lit(s), 1).otherwise(0)
    }
    df.withColumn("range_bucket", bucket)
  }

  val defs: Seq[QueryDef] = Seq(

    // sketch-driven range partitioner: ONE quantile-state pass over
    // document lengths picks 7 split bins (integer cross-multiply, no
    // float quantile), every row routes map-side, and the oracle
    // replays the ENTIRE construction — histogram, cumulative splits,
    // assignment — plus each bucket's exact count and value range.
    // This is how a 100 TB sorted write picks its range bounds without
    // a global sort or a sampling pass per job.
    QueryDef(
      "q317_range_partitioner",
      (s, dir) => {
        import s.implicits._
        val docs = graft.engine.Tables.load(s, dir, "documents")
        val state = quantileState(docs, lit("all"),
          octet_length($"text").cast("double"), lo = 0.0, hi = 1024.0,
          bins = 128)
        val splits = rangeBoundsFromState(state, buckets = 8)
        assignRangeBucket(docs.select($"doc_id",
          octet_length($"text").as("x")),
          $"x".cast("double"), 0.0, 1024.0, 128, splits)
          .groupBy($"range_bucket")
          .agg(count(lit(1)).as("n_rows"),
            min($"x").cast("long").as("min_val"),
            max($"x").cast("long").as("max_val"))
          .select($"range_bucket".cast("long").as("range_bucket"),
            $"n_rows", $"min_val", $"max_val")
          .orderBy($"range_bucket")
      },
      Some("""
        WITH v AS (
          SELECT doc_id, octet_length(encode(text)) AS x FROM documents),
        b AS (
          SELECT doc_id, x,
                 least(greatest(CAST(floor(x / 8.0) AS INT), 0), 127)
                   AS bin
          FROM v),
        hist AS (SELECT bin, count(*) AS c FROM b GROUP BY bin),
        cum AS (SELECT bin, sum(c) OVER (ORDER BY bin) AS cc FROM hist),
        n AS (SELECT count(*) AS nn FROM b),
        sp AS (
          SELECT i,
                 (SELECT min(bin) FROM cum, n WHERE cc * 8 >= i * nn)
                   AS sb
          FROM unnest(generate_series(1, 7)) AS t(i)),
        a AS (
          SELECT doc_id, x, bin,
                 (SELECT count(*) FROM sp WHERE sp.sb <= b.bin) AS bucket
          FROM b)
        SELECT CAST(bucket AS BIGINT) AS range_bucket,
               count(*) AS n_rows,
               CAST(min(x) AS BIGINT) AS min_val,
               CAST(max(x) AS BIGINT) AS max_val
        FROM a
        GROUP BY bucket
        ORDER BY range_bucket""")),

    // both sides of a materialized order⋈lineitem join receive a delta
    // (orders placed / lines shipped since the cut); the operator emits
    // exactly the refresh rows. The oracle is the INDEPENDENT law:
    // full new-state join EXCEPT ALL full old-state join.
    QueryDef(
      "q203_incremental_join_delta",
      (s, dir) => {
        import s.implicits._
        val cut = lit("1997-07-01").cast("timestamp")
        val o = Tables.load(s, dir, "orders")
          .select($"o_orderkey".as("okey"), $"o_orderdate")
        val l = Tables.load(s, dir, "lineitem")
          .select($"l_orderkey".as("okey"), $"l_linenumber", $"l_shipdate")
        joinDelta(
          o.filter($"o_orderdate" < cut), o.filter($"o_orderdate" >= cut),
          l.filter($"l_shipdate" < cut), l.filter($"l_shipdate" >= cut),
          "okey")
          .orderBy($"okey", $"l_linenumber", $"l_shipdate")
      },
      Some("""
        WITH o AS (SELECT o_orderkey AS okey, o_orderdate FROM orders),
        l AS (SELECT l_orderkey AS okey, l_linenumber, l_shipdate
              FROM lineitem),
        old_j AS (
          SELECT o.okey, o_orderdate, l_linenumber, l_shipdate
          FROM o JOIN l ON o.okey = l.okey
          WHERE o_orderdate < TIMESTAMP '1997-07-01'
            AND l_shipdate < TIMESTAMP '1997-07-01'),
        new_j AS (
          SELECT o.okey, o_orderdate, l_linenumber, l_shipdate
          FROM o JOIN l ON o.okey = l.okey)
        SELECT okey, o_orderdate, l_linenumber, l_shipdate FROM new_j
        EXCEPT ALL
        SELECT okey, o_orderdate, l_linenumber, l_shipdate FROM old_j
        ORDER BY okey, l_linenumber, l_shipdate""")),

    // three yearly "delta drops" of orders folded into one running
    // per-customer state; the oracle is the full recompute the operator
    // exists to avoid. Integer cents keep the merge law exact.
    QueryDef(
      "q182_incremental_agg_state",
      (s, dir) => {
        import s.implicits._
        val o = Tables.load(s, dir, "orders").select($"o_custkey",
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          year($"o_orderdate").as("yr"))
        val b1 = aggState(o.filter($"yr" <= 1994), $"o_custkey", $"cents")
        val b2 = aggState(o.filter($"yr" >= 1995 && $"yr" <= 1996),
          $"o_custkey", $"cents")
        val b3 = aggState(o.filter($"yr" >= 1997), $"o_custkey", $"cents")
        mergeState(mergeState(b1, b2), b3)
          .select($"k".as("o_custkey"), $"n".as("n_orders"),
            $"s".as("total_cents"), $"mn".as("min_cents"),
            $"mx".as("max_cents"))
          .orderBy($"o_custkey")
      },
      // CAST on the sums: DuckDB sum(BIGINT) is HUGEINT (pandas-lossy)
      Some("""
        SELECT o_custkey, count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents,
               min(CAST(round(o_totalprice * 100) AS BIGINT)) AS min_cents,
               max(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_cents
        FROM orders
        GROUP BY o_custkey
        ORDER BY o_custkey""")),

    // distinct-count maintenance: the sketch analogue of q182 — per-key
    // state is a mergeable DataSketches HLL (a few KB/key however much
    // history it summarizes), each batch unions in, and COUNT DISTINCT
    // over all history never re-reads it. At the fixture's per-key
    // cardinality (<= 5 distinct priorities) the HLL sparse mode is
    // exact, so the oracle is the exact COUNT(DISTINCT) — any estimator
    // or merge fault hash-mismatches outright.
    QueryDef(
      "q189_incremental_distinct_state",
      (s, dir) => {
        import s.implicits._
        val o = Tables.load(s, dir, "orders").select($"o_custkey",
          $"o_orderpriority".as("pri"), year($"o_orderdate").as("yr"))
        def sk(df: org.apache.spark.sql.DataFrame) =
          df.groupBy($"o_custkey")
            .agg(expr("hll_sketch_agg(pri, 14)").as("sk"))
        val states = Seq(
          sk(o.filter($"yr" <= 1994)),
          sk(o.filter($"yr" >= 1995 && $"yr" <= 1996)),
          sk(o.filter($"yr" >= 1997)))
        states.reduce(_ unionByName _)
          .groupBy($"o_custkey")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))")
            .as("n_priorities"))
          .orderBy($"o_custkey")
      },
      Some("""
        SELECT o_custkey,
               count(DISTINCT o_orderpriority) AS n_priorities
        FROM orders
        GROUP BY o_custkey
        ORDER BY o_custkey""")),

    // percentile maintenance: the quantile sibling of q189 — per-key
    // state is a mergeable fixed-grid histogram (4 KB/key at 500 bins
    // however much history it summarizes); year batches fold in by
    // element-wise add, and the p50 estimate comes from state alone.
    // The whole estimator is deterministic, so the oracle replays the
    // bin math EXACTLY (not just a probabilistic contract) and the
    // exact sorted-rank referee pins |est − exact| <= wid/2 (the
    // hardcoded 1 makes any violation a hash mismatch).
    QueryDef(
      "q231_quantile_sketch_state",
      (s, dir) => {
        import s.implicits._
        val (lo, hi, bins) = (0.0, 500000.0, 500)
        val wid = (hi - lo) / bins
        val o = Tables.load(s, dir, "orders").select($"o_custkey",
          $"o_totalprice".as("v"), year($"o_orderdate").as("yr"))
        def st(df: org.apache.spark.sql.DataFrame) =
          quantileState(df, $"o_custkey", $"v", lo, hi, bins)
        val merged = mergeQuantileState(mergeQuantileState(
          st(o.filter($"yr" <= 1994)),
          st(o.filter($"yr" >= 1995 && $"yr" <= 1996))),
          st(o.filter($"yr" >= 1997)))
        val est = quantileFromState(merged, 0.5, lo, wid)
          .select($"k".as("o_custkey"), $"n".as("n_orders"),
            round($"q", 4).as("est_p50"))
        // exact referee at fixture scale (the q164 pattern): discrete
        // rank value, same ceil(p*n) rank definition as the sketch
        val exact = o.groupBy($"o_custkey")
          .agg(expr("""element_at(sort_array(collect_list(v)),
                       CAST(ceil(0.5 * count(1)) AS INT))""").as("ex"))
          .select($"o_custkey", round($"ex", 4).as("exact_p50"))
        est.join(exact, "o_custkey")
          .withColumn("within_half_bin",
            when(abs($"est_p50" - $"exact_p50") <= wid / 2, 1).otherwise(0))
          .orderBy($"o_custkey")
      },
      Some("""
        WITH v AS (SELECT o_custkey AS k, o_totalprice AS v FROM orders),
        b AS (SELECT k,
                     LEAST(GREATEST(CAST(floor(v / 1000.0) AS INT), 0), 499)
                       AS b
              FROM v),
        cnt AS (SELECT k, b, count(*) AS c FROM b GROUP BY k, b),
        tot AS (SELECT k, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY k),
        cum AS (SELECT k, b, sum(c) OVER (PARTITION BY k ORDER BY b) AS cum
                FROM cnt),
        pick AS (SELECT cum.k, min(cum.b) AS idx
                 FROM cum JOIN tot ON cum.k = tot.k
                 WHERE cum.cum >= ceil(0.5 * tot.n)
                 GROUP BY cum.k),
        ex AS (SELECT k,
                      (list_sort(list(v)))[CAST(ceil(0.5 * count(*)) AS BIGINT)]
                        AS ex
               FROM v GROUP BY k)
        SELECT tot.k AS o_custkey,
               tot.n AS n_orders,
               round(CAST((pick.idx + 0.5) * 1000.0 AS DOUBLE), 4)
                 AS est_p50,
               round(ex.ex, 4) AS exact_p50,
               1 AS within_half_bin
        FROM tot
        JOIN pick ON tot.k = pick.k
        JOIN ex ON tot.k = ex.k
        ORDER BY o_custkey""")),

    // token-WEIGHTED percentile sweep per language — "the median TOKEN
    // sits in a doc of length X" length profile a data-mixing pipeline
    // reads at p50/p90/p99, all three from ONE state pass (per-key fold
    // per percentile over the same sparse cells). Deterministic bin
    // math: the oracle replays weights, cums, and all three picks.
    QueryDef(
      "q234_weighted_quantile_sweep",
      (s, dir) => {
        import s.implicits._
        val (lo, hi, bins) = (0.0, 1000.0, 200)
        val st = weightedQuantileState(
          Tables.load(s, dir, "documents"),
          $"lang", $"n_chars".cast("double"),
          size(expr("filter(split(text, ' '), x -> x != '')")).cast("long"),
          lo, hi, bins)
        quantilesFromState(st, Seq(0.5, 0.9, 0.99), lo, (hi - lo) / bins)
          .select($"k".as("lang"), $"n".as("n_tokens"),
            $"p", round($"q", 4).as("est"))
          .orderBy($"lang", $"p")
      },
      Some("""
        WITH v AS (
          SELECT lang AS k, CAST(n_chars AS DOUBLE) AS v,
                 CAST(len(list_filter(string_split(text, ' '),
                          x -> x <> '')) AS BIGINT) AS w
          FROM documents),
        b AS (SELECT k, w,
                     LEAST(GREATEST(CAST(floor(v / 5.0) AS INT), 0), 199)
                       AS b
              FROM v),
        cnt AS (SELECT k, b, CAST(sum(w) AS BIGINT) AS c
                FROM b GROUP BY k, b),
        tot AS (SELECT k, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY k),
        cum AS (SELECT k, b, sum(c) OVER (PARTITION BY k ORDER BY b) AS cum
                FROM cnt),
        ps(p) AS (VALUES (0.5), (0.9), (0.99)),
        pick AS (SELECT cum.k, ps.p, min(cum.b) AS idx
                 FROM cum
                 JOIN tot ON cum.k = tot.k
                 CROSS JOIN ps
                 WHERE cum.cum >= ceil(ps.p * tot.n)
                 GROUP BY cum.k, ps.p)
        SELECT tot.k AS lang,
               tot.n AS n_tokens,
               CAST(pick.p AS DOUBLE) AS p,
               round(CAST((pick.idx + 0.5) * 5.0 AS DOUBLE), 4) AS est
        FROM tot
        JOIN pick ON tot.k = pick.k
        ORDER BY lang, p""")),

    // drift between two monitoring periods computed ON THE QUANTILE
    // STATES ALONE — order-price distribution per priority, 1992-95 as
    // the reference window vs 1996+ current; neither period's rows are
    // re-read once the states exist. Add-one smoothing over the union
    // of occupied bins keeps the formula deterministic for the replay.
    QueryDef(
      "q235_psi_drift",
      (s, dir) => {
        import s.implicits._
        val (lo, hi, bins) = (0.0, 500000.0, 500)
        val o = Tables.load(s, dir, "orders").select($"o_orderpriority".as("pri"),
          $"o_totalprice".as("v"), year($"o_orderdate").as("yr"))
        def st(df: org.apache.spark.sql.DataFrame) =
          quantileState(df, $"pri", $"v", lo, hi, bins)
        psiDrift(st(o.filter($"yr" <= 1995)), st(o.filter($"yr" >= 1996)))
          .select($"k".as("o_orderpriority"), $"n_ref", $"n_cur", $"psi")
          .orderBy($"o_orderpriority")
      },
      Some("""
        WITH v AS (
          SELECT o_orderpriority AS k, o_totalprice AS v,
                 CASE WHEN year(o_orderdate) <= 1995 THEN 1 ELSE 0 END AS r
          FROM orders),
        b AS (SELECT k, r,
                     LEAST(GREATEST(CAST(floor(v / 1000.0) AS INT), 0), 499)
                       AS b
              FROM v),
        cells AS (
          SELECT k, b,
                 CAST(sum(r) AS BIGINT) AS cr,
                 CAST(sum(1 - r) AS BIGINT) AS cc
          FROM b GROUP BY k, b),
        tot AS (
          SELECT k, count(*) AS u,
                 CAST(sum(cr) AS BIGINT) AS nr,
                 CAST(sum(cc) AS BIGINT) AS nc
          FROM cells GROUP BY k)
        SELECT cells.k AS o_orderpriority,
               CAST(max(tot.nr) AS BIGINT) AS n_ref,
               CAST(max(tot.nc) AS BIGINT) AS n_cur,
               round(sum(
                 (CAST(cells.cr + 1 AS DOUBLE) / (tot.nr + tot.u)
                   - CAST(cells.cc + 1 AS DOUBLE) / (tot.nc + tot.u))
                 * ln((CAST(cells.cr + 1 AS DOUBLE) / (tot.nr + tot.u))
                      / (CAST(cells.cc + 1 AS DOUBLE) / (tot.nc + tot.u)))),
                 4) AS psi
        FROM cells JOIN tot ON cells.k = tot.k
        GROUP BY cells.k
        ORDER BY o_orderpriority""")),

    // KS drift on the SAME persisted states q235 reads — the two
    // metrics complement (KS: location shifts; PSI: mass reshuffles)
    // and sharing the state is the point: one histogram pass per
    // period serves every downstream drift monitor. Exact integer
    // cums; the oracle replays join, windows, and the sup.
    QueryDef(
      "q244_ks_from_states",
      (s, dir) => {
        import s.implicits._
        val (lo, hi, bins) = (0.0, 500000.0, 500)
        val o = Tables.load(s, dir, "orders").select($"o_orderpriority".as("pri"),
          $"o_totalprice".as("v"), year($"o_orderdate").as("yr"))
        def st(df: org.apache.spark.sql.DataFrame) =
          quantileState(df, $"pri", $"v", lo, hi, bins)
        ksFromStates(st(o.filter($"yr" <= 1995)), st(o.filter($"yr" >= 1996)))
          .select($"k".as("o_orderpriority"), $"n_ref", $"n_cur", $"ks")
          .orderBy($"o_orderpriority")
      },
      Some("""
        WITH v AS (
          SELECT o_orderpriority AS k, o_totalprice AS v,
                 CASE WHEN year(o_orderdate) <= 1995 THEN 1 ELSE 0 END AS r
          FROM orders),
        b AS (SELECT k, r,
                     LEAST(GREATEST(CAST(floor(v / 1000.0) AS INT), 0), 499)
                       AS b
              FROM v),
        cells AS (
          SELECT k, b,
                 CAST(sum(r) AS BIGINT) AS cr,
                 CAST(sum(1 - r) AS BIGINT) AS cc
          FROM b GROUP BY k, b),
        cums AS (
          SELECT k, b, cr, cc,
                 sum(cr) OVER (PARTITION BY k ORDER BY b) AS cumr,
                 sum(cc) OVER (PARTITION BY k ORDER BY b) AS cumc,
                 sum(cr) OVER (PARTITION BY k) AS nr,
                 sum(cc) OVER (PARTITION BY k) AS nc
          FROM cells)
        SELECT k AS o_orderpriority,
               CAST(max(nr) AS BIGINT) AS n_ref,
               CAST(max(nc) AS BIGINT) AS n_cur,
               round(max(abs(CAST(cumr AS DOUBLE) / nr
                             - CAST(cumc AS DOUBLE) / nc)), 4) AS ks
        FROM cums
        GROUP BY k
        ORDER BY o_orderpriority""")),

    // the n_oob observability contract under a DELIBERATELY wrong
    // domain: [0, 100k) is too narrow for o_totalprice, so every
    // order above 100k clamps into the top bin AND increments the
    // per-key oob counter that rides the state through the merge.
    // The oracle replays bins, clamps, counters, and the pick exactly
    // — a counter lost in the merge or mis-unioned at read time is a
    // hash mismatch. Keys whose n_oob > 0 show est_p50 pinned at the
    // top-bin midpoint (99500) wherever the true median is out of
    // domain — exactly the artifact the counter exists to flag.
    QueryDef(
      "q237_quantile_oob_counter",
      (s, dir) => {
        import s.implicits._
        val (lo, hi, bins) = (0.0, 100000.0, 100)
        val wid = (hi - lo) / bins
        val o = Tables.load(s, dir, "orders").select($"o_custkey",
          $"o_totalprice".as("v"), year($"o_orderdate").as("yr"))
        def st(df: org.apache.spark.sql.DataFrame) =
          quantileState(df, $"o_custkey", $"v", lo, hi, bins)
        val merged = mergeQuantileState(
          st(o.filter($"yr" <= 1995)), st(o.filter($"yr" >= 1996)))
        quantileFromState(merged, 0.5, lo, wid)
          .select($"k".as("o_custkey"), $"n".as("n_orders"),
            $"n_oob", round($"q", 4).as("est_p50"))
          .orderBy($"o_custkey")
      },
      Some("""
        WITH v AS (SELECT o_custkey AS k, o_totalprice AS v FROM orders),
        b AS (SELECT k,
                     LEAST(GREATEST(CAST(floor(v / 1000.0) AS INT), 0), 99)
                       AS b,
                     CASE WHEN v < 0 OR v > 100000 THEN 1 ELSE 0 END AS oob
              FROM v),
        cnt AS (SELECT k, b, count(*) AS c FROM b GROUP BY k, b),
        tot AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(oob) AS BIGINT) AS n_oob
                FROM b GROUP BY k),
        cum AS (SELECT k, b, sum(c) OVER (PARTITION BY k ORDER BY b) AS cum
                FROM cnt),
        pick AS (SELECT cum.k, min(cum.b) AS idx
                 FROM cum JOIN tot ON cum.k = tot.k
                 WHERE cum.cum >= ceil(0.5 * tot.n)
                 GROUP BY cum.k)
        SELECT tot.k AS o_custkey,
               tot.n AS n_orders,
               tot.n_oob AS n_oob,
               round(CAST((pick.idx + 0.5) * 1000.0 AS DOUBLE), 4)
                 AS est_p50
        FROM tot
        JOIN pick ON tot.k = pick.k
        ORDER BY o_custkey""")),

    // q182 with deletes: 1998's orders are retracted after the fact;
    // count/sum retract exactly, min/max repair re-scans ONLY the keys
    // whose extremum the retraction hit, and the final state equals the
    // full recompute over the live rows
    QueryDef(
      "q187_retractable_agg_state",
      (s, dir) => {
        import s.implicits._
        val o = Tables.load(s, dir, "orders").select($"o_custkey",
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          year($"o_orderdate").as("yr"))
        def st(df: org.apache.spark.sql.DataFrame, sg: Int) =
          signedState(df, $"o_custkey", $"cents", lit(sg))
        val ins1 = st(o.filter($"yr" <= 1996), 1)
        val ins2 = st(o.filter($"yr" >= 1997), 1)
        val del = st(o.filter($"yr" === 1998), -1)
        val merged = mergeSigned(mergeSigned(ins1, ins2), del)
        val live = o.filter($"yr" =!= 1998)
        repairMinMax(merged, live, $"o_custkey", $"cents")
          .select($"k".as("o_custkey"), $"n".as("n_orders"),
            $"s".as("total_cents"), $"mn".as("min_cents"),
            $"mx".as("max_cents"))
          .orderBy($"o_custkey")
      },
      Some("""
        SELECT o_custkey, count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents,
               min(CAST(round(o_totalprice * 100) AS BIGINT)) AS min_cents,
               max(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_cents
        FROM orders
        WHERE year(CAST(o_orderdate AS DATE)) <> 1998
        GROUP BY o_custkey
        ORDER BY o_custkey""")),

    // bottom-k (KMV) sample state built per HALF (ship-year split),
    // MERGED, then read: sample membership AND the distinct estimate.
    // The oracle computes the single-pass bottom-k of the whole input —
    // legal ONLY because min-k(A∪B) = min-k(min-k(A)∪min-k(B)): the
    // merge-exactness law is what the hash compare certifies. The mix
    // hash is replayed in integer SQL on both sides.
    QueryDef(
      "q262_bottomk_sample_state",
      (s, dir) => {
        import s.implicits._
        val kk = 32
        val li = Tables.load(s, dir, "lineitem").select($"l_returnflag".as("rf"),
          $"l_suppkey", year($"l_shipdate").as("yr"))
        def st(df: org.apache.spark.sql.DataFrame) =
          bottomKState(df, $"rf", $"l_suppkey", kk)
        val merged = mergeBottomK(
          st(li.filter($"yr" <= 1995)), st(li.filter($"yr" >= 1996)), kk)
        val est = distinctFromBottomK(merged, kk)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"k").orderBy($"h", $"v")
        merged.withColumn("rank", row_number().over(w))
          .join(est, Seq("k"))
          .select($"k".as("l_returnflag"), $"rank".cast("int").as("rank"),
            $"v".as("supp"), $"h".as("hash"), $"n_sample", $"saturated",
            $"ndv_est")
          .orderBy($"l_returnflag", $"rank")
      },
      Some("""
        WITH d AS (SELECT DISTINCT l_returnflag AS k, l_suppkey AS v
                   FROM lineitem),
        h1 AS (SELECT k, v, (v * 2654435761) % 4294967296 AS a FROM d),
        h2 AS (SELECT k, v, xor(a, a // 65536) AS x FROM h1),
        h3 AS (SELECT k, v, (x * 40503) % 4294967296 AS m2 FROM h2),
        h4 AS (SELECT k, v, xor(m2, m2 // 8192) AS h FROM h3),
        r AS (SELECT k, v, h,
                     row_number() OVER (PARTITION BY k ORDER BY h, v)
                       AS rank
              FROM h4),
        st AS (SELECT * FROM r WHERE rank <= 32),
        agg AS (SELECT k, CAST(count(*) AS BIGINT) AS n_sample,
                       max(h) AS hmax
                FROM st GROUP BY k)
        SELECT st.k AS l_returnflag,
               CAST(st.rank AS INT) AS rank,
               st.v AS supp,
               CAST(st.h AS BIGINT) AS hash,
               agg.n_sample,
               agg.n_sample >= 32 AS saturated,
               CASE WHEN agg.n_sample < 32
                    THEN CAST(agg.n_sample AS DOUBLE)
                    ELSE round(31 * 4294967296.0 / agg.hmax, 4)
               END AS ndv_est
        FROM st JOIN agg ON st.k = agg.k
        ORDER BY l_returnflag, rank""")),

    // Misra–Gries heavy-hitter states built per period, MERGED with
    // the standard summed-then-recompressed fold, then read with
    // certified [c_min, c_max] bounds — the banked (subtracted +
    // dropped) mass rides the state as the NULL-item row, so the
    // bound is observable, not a paper formula. The oracle replays
    // the whole three-phase pipeline (two compressions, the fold,
    // the re-compression) in SQL — every subtraction deterministic.
    QueryDef(
      "q263_heavy_hitter_state",
      (s, dir) => {
        import s.implicits._
        val m = 8
        val li = Tables.load(s, dir, "lineitem").select($"l_returnflag".as("rf"),
          $"l_suppkey", year($"l_shipdate").as("yr"))
        def st(df: org.apache.spark.sql.DataFrame) =
          heavyHitterState(df, $"rf", $"l_suppkey", m)
        val merged = mergeHeavyHitters(
          st(li.filter($"yr" <= 1995)), st(li.filter($"yr" >= 1996)), m)
        heavyHittersFromState(merged)
          .select($"k".as("l_returnflag"), $"i".as("supp"),
            $"c_min", $"c_max", $"n_total")
          .orderBy($"l_returnflag", $"c_min".desc, $"supp")
      },
      Some("""
        WITH base AS (
          SELECT l_returnflag AS k, l_suppkey AS i,
                 CASE WHEN year(l_shipdate) <= 1995 THEN 0 ELSE 1 END AS pd
          FROM lineitem),
        cnt AS (SELECT k, i, pd, CAST(count(*) AS BIGINT) AS c
                FROM base GROUP BY k, i, pd),
        rk AS (SELECT k, i, pd, c,
                      row_number() OVER (PARTITION BY k, pd
                                         ORDER BY c DESC, i) AS rn
               FROM cnt),
        thr AS (SELECT k, pd, c AS t FROM rk WHERE rn = 9),
        surv AS (SELECT rk.k, rk.i, rk.pd,
                        rk.c - COALESCE(thr.t, 0) AS c
                 FROM rk LEFT JOIN thr
                   ON rk.k = thr.k AND rk.pd = thr.pd
                 WHERE rk.c - COALESCE(thr.t, 0) > 0),
        bank AS (SELECT cnt.k, cnt.pd,
                        sum(cnt.c) - COALESCE((SELECT sum(s2.c) FROM surv s2
                                               WHERE s2.k = cnt.k
                                                 AND s2.pd = cnt.pd), 0)
                          AS d
                 FROM cnt GROUP BY cnt.k, cnt.pd),
        folded AS (SELECT k, i, CAST(sum(c) AS BIGINT) AS c
                   FROM surv GROUP BY k, i),
        rk2 AS (SELECT k, i, c,
                       row_number() OVER (PARTITION BY k
                                          ORDER BY c DESC, i) AS rn
                FROM folded),
        thr2 AS (SELECT k, c AS t FROM rk2 WHERE rn = 9),
        surv2 AS (SELECT rk2.k, rk2.i,
                         rk2.c - COALESCE(thr2.t, 0) AS c
                  FROM rk2 LEFT JOIN thr2 ON rk2.k = thr2.k
                  WHERE rk2.c - COALESCE(thr2.t, 0) > 0),
        banked AS (SELECT bank.k,
                          sum(bank.d)
                          + (SELECT COALESCE(sum(f.c), 0) FROM folded f
                             WHERE f.k = bank.k)
                          - (SELECT COALESCE(sum(s3.c), 0) FROM surv2 s3
                             WHERE s3.k = bank.k) AS banked
                   FROM bank GROUP BY bank.k),
        tot AS (SELECT k, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY k)
        SELECT surv2.k AS l_returnflag,
               surv2.i AS supp,
               CAST(surv2.c AS BIGINT) AS c_min,
               CAST(surv2.c + banked.banked AS BIGINT) AS c_max,
               tot.n AS n_total
        FROM surv2
        JOIN banked ON surv2.k = banked.k
        JOIN tot ON surv2.k = tot.k
        ORDER BY l_returnflag, c_min DESC, supp""")),

    // the declared-domain footgun's OTHER exit (q237 made violations
    // observable; this removes them): the domain derives from a
    // min/max pre-pass, so n_oob is structurally zero and the
    // half-bin-width contract holds unconditionally. The output is
    // INTEGER-exact — the picked bin plus the domain in cents — so a
    // data-derived domain can never park the answer's rounding on a
    // cross-engine double boundary (the rounded-midpoint form did
    // exactly that at sf0.1: 337821.01725 rounds apart). Bin
    // assignment itself stays deterministic: both engines run the
    // same IEEE ops on the same doubles.
    QueryDef(
      "q277_quantile_auto_domain",
      (s, dir) => {
        import s.implicits._
        val o = Tables.load(s, dir, "orders").select($"o_custkey",
          $"o_totalprice".as("v"))
        val (st, lo, hi) =
          quantileStateAutoDomain(o, $"o_custkey", $"v", bins = 500)
        quantileFromState(st, 0.5, lo, (hi - lo) / 500)
          .select($"k".as("o_custkey"), $"n".as("n_orders"),
            $"n_oob", $"qb".cast("int").as("est_bin"))
          .withColumn("lo_cents",
            expr(s"CAST(round(${lo} * 100) AS BIGINT)"))
          .withColumn("hi_cents",
            expr(s"CAST(round(${hi} * 100) AS BIGINT)"))
          .orderBy($"o_custkey")
      },
      Some("""
        WITH v AS (SELECT o_custkey AS k, o_totalprice AS v FROM orders),
        mm AS (SELECT CAST(min(v) AS DOUBLE) AS lo,
                      CAST(max(v) AS DOUBLE) AS hi FROM v),
        b AS (SELECT k,
                     LEAST(GREATEST(CAST(floor((v - lo)
                                          / ((hi - lo) / 500.0)) AS INT),
                                    0), 499) AS b
              FROM v CROSS JOIN mm),
        cnt AS (SELECT k, b, count(*) AS c FROM b GROUP BY k, b),
        tot AS (SELECT k, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY k),
        cum AS (SELECT k, b, sum(c) OVER (PARTITION BY k ORDER BY b) AS cum
                FROM cnt),
        pick AS (SELECT cum.k, min(cum.b) AS idx
                 FROM cum JOIN tot ON cum.k = tot.k
                 WHERE cum.cum >= ceil(0.5 * tot.n)
                 GROUP BY cum.k)
        SELECT tot.k AS o_custkey,
               tot.n AS n_orders,
               CAST(0 AS BIGINT) AS n_oob,
               CAST(pick.idx AS INT) AS est_bin,
               CAST(round(mm.lo * 100) AS BIGINT) AS lo_cents,
               CAST(round(mm.hi * 100) AS BIGINT) AS hi_cents
        FROM tot
        JOIN pick ON tot.k = pick.k
        CROSS JOIN mm
        ORDER BY o_custkey""")),

    // set-overlap estimation from the two periods' bottom-k sketches
    // alone: which suppliers ship in BOTH eras, as a Jaccard /
    // intersection-size estimate with neither period re-read. The
    // oracle replays both sketches, the exact min-k union, the
    // membership flags, and the estimator arithmetic.
    QueryDef(
      "q271_sketch_intersection_estimate",
      (s, dir) => {
        import s.implicits._
        val kk = 48
        val li = Tables.load(s, dir, "lineitem").select($"l_returnflag".as("rf"),
          $"l_suppkey", year($"l_shipdate").as("yr"))
        def st(df: org.apache.spark.sql.DataFrame) =
          bottomKState(df, $"rf", $"l_suppkey", kk)
        intersectionFromBottomK(
          st(li.filter($"yr" <= 1995)), st(li.filter($"yr" >= 1996)), kk)
          .select($"k".as("l_returnflag"), $"n_union_sample",
            $"n_common", $"jaccard", $"ndv_union_est",
            $"intersection_est")
          .orderBy($"l_returnflag")
      },
      Some("""
        WITH base AS (SELECT l_returnflag AS k, l_suppkey AS v,
                             year(l_shipdate) AS yr
                      FROM lineitem),
        hv AS (SELECT k, v,
                      xor((xor((v * 2654435761) % 4294967296,
                               ((v * 2654435761) % 4294967296) // 65536)
                           * 40503) % 4294967296,
                          ((xor((v * 2654435761) % 4294967296,
                                ((v * 2654435761) % 4294967296) // 65536)
                            * 40503) % 4294967296) // 8192) AS h
               FROM (SELECT DISTINCT k, v FROM base)),
        da AS (SELECT DISTINCT k, v FROM base WHERE yr <= 1995),
        db AS (SELECT DISTINCT k, v FROM base WHERE yr >= 1996),
        ra AS (SELECT da.k, da.v, hv.h,
                      row_number() OVER (PARTITION BY da.k
                                         ORDER BY hv.h, da.v) AS rn
               FROM da JOIN hv ON da.k = hv.k AND da.v = hv.v),
        sta AS (SELECT k, v, h FROM ra WHERE rn <= 48),
        rb AS (SELECT db.k, db.v, hv.h,
                      row_number() OVER (PARTITION BY db.k
                                         ORDER BY hv.h, db.v) AS rn
               FROM db JOIN hv ON db.k = hv.k AND db.v = hv.v),
        stb AS (SELECT k, v, h FROM rb WHERE rn <= 48),
        un AS (SELECT DISTINCT k, v, h FROM
                 (SELECT * FROM sta UNION ALL SELECT * FROM stb)),
        ur AS (SELECT k, v, h,
                      row_number() OVER (PARTITION BY k ORDER BY h, v)
                        AS rn
               FROM un),
        st AS (SELECT k, v, h FROM ur WHERE rn <= 48),
        agg AS (SELECT st.k,
                       CAST(count(*) AS BIGINT) AS n_union_sample,
                       CAST(sum(CASE WHEN sta.v IS NOT NULL
                                      AND stb.v IS NOT NULL
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
                       max(st.h) AS hmax
                FROM st
                LEFT JOIN sta ON st.k = sta.k AND st.v = sta.v
                LEFT JOIN stb ON st.k = stb.k AND st.v = stb.v
                GROUP BY st.k)
        SELECT k AS l_returnflag,
               n_union_sample,
               n_common,
               round(CAST(n_common AS DOUBLE) / n_union_sample, 4)
                 AS jaccard,
               CASE WHEN n_union_sample < 48
                    THEN CAST(n_union_sample AS DOUBLE)
                    ELSE round(47 * 4294967296.0 / hmax, 4) END
                 AS ndv_union_est,
               round(round(CAST(n_common AS DOUBLE) / n_union_sample, 4)
                     * CASE WHEN n_union_sample < 48
                            THEN CAST(n_union_sample AS DOUBLE)
                            ELSE round(47 * 4294967296.0 / hmax, 4) END, 4)
                 AS intersection_est
        FROM agg
        ORDER BY l_returnflag""")),

    // CATEGORICAL drift between the two periods' Misra–Gries states —
    // the q235 move for distributions with no ordering to bin over:
    // surviving items are categories, the banked mass participates as
    // OTHER (sentinel −1) so a shift into the tail is visible, add-one
    // smoothing over the union keeps the formula total. The oracle
    // replays both compressions and the PSI.
    QueryDef(
      "q272_categorical_drift_mg",
      (s, dir) => {
        import s.implicits._
        val m = 8
        val li = Tables.load(s, dir, "lineitem").select($"l_returnflag".as("rf"),
          $"l_suppkey", year($"l_shipdate").as("yr"))
        def st(df: org.apache.spark.sql.DataFrame) =
          heavyHitterState(df, $"rf", $"l_suppkey", m)
        psiFromHeavyHitters(
          st(li.filter($"yr" <= 1995)), st(li.filter($"yr" >= 1996)))
          .select($"k".as("l_returnflag"), $"n_ref", $"n_cur", $"psi")
          .orderBy($"l_returnflag")
      },
      Some("""
        WITH base AS (
          SELECT l_returnflag AS k, l_suppkey AS i,
                 CASE WHEN year(l_shipdate) <= 1995 THEN 0 ELSE 1 END AS pd
          FROM lineitem),
        cnt AS (SELECT k, i, pd, CAST(count(*) AS BIGINT) AS c
                FROM base GROUP BY k, i, pd),
        rk AS (SELECT k, i, pd, c,
                      row_number() OVER (PARTITION BY k, pd
                                         ORDER BY c DESC, i) AS rn
               FROM cnt),
        thr AS (SELECT k, pd, c AS t FROM rk WHERE rn = 9),
        surv AS (SELECT rk.k, rk.i, rk.pd,
                        rk.c - COALESCE(thr.t, 0) AS c
                 FROM rk LEFT JOIN thr
                   ON rk.k = thr.k AND rk.pd = thr.pd
                 WHERE rk.c - COALESCE(thr.t, 0) > 0),
        bank AS (SELECT cnt.k, cnt.pd,
                        sum(cnt.c) - COALESCE((SELECT sum(s2.c) FROM surv s2
                                               WHERE s2.k = cnt.k
                                                 AND s2.pd = cnt.pd), 0)
                          AS d
                 FROM cnt GROUP BY cnt.k, cnt.pd),
        states AS (SELECT k, i, pd, c FROM surv
                   UNION ALL
                   SELECT k, CAST(-1 AS BIGINT) AS i, pd, d AS c
                   FROM bank WHERE d > 0),
        cells AS (
          SELECT k, i,
                 CAST(sum(CASE WHEN pd = 0 THEN c ELSE 0 END) AS BIGINT)
                   AS cr,
                 CAST(sum(CASE WHEN pd = 1 THEN c ELSE 0 END) AS BIGINT)
                   AS cc
          FROM states GROUP BY k, i),
        tot AS (
          SELECT k, count(*) AS u,
                 CAST(sum(cr) AS BIGINT) AS nr,
                 CAST(sum(cc) AS BIGINT) AS nc
          FROM cells GROUP BY k)
        SELECT cells.k AS l_returnflag,
               CAST(max(tot.nr) AS BIGINT) AS n_ref,
               CAST(max(tot.nc) AS BIGINT) AS n_cur,
               round(sum(
                 (CAST(cells.cr + 1 AS DOUBLE) / (tot.nr + tot.u)
                   - CAST(cells.cc + 1 AS DOUBLE) / (tot.nc + tot.u))
                 * ln((CAST(cells.cr + 1 AS DOUBLE) / (tot.nr + tot.u))
                      / (CAST(cells.cc + 1 AS DOUBLE) / (tot.nc + tot.u)))),
                 4) AS psi
        FROM cells JOIN tot ON cells.k = tot.k
        GROUP BY cells.k
        ORDER BY l_returnflag""")),

    // Hellinger + Jensen–Shannon on the SAME persisted states
    // q235/q244 read — the bounded metrics a dashboard thresholds
    // uniformly across keys (PSI is unbounded, KS is sup-only). The
    // oracle replays smoothing, the √ overlap, and both KL terms.
    QueryDef(
      "q264_hellinger_js_drift",
      (s, dir) => {
        import s.implicits._
        val (lo, hi, bins) = (0.0, 500000.0, 500)
        val o = Tables.load(s, dir, "orders").select($"o_orderpriority".as("pri"),
          $"o_totalprice".as("v"), year($"o_orderdate").as("yr"))
        def st(df: org.apache.spark.sql.DataFrame) =
          quantileState(df, $"pri", $"v", lo, hi, bins)
        hellingerJsFromStates(
          st(o.filter($"yr" <= 1995)), st(o.filter($"yr" >= 1996)))
          .select($"k".as("o_orderpriority"), $"n_ref", $"n_cur",
            $"hellinger", $"js")
          .orderBy($"o_orderpriority")
      },
      Some("""
        WITH v AS (
          SELECT o_orderpriority AS k, o_totalprice AS v,
                 CASE WHEN year(o_orderdate) <= 1995 THEN 1 ELSE 0 END AS r
          FROM orders),
        b AS (SELECT k, r,
                     LEAST(GREATEST(CAST(floor(v / 1000.0) AS INT), 0), 499)
                       AS b
              FROM v),
        cells AS (
          SELECT k, b,
                 CAST(sum(r) AS BIGINT) AS cr,
                 CAST(sum(1 - r) AS BIGINT) AS cc
          FROM b GROUP BY k, b),
        tot AS (
          SELECT k, count(*) AS u,
                 CAST(sum(cr) AS BIGINT) AS nr,
                 CAST(sum(cc) AS BIGINT) AS nc
          FROM cells GROUP BY k),
        p AS (
          SELECT cells.k,
                 CAST(cells.cr + 1 AS DOUBLE) / (tot.nr + tot.u) AS pr,
                 CAST(cells.cc + 1 AS DOUBLE) / (tot.nc + tot.u) AS pc,
                 tot.nr, tot.nc
          FROM cells JOIN tot ON cells.k = tot.k)
        SELECT k AS o_orderpriority,
               CAST(max(nr) AS BIGINT) AS n_ref,
               CAST(max(nc) AS BIGINT) AS n_cur,
               round(sqrt(GREATEST(0, 1 - sum(sqrt(pr * pc)))), 4)
                 AS hellinger,
               round(sum(pr * ln(pr / ((pr + pc) / 2)) / 2
                         + pc * ln(pc / ((pr + pc) / 2)) / 2), 4) AS js
        FROM p
        GROUP BY k
        ORDER BY o_orderpriority"""))
  )
}
