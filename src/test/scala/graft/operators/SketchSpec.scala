package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Laws behind q164's mergeable-sketch pattern: DataSketches HLL
  * sketches over the same value set merge to the SAME sketch no matter
  * how the data was grouped first — union_agg(sketch per group) is
  * grouping-invariant and equals the direct whole-table sketch. This is
  * the property that lets 100 TB pipelines sketch each shard/day once
  * and answer any cross-cut later without re-scanning. */
class SketchSpec extends SparkSpec {

  test("hll_union_agg estimate is invariant to how rows were grouped") {
    val df = spark.range(100000)
      .selectExpr("id % 5000 AS v", "id % 7 AS g7", "id % 3 AS g3")
      .cache()
    def merged(groupCol: String): Long = df
      .groupBy(col(groupCol))
      .agg(expr("hll_sketch_agg(v, 14)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("e"))
      .collect()(0).getLong(0)
    val direct = df
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(v, 14))").as("e"))
      .collect()(0).getLong(0)
    val by7 = merged("g7")
    val by3 = merged("g3")
    // same value set -> identical registers -> identical estimate,
    // regardless of grouping (merge = per-register max, associative)
    assert(by7 == direct && by3 == direct,
      s"grouping changed the merged estimate: direct=$direct by7=$by7 by3=$by3")
    // and the estimate honors the lgK=14 accuracy contract (<<5% here)
    assert(math.abs(direct - 5000L) <= 250,
      s"estimate $direct outside 5% of true 5000")
    df.unpersist()
  }

  test("sketches survive parquet persistence: store per-group, merge later") {
    // the workflow the pattern promises at 100 TB: sketch each partition
    // once, PERSIST the binary sketch column, answer cross-cuts later
    // from the stored sketches alone — no re-scan of the base data
    val dir = tempPath("sketches_").toString + "/sk"
    val df = spark.range(50000).selectExpr("id % 2000 AS v", "id % 5 AS g")
    df.groupBy(col("g")).agg(expr("hll_sketch_agg(v, 14)").as("sk"))
      .write.parquet(dir)
    val live = df
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(v, 14))"))
      .collect()(0).getLong(0)
    val fromDisk = spark.read.parquet(dir)
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))"))
      .collect()(0).getLong(0)
    assert(fromDisk == live,
      s"stored-sketch merge $fromDisk != live sketch $live")
  }

  test("quantile state is grouping-invariant: merged batch sketches " +
      "equal the whole-table sketch bit-for-bit") {
    import spark.implicits._
    val (lo, hi, bins) = (0.0, 1000.0, 100)
    val df = spark.range(20000)
      .selectExpr("id % 37 AS k",
        "CAST((id * 131) % 1000 AS DOUBLE) AS v",
        "id % 4 AS batch")
      .cache()
    def state(filtered: org.apache.spark.sql.DataFrame) =
      Maintenance.quantileState(filtered, col("k"), col("v"), lo, hi, bins)
    val whole = state(df)
    // fold per-batch states in two DIFFERENT orders — exact vector add
    // must make both identical to the direct whole-table state
    val batches = (0 to 3).map(i => state(df.filter($"batch" === i)))
    val mergedFwd = batches.reduce(Maintenance.mergeQuantileState)
    val mergedRev = batches.reverse.reduce(Maintenance.mergeQuantileState)
    def rows(s: org.apache.spark.sql.DataFrame) =
      s.orderBy($"k", $"b").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val w = rows(whole)
    assert(rows(mergedFwd) == w, "forward merge != whole-table state")
    assert(rows(mergedRev) == w, "reverse merge != whole-table state")
    // and the estimate honors the half-bin-width accuracy contract
    // against the exact discrete quantile, at several percentiles
    for (p <- Seq(0.1, 0.5, 0.9)) {
      val wid = (hi - lo) / bins
      val est = Maintenance.quantileFromState(mergedFwd, p, lo, wid)
        .select($"k", $"q").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val exact = df.groupBy($"k")
        .agg(expr(s"""element_at(sort_array(collect_list(v)),
                      CAST(ceil($p * count(1)) AS INT))""").as("ex"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      exact.foreach { case (k, ex) =>
        assert(math.abs(est(k) - ex) <= wid / 2 + 1e-9,
          s"p=$p key=$k est=${est(k)} exact=$ex exceeds half-bin bound")
      }
    }
    df.unpersist()
  }

  test("weighted quantile state == unweighted state of weight-expanded " +
      "rows; the sweep agrees with single-p reads") {
    import spark.implicits._
    val (lo, hi, bins) = (0.0, 100.0, 50)
    val wid = (hi - lo) / bins
    val rows = Seq((1L, 10.0, 3L), (1L, 55.0, 1L), (1L, 80.0, 2L),
      (2L, 5.0, 5L), (2L, 95.0, 1L))
    val weighted = Maintenance.weightedQuantileState(
      rows.toDF("k", "v", "w"), col("k"), col("v"), col("w"), lo, hi, bins)
    val expanded = Maintenance.quantileState(
      rows.flatMap { case (k, v, w) => Seq.fill(w.toInt)((k, v)) }
        .toDF("k", "v"), col("k"), col("v"), lo, hi, bins)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"k", $"b").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(cells(weighted) == cells(expanded),
      "weight w must equal w repeated unit observations, cell for cell")
    // sweep vs single-p: identical (k, p) -> q
    val sweep = Maintenance
      .quantilesFromState(weighted, Seq(0.5, 0.9), lo, wid)
      .select(col("k"), col("p"), col("q"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    for (p <- Seq(0.5, 0.9)) {
      Maintenance.quantileFromState(weighted, p, lo, wid)
        .select(col("k"), col("q"))
        .collect().foreach { r =>
          assert(sweep((r.getLong(0), p)) == r.getDouble(1),
            s"sweep and single-p read disagree at p=$p")
        }
    }
  }

  test("quantile state survives parquet persistence and clamps " +
      "out-of-domain values to edge bins") {
    import spark.implicits._
    val (lo, hi, bins) = (0.0, 100.0, 10)
    val dir = tempPath("qstate_").toString + "/st"
    val df = Seq((1L, -50.0), (1L, 5.0), (1L, 95.0), (1L, 250.0))
      .toDF("k", "v")
    Maintenance.quantileState(df, col("k"), col("v"), lo, hi, bins)
      .write.parquet(dir)
    val stRows = spark.read.parquet(dir)
      .select(col("b"), col("c"), col("o")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val st = stRows.view.mapValues(_._1).toMap
    // sparse long form: only occupied bins carry rows
    assert(st.size == 2, s"expected 2 occupied bins, got $st")
    assert(st(0) == 2L, "below-domain value must clamp into bin 0")
    assert(st(bins - 1) == 2L, "above-domain value must clamp into last bin")
    assert(st.values.sum == 4L)
    // and the clamped mass is OBSERVABLE: each edge bin carries exactly
    // one oob observation alongside its one in-domain neighbor
    assert(stRows(0)._2 == 1L && stRows(bins - 1)._2 == 1L,
      s"edge bins must count their clamped-in oob mass, got $stRows")
  }

  test("KS from states: identical states give exactly 0, the statistic " +
      "matches a driver-side binned KS, and merged batch states give " +
      "the same answer as the one-shot state") {
    import spark.implicits._
    val (lo, hi, bins) = (0.0, 100.0, 20)
    val refRows = (1 to 200).map(i => (i % 3).toLong -> (i % 97) * 1.0)
    val curRows = (1 to 150).map(i => (i % 3).toLong -> ((i % 80) + 15.0))
    def st(rows: Seq[(Long, Double)]) = Maintenance.quantileState(
      rows.toDF("k", "v"), col("k"), col("v"), lo, hi, bins)
    val ref = st(refRows)
    // self-comparison is exactly zero for every key
    Maintenance.ksFromStates(ref, ref).select($"ks").collect()
      .foreach(r => assert(r.getDouble(0) == 0.0))
    // driver-side referee: binned cdf sup-difference per key
    val got = Maintenance.ksFromStates(ref, st(curRows))
      .select($"k", $"ks").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def binned(rows: Seq[(Long, Double)]) = rows
      .groupBy(_._1).view.mapValues { vs =>
        vs.map(v => math.min(math.max(math.floor(v._2 / 5.0).toInt, 0), 19))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
      }.toMap
    val (rb, cb) = (binned(refRows), binned(curRows))
    for (k <- rb.keys) {
      val (nr, nc) = (rb(k).values.sum.toDouble, cb(k).values.sum.toDouble)
      var (cumr, cumc, sup) = (0L, 0L, 0.0)
      for (b <- 0 until bins) {
        cumr += rb(k).getOrElse(b, 0L); cumc += cb(k).getOrElse(b, 0L)
        sup = math.max(sup, math.abs(cumr / nr - cumc / nc))
      }
      assert(math.abs(got(k) - (math.rint(sup * 10000) / 10000)) <= 1e-9,
        s"key $k: state KS ${got(k)} != referee $sup")
    }
    // merge-invariance: batch-folded states answer identically
    val halves = Seq(refRows.take(100), refRows.drop(100)).map(st)
    val merged = Maintenance.mergeQuantileState(halves(0), halves(1))
    val viaMerge = Maintenance.ksFromStates(merged, st(curRows))
      .select($"k", $"ks").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaMerge == got)
    // a key present in only ONE period is MAXIMAL drift, reported as
    // ks = 1.0 — not the silent NULL a zero divisor would produce
    val oneSided = Maintenance.ksFromStates(
      ref, st(curRows.filter(_._1 != 0L)))
      .select($"k", $"ks").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getDouble(1)))).toMap
    assert(oneSided(0L).contains(1.0),
      s"disappeared key must report ks=1.0, got ${oneSided(0L)}")
    assert(oneSided(1L).exists(_ < 1.0))
  }

  test("n_oob rides the state through merge, and the half-bin accuracy " +
      "contract is asserted ONLY where n_oob = 0") {
    import spark.implicits._
    val (lo, hi, bins) = (0.0, 100.0, 10)
    val wid = (hi - lo) / bins
    // key 1: fully in-domain; key 2: half its mass above the domain —
    // its p90 is a clamp artifact the counter must expose
    val inDom = (1 to 20).map(i => (1L, i * 5.0 - 2.5))
    val oob = (1 to 10).map(i => (2L, i * 9.0)) ++
      (1 to 10).map(i => (2L, 150.0 + i))
    val df = (inDom ++ oob).toDF("k", "v")
    val halves = Seq(df.filter($"v" <= 50), df.filter($"v" > 50))
      .map(Maintenance.quantileState(_, col("k"), col("v"), lo, hi, bins))
    val merged = Maintenance.mergeQuantileState(halves(0), halves(1))
    val read = Maintenance.quantileFromState(merged, 0.9, lo, wid)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(read(1L) == ((20L, 0L, read(1L)._3)), "key 1 must report n_oob=0")
    assert(read(2L)._1 == 20L && read(2L)._2 == 10L,
      s"key 2 must report its 10 clamped observations, got ${read(2L)}")
    // the accuracy contract holds for the clean key...
    val exact1 = inDom.map(_._2).sorted.apply(math.ceil(0.9 * 20).toInt - 1)
    assert(math.abs(read(1L)._3 - exact1) <= wid / 2 + 1e-9)
    // ...and is NOT claimed for the contaminated key: its true p90 (150+)
    // sits outside the domain entirely — the estimate can only say
    // "top bin", which n_oob > 0 flags as untrustworthy
    assert(read(2L)._3 == hi - wid / 2,
      "clamped mass must surface as the top-bin midpoint, flagged by n_oob")
    // psiDrift surfaces the same counters per side
    val drift = Maintenance.psiDrift(halves(0), halves(1))
      .select($"k", $"n_oob_ref", $"n_oob_cur").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(drift(2L) == ((0L, 10L)),
      s"oob mass arrived in the >50 half only, got ${drift(2L)}")
    assert(drift(1L) == ((0L, 0L)))
  }
}
