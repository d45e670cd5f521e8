package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Materialize, Tables}

/** Iterative graph compute: PageRank on an exact integer grid. The
  * companion of q100's connected components (pointer jumping) — where CC
  * converges in O(log d) rounds, PageRank is the fixed-iteration
  * propagate-and-sum shape most "importance over a relationship graph"
  * jobs reduce to. The reference could only express one iteration per
  * scheduled job, re-reading everything in between
  * (`/root/reference/scheduler.py:496-533`).
  *
  * Determinism: ranks live on a 1e-6 integer grid (longs), contributions
  * are integer divisions (`rank div deg`), damping is `(85 * x) div 100`
  * — no floating point anywhere, so Spark and the unrolled DuckDB replay
  * agree bit-for-bit, iteration by iteration (same trick as the q158
  * k-means geometry; floor-div rank leak is deliberate and identical in
  * both engines).
  *
  * Scale shape per iteration: ONE shuffle — contributions grouped by
  * dst (combiner-reduced map-side). The edge list joins the rank frame
  * on src; both sides hash-partition on the node id, and AQE reuses the
  * edge side's layout across iterations (edges+degrees are computed
  * once and cached). The driver holds two scalars (node count, loop
  * counter), never data.
  */
object Graph {

  private val S = 1000000L // rank grid: 1.0 == 1e6

  /** PageRank over a directed edge list (src, dst) for `iters`
    * fixed iterations, damping 0.85, on the integer grid. Every node
    * must appear as a src (feed a symmetrized edge list for undirected
    * graphs — that also rules out dangling-node rank loss). */
  def pageRank(edges: DataFrame, iters: Int): DataFrame =
    prLoop(edges, seedsOpt = None, iters)

  /** The shared propagate-and-sum loop behind [[pageRank]] (uniform
    * teleport: every node is a "seed") and [[personalizedPageRank]]
    * (teleport pinned to the seed set). One combiner-reduced shuffle per
    * iteration; PERIODIC lineage truncation, not per-iteration — each
    * rank frame is referenced once (the next round), so unlike LPA/k-hop
    * there is no recompute fan-out to cut; the only thing that grows is
    * the plan tree, and eager per-round materialization measured 5x
    * slower than letting rounds pipeline in one fused job (codegen +
    * ReusedExchange do the work). Every 5th round bounds plan depth and
    * failure re-execution for deep iteration counts.
    *
    * Hygiene: the LAZY [[graft.engine.Materialize.adopt]] variant, not
    * the eager handoff — PageRank's defining perf property is that one
    * caller action runs ALL rounds in one fused adaptive job, and the
    * round-9 bench caught the eager final checkpoint costing 2-3x
    * (q181 5.5s vs 1.9s median, retry-confirmed) before this was
    * reverted. Superseded in-loop checkpoints are still freed at each
    * checkpoint boundary; e2/nodes and the last checkpoint are
    * registered against the returned frame — `Materialize.free(result)`
    * releases them deterministically. */
  private def prLoop(edges: DataFrame, seedsOpt: Option[DataFrame],
      iters: Int, weightCol: Option[String] = None): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // weighted: parallel edges collapse by weight-SUM and a node's
    // out-mass splits proportionally to edge weight — the unweighted
    // path is the w=1 special case of the same integer arithmetic
    // ((rank * 1) div deg == rank div deg), so both variants share one
    // loop body and one oracle shape
    val e = weightCol match {
      case Some(wc) => edges
        .select($"src", $"dst", col(wc).cast("long").as("w"))
        .groupBy($"src", $"dst").agg(sum($"w").as("w"))
      case None => edges.select($"src", $"dst").distinct()
        .withColumn("w", lit(1L))
    }
    val deg = e.groupBy($"src").agg(sum($"w").as("deg"))
    val e2 = e.join(deg, "src").cache()
    val allNodes = e.select($"src".as("node")).distinct()
    val nodes = (seedsOpt match {
      case Some(sd) => allNodes
        .join(sd.select($"node").distinct().withColumn("_s", lit(1)),
          Seq("node"), "left")
        .withColumn("seed", $"_s".isNotNull).drop("_s")
      case None => allNodes.withColumn("seed", lit(true))
    }).cache()
    val nTele = nodes.filter($"seed").count() // one scalar to the driver
    require(nTele > 0,
      if (seedsOpt.isDefined) "no seed intersects the graph" else "empty graph")
    val base = (15L * S) / (100L * nTele)
    var r = nodes
      .withColumn("rank", when($"seed", lit(S / nTele)).otherwise(lit(0L)))
      .select($"node", $"rank")
    var superseded: List[DataFrame] = List(e2, nodes)
    for (i <- 1 to iters) {
      // SHUFFLE_HASH on the rank side (q188's wedge-join discipline):
      // these per-round joins sit mid-plan in one fused adaptive job, so
      // AQE never revisits them and the static pick was sort-merge —
      // which re-SORTS the edge frame AND the rank frame every round.
      // Hashing the node-scale rank side per partition costs O(nodes/P)
      // memory (safe at any total scale — P grows with the data) and
      // lets the edge side stream through unsorted.
      // hint skips the size check: O(nodes/P) holds while P grows with nodes
      val contribs = e2.join(r.hint("shuffle_hash"),
          e2("src") === r("node"))
        .select($"dst", expr("(rank * w) div deg").as("c"))
        .groupBy($"dst").agg(sum($"c").as("sc"))
      r = nodes.join(contribs, nodes("node") === contribs("dst"), "left")
        .select($"node",
          (when($"seed", lit(base)).otherwise(lit(0L))
            + expr("(85 * coalesce(sc, 0L)) div 100")).as("rank"))
      if (i % 5 == 0 && i < iters) {
        r = r.localCheckpoint() // eager — the PREVIOUS checkpoint is now dead
        superseded.filterNot(f => (f eq e2) || (f eq nodes))
          .foreach(Materialize.free)
        superseded = List(e2, nodes, r)
      }
    }
    Materialize.adopt(r, superseded)
  }

  /** Personalized PageRank: importance RELATIVE TO A SEED SET — the
    * restart mass returns to the seeds (uniformly) instead of all nodes,
    * so rank decays with distance from the seeds and untouched regions
    * stay at zero. The "items for THIS cohort" / fraud-locality variant
    * of [[pageRank]]; same integer-grid determinism (teleport term
    * (15·S) div (100·|seeds∩nodes|) added on seed rows only), same
    * one-combiner-shuffle-per-iteration scale shape, same periodic
    * lineage cadence. Seeds outside the graph carry no mass (dropped by
    * the node intersection) — mirroring the convention that rank lives
    * on the edge list's node set. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame =
    prLoop(edges, seedsOpt = Some(seeds), iters)

  /** Edge-weighted PageRank: a node's out-mass splits PROPORTIONALLY TO
    * EDGE WEIGHT instead of uniformly — contribution per edge is
    * (rank·w) div Σw_out, still on the exact integer grid (the
    * unweighted operator is the w=1 case of the same loop). Parallel
    * edges collapse by weight-sum. The "how much did they trade"
    * refinement of [[pageRank]] — same one-combiner-shuffle-per-round
    * scale shape, same periodic lineage cadence. Overflow posture:
    * rank ≤ S = 10⁶, so per-edge weights up to ~10¹² stay inside Long.
    * `edges` must carry `src`, `dst`, and `weightCol` (integral). */
  def weightedPageRank(edges: DataFrame, iters: Int,
      weightCol: String = "w"): DataFrame =
    prLoop(edges, seedsOpt = None, iters, weightCol = Some(weightCol))

  /** Exact triangle count over an undirected edge list, by
    * degree-ordered orientation (the Cohen / Suri–Vassilvitskii
    * MapReduce algorithm, public literature): orient every edge from
    * its lower-(degree, id) endpoint to the higher, enumerate wedges
    * only from each node's OUT-neighbors, and close them against the
    * oriented edge set.
    *
    * Why this survives 100 TB graphs where the naive 3-way self-join
    * dies: wedge count under this orientation is Σ C(outdeg, 2) =
    * O(m^1.5) total — a hub of degree 10^6 contributes nothing from its
    * in-side, so the skew that makes id-ordered enumeration explode
    * (every low-id hub pairs all its neighbors) is structurally capped.
    * All three steps are equi-joins (hash-partitioned on node ids);
    * nothing is ever broadcast or collected.
    *
    * Input: one row per undirected edge, any orientation, self-loops
    * and duplicates tolerated (normalized away). Output: one row
    * (n_nodes, n_edges, n_triangles). */
  def triangleCount(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // dir below is referenced three times (both wedge sides + the closing
    // semi-join) on THREE DIFFERENT join keys — no ReusedExchange can
    // dedupe them, so un-materialized it would re-run the whole
    // edge-normalization pipeline per reference (the q100 recompute-storm
    // lesson). cache(), not localCheckpoint(): lazy, so the first wedge
    // stage populates it in passing with no separate materialization job
    // (eager checkpointing here measured ~1.7x slower end-to-end), while
    // still guaranteeing the other two consumers read, never recompute.
    // e and deg are deliberately NOT cached: their recompute is one scan
    // each, cheaper than holding two more edge-scale frames in the block
    // manager while the wedge join runs (measured: checkpointing them
    // added GC pressure, not speed)
    val e = edges.select(
      least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
      .filter($"u" =!= $"v").distinct()
    val deg = e.select($"u".as("n")).unionAll(e.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    val tagged = e
      .join(deg.select($"n".as("u"), $"d".as("du")), Seq("u"))
      .join(deg.select($"n".as("v"), $"d".as("dv")), Seq("v"))
    // orient toward the higher (degree, id); carry the dst's rank pair
    // so wedge endpoints can be ordered without another join
    val dir = tagged.select(
      when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u")
        .otherwise($"v").as("src"),
      when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v")
        .otherwise($"u").as("dst"),
      when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"dv")
        .otherwise($"du").as("dd"))
      .cache()
    val wedges = dir.select($"src".as("a"), $"dst".as("b"), $"dd".as("db"))
      .join(dir.select($"src".as("a"), $"dst".as("c"), $"dd".as("dc")),
        Seq("a"))
      .filter($"db" < $"dc" || ($"db" === $"dc" && $"b" < $"c"))
    // the closing check stays a plain (b,c) semi-join over wedge
    // INSTANCES: pre-aggregating instances to per-pair multiplicities
    // (map-side combine before the shuffle) was measured and REJECTED —
    // on this co-purchase graph wedge pairs are 80% distinct (41.1M
    // instances vs 32.7M pairs at sf0.1), so the extra hash aggregate
    // costs more than the 20% shuffle-row saving; revisit only for
    // graphs with strong community structure where multiplicities
    // actually collapse. The O(m^1.5) wedge shuffle is the algorithm's
    // inherent cost and the orientation already bounds it.
    // SHUFFLE_HASH on the edge side: the default sort-merge strategy
    // sorts the O(m^1.5) wedge stream before probing — the single
    // largest cost in the plan — while hashing the m-row edge side per
    // partition costs O(m/partitions) memory and lets wedges stream
    // through unsorted. (A broadcast is deliberately NOT forced: dir is
    // SF-scaled; AQE may still choose one at runtime if it shrinks.)
    val tri = wedges.join(
      dir.select($"src".as("b"), $"dst".as("c")).hint("shuffle_hash"),
      Seq("b", "c"), "left_semi")
    // node/edge counts read the CACHED dir (one row per normalized
    // undirected edge; every node is an edge endpoint), not the raw
    // e/deg pipelines — the r18 event-log profile showed those two
    // aggregates re-running the scan+join+distinct subtree that dir's
    // materialization already paid for
    val nn = dir.select($"src".as("n")).unionAll(dir.select($"dst".as("n")))
      .distinct().agg(count(lit(1)).as("n_nodes"))
    val ne = dir.agg(count(lit(1)).as("n_edges"))
    // Materialize-contract handoff: the 1-row result is checkpointed
    // (trivial) so the edge-scale dir cache can be freed before return
    Materialize.handoff(
      nn.crossJoin(ne).crossJoin(tri.agg(count(lit(1)).as("n_triangles"))),
      Seq(dir))
  }

  /** Synchronous label propagation (community detection) for a fixed
    * number of iterations over a SYMMETRIC edge list. Every node starts
    * as its own community (label = node id); each round it adopts the
    * most frequent label among its neighbors, ties broken toward the
    * smallest label — fully deterministic, unlike the
    * randomized-asynchronous textbook variant. The pick is encoded as
    * one exact integer comparator (count·10¹² − label) so max_by needs
    * no struct ordering and the oracle replays it bit-for-bit; valid
    * while node ids stay in [0, 10¹²) — checked in-plan with
    * raise_error — and degrees below ~9·10⁶.
    *
    * Scale shape per iteration: TWO combiner-reduced shuffles — the
    * (dst, label) count and the per-dst argmax — plus the edges⋈labels
    * equi-join, all hash-partitioned on node ids. No driver data, no
    * broadcast of anything SF-scaled; O(iters) rounds like q181. */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame =
    lpaLoop(edges, iters, weightCol = None)

  /** Edge-weighted label propagation: neighbor votes count Σw instead
    * of 1 per edge — "adopt the label of the community you trade MOST
    * with". Same two-shuffle-per-round shape as [[labelPropagation]]
    * (that operator is the w=1 case). Comparator bound tightens from
    * degree to WEIGHTED degree: Σw per (node, label) must stay below
    * ~9·10⁶ for the exact integer comparator (checked nowhere cheaper
    * than the caller — at 100 TB scale pre-bucket weights or drop to a
    * struct-ordered max_by). */
  def weightedLabelPropagation(edges: DataFrame, iters: Int,
      weightCol: String = "w"): DataFrame =
    lpaLoop(edges, iters, weightCol = Some(weightCol))

  private def lpaLoop(edges: DataFrame, iters: Int,
      weightCol: Option[String]): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val K = 1000000000000L
    // the edge frame feeds every round's count join plus the initial
    // label build — cache it once (pageRank's e2/nodes discipline;
    // un-cached, the upstream edge derivation re-runs per round)
    val e = (weightCol match {
      case Some(wc) => edges
        .select($"src", $"dst", col(wc).cast("long").as("w"))
        .groupBy($"src", $"dst").agg(sum($"w").as("w"))
      case None => edges.select($"src", $"dst").distinct()
        .withColumn("w", lit(1L))
    }).cache()
    // the comparator needs label < K; checked in-plan (row-local, no
    // extra job) rather than trusted to the scaladoc
    var lab = e.select($"src".as("node")).distinct()
      .withColumn("label",
        when($"node" >= 0 && $"node" < K, $"node")
          .otherwise(raise_error(concat(
            lit(s"labelPropagation: node id out of [0, $K): "), $"node"))))
    var superseded: List[DataFrame] = List(e)
    for (i <- 1 to iters) {
      // SHUFFLE_HASH on the label side — same rationale as prLoop: the
      // per-round join is mid-plan (AQE can't rewrite it), sort-merge
      // re-sorted edges AND labels every round, and the node-scale label
      // side hashes in O(nodes/P) per partition at any total scale
      // hint skips the size check: O(nodes/P) holds while P grows with nodes
      val cnt = e.join(lab.hint("shuffle_hash"), e("src") === lab("node"))
        .groupBy($"dst", $"label").agg(sum($"w").as("c"))
      lab = cnt.groupBy($"dst".as("node"))
        .agg(max_by($"label", $"c" * K - $"label").as("label"))
      // label frame is referenced once (next round) — periodic lineage
      // truncation only, same cadence rationale as pageRank above
      if (i % 5 == 0 && i < iters) {
        lab = lab.localCheckpoint() // eager — prior checkpoint now dead
        superseded.filterNot(_ eq e).foreach(Materialize.free)
        superseded = List(e, lab)
      }
    }
    // LAZY adopt, not eager handoff, for the same reason as prLoop: the
    // remaining rounds pipeline in the caller's single adaptive job
    // (A/B at sf0.1: eager final checkpoint cost ~25% end-to-end);
    // free(result) releases the edge cache + last checkpoint
    Materialize.adopt(lab, superseded)
  }

  /** Multi-source BFS distance labeling: min hop count from any source
    * node, capped at `maxHops` — k-hop reachability (fraud rings, blast
    * radius, influence neighborhoods). Frontier-style expansion: round h
    * joins edges against ONLY the nodes first reached at h-1, so each
    * edge is traversed once per endpoint-reach, not once per round.
    *
    * Scale shape: O(maxHops) rounds of one equi-join (hash-partitioned
    * on node id) + one min-combine; the distance frame is referenced
    * twice per round (frontier filter + union-merge), so each round's
    * frame is CACHED — lazily re-expanding it would re-run all prior
    * rounds multiplicatively (the q100 recompute-storm lesson) — and
    * every 5th round is localCheckpoint'd to bound plan depth on deep
    * hop counts (lazy cache for sharing, periodic checkpoint for
    * lineage; eager per-round checkpointing measured ~15% slower at 3
    * hops). Nothing driver-side but the loop counter. */
  def khopDistances(edges: DataFrame, sources: DataFrame,
      maxHops: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // one frontier join per hop all probe the same edge frame — cache it
    val e = edges.select($"src", $"dst").distinct().cache()
    var dist = sources.select($"node").distinct()
      .withColumn("d", lit(0L)).cache()
    // cached/checkpointed round frames superseded at the NEXT eager
    // materialization; a localCheckpoint is eager, so once it
    // materializes everything upstream of it — cached rounds AND the
    // previous checkpoint's blocks — is dead weight in the block
    // manager. (Without this, deep hop counts leak one node-scale
    // frame per round into library callers — the Verify/Bench
    // clearCache masked it.)
    var pending = List(dist)
    for (h <- 1 to maxHops) {
      val reached = e.join(dist.filter($"d" === h - 1),
          e("src") === $"node")
        .select($"dst".as("node"), lit(h.toLong).as("d"))
      dist = dist.unionAll(reached)
        .groupBy($"node").agg(min($"d").as("d"))
      // lazy cache guards the per-round double reference (frontier filter
      // + union-merge) without an eager per-round job; periodic
      // localCheckpoint bounds plan depth on deep hop counts (the r7
      // materialization-cadence rule: cache for sharing, checkpoint for
      // lineage, eager only when fan-out demands it)
      if (h % 5 == 0 && h < maxHops) {
        dist = dist.localCheckpoint() // eager — superseded frames now safe
        pending.foreach(Materialize.free)
        pending = List(dist) // this checkpoint dies at the next one
      } else {
        dist = dist.cache()
        pending ::= dist
      }
    }
    // EAGER handoff: A/B'd against the lazy adopt variant at sf0.1 —
    // neutral here (the per-round caches already break the fused
    // pipeline), so the stronger guarantee wins: node-scale distances
    // checkpointed, edge cache and every pending round frame freed,
    // nothing pinned even if the caller never calls free
    Materialize.handoff(dist, e :: pending)
  }

  /** Bounded k-core peel: `rounds` rounds of "drop every node with
    * degree < k, and its incident edges" over an undirected
    * (both-direction) edge list; returns surviving nodes with their
    * residual degree. The k-core is the standard graph-quality cut
    * (spam/bot fringes peel off; the dense core survives) — the
    * fixed-round form mirrors the engine's other bounded loops
    * (PageRank/LPA): converged iff one more round is a fixed point,
    * replayable by an unrolled oracle.
    *
    * Scale shape: each round is one degree aggregation (hash on src)
    * plus two semi-shaped joins of the edge frame against the
    * surviving-node set. The node set feeds BOTH joins, and the rename
    * the second join needs (node → node2) defeats ReuseExchange's
    * subtree canonicalization — so it is cached explicitly (node-scale,
    * one aggregation per round instead of two). The edge frame is
    * cached per round for the same sharing reason; every other round
    * is localCheckpoint'd (eager) after which superseded caches are
    * unpersisted — the khop cadence: lazy cache for sharing, periodic
    * checkpoint for lineage, nothing leaks to library callers. Nothing
    * driver-side but the loop counter. */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    kCoreLoop(edges, k.toDouble, rounds, weightCol = None)
  }

  /** Strength-based peel — [[kCore]] with degree generalized to Σw
    * (node strength): "drop every node whose total trade volume is
    * below k". The unweighted peel is the w=1 case; same per-round
    * shape, same cache/checkpoint cadence, same unrolled oracle. */
  def weightedKCore(edges: DataFrame, minStrength: Double, rounds: Int,
      weightCol: String = "w"): DataFrame = {
    // fractional floors are legitimate on fractional weights — only
    // positivity is required (the unweighted integer-k constraint
    // must not leak into the Double threshold)
    require(minStrength > 0, "minStrength must be positive")
    kCoreLoop(edges, minStrength, rounds, weightCol = Some(weightCol))
  }

  private def kCoreLoop(edges: DataFrame, k: Double, rounds: Int,
      weightCol: Option[String]): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    require(rounds >= 1, "rounds must be positive")
    var e = (weightCol match {
      case Some(wc) => edges
        .select($"src", $"dst", col(wc).cast("double").as("w"))
        .groupBy($"src", $"dst").agg(sum($"w").as("w"))
      case None => edges.select($"src", $"dst").distinct()
        .withColumn("w", lit(1.0d))
    }).cache()
    var pending: List[DataFrame] = List(e)
    for (r <- 1 to rounds) {
      val keep = e.groupBy($"src").agg(sum($"w").as("deg"))
        .filter($"deg" >= k)
        .select($"src".as("node"))
        .cache()
      pending ::= keep
      // deliberately NO shuffle_hash hint here (unlike prLoop/lpaLoop):
      // the post-filter keep set shrinks fast and the planner already
      // broadcasts it — a forced shuffle-hash measured ~15% SLOWER
      // (r19 interleaved A/B, q223 3.3 -> 3.9, q227 2.8 -> 3.2)
      e = e.join(keep, e("src") === keep("node"))
        .select($"src", $"dst", $"w")
        .join(keep.select($"node".as("node2")), $"dst" === $"node2")
        .select($"src", $"dst", $"w")
      if (r % 2 == 0 && r < rounds) {
        e = e.localCheckpoint() // eager — superseded frames now safe
        pending.foreach(Materialize.free)
        pending = List(e) // this checkpoint dies at the next one
      } else {
        e = e.cache()
        pending ::= e
      }
    }
    // EAGER handoff (A/B'd vs lazy adopt at sf0.1: neutral — per-round
    // caches already break the fused pipeline, so the stronger
    // guarantee wins): the node-scale residual-degree result is
    // checkpointed and EVERY round frame — including the final round's
    // cached keep/e, which the pre-contract version leaked — is freed
    Materialize.handoff(
      weightCol match {
        case Some(_) => e.groupBy($"src".as("node"))
          .agg(round(sum($"w"), 4).as("strength"))
        case None => e.groupBy($"src".as("node"))
          .agg(count(lit(1)).as("deg"))
      },
      pending)
  }

  // ------------------------------------------------------------------
  // fixture-bound oracle queries
  // ------------------------------------------------------------------

  /** Customer–supplier trade graph: an undirected edge per distinct
    * (customer, supplier) pair that traded, nodes namespaced by parity
    * (customer = 2·custkey, supplier = 2·suppkey + 1). */
  private def tradeEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.load(s, dir, "orders")
    // fan the big side: orders broadcasts, so the join + the distinct's
    // partial aggregate run in lineitem's scan stage — serialized by an
    // under-parallel scan without this (no-op at real scale)
    val l = Tables.fanout(Tables.load(s, dir, "lineitem"))
    val pairs = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("p"))
      .distinct()
    pairs.select($"c".as("src"), $"p".as("dst"))
      .union(pairs.select($"p".as("src"), $"c".as("dst")))
  }

  /** [[tradeEdges]] with edge weight = number of lineitems traded on
    * the (customer, supplier) pair — "how MUCH they trade", feeding the
    * weighted graph variants. */
  private def weightedTradeEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.load(s, dir, "orders")
    val l = Tables.load(s, dir, "lineitem")
    val pairs = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("p"))
      .agg(count(lit(1)).as("w"))
    pairs.select($"c".as("src"), $"p".as("dst"), $"w")
      .union(pairs.select($"p".as("src"), $"c".as("dst"), $"w"))
  }

  private def wkcoreIter(prev: String, out: String, k: Int): String =
    s"""$out AS (
       SELECT $prev.src, $prev.dst, $prev.w FROM $prev
       JOIN (SELECT src FROM $prev GROUP BY src
             HAVING sum(w) >= $k) ka ON $prev.src = ka.src
       JOIN (SELECT src FROM $prev GROUP BY src
             HAVING sum(w) >= $k) kb ON $prev.dst = kb.src)"""

  private def kcoreIter(prev: String, out: String, k: Int): String =
    s"""$out AS (
       SELECT $prev.src, $prev.dst FROM $prev
       JOIN (SELECT src FROM $prev GROUP BY src
             HAVING count(*) >= $k) ka ON $prev.src = ka.src
       JOIN (SELECT src FROM $prev GROUP BY src
             HAVING count(*) >= $k) kb ON $prev.dst = kb.src)"""

  private def bfsIter(prev: String, out: String, h: Int): String =
    s"""$out AS (
       SELECT node, min(d) AS d FROM (
         SELECT node, d FROM $prev
         UNION ALL
         SELECT e.dst AS node, $h AS d
         FROM e JOIN $prev ON e.src = $prev.node AND $prev.d = ${h - 1})
       GROUP BY node)"""

  private def lpaIter(prev: String, out: String): String =
    s"""$out AS (
       SELECT dst AS node,
              max_by(label, c * 1000000000000 - label) AS label
       FROM (SELECT e.dst, $prev.label, count(*) AS c
             FROM e JOIN $prev ON e.src = $prev.node
             GROUP BY e.dst, $prev.label)
       GROUP BY dst)"""

  private def wlpaIter(prev: String, out: String): String =
    s"""$out AS (
       SELECT dst AS node,
              max_by(label, c * 1000000000000 - label) AS label
       FROM (SELECT e.dst, $prev.label, CAST(sum(e.w) AS BIGINT) AS c
             FROM e JOIN $prev ON e.src = $prev.node
             GROUP BY e.dst, $prev.label)
       GROUP BY dst)"""

  /** Shared with q243's host-graph composition (TextAnalysis). */
  private[operators] def wprIter(prev: String, out: String): String =
    s"""$out AS (
       SELECT nodes.node,
              (15 * 1000000) // (100 * p.n)
              + (85 * coalesce(s.sc, 0)) // 100 AS rank
       FROM nodes CROSS JOIN p
       LEFT JOIN (SELECT e.dst, sum(($prev.rank * e.w) // deg.deg) AS sc
                  FROM e JOIN $prev ON e.src = $prev.node
                         JOIN deg ON e.src = deg.src
                  GROUP BY e.dst) s ON nodes.node = s.dst)"""

  private def oracleIter(prev: String, out: String): String =
    s"""$out AS (
       SELECT nodes.node,
              (15 * 1000000) // (100 * p.n)
              + (85 * coalesce(s.sc, 0)) // 100 AS rank
       FROM nodes CROSS JOIN p
       LEFT JOIN (SELECT e.dst, sum($prev.rank // deg.deg) AS sc
                  FROM e JOIN $prev ON e.src = $prev.node
                         JOIN deg ON e.src = deg.src
                  GROUP BY e.dst) s ON nodes.node = s.dst)"""

  private def pprIter(prev: String, out: String): String =
    s"""$out AS (
       SELECT nodes.node,
              CASE WHEN nodes.seed = 1 THEN (15 * 1000000) // (100 * p.ns)
                   ELSE 0 END
              + (85 * coalesce(s.sc, 0)) // 100 AS rank
       FROM nodes CROSS JOIN p
       LEFT JOIN (SELECT e.dst, sum($prev.rank // deg.deg) AS sc
                  FROM e JOIN $prev ON e.src = $prev.node
                         JOIN deg ON e.src = deg.src
                  GROUP BY e.dst) s ON nodes.node = s.dst)"""

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q181_pagerank",
      (s, dir) => {
        import s.implicits._
        pageRank(tradeEdges(s, dir), iters = 3)
          .filter($"node" % 2 === 1)
          .select(expr("(node - 1) div 2").as("s_suppkey"), $"rank")
          .orderBy($"s_suppkey")
      },
      Some(s"""
        WITH e0 AS (
          SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        nodes AS (SELECT DISTINCT src AS node FROM e),
        p AS (SELECT count(*) AS n FROM nodes),
        r0 AS (SELECT node, (1000000 // p.n) AS rank FROM nodes, p),
        ${oracleIter("r0", "r1")},
        ${oracleIter("r1", "r2")},
        ${oracleIter("r2", "r3")}
        SELECT (node - 1) // 2 AS s_suppkey,
               -- CAST: the HUGEINT from sum(rank // deg) propagates into
               -- rank; the driver's pandas fetch would float64 it
               CAST(rank AS BIGINT) AS rank
        FROM r3 WHERE node % 2 = 1
        ORDER BY s_suppkey""")),

    // personalized variant: restart mass pinned to nation-7's customer
    // base (q200's seed set) — supplier rank now means "importance TO
    // this cohort"; far-from-seed suppliers sit at exactly 0
    QueryDef(
      "q211_personalized_pagerank",
      (s, dir) => {
        import s.implicits._
        val seeds = Tables.load(s, dir, "customer")
          .filter($"c_nationkey" === 7)
          .select(($"c_custkey" * 2).as("node"))
        personalizedPageRank(tradeEdges(s, dir), seeds, iters = 3)
          .filter($"node" % 2 === 1)
          .select(expr("(node - 1) div 2").as("s_suppkey"), $"rank")
          .orderBy($"s_suppkey")
      },
      Some(s"""
        WITH e0 AS (
          SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        sd AS (SELECT DISTINCT c_custkey * 2 AS node FROM customer
               WHERE c_nationkey = 7),
        nodes AS (
          SELECT n.node, CASE WHEN sd.node IS NULL THEN 0 ELSE 1 END AS seed
          FROM (SELECT DISTINCT src AS node FROM e) n
          LEFT JOIN sd ON n.node = sd.node),
        p AS (SELECT count(*) AS ns FROM nodes WHERE seed = 1),
        r0 AS (SELECT node, CASE WHEN seed = 1 THEN 1000000 // p.ns
                                 ELSE 0 END AS rank FROM nodes, p),
        ${pprIter("r0", "r1")},
        ${pprIter("r1", "r2")},
        ${pprIter("r2", "r3")}
        SELECT (node - 1) // 2 AS s_suppkey,
               CAST(rank AS BIGINT) AS rank
        FROM r3 WHERE node % 2 = 1
        ORDER BY s_suppkey""")),

    // communities on the same trade graph: 3 synchronous rounds of
    // deterministic majority-label adoption, then per-node assignment
    QueryDef(
      "q196_label_propagation",
      (s, dir) => {
        import s.implicits._
        labelPropagation(tradeEdges(s, dir), iters = 3)
          .orderBy($"node")
      },
      Some(s"""
        WITH e0 AS (
          SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
        ${lpaIter("l0", "l1")},
        ${lpaIter("l1", "l2")},
        ${lpaIter("l2", "l3")}
        SELECT node, CAST(label AS BIGINT) AS label
        FROM l3
        ORDER BY node""")),

    // weighted variant: out-mass splits by lineitem volume — suppliers
    // that trade MORE with well-connected customers now outrank equally-
    // connected but low-volume peers. Oracle unrolls identically to q181
    // with the (rank·w)//Σw contribution.
    QueryDef(
      "q219_weighted_pagerank",
      (s, dir) => {
        import s.implicits._
        weightedPageRank(weightedTradeEdges(s, dir), iters = 3)
          .filter($"node" % 2 === 1)
          .select(expr("(node - 1) div 2").as("s_suppkey"), $"rank")
          .orderBy($"s_suppkey")
      },
      Some(s"""
        WITH e0 AS (
          SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
                 count(*) AS w
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          GROUP BY 1, 2),
        e AS (SELECT src, dst, w FROM e0
              UNION ALL SELECT dst, src, w FROM e0),
        deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS deg
                FROM e GROUP BY src),
        nodes AS (SELECT DISTINCT src AS node FROM e),
        p AS (SELECT count(*) AS n FROM nodes),
        r0 AS (SELECT node, (1000000 // p.n) AS rank FROM nodes, p),
        ${wprIter("r0", "r1")},
        ${wprIter("r1", "r2")},
        ${wprIter("r2", "r3")}
        SELECT (node - 1) // 2 AS s_suppkey,
               CAST(rank AS BIGINT) AS rank
        FROM r3 WHERE node % 2 = 1
        ORDER BY s_suppkey""")),

    // weighted LPA: "adopt the label of the community you trade MOST
    // with" — votes are lineitem volumes, not edge counts
    QueryDef(
      "q220_weighted_label_propagation",
      (s, dir) => {
        import s.implicits._
        weightedLabelPropagation(weightedTradeEdges(s, dir), iters = 3)
          .orderBy($"node")
      },
      Some(s"""
        WITH e0 AS (
          SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
                 count(*) AS w
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          GROUP BY 1, 2),
        e AS (SELECT src, dst, w FROM e0
              UNION ALL SELECT dst, src, w FROM e0),
        l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
        ${wlpaIter("l0", "l1")},
        ${wlpaIter("l1", "l2")},
        ${wlpaIter("l2", "l3")}
        SELECT node, CAST(label AS BIGINT) AS label
        FROM l3
        ORDER BY node""")),

    // blast radius on the trade graph: hop distance from nation 7's
    // customer base, capped at 3 hops (customer→supplier alternating)
    QueryDef(
      "q200_khop_reachability",
      (s, dir) => {
        import s.implicits._
        val src = Tables.load(s, dir, "customer")
          .filter($"c_nationkey" === 7)
          .select(($"c_custkey" * 2).as("node"))
        khopDistances(tradeEdges(s, dir), src, maxHops = 3)
          .orderBy($"node")
      },
      Some(s"""
        WITH e0 AS (
          SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        d0 AS (SELECT DISTINCT c_custkey * 2 AS node, 0 AS d
               FROM customer WHERE c_nationkey = 7),
        ${bfsIter("d0", "d1", 1)},
        ${bfsIter("d1", "d2", 2)},
        ${bfsIter("d2", "d3", 3)}
        SELECT node, CAST(d AS BIGINT) AS d
        FROM d3
        ORDER BY node""")),

    // co-purchase graph (parts sharing an order) — triangle count is
    // orientation-invariant, so the oracle uses the simple id-ordered
    // 3-way join while the operator runs the degree-ordered plan
    QueryDef(
      "q188_triangle_count",
      (s, dir) => {
        import s.implicits._
        val op = Tables.load(s, dir, "lineitem")
          .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
        // no .distinct() here: triangleCount normalizes and dedupes its
        // input itself (least/greatest + distinct), so a caller-side
        // distinct was a second full exchange+aggregate over the edge
        // list doing the same work (r18 measurement: one exchange saved)
        val edges = op.join(op.toDF("o", "p2"), Seq("o"))
          .filter($"p" < $"p2")
          .select($"p".as("src"), $"p2".as("dst"))
        triangleCount(edges)
      },
      Some("""
        WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                    FROM lineitem),
        e AS (SELECT DISTINCT a.p AS u, b.p AS v
              FROM op a JOIN op b ON a.o = b.o AND a.p < b.p)
        SELECT (SELECT count(*) FROM (
                  SELECT u FROM e UNION SELECT v FROM e)) AS n_nodes,
               (SELECT count(*) FROM e) AS n_edges,
               count(*) AS n_triangles
        FROM e e1 JOIN e e2 ON e1.v = e2.u
                  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v""")),

    // k-core of the trade graph: customers with < 8 distinct suppliers
    // (and vice versa) peel off; surviving nodes keep their residual
    // degree. Oracle unrolls the peel exactly, one CTE per round.
    QueryDef(
      "q223_kcore",
      (s, dir) => {
        import s.implicits._
        kCore(tradeEdges(s, dir), k = 8, rounds = 3)
          .orderBy($"node")
      },
      Some(s"""
        WITH e0 AS (
          SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        ${kcoreIter("e", "c1", 8)},
        ${kcoreIter("c1", "c2", 8)},
        ${kcoreIter("c2", "c3", 8)}
        SELECT src AS node, count(*) AS deg
        FROM c3 GROUP BY src
        ORDER BY node""")),

    // strength-based peel: "drop every participant whose total trade
    // volume is below 30 lineitems" — the weighted k-core, volumes not
    // edge counts (weights are exact integer counts in doubles, so the
    // threshold comparison replays bit-exactly)
    QueryDef(
      "q227_weighted_kcore",
      (s, dir) => {
        import s.implicits._
        weightedKCore(weightedTradeEdges(s, dir), minStrength = 30.0,
          rounds = 3)
          .orderBy($"node")
      },
      Some(s"""
        WITH e0 AS (
          SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
                 count(*) AS cnt
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          GROUP BY 1, 2),
        e AS (SELECT src, dst, CAST(cnt AS DOUBLE) AS w FROM e0
              UNION ALL SELECT dst, src, CAST(cnt AS DOUBLE) AS w FROM e0),
        ${wkcoreIter("e", "c1", 30)},
        ${wkcoreIter("c1", "c2", 30)},
        ${wkcoreIter("c2", "c3", 30)}
        SELECT src AS node, round(sum(w), 4) AS strength
        FROM c3 GROUP BY src
        ORDER BY node"""))
  )
}
