package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Dev tool (like Bench/Verify — not library surface): generates an
  * sf1 fixture set (10x sf0.1) under a target directory, mirroring the
  * driver fixtures' schemas and distributions (verified against
  * /root/testdata/sf0.1 parquet stats; see FIXTURES.md). The driver's
  * own testdata is read-only and tops out at sf0.1 — this exists so the
  * bench can be run one decade up, where the shuffle-heavy operators'
  * candidate-volume math is actually load-bearing.
  *
  * Deliberately NOT naive 10x replication of sf0.1: replication would
  * plant 10 exact copies of every document/vector, corrupting the
  * dedup and similarity operators' candidate statistics (every doc
  * would carry 45 guaranteed near-dup pairs). Instead every table is
  * re-drawn from the same distribution family at 10x cardinality with
  * xxhash64-derived deterministic pseudo-randoms — stable across runs
  * and partitionings, no RNG state.
  *
  * Usage: runMain graft.FixtureGen <outDir> [scale]
  * (scale multiplies the sf1 row counts; default 1.0 = sf1) */
object FixtureGen {

  /** Deterministic uniform [0,1) from (column, salt). */
  private def u(c: Column, salt: Int): Column =
    pmod(xxhash64(c, lit(salt)), lit(1000000000L)).cast("double") / 1e9

  /** Pick from a fixed pool by hash. */
  private def pick(c: Column, salt: Int, pool: Seq[String]): Column =
    element_at(array(pool.map(lit): _*),
      (pmod(xxhash64(c, lit(salt)), lit(pool.size)) + 1).cast("int"))

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val scale = if (args.length > 1) args(1).toDouble else 1.0
    val spark = Harness.session(
      defaultCpus = math.min(Runtime.getRuntime.availableProcessors(), 16))
    import spark.implicits._

    def n(base: Long): Long = math.max(1L, (base * scale).toLong)
    def ids(rows: Long): DataFrame =
      spark.range(0, rows, 1, 32).toDF("id")
    def write(df: DataFrame, table: String): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$table.parquet")
      println(s"[fixturegen] $table done")
    }

    // region/nation are SF-invariant — copy them verbatim from the
    // smallest driver fixture so joins see byte-identical dimensions
    val src = "/root/testdata/sf0.001"
    write(spark.read.parquet(s"$src/region.parquet"), "region")
    write(spark.read.parquet(s"$src/nation.parquet"), "nation")

    val nCust = n(150000L)
    val nSupp = n(10000L)
    val nPart = n(200000L)
    val nOrd = n(1500000L)
    val nEv = n(1000000L)
    val nDoc = n(50000L)
    val nEmb = n(20000L)

    val segments = Seq("BUILDING", "HOUSEHOLD", "MACHINERY", "AUTOMOBILE",
      "FURNITURE")
    write(ids(nCust).select(
      $"id".as("c_custkey"),
      format_string("Customer#%09d", $"id").as("c_name"),
      pmod(xxhash64($"id", lit(1)), lit(25)).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u($"id", 2) * 11000.0, 2).as("c_acctbal"),
      pick($"id", 3, segments).as("c_mktsegment")), "customer")

    write(ids(nSupp).select(
      $"id".as("s_suppkey"),
      format_string("Supplier#%09d", $"id").as("s_name"),
      pmod(xxhash64($"id", lit(4)), lit(25)).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u($"id", 5) * 11000.0, 2).as("s_acctbal")),
      "supplier")

    val adjs = Seq("red", "new", "hot", "blue", "dark", "pale", "small",
      "large")
    val nouns = Seq("bolt", "ring", "anvil", "cog", "wheel", "plate",
      "screw", "pin")
    val types = Seq("ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD",
      "PROMO")
    write(ids(nPart).select(
      $"id".as("p_partkey"),
      concat(pick($"id", 6, adjs), lit(" "), pick($"id", 7, nouns))
        .as("p_name"),
      concat(lit("Brand#"), pmod(xxhash64($"id", lit(8)), lit(25)))
        .as("p_brand"),
      pick($"id", 9, types).as("p_type"),
      (pmod(xxhash64($"id", lit(10)), lit(50)) + 1).cast("int")
        .as("p_size"),
      round(lit(900.0) + u($"id", 11) * 100.0, 2).as("p_retailprice")),
      "part")

    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW")
    val orders = ids(nOrd).select(
      $"id".as("o_orderkey"),
      pmod(xxhash64($"id", lit(12)), lit(nCust)).as("o_custkey"),
      pick($"id", 13, Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u($"id", 14) * 499000.0, 2).as("o_totalprice"),
      to_timestamp(date_add(lit("1995-01-01").cast("date"),
        pmod(xxhash64($"id", lit(15)), lit(2405)).cast("int")))
        .as("o_orderdate"),
      pick($"id", 16, priorities).as("o_orderpriority"))
    write(orders, "orders")

    // 1..7 lineitems per order (hash-derived, avg 4 -> ~4x orders rows).
    // l_linenumber is drawn 1..7 per row INDEPENDENTLY of the row index:
    // the driver fixtures carry ~20% duplicate (l_orderkey, l_linenumber)
    // keys at every SF (measured; q183's sf0.1 divergence traced to it),
    // so sf1 must reproduce that artifact or key-identity assumptions
    // pass here and break on driver data. lkey (the value-derivation
    // seed) stays the unique row index, so duplicate-key rows still get
    // independent dates/amounts like the driver's.
    // CONSEQUENCE (see WindowQueries header): (l_shipdate, l_orderkey,
    // l_linenumber) is a non-unique sort key on these generated fixtures
    // — duplicate-key rows that hash to the same ship day tie. Since
    // round 12 the window family (q28/q31) extends its ordering with
    // (l_extendedprice, l_partkey), which ARE independent per duplicate
    // row (seeded off the unique lkey), so the sfN correctness gate now
    // includes the window family.
    val li = spark.read.parquet(s"$out/orders.parquet")
      .select($"o_orderkey", $"o_orderdate",
        (pmod(xxhash64($"o_orderkey", lit(17)), lit(7)) + 1).cast("int")
          .as("nl"))
      .select($"o_orderkey", $"o_orderdate",
        explode(expr("sequence(1, nl)")).as("li_i"))
    val lkey = concat($"o_orderkey", lit("#"), $"li_i")
    write(li.select(
      $"o_orderkey".as("l_orderkey"),
      pmod(xxhash64(lkey, lit(18)), lit(nPart)).as("l_partkey"),
      pmod(xxhash64(lkey, lit(19)), lit(nSupp)).as("l_suppkey"),
      (pmod(xxhash64(lkey, lit(41)), lit(7)) + 1).cast("int")
        .as("l_linenumber"),
      (pmod(xxhash64(lkey, lit(20)), lit(50)) + 1).cast("double")
        .as("l_quantity"),
      round(lit(900.0) + u(lkey, 21) * 104100.0, 2).as("l_extendedprice"),
      round(pmod(xxhash64(lkey, lit(22)), lit(11)).cast("double") / 100.0,
        2).as("l_discount"),
      round(pmod(xxhash64(lkey, lit(23)), lit(9)).cast("double") / 100.0,
        2).as("l_tax"),
      pick(lkey, 24, Seq("N", "A", "R")).as("l_returnflag"),
      pick(lkey, 25, Seq("O", "F")).as("l_linestatus"),
      to_timestamp(date_add($"o_orderdate".cast("date"),
        (pmod(xxhash64(lkey, lit(26)), lit(95)) + 1).cast("int")))
        .as("l_shipdate")), "lineitem")

    // events: 30-day span, microsecond-grain ts, exponential-ish value
    val evTypes = Seq("click", "view", "signup", "purchase", "error")
    write(ids(nEv).select(
      $"id".as("event_id"),
      (lit("2024-01-01 00:00:00").cast("timestamp") +
        make_dt_interval(lit(0), lit(0), lit(0),
          u($"id", 27) * (30.0 * 86400.0 - 60.0))).as("ts"),
      pmod(xxhash64($"id", lit(28)), lit(nCust / 10)).as("user_id"),
      pick($"id", 29, evTypes).as("event_type"),
      round(least(-log(lit(1.0) - u($"id", 30)) * 50.0, lit(600.0)), 2)
        .as("value"),
      concat(lit("{\"k\": "), pmod(xxhash64($"id", lit(31)), lit(100)),
        lit("}")).as("props")), "events")

    // documents: 10..100-token soup over the sf0.1 vocabulary; ~0.15%
    // of docs are EXACT duplicates of their predecessor (the driver
    // fixture carries a similar trace dup rate), so exact-dedup
    // operators see real positives without poisoning near-dup stats
    val vocab = Seq("spark", "window", "merge", "table", "column",
      "vector", "stream", "value", "data", "small", "query", "hash",
      "join", "scan", "sort", "filter", "group", "order", "key", "line",
      "part", "batch", "fast", "slow", "agg", "customer", "the", "a",
      "g", "x", "big")
    val effId = when(pmod(xxhash64($"id", lit(32)), lit(667)) === 0 &&
      $"id" > 0, $"id" - 1).otherwise($"id")
    val nTok = (pmod(xxhash64(effId, lit(33)), lit(91)) + 10).cast("int")
    val text = array_join(
      transform(sequence(lit(1), nTok),
        i => element_at(array(vocab.map(lit): _*),
          (pmod(xxhash64(concat(effId, lit("#"), i), lit(34)),
            lit(vocab.size)) + 1).cast("int"))), " ")
    write(ids(nDoc).select(
      $"id".as("doc_id"),
      text.as("text"),
      // en-heavy mix as in the driver fixture (~40% en, rest even)
      when(u($"id", 35) < 0.4, "en").otherwise(
        pick($"id", 36, Seq("zh", "es", "fr", "de"))).as("lang"),
      concat(lit("src"), pmod(xxhash64($"id", lit(37)), lit(20)))
        .as("source"),
      length(text).cast("long").as("n_chars")), "documents")

    // embeddings: 64-dim unit-norm gaussian (Box-Muller over hash
    // uniforms), label uniform 0..9 with NO cluster structure — exactly
    // the driver fixture's geometry (measured within-label cosine ==
    // across-label == ~0)
    val dim = 64
    val comp = concat($"id", lit("/"), col("j"))
    val gauss = sqrt(lit(-2.0) * log(u(comp, 38) + 1e-12)) *
      cos(lit(2.0 * math.Pi) * u(comp, 39))
    val raw = ids(nEmb)
      .select($"id", explode(sequence(lit(0), lit(dim - 1))).as("j"))
      .select($"id", $"j", gauss.as("g"))
      .groupBy($"id")
      .agg(array_sort(collect_list(struct($"j", $"g"))).as("gs"))
      .select($"id", transform($"gs", s => s.getField("g")).as("v"))
    write(raw.select(
      $"id".as("vec_id"),
      transform($"v",
        x => (x / sqrt(aggregate($"v", lit(0.0), (acc, y) => acc + y * y)))
          .cast("float")).as("embedding"),
      pmod(xxhash64($"id", lit(40)), lit(10)).cast("int").as("label")),
      "embeddings")

    println(s"[fixturegen] complete: $out")
    spark.stop()
  }
}
