package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Record-linkage operators: edit-distance fuzzy self-join with a
  * LOSSLESS deletion-neighborhood blocker (the SymSpell index idea:
  * Garbe's symmetric-delete spelling correction, public algorithm).
  * The reference has no fuzzy matching at all — its joins are exact
  * key-group merges (`/root/reference/reducer.py:91-105`); entity
  * resolution over dirty names is a standard ask of a data engine.
  *
  * Scale notes (100 TB posture):
  *  - the naive fuzzy join is O(n²) levenshtein calls — a non-starter.
  *    Deletion blocking is linear: each name emits its <=k-deletion
  *    variants (C(len,k)+...+1 strings, ~len^k/k!), candidates are pairs
  *    sharing a variant (an equi-join Spark hash-partitions like any
  *    other), and the exact levenshtein verify runs on candidates only.
  *  - LOSSLESS: lev(a,b) <= k implies a and b share a common string
  *    reachable by <= k deletions from each (delete the edited positions
  *    on both sides), so no qualifying pair can escape the blocker —
  *    the oracle's brute-force O(n²) scan is the proof harness.
  *  - variant strings are bounded by name length; the join key cardinality
  *    grows with corpus size so buckets stay small (hot-variant skew =
  *    AQE skew-join territory, same defense as q74's salted join).
  */
object Linkage {

  /** All strings reachable from `c` by deleting at most `k` (<=2)
    * characters, as a SQL array expression over column name `c`. */
  private def deletionVariants(c: String, k: Int): String = {
    require(k >= 1 && k <= 2, "deletion neighborhood supported for k in {1,2}")
    val del0 = s"array($c)"
    val del1 =
      s"transform(sequence(1, length($c)), i -> concat(left($c, i - 1), substring($c, i + 1, 1000000)))"
    // outer range guarded for length < 2: sequence(1, 0) in Spark is a
    // DESCENDING [1, 0], which would emit spurious empty/malformed
    // variants — and the empty string then becomes one shared blocking
    // key across ALL short names (a hot bucket; correctness survives
    // the exact verify, candidate volume does not)
    val del2 =
      s"""CASE WHEN length($c) >= 2 THEN
            flatten(transform(sequence(1, length($c) - 1), i ->
              transform(sequence(i + 1, length($c)), j ->
                concat(left($c, i - 1), substring($c, i + 1, j - i - 1),
                       substring($c, j + 1, 1000000)))))
          ELSE array() END"""
    val parts = if (k == 1) Seq(del0, del1) else Seq(del0, del1, del2)
    s"array_distinct(flatten(array(${parts.mkString(", ")})))"
  }

  /** Fuzzy self-join: all unordered pairs of distinct `nameCol` values
    * within levenshtein distance `k`, found via deletion-neighborhood
    * candidate generation + exact verify. Returns (name_a, name_b, dist)
    * with name_a < name_b. */
  def fuzzySelfJoin(df: DataFrame, nameCol: String, k: Int): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val names = df.select(col(nameCol).as("name")).distinct()
    val variants = names
      .select($"name", explode(expr(deletionVariants("name", k))).as("v"))
    val cand = variants.as("l")
      .join(variants.as("r"), col("l.v") === col("r.v") &&
        col("l.name") < col("r.name"))
      .select(col("l.name").as("name_a"), col("r.name").as("name_b"))
      .distinct()
    cand
      .withColumn("dist", levenshtein($"name_a", $"name_b"))
      .filter($"dist" <= k)
  }

  // ------------------------------------------------------------------
  // fixture-bound oracle queries
  // ------------------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(

    // near-identical supplier names (single-character defects) — the
    // oracle is the brute-force quadratic scan the blocker avoids
    QueryDef(
      "q174_fuzzy_edit_join",
      (s, dir) => fuzzySelfJoin(Tables.load(s, dir, "supplier"), "s_name", 1)
        .orderBy(col("name_a"), col("name_b")),
      Some("""
        SELECT a.s_name AS name_a, b.s_name AS name_b,
               levenshtein(a.s_name, b.s_name) AS dist
        FROM supplier a JOIN supplier b ON a.s_name < b.s_name
        WHERE levenshtein(a.s_name, b.s_name) <= 1
        ORDER BY name_a, name_b""")),

    // Jaro–Winkler linkage through the NATIVE codegen expression
    // (graft.functions.JaroWinkler) via SORTED-NEIGHBORHOOD candidate
    // generation (Hernández–Stolfo SNM — public): within each
    // (brand, first-word) sort key, each name pairs with its next W
    // sorted neighbors, so candidates are W·n — LINEAR at any corpus
    // size (the plain blocked self-join was measured QUADRATIC at the
    // sf3 probe: block size grows with the corpus). The sort order is
    // JW-aligned — high-JW pairs share prefixes and sort adjacent.
    // The neighbor pairs build by explode + EQUI-join on the neighbor
    // rank, so the plan never materializes block² rows either. The
    // oracle is DuckDB's own jaro_winkler_similarity refereeing the
    // identical SNM construction pairwise.
    QueryDef(
      "q280_jaro_winkler_linkage",
      (s, dir) => {
        import s.implicits._
        val win = 12
        val p = Tables.load(s, dir, "part")
          .select($"p_partkey", $"p_name", $"p_brand",
            split($"p_name", " ").getItem(0).as("w1"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"p_brand", $"w1").orderBy($"p_name", $"p_partkey")
        val r = p.withColumn("rn", row_number().over(w))
        val anchors = r.select($"p_brand", $"w1", $"rn",
          $"p_partkey".as("p1"), $"p_name".as("name_a"))
          .withColumn("nbr", explode(sequence($"rn" + 1, $"rn" + win)))
        val nbrs = r.select($"p_brand", $"w1", $"rn".as("nbr"),
          $"p_partkey".as("p2"), $"p_name".as("name_b"))
        anchors.join(nbrs, Seq("p_brand", "w1", "nbr"))
          .withColumn("jw",
            round(expr("jaro_winkler(name_a, name_b)"), 4))
          .filter($"jw" >= 0.9)
          .select($"p1", $"p2", $"name_a", $"name_b", $"jw")
          .orderBy($"p1", $"p2")
      },
      Some("""
        WITH p AS (SELECT p_partkey, p_name, p_brand,
                          string_split(p_name, ' ')[1] AS w1
                   FROM part),
        r AS (SELECT p_partkey, p_name, p_brand, w1,
                     row_number() OVER (PARTITION BY p_brand, w1
                                        ORDER BY p_name, p_partkey) AS rn
              FROM p),
        anchors AS (
          SELECT p_brand, w1, p_partkey AS p1, p_name AS name_a,
                 unnest(generate_series(rn + 1, rn + 12)) AS nbr
          FROM r)
        SELECT a.p1, b.p_partkey AS p2,
               a.name_a, b.p_name AS name_b,
               round(jaro_winkler_similarity(a.name_a, b.p_name), 4) AS jw
        FROM anchors a
        JOIN r b ON a.p_brand = b.p_brand AND a.w1 = b.w1
                AND a.nbr = b.rn
        WHERE round(jaro_winkler_similarity(a.name_a, b.p_name), 4) >= 0.9
        ORDER BY p1, p2""")),

    // true Damerau–Levenshtein linkage through the NATIVE codegen
    // expression — q174's edit-distance join upgraded with
    // transposition as a single edit: digit swaps in ids/names are
    // the dominant typo class, and plain Levenshtein double-charges
    // them (the output carries BOTH distances; rows with dl < lev are
    // the transposition pairs the upgrade exists for). Blocked on the
    // leading digit run (both sides identically — blocked-join
    // semantics, the q280 discipline). The oracle referee is DuckDB's
    // own damerau_levenshtein — the same unrestricted variant,
    // checked pairwise.
    QueryDef(
      "q282_damerau_linkage",
      (s, dir) => {
        import s.implicits._
        val sup = Tables.load(s, dir, "supplier")
          .select($"s_name", substring($"s_name", 10, 6).as("blk"))
        val a = sup.select($"s_name".as("name_a"), $"blk")
        val b = sup.select($"s_name".as("name_b"), $"blk")
        a.join(b, Seq("blk"))
          .filter($"name_a" < $"name_b")
          .withColumn("dl", expr("damerau_levenshtein(name_a, name_b)"))
          .filter($"dl" <= 1)
          .withColumn("lev", levenshtein($"name_a", $"name_b"))
          .select($"name_a", $"name_b", $"dl", $"lev")
          .orderBy($"name_a", $"name_b")
      },
      Some("""
        WITH s AS (SELECT s_name, substring(s_name, 10, 6) AS blk
                   FROM supplier)
        SELECT a.s_name AS name_a, b.s_name AS name_b,
               CAST(damerau_levenshtein(a.s_name, b.s_name) AS INT) AS dl,
               CAST(levenshtein(a.s_name, b.s_name) AS INT) AS lev
        FROM s a JOIN s b ON a.blk = b.blk AND a.s_name < b.s_name
        WHERE damerau_levenshtein(a.s_name, b.s_name) <= 1
        ORDER BY name_a, name_b"""))
  )
}
