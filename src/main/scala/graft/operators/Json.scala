package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** JSONL schema profiling — what shape is this corpus, and did it
  * change between batches. A 100 TB JSONL drop has no declared schema;
  * before `spark.read.json` (whose inference is a full extra pass) a
  * pipeline wants the path/type census: every JSON path present, its
  * value types, how many documents carry it. Batch-over-batch, the
  * census DIFF is the schema-drift alarm (a field gone, a type
  * shifted) that catches producer changes before they poison a
  * training run.
  *
  * The walk is a from-scratch RFC 8259 recursive-descent pass emitting
  * (path, type) pairs without materializing a tree; array elements
  * collapse to `[]` (schema convention), object keys append verbatim.
  * Malformed input yields None — one bad line is a counted casualty,
  * never a failed job. Per-row map work; the profile shuffle is
  * bounded by ǀdistinct (path, type)ǀ — schema-sized, not data-sized.
  */
object Json {

  private final class Walker(s: String) {
    var i = 0
    var ok = true
    val out = Vector.newBuilder[(String, String)]

    def ws(): Unit = {
      while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t' ||
        s.charAt(i) == '\n' || s.charAt(i) == '\r')) i += 1
    }

    def fail(): Unit = { ok = false; i = s.length }

    def value(path: String, depth: Int): Unit = {
      if (!ok) return
      if (depth > 256) { fail(); return }
      ws()
      if (i >= s.length) { fail(); return }
      s.charAt(i) match {
        case '{' => obj(path, depth)
        case '[' => arr(path, depth)
        case '"' => if (string().isDefined) out += ((path, "string")) else fail()
        case 't' => literal("true"); if (ok) out += ((path, "boolean"))
        case 'f' => literal("false"); if (ok) out += ((path, "boolean"))
        case 'n' => literal("null"); if (ok) out += ((path, "null"))
        case c if c == '-' || (c >= '0' && c <= '9') =>
          number(); if (ok) out += ((path, "number"))
        case _ => fail()
      }
    }

    def obj(path: String, depth: Int): Unit = {
      out += ((path, "object"))
      i += 1; ws()
      if (i < s.length && s.charAt(i) == '}') { i += 1; return }
      var more = true
      while (ok && more) {
        ws()
        val key = string().getOrElse { fail(); return }
        ws()
        if (i >= s.length || s.charAt(i) != ':') { fail(); return }
        i += 1
        value(path + "." + key, depth + 1)
        ws()
        if (i < s.length && s.charAt(i) == ',') i += 1
        else if (i < s.length && s.charAt(i) == '}') { i += 1; more = false }
        else fail()
      }
    }

    def arr(path: String, depth: Int): Unit = {
      out += ((path, "array"))
      i += 1; ws()
      if (i < s.length && s.charAt(i) == ']') { i += 1; return }
      var more = true
      while (ok && more) {
        value(path + "[]", depth + 1)
        ws()
        if (i < s.length && s.charAt(i) == ',') i += 1
        else if (i < s.length && s.charAt(i) == ']') { i += 1; more = false }
        else fail()
      }
    }

    def string(): Option[String] = {
      if (i >= s.length || s.charAt(i) != '"') return None
      i += 1
      val sb = new StringBuilder
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '"') { i += 1; return Some(sb.toString) }
        else if (c == '\\') {
          if (i + 1 >= s.length) return None
          val e = s.charAt(i + 1)
          e match {
            case '"' | '\\' | '/' => sb.append(e); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'u' =>
              if (i + 6 > s.length) return None
              val hex = s.substring(i + 2, i + 6)
              if (!hex.forall(h => Character.digit(h, 16) >= 0)) return None
              sb.append(Integer.parseInt(hex, 16).toChar); i += 6
            case _ => return None
          }
        } else if (c < ' ') return None // raw control chars are invalid
        else { sb.append(c); i += 1 }
      }
      None // unterminated
    }

    def number(): Unit = {
      val start = i
      if (i < s.length && s.charAt(i) == '-') i += 1
      val intStart = i
      var digits = 0
      while (i < s.length && Character.isDigit(s.charAt(i))) { i += 1; digits += 1 }
      if (digits == 0) { fail(); return }
      // RFC 8259: int = zero / digit1-9 *DIGIT — no leading zeros
      if (digits > 1 && s.charAt(intStart) == '0') { fail(); return }
      if (i < s.length && s.charAt(i) == '.') {
        i += 1
        var fd = 0
        while (i < s.length && Character.isDigit(s.charAt(i))) { i += 1; fd += 1 }
        if (fd == 0) { fail(); return }
      }
      if (i < s.length && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
        i += 1
        if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
        var ed = 0
        while (i < s.length && Character.isDigit(s.charAt(i))) { i += 1; ed += 1 }
        if (ed == 0) { fail(); return }
      }
      if (i == start) fail()
    }

    def literal(lit: String): Unit = {
      if (s.regionMatches(i, lit, 0, lit.length)) i += lit.length else fail()
    }
  }

  /** (path, type) pairs for one JSON text, or None when malformed
    * (trailing garbage counts as malformed). */
  def pathTypes(json: String): Option[Vector[(String, String)]] = {
    if (json == null) return None
    val w = new Walker(json)
    w.value("$", 0)
    w.ws()
    if (w.ok && w.i == json.length) Some(w.out.result()) else None
  }

  /** Corpus path/type census: one row per (path, type) with how many
    * rows carry it (`n_docs`) and total value occurrences
    * (`n_values`, > n_docs only under arrays). Unparseable rows are
    * counted in nothing — callers difference against count(*). */
  def schemaProfile(df: DataFrame, idCol: String, jsonCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol), col(jsonCol)).flatMap { row =>
      pathTypes(row.getString(1)) match {
        case Some(pts) => pts.map { case (p, t) => (row.getLong(0), p, t) }
        case None => Seq.empty
      }
    }.toDF(idCol, "path", "type")
      .groupBy(col("path"), col("type"))
      .agg(count_distinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_values"))
  }

  /** Fold two censuses by keyed sum — the merge of an incrementally
    * maintained census ([[graft.streaming.Incremental]] with
    * [[schemaProfile]] as the partial): docs live in exactly one
    * arrival batch, so the fold never double-counts, and the state
    * stays schema-sized at any corpus size. */
  def mergeCensus(prev: DataFrame, delta: DataFrame): DataFrame =
    prev.unionByName(delta)
      .groupBy(col("path"), col("type"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_values")).as("n_values"))

  /** Drift between two versions of a cumulative census (an
    * append-only corpus: counts never shrink). A (path, type) is `new`
    * (absent before), `stale` (count stopped growing — the field
    * stopped arriving: a rename or drop on the producer side), or
    * `growing` (healthy). A type shift surfaces as a stale+new pair
    * on one path. */
  def censusDrift(older: DataFrame, newer: DataFrame): DataFrame =
    censusOuter(older, newer)
      .withColumn("status",
        when(col("n_docs_a") === 0, "new")
          .when(col("n_docs_b") === col("n_docs_a"), "stale")
          .otherwise("growing"))

  /** Full outer of two censuses on (path, type) with zero-filled doc
    * counts — the one scaffold under [[schemaDrift]] and
    * [[censusDrift]], so a fix to the join or null handling cannot
    * miss one of them. */
  private def censusOuter(profileA: DataFrame,
      profileB: DataFrame): DataFrame = {
    val a = profileA.select(col("path"), col("type"),
      col("n_docs").as("n_docs_a"))
    val b = profileB.select(col("path"), col("type"),
      col("n_docs").as("n_docs_b"))
    a.join(b, Seq("path", "type"), "full_outer")
      .withColumn("n_docs_a", coalesce(col("n_docs_a"), lit(0L)))
      .withColumn("n_docs_b", coalesce(col("n_docs_b"), lit(0L)))
  }

  /** Batch-over-batch schema drift: full outer on (path, type);
    * status `new` (absent before), `gone` (absent now), `stable`. A
    * type shift surfaces as a gone+new pair on the same path. */
  def schemaDrift(profileA: DataFrame, profileB: DataFrame): DataFrame =
    censusOuter(profileA, profileB)
      .withColumn("status",
        when(col("n_docs_a") === 0, "new")
          .when(col("n_docs_b") === 0, "gone")
          .otherwise("stable"))

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  private def fixtureJson(id: Long): String = {
    val extra = if (id % 3 == 0) ""","extra":null""" else ""
    val flag = if (id % 2 == 0) ""","flag":true""" else ""
    s"""{"id":$id,"name":"doc $id","tags":["a","b"],"meta":{"lang":"en","score":1.5}$extra$flag}"""
  }

  val defs: Seq[QueryDef] = Seq(

    // path/type census over planted JSONL: fixed object shape plus an
    // id%3-gated null field and an id%2-gated boolean — the oracle
    // replays every (path, type) row's doc and value counts from the
    // mod arithmetic ($.tags[] carries 2 values per doc, pinning the
    // array collapse).
    QueryDef(
      "q301_json_schema_profile",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
          .select($"doc_id")
          .fanout.as[Long]
          .map(id => (id, fixtureJson(id)))
          .toDF("doc_id", "json")
        Json.schemaProfile(docs, "doc_id", "json")
          .orderBy($"path", $"type")
      },
      Some("""
        WITH c AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n3,
                 CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n2
          FROM documents)
        SELECT path, type, n_docs, n_values FROM (
          SELECT '$' AS path, 'object' AS type, n AS n_docs, n AS n_values FROM c
          UNION ALL SELECT '$.extra', 'null', n3, n3 FROM c
          UNION ALL SELECT '$.flag', 'boolean', n2, n2 FROM c
          UNION ALL SELECT '$.id', 'number', n, n FROM c
          UNION ALL SELECT '$.meta', 'object', n, n FROM c
          UNION ALL SELECT '$.meta.lang', 'string', n, n FROM c
          UNION ALL SELECT '$.meta.score', 'number', n, n FROM c
          UNION ALL SELECT '$.name', 'string', n, n FROM c
          UNION ALL SELECT '$.tags', 'array', n, n FROM c
          UNION ALL SELECT '$.tags[]', 'string', n, 2 * n FROM c)
        ORDER BY path, type""")),

    // schema drift: batch A (even ids) vs batch B (odd ids) with a
    // planted producer change — B renames $.legacy to $.v2 AND ships
    // $.meta.score as a STRING (the type shift surfaces as gone+new
    // on one path). The oracle replays the full outer-join census.
    QueryDef(
      "q302_json_schema_drift",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
          .select($"doc_id")
          .fanout.as[Long]
          .map { id =>
            val j =
              if (id % 2 == 0)
                s"""{"id":$id,"legacy":1,"meta":{"score":2.5}}"""
              else
                s"""{"id":$id,"v2":"x","meta":{"score":"2.5"}}"""
            (id, j)
          }
          .toDF("doc_id", "json")
        val a = Json.schemaProfile(docs.filter($"doc_id" % 2 === 0),
          "doc_id", "json")
        val b = Json.schemaProfile(docs.filter($"doc_id" % 2 =!= 0),
          "doc_id", "json")
        Json.schemaDrift(a, b).orderBy($"path", $"type")
      },
      Some("""
        WITH c AS (
          SELECT CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS ne,
                 CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS no
          FROM documents)
        SELECT path, type, n_docs_a, n_docs_b, status FROM (
          SELECT '$' AS path, 'object' AS type, ne AS n_docs_a,
                 no AS n_docs_b, 'stable' AS status FROM c
          UNION ALL SELECT '$.id', 'number', ne, no, 'stable' FROM c
          UNION ALL SELECT '$.legacy', 'number', ne, 0, 'gone' FROM c
          UNION ALL SELECT '$.meta', 'object', ne, no, 'stable' FROM c
          UNION ALL SELECT '$.meta.score', 'number', ne, 0, 'gone' FROM c
          UNION ALL SELECT '$.meta.score', 'string', 0, no, 'new' FROM c
          UNION ALL SELECT '$.v2', 'string', 0, no, 'new' FROM c)
        ORDER BY path, type""")))
}
