package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** The one JSON reader ([[parse]], building a [[JVal]] tree) and
  * string emitter ([[quote]]) of the decoders that read JSON
  * ([[Ipynb]], [[SourceMap]], [[AvroRecords]], [[JsonLd]]), plus JSONL
  * schema profiling — what shape is this corpus, and did it change
  * between batches. A 100 TB JSONL drop has no declared schema;
  * before `spark.read.json` (whose inference is a full extra pass) a
  * pipeline wants the path/type census: every JSON path present, its
  * value types, how many documents carry it. Batch-over-batch, the
  * census DIFF is the schema-drift alarm (a field gone, a type
  * shifted) that catches producer changes before they poison a
  * training run.
  *
  * The parser is a from-scratch RFC 8259 recursive-descent pass: the
  * four RFC whitespace characters only, no raw control characters in
  * strings, strict numbers (no leading zeros, digits on both sides of
  * the point), nothing after the value, nesting at most 256 deep.
  * Malformed input yields None — one bad line is a counted casualty,
  * never a failed job. The census walks the tree in pre-order: array
  * elements collapse to `[]` (schema convention), object keys append
  * verbatim. Per-row map work; the profile shuffle is bounded by
  * ǀdistinct (path, type)ǀ — schema-sized, not data-sized.
  */
object Json {

  sealed trait JVal
  final case class JStr(v: String) extends JVal
  final case class JNum(v: Double) extends JVal
  final case class JBool(v: Boolean) extends JVal
  case object JNull extends JVal
  final case class JArr(items: Vector[JVal]) extends JVal
  /** Fields in document order, duplicates kept. */
  final case class JObj(fields: Vector[(String, JVal)]) extends JVal {
    /** The value of `key`; the last duplicate wins. */
    def get(key: String): Option[JVal] =
      fields.reverseIterator.collectFirst { case (`key`, v) => v }
  }

  private val MaxDepth = 256

  private final class Parser(s: String) {
    var i = 0

    def ws(): Unit = {
      while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t' ||
        s.charAt(i) == '\n' || s.charAt(i) == '\r')) i += 1
    }

    private def at(c: Char): Boolean = i < s.length && s.charAt(i) == c

    def value(depth: Int): Option[JVal] = {
      if (depth > MaxDepth) return None
      ws()
      if (i >= s.length) return None
      s.charAt(i) match {
        case '{' => obj(depth)
        case '[' => arr(depth)
        case '"' => string().map(JStr.apply)
        case 't' => literal("true", JBool(true))
        case 'f' => literal("false", JBool(false))
        case 'n' => literal("null", JNull)
        case c if c == '-' || (c >= '0' && c <= '9') => number()
        case _ => None
      }
    }

    private def obj(depth: Int): Option[JVal] = {
      val fields = Vector.newBuilder[(String, JVal)]
      i += 1; ws()
      if (at('}')) { i += 1; return Some(JObj(fields.result())) }
      while (true) {
        ws()
        val key = string().getOrElse(return None)
        ws()
        if (!at(':')) return None
        i += 1
        fields += key -> value(depth + 1).getOrElse(return None)
        ws()
        if (at(',')) i += 1
        else if (at('}')) { i += 1; return Some(JObj(fields.result())) }
        else return None
      }
      None
    }

    private def arr(depth: Int): Option[JVal] = {
      val items = Vector.newBuilder[JVal]
      i += 1; ws()
      if (at(']')) { i += 1; return Some(JArr(items.result())) }
      while (true) {
        items += value(depth + 1).getOrElse(return None)
        ws()
        if (at(',')) i += 1
        else if (at(']')) { i += 1; return Some(JArr(items.result())) }
        else return None
      }
      None
    }

    private def string(): Option[String] = {
      if (!at('"')) return None
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

    private def digits(): Int = {
      val start = i
      while (i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
      i - start
    }

    private def number(): Option[JVal] = {
      val start = i
      if (at('-')) i += 1
      val intStart = i
      val n = digits()
      if (n == 0) return None
      // RFC 8259: int = zero / digit1-9 *DIGIT — no leading zeros
      if (n > 1 && s.charAt(intStart) == '0') return None
      if (at('.')) { i += 1; if (digits() == 0) return None }
      if (at('e') || at('E')) {
        i += 1
        if (at('+') || at('-')) i += 1
        if (digits() == 0) return None
      }
      Some(JNum(s.substring(start, i).toDouble))
    }

    private def literal(lit: String, v: JVal): Option[JVal] =
      if (s.startsWith(lit, i)) { i += lit.length; Some(v) } else None
  }

  /** One complete JSON text as a tree, or None when malformed
    * (trailing non-whitespace counts as malformed). */
  def parse(json: String): Option[JVal] = {
    if (json == null) return None
    val p = new Parser(json)
    val v = p.value(0)
    p.ws()
    if (p.i == json.length) v else None
  }

  /** `s` as a JSON string literal: quote, backslash and every control
    * character escaped. */
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < 32 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** (path, type) pairs for one JSON text in pre-order, or None when
    * malformed. */
  def pathTypes(json: String): Option[Vector[(String, String)]] =
    parse(json).map { root =>
      val out = Vector.newBuilder[(String, String)]
      def walk(path: String, v: JVal): Unit = v match {
        case JObj(fields) =>
          out += ((path, "object"))
          fields.foreach { case (k, x) => walk(path + "." + k, x) }
        case JArr(items) =>
          out += ((path, "array"))
          items.foreach(walk(path + "[]", _))
        case _: JStr => out += ((path, "string"))
        case _: JNum => out += ((path, "number"))
        case _: JBool => out += ((path, "boolean"))
        case JNull => out += ((path, "null"))
      }
      walk("$", root)
      out.result()
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
