package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.engine.Tables

/** Raw-text and CSV scan coverage (SURVEY.md §2 Table B scan rows): the
  * reference's native input is raw lines handed to the map function
  * (/root/reference/mapper.py:58-59); these queries prove the engine
  * ingests line-oriented and CSV data end-to-end, not just parquet and
  * JSON-lines.
  *
  * The fixture set is parquet-only, so each query first STAGES a file
  * set from `documents` under java.io.tmpdir (overwrite-idempotent, so
  * re-runs are deterministic), then reads it back through the source
  * under test. The oracle replays the same computation from the parquet
  * table directly — any parse or round-trip fault therefore surfaces as
  * a row/hash mismatch against DuckDB.
  *
  * Scale notes (100 TB posture):
  *  - text/CSV scans split by line ranges exactly like parquet row
  *    groups; `spark.sql.files.maxPartitionBytes` bounds task input, so
  *    the plan shape is identical at any corpus size.
  *  - the CSV read declares an EXPLICIT schema: schema inference is a
  *    second full pass over the data and is never acceptable at scale.
  *  - parsing stays inside WholeStageCodegen (split_part/cast built-ins,
  *    no UDFs), and the aggregation after the scan is partial+final.
  */
object SourceCoverage {

  /** Deterministic staging dir per (tag, fixture dir). */
  private def stagePath(tag: String, dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_src_${tag}_${Integer.toHexString(dir.hashCode)}"

  /** Stage `docs` (doc_id, text) as "doc_id<TAB>text" lines, read them back
    * through the raw-text source, and count whitespace tokens per doc.
    *
    * The line format cannot carry a literal tab or newline inside `text`
    * (a tab truncates the parse at the second field, a newline splits one
    * doc across two lines whose second half has a null doc_id), so staging
    * normalizes `\t \n \r` to spaces BEFORE writing. Token counts are
    * preserved: the tokenizer splits on spaces and drops empties, so a
    * whitespace-class character mapping to ' ' is identity on the token
    * stream. The oracle must apply the same normalization (see q87's SQL). */
  def rawTextTokenCounts(s: SparkSession, docs: DataFrame, staged: String): DataFrame = {
    import s.implicits._
    docs
      .select(concat_ws("\t", $"doc_id",
        translate($"text", "\t\n\r", "   ")).as("value"))
      .write.mode("overwrite").text(staged)
    s.read.text(staged)
      .select(
        split_part($"value", lit("\t"), lit(1)).cast("long").as("doc_id"),
        split_part($"value", lit("\t"), lit(2)).as("text"))
      .select($"doc_id", explode(split($"text", " ")).as("tk"))
      .filter(length($"tk") > 0)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"))
      .orderBy($"doc_id")
  }

  val defs: Seq[QueryDef] = Seq(

    // ----- raw-text source: the reference's native input shape ----------
    // one "doc_id<TAB>text" line per document; read.text → split_part
    // parse → tokenize → per-doc token count.
    QueryDef(
      "q87_raw_text_source",
      (s, dir) =>
        rawTextTokenCounts(s, Tables.load(s, dir, "documents"),
          stagePath("text", dir)),
      // same \t\n\r -> ' ' normalization as the staging path: token counts
      // agree even if a fixture doc ever carries embedded whitespace
      Some("""
        SELECT doc_id, count(*) AS n_tokens
        FROM (SELECT doc_id,
                     unnest(string_split(
                       translate(text, chr(9) || chr(10) || chr(13), '   '),
                       ' ')) AS tk
              FROM documents)
        WHERE length(tk) > 0
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- CSV source: header + explicit schema round-trip --------------
    QueryDef(
      "q88_csv_source",
      (s, dir) => {
        import s.implicits._
        val staged = stagePath("csv", dir)
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"lang", $"source", $"n_chars")
          .write.mode("overwrite").option("header", "true").csv(staged)
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("lang", StringType),
          StructField("source", StringType),
          StructField("n_chars", LongType)))
        s.read.schema(schema).option("header", "true").csv(staged)
          .groupBy($"lang", $"source")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
          .orderBy($"lang", $"source")
      },
      Some("""
        SELECT lang, source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        GROUP BY lang, source
        ORDER BY lang, source""")),

    // ----- XML source: Spark 4's built-in XML datasource ------------------
    // Round-trip the document metadata through rowTag-delimited XML and
    // aggregate off the XML scan with an explicit schema; the oracle
    // replays from the parquet fixture, so any XML encode/parse fault
    // (escaping, type coercion, element ordering) hash-mismatches. Only
    // the metadata columns ride: XML escaping of free text is the
    // format's job, but the token-soup fixture text adds nothing to the
    // round-trip contract that lang/source/n_chars don't already pin.
    QueryDef(
      "q154_xml_source",
      (s, dir) => {
        import s.implicits._
        val staged = stagePath("xml", dir)
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"lang", $"source", $"n_chars")
          .write.mode("overwrite").format("xml")
          .option("rootTag", "docs").option("rowTag", "doc")
          .save(staged)
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("lang", StringType),
          StructField("source", StringType),
          StructField("n_chars", LongType)))
        s.read.schema(schema).format("xml").option("rowTag", "doc")
          .load(staged)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_chars").as("sum_chars"),
            max($"n_chars").as("max_chars"))
          .orderBy($"lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               max(n_chars) AS max_chars
        FROM documents
        GROUP BY lang
        ORDER BY lang""")),

    // ----- ORC source: the second columnar format Spark ships ------------
    // Round-trip events through ORC (zlib-striped, predicate-pushdown
    // capable like parquet) and aggregate off the ORC scan; the oracle
    // replays from the parquet fixture, so any ORC encode/decode fault
    // hash-mismatches.
    QueryDef(
      "q110_orc_source",
      (s, dir) => {
        import s.implicits._
        val staged = stagePath("orc", dir)
        Tables.load(s, dir, "events")
          .select($"event_id", $"user_id", $"event_type", $"value")
          .write.mode("overwrite").orc(staged)
        s.read.orc(staged)
          .filter($"value" > 10.0)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_events"),
            round(sum($"value"), 4).as("sum_value"))
          .orderBy($"event_type")
      },
      Some("""
        SELECT event_type, count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events
        WHERE value > 10.0
        GROUP BY event_type
        ORDER BY event_type""")),

    // ----- JSON-lines + gzip + roll round-trip ---------------------------
    // The reference's own storage format (gzip NDJSON, rolled files —
    // reducer.py:106-139) through the JsonLines source/sink pair; until
    // now that pair was only unit-tested, so this puts the compatibility
    // boundary under the oracle gate too. Rolling at 100 records forces
    // a multi-file scan; gzip makes each file a single split (the
    // documented trade — fine for a compatibility boundary, parquet is
    // the at-rest format).
    QueryDef(
      "q113_jsonl_gzip_source",
      (s, dir) => {
        import s.implicits._
        val staged = stagePath("jsonl", dir)
        graft.sources.JsonLines.write(
          Tables.load(s, dir, "documents")
            .select($"doc_id", $"lang", $"n_chars"),
          staged, maxRecordsPerFile = 100L, compress = true)
        graft.sources.JsonLines.read(s, Seq(staged))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
          .orderBy($"lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        GROUP BY lang
        ORDER BY lang""")),

    // ----- binaryFile source: whole files as opaque bytes ----------------
    // The ingestion path for multimodal corpora (images/audio land as
    // FILES, not rows): `binaryFile` reads each file to one row of
    // (path, modificationTime, length, content) — the row shape
    // `Multimodal` consumes. Here a handful of documents are staged as
    // .bin files, read back whole, and digested; the oracle replays the
    // digest from the parquet table, so a byte-level round-trip fault
    // hash-mismatches. At scale each file is one task input (no
    // splitting); `pathGlobFilter` prunes by extension at listing time,
    // and tiny-file pressure is the known trade — batch small media into
    // parquet binary columns (q52) once ingested.
    QueryDef(
      "q136_binaryfile_source",
      (s, dir) => {
        import s.implicits._
        val staged = stagePath("bin", dir)
        // stage one file per doc (partitioned text sink: doc_id=N/part-*.txt,
        // each holding the doc's text + one trailing \n) — all distributed,
        // no driver-side staging
        // fanned out: the 200-directory partitioned write otherwise runs
        // as ONE task writing 200 files sequentially (each doc_id still
        // lands in exactly one file — bytes unchanged)
        Tables.fanout(Tables.load(s, dir, "documents")
          .filter($"doc_id" % 25 === 0)
          .select($"doc_id", $"text"))
          .write.mode("overwrite").partitionBy("doc_id").text(staged)
        // binaryFile: whole file -> one (path, mtime, length, content) row;
        // doc_id comes back through partition discovery
        s.read.format("binaryFile")
          .option("pathGlobFilter", "*.txt")
          .load(staged)
          .select($"doc_id".cast("long").as("doc_id"),
            $"length".as("n_bytes"),
            md5($"content").as("digest"))
          .orderBy($"doc_id")
      },
      // the text sink appends one newline per line: account for it exactly
      Some("""
        SELECT doc_id,
               CAST(octet_length(encode(text)) + 1 AS BIGINT) AS n_bytes,
               md5(text || chr(10)) AS digest
        FROM documents
        WHERE doc_id % 25 = 0
        ORDER BY doc_id""")),

    // ----- schema evolution: mergeSchema across parquet generations ------
    // The long-lived-dataset reality: files written before a column
    // existed sit next to files written after. Two generations are
    // staged (docs without `lang`, then docs with it); a mergeSchema
    // read must surface the union schema with NULLs for the missing
    // column, and the aggregation must agree with replaying the same
    // generation split from the fixture. (At scale, mergeSchema costs a
    // footer read per file — pin the schema explicitly once known; this
    // gates the evolution path itself.)
    QueryDef(
      "q150_schema_evolution",
      (s, dir) => {
        import s.implicits._
        val staged = stagePath("evo", dir)
        val docs = Tables.load(s, dir, "documents")
        docs.filter($"doc_id" % 2 === 0)
          .select($"doc_id", $"n_chars")
          .write.mode("overwrite").parquet(s"$staged/gen=0")
        docs.filter($"doc_id" % 2 === 1)
          .select($"doc_id", $"n_chars", $"lang")
          .write.mode("overwrite").parquet(s"$staged/gen=1")
        Tables.parquetMerged(s, staged)
          .groupBy(coalesce($"lang", lit("_pre_schema")).as("lang"))
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
          .orderBy($"lang")
      },
      Some("""
        SELECT CASE WHEN doc_id % 2 = 0 THEN '_pre_schema' ELSE lang END
                 AS lang,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        GROUP BY 1
        ORDER BY lang""")),

    // ----- partitioned parquet sink + pruned read-back -------------------
    // The at-rest layout SCALING.md prescribes (partition by the dominant
    // filter column): write events partitioned by event_type, read back
    // ONE partition — the scan must touch only that directory (partition
    // pruning is also pinned by PlanAuditSpec; this gates the round-trip
    // through CORRECTNESS).
    QueryDef(
      "q111_partitioned_sink",
      (s, dir) => {
        import s.implicits._
        val staged = stagePath("part", dir)
        Tables.load(s, dir, "events")
          .select($"event_id", $"user_id", $"event_type", $"value")
          .write.mode("overwrite").partitionBy("event_type")
          .option("compression", "zstd") // the SCALING.md at-rest codec
          .parquet(staged)
        Tables.parquet(s, staged)
          .filter($"event_type" === "purchase")
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_purchases"),
            round(sum($"value"), 4).as("sum_value"))
          .orderBy($"user_id")
      },
      Some("""
        SELECT user_id, count(*) AS n_purchases,
               round(sum(value), 4) AS sum_value
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY user_id
        ORDER BY user_id""")),

    // ----- JDBC source/sink round-trip (embedded Derby) ------------------
    // The external-database boundary (reference analogue: A27's
    // file-transfer handoff, /root/reference/scheduler.py:127-171 — the
    // reference ships bytes to an external box; a Spark engine ships rows
    // to an external store). Stages `customer` INTO an embedded Derby
    // database via the JDBC sink (overwrite = drop-and-recreate,
    // idempotent re-runs), then reads it back through the JDBC source the
    // way a 100 TB ingest would: a 4-way PARTITIONED parallel read (each
    // task issues its own bounded-range query — the only way a JDBC scan
    // scales past one connection) with the numeric filter PUSHED DOWN to
    // the database as WHERE (SourceCoverageSpec pins both). Derby runs in-JVM
    // from the Spark distribution's own jars — hermetic, no network.
    QueryDef(
      "q217_jdbc_roundtrip",
      (s, dir) => {
        import s.implicits._
        // keep Derby's boot log out of cwd (dev hygiene; set once)
        System.setProperty("derby.stream.error.file",
          s"${sys.props("java.io.tmpdir")}/graft_derby.log")
        val url = s"jdbc:derby:${stagePath("jdbc", dir)};create=true"
        val props = new java.util.Properties
        props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        val cust = Tables.load(s, dir, "customer")
          .select($"c_custkey", $"c_nationkey", $"c_acctbal")
        cust.write.mode("overwrite").jdbc(url, "customer_rt", props)
        val (lo, hi) = cust // two scalars for the partition bounds
          .agg(min($"c_custkey"), max($"c_custkey")).as[(Long, Long)].head()
        s.read
          .jdbc(url, "customer_rt", "c_custkey", lo, hi + 1, 4, props)
          .filter($"c_acctbal" > 0) // pushed into Derby's WHERE
          .groupBy($"c_nationkey")
          .agg(count(lit(1)).as("n"),
            round(sum($"c_acctbal"), 4).as("total_bal"))
          .orderBy($"c_nationkey")
      },
      Some("""
        SELECT c_nationkey, count(*) AS n,
               round(sum(c_acctbal), 4) AS total_bal
        FROM customer
        WHERE c_acctbal > 0
        GROUP BY c_nationkey
        ORDER BY c_nationkey"""))
  )
}
