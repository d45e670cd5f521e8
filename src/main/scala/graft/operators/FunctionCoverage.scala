package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Extended scalar-function coverage (SURVEY.md §2 Table B string/date/
  * array rows): the long tail a user of the reference would otherwise
  * hand-roll in Python map functions. All codegen'd built-ins; each has a
  * direct DuckDB spelling so the oracle is exact.
  */
object FunctionCoverage {
  val defs: Seq[QueryDef] = Seq(

    // ----- array construction / reshaping --------------------------------
    QueryDef(
      "q76_array_ops",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .filter($"doc_id" < 50)
          .withColumn("tk", filter(split($"text", " "), x => length(x) > 0))
          .select(
            $"doc_id",
            element_at(array_sort(array_distinct($"tk")), 1).as("first_sorted"),
            element_at(reverse($"tk"), 1).as("last_token"),
            // serialized with '|' rather than emitted as array<string>:
            // raw array cells are unhashable/unsortable in the oracle
            // comparison bridge
            concat_ws("|", slice($"tk", 1, 3)).as("head3"),
            array_position($"tk", "data").cast("long").as("pos_data"),
            array_contains($"tk", "spark").as("has_spark"),
            size(flatten(array($"tk", $"tk"))).cast("long").as("doubled_len"))
          .orderBy($"doc_id")
      },
      Some("""
        WITH f AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> length(x) > 0) AS tk
          FROM documents WHERE doc_id < 50)
        SELECT doc_id,
               list_sort(list_distinct(tk))[1] AS first_sorted,
               list_reverse(tk)[1] AS last_token,
               array_to_string(tk[1:3], '|') AS head3,
               CAST(coalesce(list_position(tk, 'data'), 0) AS BIGINT)
                 AS pos_data,
               list_contains(tk, 'spark') AS has_spark,
               CAST(len(flatten([tk, tk])) AS BIGINT) AS doubled_len
        FROM f
        ORDER BY doc_id""")),

    // ----- extended datetime functions -----------------------------------
    QueryDef(
      "q77_datetime_extended",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "events")
          .filter($"event_id" < 300)
          .select(
            $"event_id",
            unix_timestamp($"ts").as("epoch_s"),
            hour($"ts").as("hr"),
            minute($"ts").as("mi"),
            second($"ts").as("se"),
            dayofweek($"ts").as("dow"),
            dayofyear($"ts").as("doy"),
            make_date(year($"ts"), month($"ts"), lit(1)).cast("timestamp")
              .as("month_start"))
          .orderBy($"event_id")
      },
      Some("""
        SELECT event_id,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS epoch_s,
               CAST(hour(ts) AS INT) AS hr,
               CAST(minute(ts) AS INT) AS mi,
               CAST(second(ts) AS INT) AS se,
               CAST(dayofweek(ts) + 1 AS INT) AS dow,
               CAST(dayofyear(ts) AS INT) AS doy,
               CAST(make_date(CAST(year(ts) AS INT), CAST(month(ts) AS INT), 1)
                    AS TIMESTAMP) AS month_start
        FROM events
        WHERE event_id < 300
        ORDER BY event_id""")),

    // ----- extended string functions -------------------------------------
    QueryDef(
      "q78_string_extended",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "part")
          .filter($"p_partkey" < 500)
          .select(
            $"p_partkey",
            initcap($"p_name").as("title_name"),
            translate($"p_brand", "#", "-").as("brand_dash"),
            split_part($"p_type", lit(" "), lit(1)).as("type_head"),
            repeat($"p_brand", 2).as("brand2"),
            reverse($"p_name").as("rev_name"),
            levenshtein($"p_brand", lit("Brand#00")).as("lev_to_00"),
            instr($"p_name", "o").cast("long").as("first_o"),
            base64(encode($"p_brand", "UTF-8")).as("brand_b64"))
          .orderBy($"p_partkey")
      },
      Some("""
        SELECT p_partkey,
               -- DuckDB has no initcap; title-case word-by-word
               array_to_string(list_transform(string_split(p_name, ' '),
                 w -> CASE WHEN length(w) = 0 THEN w
                      ELSE upper(w[1]) || lower(w[2:]) END), ' ')
                 AS title_name,
               replace(p_brand, '#', '-') AS brand_dash,
               string_split(p_type, ' ')[1] AS type_head,
               repeat(p_brand, 2) AS brand2,
               reverse(p_name) AS rev_name,
               CAST(levenshtein(p_brand, 'Brand#00') AS INT) AS lev_to_00,
               CAST(coalesce(position('o' IN p_name), 0) AS BIGINT)
                 AS first_o,
               to_base64(encode(p_brand)) AS brand_b64
        FROM part
        WHERE p_partkey < 500
        ORDER BY p_partkey""")),

    // ----- VARIANT ingestion (Spark 4 semi-structured type) --------------
    // parse once into the binary VARIANT encoding, extract typed fields
    // with variant_get. At scale this is the schema-on-read path for
    // ragged JSON: parsing happens once at ingest, extraction is a typed
    // codegen'd path walk (no per-query string re-parse), and shredded
    // columns stay prunable. The oracle replays with plain JSON
    // extraction — any parse/path divergence hash-mismatches.
    QueryDef(
      "q159_variant_json",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "events")
          .withColumn("v", parse_json($"props"))
          .withColumn("k", variant_get($"v", "$.k", "long"))
          .filter($"k".isNotNull)
          .groupBy($"event_type")
          .agg(
            sum(when($"k" >= 50, $"k").otherwise(0L)).as("sum_hi"),
            count(when($"k" >= 50, lit(1))).as("n_hi"),
            count(lit(1)).as("n"))
          .orderBy($"event_type")
      },
      Some("""
        SELECT event_type,
               -- CAST: DuckDB sum(BIGINT) is HUGEINT -> float64 in the
               -- driver's pandas fetch; BIGINT keeps it integer-exact
               CAST(sum(CASE WHEN k >= 50 THEN k ELSE 0 END) AS BIGINT)
                 AS sum_hi,
               count(CASE WHEN k >= 50 THEN 1 END) AS n_hi,
               count(*) AS n
        FROM (SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events)
        WHERE k IS NOT NULL
        GROUP BY event_type
        ORDER BY event_type""")),

    // ----- collation-aware grouping (Spark 4 collations) -----------------
    // case-insensitive semantics pushed into the ENGINE via a collated
    // comparison, not a lower() rewrite of every row: at scale the
    // collation applies inside hash/sort operators directly. The fixture
    // is single-cased, so half the rows are upper()'d first to make the
    // test real; the output key is lower()'d because a collated group's
    // representative casing is engine-chosen (deliberately unspecified).
    // ORACLE SCOPE: the lower()-rewrite oracle equals UTF8_LCASE only
    // for ASCII keys ('İ'/'ß' case-fold differently), so the query
    // filters to ASCII sources — self-enforcing if the fixture ever
    // grows non-ASCII source names.
    QueryDef(
      "q160_collated_group",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .filter($"source".rlike("^[\\x00-\\x7F]*$"))
          .withColumn("src_mixed",
            when($"doc_id" % 2 === 0, upper($"source")).otherwise($"source"))
          .groupBy(collate($"src_mixed", "UTF8_LCASE").as("g"))
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
          .select(lower($"g").as("src"), $"n", $"chars")
          .orderBy($"src")
      },
      Some("""
        SELECT lower(CASE WHEN doc_id % 2 = 0 THEN upper(source)
                          ELSE source END) AS src,
               count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents
        WHERE regexp_matches(source, '^[\x00-\x7F]*$')
        GROUP BY 1
        ORDER BY src"""))
  )
}
