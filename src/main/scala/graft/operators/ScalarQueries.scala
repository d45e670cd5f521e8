package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Scalar / array / JSON function surface (SURVEY.md §2 Table B).
  *
  * The reference ships zero scalar functions — "whatever Python the user
  * writes in the map fn" (/root/reference/README.txt:254-261). Here each
  * family is the codegen'd org.apache.spark.sql.functions._ library; no
  * UDFs anywhere, so everything stays inside WholeStageCodegen.
  */
object ScalarQueries {
  val defs: Seq[QueryDef] = Seq(

    // ----- string functions ------------------------------------------------
    QueryDef(
      "q33_string_functions",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "part")
          .select(
            $"p_partkey",
            upper($"p_name").as("uname"),
            length($"p_name").as("name_len"),
            substring($"p_name", 1, 4).as("prefix"),
            regexp_replace($"p_name", " ", "_").as("snake"),
            element_at(split($"p_name", " "), -1).as("last_word"),
            concat_ws("|", $"p_brand", $"p_type").as("brand_type"),
            regexp_extract($"p_brand", "([0-9]+)", 1).as("brand_nr"),
            ltrim(rtrim($"p_name")).as("trimmed"),
            lpad($"p_size".cast("string"), 3, "0").as("size3"),
            $"p_name".contains("widget").as("is_widget"),
            $"p_name".startsWith("small").as("is_small"))
          .orderBy($"p_partkey")
      },
      Some("""
        SELECT p_partkey,
               upper(p_name) AS uname,
               length(p_name) AS name_len,
               substring(p_name, 1, 4) AS prefix,
               replace(p_name, ' ', '_') AS snake,
               string_split(p_name, ' ')[-1] AS last_word,
               concat_ws('|', p_brand, p_type) AS brand_type,
               regexp_extract(p_brand, '([0-9]+)', 1) AS brand_nr,
               ltrim(rtrim(p_name)) AS trimmed,
               lpad(CAST(p_size AS VARCHAR), 3, '0') AS size3,
               contains(p_name, 'widget') AS is_widget,
               starts_with(p_name, 'small') AS is_small
        FROM part
        ORDER BY p_partkey""")),

    // ----- math functions ----------------------------------------------------
    QueryDef(
      "q34_math_functions",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "customer")
          .select(
            $"c_custkey",
            round(abs($"c_acctbal"), 4).as("abs_bal"),
            // + 0.0 normalizes IEEE -0.0: DuckDB's double ceil of a
            // small negative yields -0.0, Spark's integral ceil 0.0
            (ceil($"c_acctbal").cast("double") + lit(0.0)).as("ceil_bal"),
            floor($"c_acctbal").cast("double").as("floor_bal"),
            round(sqrt(abs($"c_acctbal")), 4).as("sqrt_bal"),
            round(pow($"c_acctbal", 2), 4).as("sq_bal"),
            round(log(greatest(abs($"c_acctbal"), lit(1.0))), 4).as("ln_bal"),
            round(log10(greatest(abs($"c_acctbal"), lit(1.0))), 4).as("log10_bal"),
            signum($"c_acctbal").as("sign_bal"),
            pmod($"c_custkey", lit(7)).as("mod7"),
            round(exp(lit(1.0)), 4).as("e"))
          .orderBy($"c_custkey")
      },
      Some("""
        SELECT c_custkey,
               round(abs(c_acctbal), 4) AS abs_bal,
               CAST(ceil(c_acctbal) AS DOUBLE) + 0.0 AS ceil_bal,
               CAST(floor(c_acctbal) AS DOUBLE) AS floor_bal,
               round(sqrt(abs(c_acctbal)), 4) AS sqrt_bal,
               round(pow(c_acctbal, 2), 4) AS sq_bal,
               round(ln(greatest(abs(c_acctbal), 1.0)), 4) AS ln_bal,
               round(log10(greatest(abs(c_acctbal), 1.0)), 4) AS log10_bal,
               CAST(sign(c_acctbal) AS DOUBLE) AS sign_bal,
               CAST(c_custkey % 7 AS BIGINT) AS mod7,
               round(exp(1.0), 4) AS e
        FROM customer
        ORDER BY c_custkey""")),

    // ----- date/time functions -------------------------------------------------
    QueryDef(
      "q35_date_functions",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "orders")
          .filter($"o_orderkey" < 2000)
          .select(
            $"o_orderkey",
            year($"o_orderdate").as("yr"),
            month($"o_orderdate").as("mo"),
            dayofmonth($"o_orderdate").as("dom"),
            quarter($"o_orderdate").as("qtr"),
            date_trunc("month", $"o_orderdate").as("month_start"),
            last_day($"o_orderdate").cast("timestamp").as("month_end"),
            datediff(lit("2002-01-01").cast("date"), $"o_orderdate".cast("date"))
              .as("days_to_2002"),
            add_months($"o_orderdate".cast("date"), 3).cast("timestamp").as("plus3mo"),
            date_format($"o_orderdate", "yyyy-MM").as("ym"))
          .orderBy($"o_orderkey")
      },
      Some("""
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INT) AS yr,
               CAST(month(o_orderdate) AS INT) AS mo,
               CAST(day(o_orderdate) AS INT) AS dom,
               CAST(quarter(o_orderdate) AS INT) AS qtr,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
               CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
               CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
                    AS INT) AS days_to_2002,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS TIMESTAMP)
                 AS plus3mo,
               strftime(o_orderdate, '%Y-%m') AS ym
        FROM orders
        WHERE o_orderkey < 2000
        ORDER BY o_orderkey""")),

    // ----- conditional / null handling ------------------------------------------
    QueryDef(
      "q36_case_null_handling",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "customer")
          .select(
            $"c_custkey",
            when($"c_acctbal" < 0, "overdrawn")
              .when($"c_acctbal" < 5000, "normal")
              .otherwise("premium").as("tier"),
            coalesce(nullif($"c_mktsegment", lit("MACHINERY")), lit("(machinery)"))
              .as("seg_masked"),
            when($"c_acctbal".between(0, 1000), round($"c_acctbal", 4)).as("small_bal"),
            ($"c_nationkey" <=> lit(3)).as("is_n3"))
          .orderBy($"c_custkey")
      },
      Some("""
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN 'overdrawn'
                    WHEN c_acctbal < 5000 THEN 'normal'
                    ELSE 'premium' END AS tier,
               coalesce(nullif(c_mktsegment, 'MACHINERY'), '(machinery)') AS seg_masked,
               CASE WHEN c_acctbal BETWEEN 0 AND 1000
                    THEN round(c_acctbal, 4) END AS small_bal,
               c_nationkey IS NOT DISTINCT FROM 3 AS is_n3
        FROM customer
        ORDER BY c_custkey""")),

    // ----- JSON functions (events.props is a JSON string) -----------------------
    QueryDef(
      "q37_json_extraction",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "events")
          .withColumn("k", get_json_object($"props", "$.k").cast("int"))
          .groupBy($"event_type")
          .agg(
            round(avg($"k"), 4).as("avg_k"),
            max($"k").as("max_k"),
            count($"k").as("n_k"))
          .orderBy($"event_type")
      },
      Some("""
        SELECT event_type,
               round(avg(k), 4) AS avg_k,
               max(k) AS max_k,
               count(k) AS n_k
        FROM (SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS INT) AS k
              FROM events)
        GROUP BY event_type
        ORDER BY event_type""")),

    // ----- array functions + higher-order lambdas over embeddings ---------------
    // Vector math with zero UDFs: transform/filter/aggregate are codegen'd
    // Catalyst expressions; all arithmetic forced to double on both sides.
    QueryDef(
      "q38_array_higher_order",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "embeddings")
          .filter($"vec_id" < 100)
          .select(
            $"vec_id",
            size($"embedding").as("dim"),
            round(element_at($"embedding", 1).cast("double"), 6).as("first_elem"),
            size(filter($"embedding", x => x > 0)).as("n_pos"),
            round(
              aggregate($"embedding", lit(0.0),
                (acc, x) => acc + x.cast("double") * x.cast("double")), 6)
              .as("sq_norm"),
            round(
              aggregate($"embedding", lit(0.0), (acc, x) => acc + x.cast("double"))
                / size($"embedding"), 6).as("mean_elem"))
          .orderBy($"vec_id")
      },
      Some("""
        SELECT vec_id,
               CAST(len(embedding) AS INT) AS dim,
               round(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
               CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
               round(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS sq_norm,
               round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                     / len(embedding), 6) AS mean_elem
        FROM embeddings
        WHERE vec_id < 100
        ORDER BY vec_id""")),

    // ----- array construction / explode (posexplode) ----------------------------
    QueryDef(
      "q39_explode_tokens_positional",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .filter($"doc_id" < 20)
          .select($"doc_id", posexplode(split($"text", " ")))
          .toDF("doc_id", "pos", "token")
          .filter(length($"token") > 0)
          .select($"doc_id", $"pos".cast("int").as("pos"), $"token")
          .orderBy($"doc_id", $"pos")
      },
      Some("""
        SELECT doc_id, CAST(pos - 1 AS INT) AS pos, token
        FROM (SELECT doc_id,
                     unnest(string_split(text, ' ')) AS token,
                     unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
              FROM documents
              WHERE doc_id < 20)
        WHERE length(token) > 0
        ORDER BY doc_id, pos""")),

    // ----- map functions (construction, keys/values, element access) -----------
    // Fixtures carry no map columns; build one and read it back. Output is
    // scalars so the result stays oracle-comparable via plain SQL.
    QueryDef(
      "q40_map_functions",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "events")
          .filter($"event_id" < 500)
          .withColumn("m", map(lit("type"), $"event_type",
            lit("uid"), $"user_id".cast("string")))
          .select(
            $"event_id",
            element_at($"m", "type").as("m_type"),
            element_at($"m", "uid").cast("long").as("m_uid"),
            size($"m").as("m_size"),
            array_join(map_keys($"m"), ",").as("keys_csv"))
          .orderBy($"event_id")
      },
      Some("""
        SELECT event_id,
               event_type AS m_type,
               user_id AS m_uid,
               2 AS m_size,
               'type,uid' AS keys_csv
        FROM events
        WHERE event_id < 500
        ORDER BY event_id"""))
  )
}
