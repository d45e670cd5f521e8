package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Compressed inverted-index postings — the storage layer under the
  * inverted index (q176) and proximity search. At 100 TB an index's
  * postings dwarf the text unless delta-compressed: doc ids sort,
  * gaps encode as base-128 varints (the Lucene/classic-IR layout),
  * and lists SEGMENT by doc-id range so no single term ever needs its
  * corpus-wide list in one task — the per-(term, segment) group is
  * bounded by the segment span regardless of document frequency.
  *
  * Each segment stores gaps against its own base (segment · span), so
  * a segment decodes independently — the skip-list/random-access
  * property real indexes need.
  */
object Postings {

  /** Varint-encode one segment's sorted ids as gaps from `base`
    * (writer shared with the protobuf/avro emitters). Requires sorted
    * input with ids ≥ base (caller contract). */
  def encodeSegment(ids: Seq[Long], base: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream(ids.size * 2)
    var prev = base
    ids.foreach { id =>
      val v = id - prev
      require(v >= 0, s"unsorted postings: $id after $prev")
      Bytes.putVarint(out, v)
      prev = id
    }
    out.toByteArray
  }

  /** Decode a segment blob back to absolute ids; None on a blob torn
    * mid-varint or an over-long (>10 byte) varint — a corrupt segment
    * is a counted casualty, never a crashed task or garbage ids. */
  def decodeSegment(b: Array[Byte], base: Long): Option[Vector[Long]] = {
    val out = Vector.newBuilder[Long]
    var prev = base
    var i = 0
    while (i < b.length) {
      val (gap, next) = Bytes.varint(b, i).getOrElse(return None)
      i = next
      prev += gap
      out += prev
    }
    Some(out.result())
  }

  /** Segmented compressed postings over (docIdCol, termCol) pairs:
    * one row per (term, segment) with the REAL encoded blob plus the
    * receipts (df, raw vs varint bytes). The shuffle is keyed by
    * (term, segment) — bounded by the segment span, so a stop word's
    * corpus-wide list never lands in one task. */
  def compressPostings(pairs: DataFrame, termCol: String, docIdCol: String,
      segSpan: Long): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs
      .select(col(termCol).as("term"), col(docIdCol).as("doc_id"))
      .distinct()
      .withColumn("seg", (col("doc_id") / segSpan).cast("long"))
      .groupBy(col("term"), col("seg"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .as[(String, Long, Seq[Long])]
      .map { case (term, seg, ids) =>
        val blob = encodeSegment(ids, seg * segSpan)
        (term, seg, ids.size.toLong, 8L * ids.size, blob.length.toLong, blob)
      }
      .toDF("term", "seg", "df", "raw_bytes", "varint_bytes", "blob")
  }

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(

    // segmented postings: the documents vocabulary tokenizes into
    // (term, doc) pairs, segments span 1000 doc ids, and the REAL
    // encoded blob's byte length is hashed against DuckDB's replay of
    // the gap arithmetic (1 byte under 128, 2 under 16384, 3 after) —
    // the oracle recomputes every segment's sorted gap sequence, so a
    // varint size slip or a sort/dedup slip in any list shows up.
    QueryDef(
      "q307_postings_compression",
      (s, dir) => {
        import s.implicits._
        val pairs = Tables.load(s, dir, "documents")
          .select($"doc_id", explode(split($"text", " ")).as("term"))
          .filter(length($"term") > 0)
        Postings.compressPostings(pairs, "term", "doc_id", segSpan = 1000L)
          .select($"term", $"seg", $"df", $"raw_bytes", $"varint_bytes")
          .orderBy($"term", $"seg")
      },
      Some("""
        WITH tok AS (
          SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '),
                          x -> length(x) > 0)) AS term
            FROM documents)),
        g AS (
          SELECT term, doc_id // 1000 AS seg,
                 list_sort(list(doc_id)) AS ids
          FROM tok GROUP BY term, doc_id // 1000)
        SELECT term, CAST(seg AS BIGINT) AS seg,
               CAST(len(ids) AS BIGINT) AS df,
               CAST(8 * len(ids) AS BIGINT) AS raw_bytes,
               CAST(list_sum(list_transform(generate_series(1, len(ids)),
                 i -> CASE
                   WHEN ids[i] - (CASE WHEN i = 1 THEN seg * 1000
                                       ELSE ids[i - 1] END) < 128 THEN 1
                   WHEN ids[i] - (CASE WHEN i = 1 THEN seg * 1000
                                       ELSE ids[i - 1] END) < 16384 THEN 2
                   ELSE 3 END)) AS BIGINT) AS varint_bytes
        FROM g
        ORDER BY term, seg""")))
}
