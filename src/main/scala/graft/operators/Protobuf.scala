package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.Bytes.{putVarint, varint}

/** Protobuf wire-format field census — the binary sibling of the JSON
  * path/type census (q301). A blob store full of serialized protobuf
  * records is opaque without the .proto; the wire format alone
  * (Google's public encoding spec) still yields a census: which field
  * numbers occur, with which wire types, how often, and the varint /
  * payload-byte mass per field. That is enough to fingerprint producer
  * versions and detect schema drift without any schema file.
  *
  * Wire types: 0 = varint (base-128, LSB-first), 1 = fixed64,
  * 2 = length-delimited, 5 = fixed32. The deprecated group types 3/4
  * and any truncation/overrun make the blob malformed → None, one bad
  * record never fails a corpus pass. Per-row byte walk, no shuffle.
  */
object Protobuf {

  /** One field occurrence: number, wire type, the varint value (wire
    * type 0) or payload byte length (wire type 2); fixed widths carry
    * their byte width. */
  final case class FieldOcc(fieldNo: Int, wireType: Int, value: Long)

  /** Walk one message's top-level fields. None on any structural
    * violation (bad wire type, varint >10 bytes, payload overrun,
    * field number 0). */
  def walkFields(b: Array[Byte]): Option[Vector[FieldOcc]] = {
    if (b == null) return None
    val out = Vector.newBuilder[FieldOcc]
    var i = 0
    while (i < b.length) {
      val tag = varint(b, i).getOrElse(return None)
      i = tag._2
      val fieldNo = (tag._1 >>> 3).toInt
      val wt = (tag._1 & 7).toInt
      if (fieldNo <= 0) return None
      wt match {
        case 0 =>
          val v = varint(b, i).getOrElse(return None)
          out += FieldOcc(fieldNo, 0, v._1); i = v._2
        case 1 =>
          if (i + 8 > b.length) return None
          out += FieldOcc(fieldNo, 1, 8L); i += 8
        case 2 =>
          val len = varint(b, i).getOrElse(return None)
          if (len._1 < 0 || len._1 > b.length - len._2) return None
          out += FieldOcc(fieldNo, 2, len._1)
          i = len._2 + len._1.toInt
        case 5 =>
          if (i + 4 > b.length) return None
          out += FieldOcc(fieldNo, 5, 4L); i += 4
        case _ => return None
      }
    }
    Some(out.result())
  }

  // --------------------------------------------------- fixture emitter

  private def putTag(out: ByteArrayOutputStream, fieldNo: Int, wt: Int): Unit =
    putVarint(out, (fieldNo.toLong << 3) | wt)

  /** Byte-valid message from (fieldNo, wireType, value-or-payload). */
  def encodeMessage(fields: Seq[(Int, Int, Either[Long, Array[Byte]])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    fields.foreach {
      case (no, 0, Left(v)) => putTag(out, no, 0); putVarint(out, v)
      case (no, 1, Left(v)) =>
        putTag(out, no, 1)
        var i = 0; while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
      case (no, 2, Right(p)) =>
        putTag(out, no, 2); putVarint(out, p.length.toLong); out.write(p, 0, p.length)
      case (no, 5, Left(v)) =>
        putTag(out, no, 5)
        var i = 0; while (i < 4) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
      case other => throw new IllegalArgumentException(other.toString)
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(

    // wire census: each doc serializes as field 1 varint=doc_id
    // (multi-byte continuation for id>=128), field 2 len-delimited
    // "doc <id>", field 3 fixed32, field 4 varint=300 (the classic
    // two-byte example), field 5 varint=7 repeated id%3 times. The
    // oracle replays the per-field occurrence/value rows — a varint
    // mis-shift, tag misread, or payload mis-hop changes a sum.
    QueryDef(
      "q303_protobuf_field_census",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id")
          .fanout.as[Long]
          .flatMap { id =>
            val payload = s"doc $id".getBytes("UTF-8")
            val msg = Protobuf.encodeMessage(
              Seq[(Int, Int, Either[Long, Array[Byte]])](
                (1, 0, Left(id)),
                (2, 2, Right(payload)),
                (3, 5, Left(id % 1000)),
                (4, 0, Left(300L))) ++
                Seq.fill((id % 3).toInt)((5, 0, Left(7L)))
            )
            Protobuf.walkFields(msg) match {
              case Some(occ) =>
                occ.groupBy(f => (f.fieldNo, f.wireType)).toSeq.map {
                  case ((no, wt), fs) =>
                    (id, no, wt, fs.size.toLong, fs.map(_.value).sum)
                }
              case None => Seq.empty
            }
          }
          .toDF("doc_id", "field_no", "wire_type", "n_occurrences",
            "value_sum")
          .orderBy($"doc_id", $"field_no")
      },
      Some("""
        SELECT doc_id, field_no, wire_type, n_occurrences, value_sum
        FROM (
          SELECT doc_id, 1 AS field_no, 0 AS wire_type,
                 CAST(1 AS BIGINT) AS n_occurrences,
                 doc_id AS value_sum
          FROM documents
          UNION ALL
          SELECT doc_id, 2, 2, CAST(1 AS BIGINT),
                 CAST(4 + length(CAST(doc_id AS VARCHAR)) AS BIGINT)
          FROM documents
          UNION ALL
          SELECT doc_id, 3, 5, CAST(1 AS BIGINT), CAST(4 AS BIGINT)
          FROM documents
          UNION ALL
          SELECT doc_id, 4, 0, CAST(1 AS BIGINT), CAST(300 AS BIGINT)
          FROM documents
          UNION ALL
          SELECT doc_id, 5, 0, CAST(doc_id % 3 AS BIGINT),
                 CAST(7 * (doc_id % 3) AS BIGINT)
          FROM documents WHERE doc_id % 3 <> 0)
        ORDER BY doc_id, field_no""")))
}
