package graft.operators

import java.io.RandomAccessFile

import org.apache.spark.sql.functions._

import graft.engine.{Tables, TempDir}

/** Parquet footer walk — REAL Thrift compact-protocol parsing of
  * FileMetaData, the metadata a lakehouse engine reads before it
  * touches a single row group.
  *
  * q284 sniffs the PAR1 shell; this decodes what's inside the footer:
  * the Thrift COMPACT protocol (field-delta headers, zigzag varints,
  * size-prefixed lists — the third schemaless wire format beside the
  * q302 protobuf and q324 msgpack walks), then the FileMetaData
  * structure: version, schema element list, row count, row groups
  * with per-column chunk metadata (codec, value counts, paths). The
  * walker is generic-by-id (unknown fields hopped by type, exactly
  * like the protobuf census), so files from any writer parse.
  *
  * Scale posture: the footer read is O(footer) — seek to EOF, read
  * the 8-byte tail (u32 length + "PAR1"), then exactly `len` bytes.
  * NEVER the file body: at 100 TB a layout audit reads megabytes of
  * footers, not the lake. The fixture writes a REAL Spark parquet
  * file and the oracle replays the invariants DuckDB can see in the
  * same file (row count, schema, codec), so the walk is refereed by
  * two independent parquet implementations (parquet-java wrote it,
  * DuckDB re-reads it, this walker parses the raw bytes).
  *
  * Reference analogue: none (the reference reads flat text); the
  * format is the public parquet-format Thrift spec.
  */
object ParquetFooter {

  // ------------------------------------------------------------------
  // thrift compact protocol primitives
  // ------------------------------------------------------------------

  private[operators] final class Reader(val b: Array[Byte], var pos: Int) {
    def u8(): Int = { val v = b(pos) & 0xff; pos += 1; v }
    def varint(): Long = {
      val (v, next) = Bytes.varint(b, pos)
        .getOrElse(throw new IllegalStateException("varint overrun"))
      pos = next
      v
    }
    def zigzag(): Long = { val u = varint(); (u >>> 1) ^ -(u & 1) }
    def bytes(n: Int): Array[Byte] = {
      if (n < 0 || pos + n > b.length) throw new IllegalStateException("eof")
      val out = java.util.Arrays.copyOfRange(b, pos, pos + n); pos += n
      out
    }
  }

  // compact-protocol type codes (shared with ParquetPages)
  private[operators] val TStop = 0
  private[operators] val TBoolTrue = 1; private[operators] val TBoolFalse = 2
  private[operators] val TByte = 3; private[operators] val TI16 = 4
  private[operators] val TI32 = 5
  private[operators] val TI64 = 6; private[operators] val TDouble = 7
  private[operators] val TBinary = 8
  private[operators] val TList = 9; private[operators] val TSet = 10
  private[operators] val TMap = 11
  private[operators] val TStruct = 12

  /** Skip one value of compact type `t`. */
  private[operators] def skip(r: Reader, t: Int): Unit = t match {
    case TBoolTrue | TBoolFalse => ()
    case TByte => r.u8(); ()
    case TI16 | TI32 | TI64 => r.zigzag(); ()
    case TDouble => r.bytes(8); ()
    case TBinary => val n = r.varint().toInt; r.bytes(n); ()
    case TList | TSet =>
      val (et, n) = listHeader(r)
      var i = 0L
      while (i < n) { skip(r, et); i += 1 }
    case TMap =>
      val n = r.varint()
      if (n > 0) {
        val kv = r.u8()
        val kt = (kv >> 4) & 0xf; val vt = kv & 0xf
        var i = 0L
        while (i < n) { skip(r, kt); skip(r, vt); i += 1 }
      }
    case TStruct =>
      var last = 0
      var done = false
      while (!done) {
        val h = r.u8()
        if (h == TStop) done = true
        else {
          val delta = (h >> 4) & 0xf
          val ft = h & 0xf
          last = if (delta != 0) last + delta else r.zigzag().toInt
          if (ft == TBoolTrue || ft == TBoolFalse) () else skip(r, ft)
        }
      }
    case _ => throw new IllegalStateException(s"bad compact type $t")
  }

  private[operators] def listHeader(r: Reader): (Int, Long) = {
    val h = r.u8()
    val et = h & 0xf
    val n = (h >> 4) & 0xf
    (et, if (n == 15) r.varint() else n.toLong)
  }

  /** Walk one struct, calling `field(id, type)` per field; the
    * callback must consume the value (or call skip). */
  private[operators] def struct(r: Reader)(field: (Int, Int) => Unit): Unit = {
    var last = 0
    var done = false
    while (!done) {
      val h = r.u8()
      if (h == TStop) done = true
      else {
        val delta = (h >> 4) & 0xf
        val ft = h & 0xf
        last = if (delta != 0) last + delta else r.zigzag().toInt
        field(last, ft)
      }
    }
  }

  // ------------------------------------------------------------------
  // FileMetaData walk
  // ------------------------------------------------------------------

  final case class FooterMeta(version: Int, numRows: Long,
      leafColumns: Seq[String], rowGroups: Int, rowsViaGroups: Long,
      codecs: Set[String], valueCounts: Long, createdBy: String)

  private val CodecNames = Map(0 -> "UNCOMPRESSED", 1 -> "SNAPPY",
    2 -> "GZIP", 3 -> "LZO", 4 -> "BROTLI", 5 -> "LZ4", 6 -> "ZSTD",
    7 -> "LZ4_RAW")

  /** Parse the FileMetaData thrift struct from raw footer bytes. */
  def parseFooter(footer: Array[Byte]): Option[FooterMeta] =
    try {
      val r = new Reader(footer, 0)
      var version = -1
      var numRows = -1L
      val leaves = Seq.newBuilder[String]
      var rowGroups = 0
      var rowsViaGroups = 0L
      val codecs = Set.newBuilder[String]
      var valueCounts = 0L
      var createdBy = ""
      struct(r) { (id, t) =>
        (id, t) match {
          case (1, TI32) => version = r.zigzag().toInt
          case (2, TList) => // schema elements; leaves have no children
            val (et, n) = listHeader(r)
            if (et != TStruct) throw new IllegalStateException("schema type")
            var i = 0L
            while (i < n) {
              var name = ""
              var children = 0
              struct(r) { (fid, ft) =>
                (fid, ft) match {
                  case (4, TBinary) =>
                    name = new String(r.bytes(r.varint().toInt), "UTF-8")
                  case (5, TI32) => children = r.zigzag().toInt
                  case _ => if (ft != TBoolTrue && ft != TBoolFalse) skip(r, ft)
                }
              }
              if (children == 0 && i > 0) leaves += name // 0 = the root
              i += 1
            }
          case (3, TI64) => numRows = r.zigzag()
          case (4, TList) => // row groups
            val (et, n) = listHeader(r)
            if (et != TStruct) throw new IllegalStateException("rg type")
            var i = 0L
            while (i < n) {
              rowGroups += 1
              struct(r) { (fid, ft) =>
                (fid, ft) match {
                  case (1, TList) => // column chunks
                    val (ct, cn) = listHeader(r)
                    if (ct != TStruct)
                      throw new IllegalStateException("chunk type")
                    var j = 0L
                    while (j < cn) {
                      struct(r) { (cid, cft) =>
                        (cid, cft) match {
                          case (3, TStruct) => // ColumnMetaData
                            struct(r) { (mid, mft) =>
                              (mid, mft) match {
                                case (4, TI32) =>
                                  codecs += CodecNames.getOrElse(
                                    r.zigzag().toInt, "UNKNOWN")
                                case (5, TI64) => valueCounts += r.zigzag()
                                case _ =>
                                  if (mft != TBoolTrue && mft != TBoolFalse)
                                    skip(r, mft)
                              }
                            }
                          case _ =>
                            if (cft != TBoolTrue && cft != TBoolFalse)
                              skip(r, cft)
                        }
                      }
                      j += 1
                    }
                  case (3, TI64) => rowsViaGroups += r.zigzag()
                  case _ =>
                    if (ft != TBoolTrue && ft != TBoolFalse) skip(r, ft)
                }
              }
              i += 1
            }
          case (6, TBinary) =>
            createdBy = new String(r.bytes(r.varint().toInt), "UTF-8")
          case _ => if (t != TBoolTrue && t != TBoolFalse) skip(r, t)
        }
      }
      if (version < 0 || numRows < 0) None
      else Some(FooterMeta(version, numRows, leaves.result(), rowGroups,
        rowsViaGroups, codecs.result(), valueCounts, createdBy))
    } catch { case _: Exception => None }

  /** Read ONLY the footer of a parquet file: seek to EOF−8, check the
    * "PAR1" tail magic, read the u32 footer length, seek back, read
    * exactly that many bytes. O(footer) — the file body is never
    * touched. */
  def readFooter(path: String): Option[Array[Byte]] = {
    val raf = new RandomAccessFile(path, "r")
    try {
      val len = raf.length()
      if (len < 12) return None
      raf.seek(len - 8)
      val tail = new Array[Byte](8)
      raf.readFully(tail)
      if (!(tail(4) == 'P' && tail(5) == 'A' && tail(6) == 'R' &&
        tail(7) == '1')) return None
      val fLen = Bytes.i32le(tail, 0)
      if (fLen <= 0 || fLen > len - 12) return None
      raf.seek(len - 8 - fLen)
      val footer = new Array[Byte](fLen)
      raf.readFully(footer)
      Some(footer)
    } finally raf.close()
  }

  val defs: Seq[QueryDef] = Seq(

    // ----- parquet footer audit over a REAL Spark-written file --------
    // The fixture writes `documents` to one snappy parquet file; the
    // walker parses the raw footer bytes (thrift compact) and reports
    // the invariants DuckDB independently sees in the SAME table:
    // row count (footer scalar AND summed over row groups — a
    // row-group walk slip breaks their equality), the leaf column
    // list, the codec, and per-column value-count totals. Three
    // parquet implementations must agree byte-for-byte for this to
    // hash green: parquet-java wrote it, this walker reads it, DuckDB
    // replays the expectations.
    QueryDef(
      "q346_parquet_footer_audit",
      (s, dir) => {
        import s.implicits._
        val tmp = TempDir("graft_pq_audit")
        Tables.load(s, dir, "documents")
          .orderBy($"doc_id")
          .coalesce(1)
          .write.mode("overwrite").option("compression", "snappy")
          .parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(f => f.getName.endsWith(".parquet")).head
        val meta = readFooter(part.getAbsolutePath).flatMap(parseFooter)
        // fixture hygiene: the audit file is consumed; drop the dir
        TempDir.delete(new java.io.File(tmp))
        val rows = meta match {
          case Some(m) => Seq((m.version, m.numRows,
            m.leafColumns.sorted.mkString(","), m.rowsViaGroups,
            m.codecs.toSeq.sorted.mkString(","),
            m.valueCounts / math.max(1, m.leafColumns.size),
            m.createdBy.contains("parquet")))
          case None => Seq((-1, -1L, "", -1L, "", -1L, false))
        }
        rows.toDF("version", "n_rows", "columns",
          "rows_via_groups", "codecs", "values_per_column", "writer_known")
      },
      Some("""
        SELECT CAST(1 AS INT) AS version,
               COUNT(*) AS n_rows,
               'doc_id,lang,n_chars,source,text' AS columns,
               COUNT(*) AS rows_via_groups,
               'SNAPPY' AS codecs,
               COUNT(*) AS values_per_column,
               TRUE AS writer_known
        FROM documents"""))
  )
}
