package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.functions._

import graft.engine.{Tables, TempDir}
import ParquetFooter.{struct => thriftStruct, _}

import graft.operators.Bytes.i32le

/** Parquet PAGE-level column reader — from the public parquet-format
  * spec, no parquet-mr classes. [[ParquetFooter]] stops at file
  * metadata; this walks the actual column chunks: per-chunk
  * ColumnMetaData (type, codec, page offsets, value counts), the
  * PageHeader thrift structs (v1 data pages + dictionary pages, with
  * the optional CRC32 over the compressed page body verified when
  * present), page decompression through THIS REPO'S OWN codecs
  * (snappy — Spark's default parquet codec — gzip, zstd,
  * uncompressed), RLE/bit-packed hybrid definition levels, and the
  * value encodings Spark's writer actually emits: PLAIN (int64 and
  * byte-array) and PLAIN_DICTIONARY/RLE_DICTIONARY including the
  * mid-column dictionary-fallback-to-PLAIN shape parquet-mr produces
  * on high-cardinality columns.
  *
  * Scope: flat required/optional INT64 and BYTE_ARRAY leaves
  * ([[readColumn]]), plus one-level-nested LIST columns via Dremel
  * repetition/definition-level record assembly ([[readListColumn]]
  * with [[schemaLevels]]) — Spark's 3-level list encoding with null
  * lists, empty lists, and null elements, in both v1 and v2 pages.
  * Deeper nesting and other physical types reject with None rather
  * than guessing.
  *
  * Referee: Spark's own parquet writer — the spec and the q441 query
  * both have Spark write REAL files (dictionary + fallback pages,
  * snappy-framed, CRC'd) and require this reader to reproduce the
  * exact values Spark reads back. That is parquet-mr refereeing every
  * byte of the chain, including this repo's from-spec snappy decoder
  * sitting under a production file format.
  */
object ParquetPages {

  final case class ChunkMeta(path: String, ptype: Int, codec: Int,
      dataPageOffset: Long, dictPageOffset: Long, numValues: Long)

  /** Column-chunk metadata for every leaf in every row group (in
    * row-group order), total rows, and each leaf's repetition type
    * (0 required, 1 optional — drives def-level presence). Flat
    * schemas only. */
  def chunkMetas(footer: Array[Byte])
      : Option[(Long, Vector[ChunkMeta], Map[String, Int])] =
    try {
      val r = new Reader(footer, 0)
      var numRows = -1L
      val chunks = Vector.newBuilder[ChunkMeta]
      val reps = Map.newBuilder[String, Int]
      thriftStruct(r) { (id, t) =>
        (id, t) match {
          case (2, TList) => // schema elements
            val (et, n) = listHeader(r)
            if (et != TStruct) throw new IllegalStateException("schema")
            var i = 0L
            while (i < n) {
              var name = ""
              var rep = -1
              var children = 0
              thriftStruct(r) { (fid, ft) =>
                (fid, ft) match {
                  case (3, TI32) => rep = r.zigzag().toInt
                  case (4, TBinary) =>
                    name = new String(r.bytes(r.varint().toInt), "UTF-8")
                  case (5, TI32) => children = r.zigzag().toInt
                  case _ =>
                    if (ft != TBoolTrue && ft != TBoolFalse) skip(r, ft)
                }
              }
              if (children == 0 && i > 0 && rep >= 0) reps += name -> rep
              i += 1
            }
          case (3, TI64) => numRows = r.zigzag()
          case (4, TList) =>
            val (et, n) = listHeader(r)
            if (et != TStruct) throw new IllegalStateException("rg")
            var i = 0L
            while (i < n) {
              thriftStruct(r) { (fid, ft) =>
                (fid, ft) match {
                  case (1, TList) =>
                    val (ct, cn) = listHeader(r)
                    if (ct != TStruct) throw new IllegalStateException("cc")
                    var j = 0L
                    while (j < cn) {
                      var path = ""
                      var ptype = -1
                      var codec = -1
                      var dataOff = -1L
                      var dictOff = -1L
                      var nvals = -1L
                      thriftStruct(r) { (cid, cft) =>
                        (cid, cft) match {
                          case (3, TStruct) =>
                            thriftStruct(r) { (mid, mft) =>
                              (mid, mft) match {
                                case (1, TI32) => ptype = r.zigzag().toInt
                                case (3, TList) =>
                                  val (pt, pn) = listHeader(r)
                                  val parts = (0L until pn).map { _ =>
                                    if (pt != TBinary)
                                      throw new IllegalStateException("pp")
                                    new String(r.bytes(r.varint().toInt),
                                      "UTF-8")
                                  }
                                  path = parts.mkString(".")
                                case (4, TI32) => codec = r.zigzag().toInt
                                case (5, TI64) => nvals = r.zigzag()
                                case (9, TI64) => dataOff = r.zigzag()
                                case (11, TI64) => dictOff = r.zigzag()
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
                      chunks += ChunkMeta(path, ptype, codec, dataOff,
                        dictOff, nvals)
                      j += 1
                    }
                  case _ =>
                    if (ft != TBoolTrue && ft != TBoolFalse) skip(r, ft)
                }
              }
              i += 1
            }
          case _ => if (t != TBoolTrue && t != TBoolFalse) skip(r, t)
        }
      }
      if (numRows < 0) None
      else Some((numRows, chunks.result(), reps.result()))
    } catch { case _: Exception => None }

  // ---- page header ----------------------------------------------------

  /** Allocation caps (GitPack.MaxObject style) applied to declared
    * page sizes/counts before any allocation. */
  private val MaxPageBytes: Int = 1 << 28
  private val MaxPageValues: Int = 1 << 24

  private final case class PageHeader(ptype: Int, uncompSize: Int,
      compSize: Int, crc: Option[Int], numValues: Int, encoding: Int,
      headerLen: Int, v2DefLen: Int = 0, v2RepLen: Int = 0,
      v2Compressed: Boolean = true)

  private def pageHeader(b: Array[Byte], off: Int): Option[PageHeader] =
    try {
      val r = new Reader(b, off)
      var ptype = -1
      var unc = -1
      var comp = -1
      var crc: Option[Int] = None
      var nvals = -1
      var enc = -1
      var defLen = 0
      var repLen = 0
      var v2Comp = true
      thriftStruct(r) { (id, t) =>
        (id, t) match {
          case (1, TI32) => ptype = r.zigzag().toInt
          case (2, TI32) => unc = r.zigzag().toInt
          case (3, TI32) => comp = r.zigzag().toInt
          case (4, TI32) => crc = Some(r.zigzag().toInt)
          case (5, TStruct) => // DataPageHeader
            thriftStruct(r) { (fid, ft) =>
              (fid, ft) match {
                case (1, TI32) => nvals = r.zigzag().toInt
                case (2, TI32) => enc = r.zigzag().toInt
                case _ =>
                  if (ft != TBoolTrue && ft != TBoolFalse) skip(r, ft)
              }
            }
          case (7, TStruct) => // DictionaryPageHeader
            thriftStruct(r) { (fid, ft) =>
              (fid, ft) match {
                case (1, TI32) => nvals = r.zigzag().toInt
                case (2, TI32) => enc = r.zigzag().toInt
                case _ =>
                  if (ft != TBoolTrue && ft != TBoolFalse) skip(r, ft)
              }
            }
          case (8, TStruct) => // DataPageHeaderV2
            thriftStruct(r) { (fid, ft) =>
              (fid, ft) match {
                case (1, TI32) => nvals = r.zigzag().toInt
                case (4, TI32) => enc = r.zigzag().toInt
                case (5, TI32) => defLen = r.zigzag().toInt
                case (6, TI32) => repLen = r.zigzag().toInt
                case (7, TBoolTrue)  => v2Comp = true
                case (7, TBoolFalse) => v2Comp = false
                case _ =>
                  if (ft != TBoolTrue && ft != TBoolFalse) skip(r, ft)
              }
            }
          case _ => if (t != TBoolTrue && t != TBoolFalse) skip(r, t)
        }
      }
      // Cap declared counts/sizes before they drive allocations
      // downstream (Array.fill(numValues), decompress(uncompSize)):
      // a hostile header must yield None, not an OutOfMemoryError
      // escaping the corrupt→None contract.
      if (ptype < 0 || unc < 0 || comp < 0 || unc > MaxPageBytes ||
        comp > b.length - off || nvals > MaxPageValues ||
        defLen < 0 || repLen < 0) None
      else Some(PageHeader(ptype, unc, comp, crc, nvals, enc,
        r.pos - off, defLen, repLen, v2Comp))
    } catch { case _: Exception => None }

  private def decompress(codec: Int, b: Array[Byte], off: Int, comp: Int,
      unc: Int): Option[Array[Byte]] = {
    val slice = java.util.Arrays.copyOfRange(b, off, off + comp)
    codec match {
      case 0 => Some(slice)
      case 1 => SnappyCodec.decompressRaw(slice, unc + 8)
      case 2 => Compression.gunzip(slice)
      case 6 => ZstdCodec.zstdDecompress(slice)
      case _ => None // LZO/BROTLI/LZ4 variants: out of scope
    }
  }

  // ---- RLE/bit-packed hybrid ------------------------------------------

  /** Decode `n` values of the RLE/bit-packed hybrid at `bitWidth`.
    * `lengthPrefixed` = the 4-byte LE length header (definition
    * levels); dictionary-id streams run to the end of the page. */
  private[operators] def rleHybrid(b: Array[Byte], off0: Int, end0: Int,
      bitWidth: Int, n: Int,
      lengthPrefixed: Boolean): Option[(Array[Int], Int)] = {
    var off = off0
    var end = end0
    if (lengthPrefixed) {
      if (off + 4 > end0) return None
      val len = i32le(b, off)
      off += 4
      if (len < 0 || off + len > end0) return None
      end = off + len
    }
    val out = new Array[Int](n)
    var k = 0
    val byteW = (bitWidth + 7) / 8
    var i = off
    while (k < n) {
      if (i >= end) return None
      // ULEB128 run header, at most 6 bytes
      val (hdr, next) = Bytes.varint(b, i)
        .filter { case (_, nx) => nx <= end && nx - i <= 6 }
        .getOrElse(return None)
      i = next
      if ((hdr & 1) == 0) {
        // RLE run: count = hdr >> 1, one bit-packed value in byteW bytes
        val count = (hdr >>> 1).toInt
        if (count < 0 || k + count > n || i + byteW > end) return None
        var v = 0
        var w = 0
        while (w < byteW) { v |= (b(i + w) & 0xff) << (8 * w); w += 1 }
        i += byteW
        var z = 0
        while (z < count) { out(k) = v; k += 1; z += 1 }
      } else {
        // bit-packed run: groups of 8 values, LSB-first within bytes
        val groups = (hdr >>> 1).toInt
        val total = groups * 8
        val nBytes = groups * bitWidth
        if (groups < 0 || i + nBytes > end) return None
        var z = 0
        var bit = 0
        while (z < total && k < n) {
          var v = 0
          var t = 0
          while (t < bitWidth) {
            val at = i + ((bit + t) >>> 3)
            v |= ((b(at) >>> ((bit + t) & 7)) & 1) << t
            t += 1
          }
          bit += bitWidth
          out(k) = v
          k += 1
          z += 1
        }
        i += nBytes
      }
    }
    Some((out, (if (lengthPrefixed) end else i)))
  }

  // ---- DELTA encodings (v2 pages) --------------------------------------

  /** DELTA_BINARY_PACKED: returns (values, nextOffset). */
  private[operators] def deltaBinaryPacked(b: Array[Byte], off0: Int,
      n: Int): Option[(Array[Long], Int)] = try {
    var i = off0
    def uv(): Long = {
      val (v, next) =
        Bytes.varint(b, i).getOrElse(throw new MatchError("varint"))
      i = next
      v
    }
    def zzv(): Long = { val u = uv(); (u >>> 1) ^ -(u & 1L) }
    val blockSize = uv().toInt
    val mini = uv().toInt
    val total = uv().toInt
    val first = zzv()
    if (blockSize <= 0 || mini <= 0 || blockSize % mini != 0 ||
      total != n) return None
    if (n == 0) return Some((Array.emptyLongArray, i))
    val valuesPer = blockSize / mini
    val out = new Array[Long](n)
    out(0) = first
    var produced = 1
    var prev = first
    while (produced < n) {
      val minDelta = zzv()
      if (i + mini > b.length) return None
      val widths = java.util.Arrays.copyOfRange(b, i, i + mini)
      i += mini
      var m = 0
      while (m < mini && produced < n) {
        val w = widths(m) & 0xff
        if (w > 64) return None
        val nBytes = valuesPer * w / 8
        if (i + nBytes > b.length) return None
        var k = 0
        var bit = 0
        while (k < valuesPer) {
          var d = 0L
          var t = 0
          while (t < w) {
            val at = i + ((bit + t) >>> 3)
            d |= ((b(at) >>> ((bit + t) & 7)) & 1).toLong << t
            t += 1
          }
          bit += w
          if (produced < n) {
            prev = prev + minDelta + d
            out(produced) = prev
            produced += 1
          }
          k += 1
        }
        i += nBytes
        m += 1
      }
    }
    Some((out, i))
  } catch { case _: MatchError => None }

  /** DELTA_LENGTH_BYTE_ARRAY starting at off0. */
  private[operators] def deltaLengthByteArray(b: Array[Byte], off0: Int,
      n: Int): Option[Array[String]] =
    deltaBinaryPacked(b, off0, n).flatMap { case (lens, dataOff) =>
      var p = dataOff
      val out = new Array[String](n)
      var k = 0
      while (k < n) {
        val l = lens(k).toInt
        if (l < 0 || p + l > b.length) return None
        out(k) = new String(b, p, l, "UTF-8")
        p += l
        k += 1
      }
      Some(out)
    }

  /** DELTA_BYTE_ARRAY (prefix lengths + suffix DLBA). */
  private[operators] def deltaByteArray(b: Array[Byte], off0: Int,
      n: Int): Option[Array[String]] =
    deltaBinaryPacked(b, off0, n).flatMap { case (prefixes, sOff) =>
      deltaBinaryPacked(b, sOff, n).flatMap { case (slens, dOff) =>
        var p = dOff
        val out = new Array[String](n)
        var prev = ""
        var k = 0
        while (k < n) {
          val pl = prefixes(k).toInt
          val sl = slens(k).toInt
          if (pl < 0 || sl < 0 || pl > prev.length ||
            p + sl > b.length) return None
          out(k) = prev.substring(0, pl) + new String(b, p, sl, "UTF-8")
          prev = out(k)
          p += sl
          k += 1
        }
        Some(out)
      }
    }

  // ---- column decode ---------------------------------------------------

  /** Decoded leaf column: Right(longs) for INT64, Left(strings) for
    * BYTE_ARRAY; None entries are nulls. */
  def readColumn(file: Array[Byte], chunk: ChunkMeta,
      optional: Boolean): Option[Vector[Option[Either[String, Long]]]] =
    try {
      if (chunk.ptype != 2 && chunk.ptype != 6) return None // INT64/BYTE_ARRAY
      val out = Vector.newBuilder[Option[Either[String, Long]]]
      var dictLongs: Array[Long] = null
      var dictStrs: Array[String] = null
      var off =
        if (chunk.dictPageOffset >= 0) chunk.dictPageOffset.toInt
        else chunk.dataPageOffset.toInt
      var remaining = chunk.numValues
      while (remaining > 0) {
        val ph = pageHeader(file, off).getOrElse(return None)
        val dataOff = off + ph.headerLen
        if (dataOff + ph.compSize > file.length) return None
        ph.crc.foreach { c =>
          if (Bytes.crc32(file, dataOff, ph.compSize).toInt != c) return None
        }
        // v2 pages carry RAW level bytes before the codec region, so
        // the whole-page decompress applies only to v1/dict pages
        val page: Array[Byte] =
          if (ph.ptype == 3) Array.emptyByteArray
          else {
            val p0 = decompress(chunk.codec, file, dataOff, ph.compSize,
              ph.uncompSize).getOrElse(return None)
            if (p0.length != ph.uncompSize) return None
            p0
          }
        ph.ptype match {
          case 2 => // dictionary page (PLAIN / PLAIN_DICTIONARY payload)
            if (chunk.ptype == 2) {
              if (ph.numValues < 0 ||
                ph.numValues.toLong * 8L > page.length) return None
              dictLongs = Array.tabulate(ph.numValues) { i =>
                var v = 0L
                var w = 0
                while (w < 8) {
                  v |= (page(i * 8 + w) & 0xffL) << (8 * w)
                  w += 1
                }
                v
              }
            } else {
              val ds = Array.newBuilder[String]
              var i = 0
              var cnt = 0
              while (cnt < ph.numValues) {
                if (i + 4 > page.length) return None
                val len = i32le(page, i)
                i += 4
                if (len < 0 || i + len > page.length) return None
                ds += new String(page, i, len, "UTF-8")
                i += len
                cnt += 1
              }
              dictStrs = ds.result()
            }
          case 0 => // data page v1
            val n = ph.numValues
            var p = 0
            val defs: Array[Int] =
              if (optional) {
                val (d, np) = rleHybrid(page, 0, page.length, 1, n,
                  lengthPrefixed = true).getOrElse(return None)
                p = np
                d
              } else Array.fill(n)(1)
            val nPresent = defs.count(_ == 1)
            ph.encoding match {
              case 0 => // PLAIN
                if (chunk.ptype == 2) {
                  var k = 0
                  var vi = p
                  var emitted = 0
                  while (emitted < n) {
                    if (defs(emitted) == 0) out += None
                    else {
                      if (vi + 8 > page.length) return None
                      var v = 0L
                      var w = 0
                      while (w < 8) {
                        v |= (page(vi + w) & 0xffL) << (8 * w)
                        w += 1
                      }
                      vi += 8
                      out += Some(Right(v))
                      k += 1
                    }
                    emitted += 1
                  }
                } else {
                  var vi = p
                  var emitted = 0
                  while (emitted < n) {
                    if (defs(emitted) == 0) out += None
                    else {
                      if (vi + 4 > page.length) return None
                      val len = i32le(page, vi)
                      vi += 4
                      if (len < 0 || vi + len > page.length) return None
                      out += Some(Left(new String(page, vi, len, "UTF-8")))
                      vi += len
                    }
                    emitted += 1
                  }
                }
              case 2 | 8 => // PLAIN_DICTIONARY / RLE_DICTIONARY ids
                if (p >= page.length) return None
                val bw = page(p) & 0xff
                if (bw > 32) return None
                val ids =
                  if (bw == 0) Array.fill(nPresent)(0)
                  else rleHybrid(page, p + 1, page.length, bw, nPresent,
                    lengthPrefixed = false).getOrElse(return None)._1
                var k = 0
                var emitted = 0
                while (emitted < n) {
                  if (defs(emitted) == 0) out += None
                  else {
                    val id = ids(k)
                    k += 1
                    if (chunk.ptype == 2) {
                      if (dictLongs == null || id >= dictLongs.length)
                        return None
                      out += Some(Right(dictLongs(id)))
                    } else {
                      if (dictStrs == null || id >= dictStrs.length)
                        return None
                      out += Some(Left(dictStrs(id)))
                    }
                  }
                  emitted += 1
                }
              case _ => return None // v2 encodings handled below
            }
            remaining -= n
          case 3 => // data page v2: raw levels outside the codec region
            val n = ph.numValues
            val levLen = ph.v2RepLen + ph.v2DefLen
            if (levLen > ph.compSize || ph.v2RepLen != 0) return None
            val defs: Array[Int] =
              if (optional && ph.v2DefLen > 0)
                rleHybrid(file, dataOff, dataOff + ph.v2DefLen, 1, n,
                  lengthPrefixed = false).getOrElse(return None)._1
              else Array.fill(n)(1)
            val nPresent = defs.count(_ == 1)
            val valComp = ph.compSize - levLen
            val valUnc = ph.uncompSize - levLen
            val vpage =
              if (ph.v2Compressed) decompress(chunk.codec, file,
                dataOff + levLen, valComp, valUnc).getOrElse(return None)
              else java.util.Arrays.copyOfRange(file, dataOff + levLen,
                dataOff + levLen + valComp)
            if (vpage.length != valUnc) return None
            def emit(get: Int => Either[String, Long]): Unit = {
              var k = 0
              var emitted = 0
              while (emitted < n) {
                if (defs(emitted) == 0) out += None
                else { out += Some(get(k)); k += 1 }
                emitted += 1
              }
            }
            ph.encoding match {
              case 5 => // DELTA_BINARY_PACKED (ints)
                if (chunk.ptype != 2) return None
                val (vals, _) = deltaBinaryPacked(vpage, 0, nPresent)
                  .getOrElse(return None)
                emit(k => Right(vals(k)))
              case 7 => // DELTA_BYTE_ARRAY (strings)
                if (chunk.ptype != 6) return None
                val vals = deltaByteArray(vpage, 0, nPresent)
                  .getOrElse(return None)
                emit(k => Left(vals(k)))
              case 6 => // DELTA_LENGTH_BYTE_ARRAY
                if (chunk.ptype != 6) return None
                val vals = deltaLengthByteArray(vpage, 0, nPresent)
                  .getOrElse(return None)
                emit(k => Left(vals(k)))
              case 2 | 8 => // dictionary ids
                if (vpage.isEmpty) return None
                val bw = vpage(0) & 0xff
                if (bw > 32) return None
                val ids =
                  if (bw == 0) Array.fill(nPresent)(0)
                  else rleHybrid(vpage, 1, vpage.length, bw, nPresent,
                    lengthPrefixed = false).getOrElse(return None)._1
                if (chunk.ptype == 2) {
                  if (dictLongs == null) return None
                  emit { k =>
                    val id = ids(k)
                    if (id >= dictLongs.length) throw
                      new ArrayIndexOutOfBoundsException(id)
                    Right(dictLongs(id))
                  }
                } else {
                  if (dictStrs == null) return None
                  emit { k =>
                    val id = ids(k)
                    if (id >= dictStrs.length) throw
                      new ArrayIndexOutOfBoundsException(id)
                    Left(dictStrs(id))
                  }
                }
              case _ => return None
            }
            remaining -= n
          case _ => return None // unknown page kinds reject
        }
        off = dataOff + ph.compSize
      }
      Some(out.result())
    } catch {
      case _: ArrayIndexOutOfBoundsException |
        _: NegativeArraySizeException =>
        None
    }

  // ---- nested lists: Dremel repetition/definition levels ---------------

  /** Level bounds for one leaf: max definition level, max repetition
    * level, and whether the leaf ITSELF is optional (drives the
    * null-element vs empty-list reading of def = maxDef-1). */
  final case class LeafLevels(maxDef: Int, maxRep: Int,
      leafOptional: Boolean)

  /** Per-leaf level bounds from the footer's schema tree — the Dremel
    * walk `chunkMetas`' flat view skips. Keys are dotted paths
    * matching ColumnMetaData.path_in_schema (e.g.
    * "tokens.list.element" for Spark's 3-level list encoding). */
  def schemaLevels(footer: Array[Byte]): Option[Map[String, LeafLevels]] =
    try {
      val r = new Reader(footer, 0)
      var out = Map.empty[String, LeafLevels]
      final class Node(var remaining: Long, val defL: Int, val repL: Int,
          val path: List[String])
      thriftStruct(r) { (id, t) =>
        (id, t) match {
          case (2, TList) =>
            val (et, n) = listHeader(r)
            if (et != TStruct) throw new IllegalStateException("schema")
            val stack = scala.collection.mutable.Stack.empty[Node]
            var i = 0L
            while (i < n) {
              var name = ""
              var rep = -1
              var children = 0L
              thriftStruct(r) { (fid, ft) =>
                (fid, ft) match {
                  case (3, TI32) => rep = r.zigzag().toInt
                  case (4, TBinary) =>
                    name = new String(r.bytes(r.varint().toInt), "UTF-8")
                  case (5, TI32) => children = r.zigzag()
                  case _ =>
                    if (ft != TBoolTrue && ft != TBoolFalse) skip(r, ft)
                }
              }
              if (i == 0) stack.push(new Node(children, 0, 0, Nil))
              else {
                while (stack.nonEmpty && stack.top.remaining == 0)
                  stack.pop()
                if (stack.isEmpty) throw new IllegalStateException("tree")
                val parent = stack.top
                parent.remaining -= 1
                val defL = parent.defL + (if (rep == 1 || rep == 2) 1 else 0)
                val repL = parent.repL + (if (rep == 2) 1 else 0)
                val path = parent.path :+ name
                if (children == 0)
                  out += path.mkString(".") -> LeafLevels(defL, repL,
                    rep == 1)
                else stack.push(new Node(children, defL, repL, path))
              }
              i += 1
            }
          case _ => if (t != TBoolTrue && t != TBoolFalse) skip(r, t)
        }
      }
      if (out.isEmpty) None else Some(out)
    } catch { case _: Exception => None }

  /** Decode one value region: PLAIN, dictionary ids (2|8), or the v2
    * DELTA encodings, producing exactly `nPresent` present values. */
  private def decodeValueRegion(page: Array[Byte], from: Int, enc: Int,
      nPresent: Int, ptype: Int, dictLongs: Array[Long],
      dictStrs: Array[String]): Option[IndexedSeq[Either[String, Long]]] =
    enc match {
      case 0 => // PLAIN
        val out = Vector.newBuilder[Either[String, Long]]
        var vi = from
        var k = 0
        while (k < nPresent) {
          if (ptype == 2) {
            if (vi + 8 > page.length) return None
            var v = 0L
            var w = 0
            while (w < 8) { v |= (page(vi + w) & 0xffL) << (8 * w); w += 1 }
            vi += 8
            out += Right(v)
          } else {
            if (vi + 4 > page.length) return None
            val len = i32le(page, vi)
            vi += 4
            if (len < 0 || vi + len > page.length) return None
            out += Left(new String(page, vi, len, "UTF-8"))
            vi += len
          }
          k += 1
        }
        Some(out.result())
      case 2 | 8 => // PLAIN_DICTIONARY / RLE_DICTIONARY ids
        if (from >= page.length) return None
        val bw = page(from) & 0xff
        if (bw > 32) return None
        val ids =
          if (bw == 0) Array.fill(nPresent)(0)
          else rleHybrid(page, from + 1, page.length, bw, nPresent,
            lengthPrefixed = false).getOrElse(return None)._1
        if (ptype == 2) {
          if (dictLongs == null) return None
          val out = new Array[Either[String, Long]](nPresent)
          var k = 0
          while (k < nPresent) {
            val id = ids(k)
            if (id < 0 || id >= dictLongs.length) return None
            out(k) = Right(dictLongs(id))
            k += 1
          }
          Some(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
        } else {
          if (dictStrs == null) return None
          val out = new Array[Either[String, Long]](nPresent)
          var k = 0
          while (k < nPresent) {
            val id = ids(k)
            if (id < 0 || id >= dictStrs.length) return None
            out(k) = Left(dictStrs(id))
            k += 1
          }
          Some(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
        }
      case 5 => // DELTA_BINARY_PACKED
        if (ptype != 2) return None
        deltaBinaryPacked(page, from, nPresent).map { case (vals, _) =>
          scala.collection.immutable.ArraySeq.unsafeWrapArray(
            vals.map(Right(_): Either[String, Long]))
        }
      case 6 => // DELTA_LENGTH_BYTE_ARRAY
        if (ptype != 6) return None
        deltaLengthByteArray(page, from, nPresent).map(a =>
          scala.collection.immutable.ArraySeq.unsafeWrapArray(
            a.map(Left(_): Either[String, Long])))
      case 7 => // DELTA_BYTE_ARRAY
        if (ptype != 6) return None
        deltaByteArray(page, from, nPresent).map(a =>
          scala.collection.immutable.ArraySeq.unsafeWrapArray(
            a.map(Left(_): Either[String, Long])))
      case _ => None
    }

  /** Decode a one-level-nested LIST leaf (maxRep == 1): repetition
    * levels open rows, definition levels distinguish null list /
    * empty list / null element / value — the Dremel record assembly
    * for Spark's 3-level `optional group f (LIST) { repeated group
    * list { <rep> element } }` shape. Returns one entry per ROW:
    * None = null list, Some(elems) with per-element Options.
    * Corrupt input, deeper nesting, or non-INT64/BYTE_ARRAY leaves
    * → None. */
  def readListColumn(file: Array[Byte], chunk: ChunkMeta, lv: LeafLevels)
      : Option[Vector[Option[Vector[Option[Either[String, Long]]]]]] =
    try {
      if (chunk.ptype != 2 && chunk.ptype != 6) return None
      if (lv.maxRep != 1 || lv.maxDef < 1 || lv.maxDef > 3) return None
      // def level of the repeated node: >= it means an element slot
      val defList = lv.maxDef - (if (lv.leafOptional) 1 else 0)
      val defBits = 32 - Integer.numberOfLeadingZeros(lv.maxDef)
      val allDefs = Array.newBuilder[Int]
      val allReps = Array.newBuilder[Int]
      val values = Vector.newBuilder[Either[String, Long]]
      var dictLongs: Array[Long] = null
      var dictStrs: Array[String] = null
      var off =
        if (chunk.dictPageOffset >= 0) chunk.dictPageOffset.toInt
        else chunk.dataPageOffset.toInt
      var remaining = chunk.numValues
      while (remaining > 0) {
        val ph = pageHeader(file, off).getOrElse(return None)
        val dataOff = off + ph.headerLen
        if (dataOff + ph.compSize > file.length) return None
        ph.crc.foreach { c =>
          if (Bytes.crc32(file, dataOff, ph.compSize).toInt != c) return None
        }
        ph.ptype match {
          case 2 => // dictionary page
            val page = decompress(chunk.codec, file, dataOff, ph.compSize,
              ph.uncompSize).getOrElse(return None)
            if (page.length != ph.uncompSize) return None
            if (chunk.ptype == 2) {
              if (ph.numValues < 0 ||
                ph.numValues.toLong * 8L > page.length) return None
              dictLongs = Array.tabulate(ph.numValues) { i =>
                var v = 0L
                var w = 0
                while (w < 8) {
                  v |= (page(i * 8 + w) & 0xffL) << (8 * w)
                  w += 1
                }
                v
              }
            } else {
              val ds = Array.newBuilder[String]
              var i = 0
              var cnt = 0
              while (cnt < ph.numValues) {
                if (i + 4 > page.length) return None
                val len = i32le(page, i)
                i += 4
                if (len < 0 || i + len > page.length) return None
                ds += new String(page, i, len, "UTF-8")
                i += len
                cnt += 1
              }
              dictStrs = ds.result()
            }
          case 0 => // data page v1: rep levels, def levels, then values
            val n = ph.numValues
            if (n < 0) return None
            val page = decompress(chunk.codec, file, dataOff, ph.compSize,
              ph.uncompSize).getOrElse(return None)
            if (page.length != ph.uncompSize) return None
            val (reps, p1) = rleHybrid(page, 0, page.length, 1, n,
              lengthPrefixed = true).getOrElse(return None)
            val (defs, p2) = rleHybrid(page, p1, page.length, defBits, n,
              lengthPrefixed = true).getOrElse(return None)
            var nPresent = 0
            var z = 0
            while (z < n) { if (defs(z) == lv.maxDef) nPresent += 1; z += 1 }
            val vals = decodeValueRegion(page, p2, ph.encoding, nPresent,
              chunk.ptype, dictLongs, dictStrs).getOrElse(return None)
            allReps ++= reps
            allDefs ++= defs
            values ++= vals
            remaining -= n
          case 3 => // data page v2: raw level regions, then codec region
            val n = ph.numValues
            if (n < 0) return None
            val levLen = ph.v2RepLen + ph.v2DefLen
            if (levLen > ph.compSize || ph.v2RepLen <= 0) return None
            val reps = rleHybrid(file, dataOff, dataOff + ph.v2RepLen, 1,
              n, lengthPrefixed = false).getOrElse(return None)._1
            val defs =
              if (ph.v2DefLen > 0)
                rleHybrid(file, dataOff + ph.v2RepLen,
                  dataOff + levLen, defBits, n,
                  lengthPrefixed = false).getOrElse(return None)._1
              else Array.fill(n)(lv.maxDef)
            var nPresent = 0
            var z = 0
            while (z < n) { if (defs(z) == lv.maxDef) nPresent += 1; z += 1 }
            val valComp = ph.compSize - levLen
            val valUnc = ph.uncompSize - levLen
            val vpage =
              if (ph.v2Compressed) decompress(chunk.codec, file,
                dataOff + levLen, valComp, valUnc).getOrElse(return None)
              else java.util.Arrays.copyOfRange(file, dataOff + levLen,
                dataOff + levLen + valComp)
            if (vpage.length != valUnc) return None
            val vals = decodeValueRegion(vpage, 0, ph.encoding, nPresent,
              chunk.ptype, dictLongs, dictStrs).getOrElse(return None)
            allReps ++= reps
            allDefs ++= defs
            values ++= vals
            remaining -= n
          case _ => return None
        }
        off = dataOff + ph.compSize
      }
      // record assembly
      val reps = allReps.result()
      val defs = allDefs.result()
      val vals = values.result()
      if (reps.length != defs.length) return None
      val rows =
        Vector.newBuilder[Option[Vector[Option[Either[String, Long]]]]]
      var cur = Vector.newBuilder[Option[Either[String, Long]]]
      var curNull = false
      var curHasElems = false
      var started = false
      var vk = 0
      def flush(): Unit =
        rows += (if (curNull) None else Some(cur.result()))
      var i = 0
      while (i < reps.length) {
        val rp = reps(i)
        val df = defs(i)
        if (rp == 0) {
          if (started) flush()
          started = true
          cur = Vector.newBuilder
          curNull = false
          curHasElems = df >= defList
          if (df < defList) curNull = df < defList - 1
        } else if (!started || !curHasElems || df < defList) {
          return None // continuation without an open element run
        }
        if (df >= defList) {
          if (df == lv.maxDef) {
            if (vk >= vals.length) return None
            cur += Some(vals(vk))
            vk += 1
          } else if (lv.leafOptional && df == lv.maxDef - 1) {
            cur += None
          } else return None
        }
        i += 1
      }
      if (started) flush()
      if (vk != vals.length) return None
      Some(rows.result())
    } catch {
      case _: ArrayIndexOutOfBoundsException |
        _: NegativeArraySizeException =>
        None
    }

  /** Convenience: read the footer from whole-file bytes. */
  def footerBytes(file: Array[Byte]): Option[Array[Byte]] = {
    if (file == null || file.length < 12) return None
    val n = file.length
    if (file(n - 4) != 'P' || file(n - 3) != 'A' || file(n - 2) != 'R' ||
      file(n - 1) != '1') return None
    val len = i32le(file, n - 8)
    if (len < 0 || len > n - 12) return None
    Some(java.util.Arrays.copyOfRange(file, n - 8 - len, n - 8))
  }

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(

    // Spark writes REAL parquet (snappy pages, dictionary encoding
    // with high-cardinality fallback, page CRCs); THIS reader decodes
    // the raw bytes back and the aggregates must reproduce what the
    // oracle computes from the logical table. Decode is distributed:
    // each task decodes whole files' bytes — the forensic path a
    // data-skipping/audit pass uses when it can't trust a reader. The
    // few part files are read back into the plan and the staging
    // directory is deleted before the query runs.
    QueryDef(
      "q441_parquet_page_decode",
      (s, dir) => {
        import s.implicits._
        val tmp = TempDir("graft_pq_q441")
        Tables.load(s, dir, "documents")
          .select($"doc_id",
            concat(lit("n"), ($"doc_id" % 100).cast("string")).as("name"))
          .repartition(4)
          .write.mode("overwrite").parquet(tmp)
        val decoded = TempDir.drainParts(tmp, ".parquet").toDS()
          .map { bytes =>
            val res = for {
              footer <- footerBytes(bytes)
              (nRows, chunks, reps) <- chunkMetas(footer)
              idCol = chunks.filter(_.path == "doc_id")
              nameCol = chunks.filter(_.path == "name")
              ids <- idCol.foldLeft(
                Option(Vector.empty[Option[Either[String, Long]]])) {
                (acc, c) => acc.flatMap(v =>
                  readColumn(bytes, c,
                    optional = reps.getOrElse("doc_id", 1) == 1).map(v ++ _))
              }
              names <- nameCol.foldLeft(
                Option(Vector.empty[Option[Either[String, Long]]])) {
                (acc, c) => acc.flatMap(v =>
                  readColumn(bytes, c,
                    optional = reps.getOrElse("name", 1) == 1).map(v ++ _))
              }
            } yield {
              val idv = ids.flatten.collect { case Right(v) => v }
              val nv = names.flatten.collect { case Left(v) => v }
              (nRows, idv.length.toLong, idv.sum,
                nv.map(_.length.toLong).sum, idv.length == nRows &&
                  nv.length == nRows)
            }
            res.getOrElse((-1L, -1L, -1L, -1L, false))
          }
          .toDF("n_rows", "n_ids", "sum_ids", "sum_name_len", "ok")
        decoded.agg(
          count(lit(1)).as("n_files"),
          sum($"n_rows").as("n_rows"),
          sum($"sum_ids").as("sum_ids"),
          sum($"sum_name_len").as("sum_name_len"),
          count(when($"ok", 1)).as("n_ok"))
      },
      Some("""
        SELECT CAST(4 AS BIGINT) AS n_files,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(doc_id) AS BIGINT) AS sum_ids,
               CAST(sum(1 + length(CAST(doc_id % 100 AS VARCHAR)))
                    AS BIGINT) AS sum_name_len,
               CAST(4 AS BIGINT) AS n_ok
        FROM documents""")),

    // the v2 writer path: DELTA_BINARY_PACKED ints and
    // DELTA_BYTE_ARRAY strings behind v2 page headers (raw levels
    // outside the codec region) — the shape parquet-mr emits with
    // parquet.writer.version=v2, which modern lakehouse writers
    // default to.
    QueryDef(
      "q447_parquet_v2_page_decode",
      (s, dir) => {
        import s.implicits._
        val tmp = TempDir("graft_pq_q447")
        Tables.load(s, dir, "documents")
          .select($"doc_id",
            concat(lit("v2-"), ($"doc_id" % 100).cast("string"),
              lit("-u"), $"doc_id".cast("string")).as("name"))
          .repartition(4)
          .write.mode("overwrite")
          .option("parquet.writer.version", "v2").parquet(tmp)
        TempDir.drainParts(tmp, ".parquet").toDS()
          .map { bytes =>
            val res = for {
              footer <- footerBytes(bytes)
              (nRows, chunks, reps) <- chunkMetas(footer)
              ids <- chunks.filter(_.path == "doc_id").foldLeft(
                Option(Vector.empty[Option[Either[String, Long]]])) {
                (acc, c) => acc.flatMap(v =>
                  readColumn(bytes, c,
                    optional = reps.getOrElse("doc_id", 1) == 1).map(v ++ _))
              }
              names <- chunks.filter(_.path == "name").foldLeft(
                Option(Vector.empty[Option[Either[String, Long]]])) {
                (acc, c) => acc.flatMap(v =>
                  readColumn(bytes, c,
                    optional = reps.getOrElse("name", 1) == 1).map(v ++ _))
              }
            } yield {
              val idv = ids.flatten.collect { case Right(v) => v }
              val nv = names.flatten.collect { case Left(v) => v }
              (nRows, idv.sum, nv.map(_.length.toLong).sum,
                idv.length == nRows && nv.length == nRows)
            }
            res.getOrElse((-1L, -1L, -1L, false))
          }
          .toDF("n_rows", "sum_ids", "sum_name_len", "ok")
          .agg(count(lit(1)).as("n_files"),
            sum($"n_rows").as("n_rows"),
            sum($"sum_ids").as("sum_ids"),
            sum($"sum_name_len").as("sum_name_len"),
            count(when($"ok", 1)).as("n_ok"))
      },
      Some("""
        SELECT CAST(4 AS BIGINT) AS n_files,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(doc_id) AS BIGINT) AS sum_ids,
               CAST(sum(3 + length(CAST(doc_id % 100 AS VARCHAR))
                        + 2 + length(CAST(doc_id AS VARCHAR)))
                    AS BIGINT) AS sum_name_len,
               CAST(4 AS BIGINT) AS n_ok
        FROM documents""")),

    // nested lists: Spark writes REAL array<bigint> columns (the
    // 3-level LIST encoding with null lists, empty lists, and null
    // elements), and the Dremel rep/def-level assembly must
    // reconstruct every row — the ArrayType shape LLM-corpus parquet
    // (token ids, shard manifests) is full of. Decode is distributed
    // over whole files' bytes, as in q441/q447.
    QueryDef(
      "q448_parquet_list_decode",
      (s, dir) => {
        import s.implicits._
        val tmp = TempDir("graft_pq_q448")
        Tables.load(s, dir, "documents")
          .select($"doc_id",
            when($"doc_id" % 11 === 0, lit(null).cast("array<bigint>"))
              .when($"doc_id" % 5 === 0, array().cast("array<bigint>"))
              .otherwise(transform(
                sequence($"doc_id" % 3, $"doc_id" % 3 + $"doc_id" % 7),
                x => when(x % 4 =!= 0, x))).as("tokens"))
          .repartition(4)
          .write.mode("overwrite").parquet(tmp)
        TempDir.drainParts(tmp, ".parquet").toDS()
          .map { bytes =>
            val res = for {
              footer <- footerBytes(bytes)
              (nRows, chunks, _) <- chunkMetas(footer)
              levels <- schemaLevels(footer)
              lv <- levels.get("tokens.list.element")
              lists <- chunks.filter(_.path == "tokens.list.element")
                .foldLeft(Option(Vector.empty[
                  Option[Vector[Option[Either[String, Long]]]]])) {
                  (acc, c) => acc.flatMap(v =>
                    readListColumn(bytes, c, lv).map(v ++ _))
                }
            } yield {
              val elems = lists.flatten.flatten
              (lists.length.toLong,
                lists.count(_.isEmpty).toLong,
                lists.count(l => l.exists(_.isEmpty)).toLong,
                elems.count(_.isEmpty).toLong,
                elems.length.toLong,
                elems.flatten.collect { case Right(v) => v }.sum,
                lists.length.toLong == nRows)
            }
            res.getOrElse((-1L, -1L, -1L, -1L, -1L, -1L, false))
          }
          .toDF("n_rows", "n_null_lists", "n_empty_lists", "n_null_elems",
            "n_elems", "sum_elems", "ok")
          .agg(sum($"n_rows").as("n_rows"),
            sum($"n_null_lists").as("n_null_lists"),
            sum($"n_empty_lists").as("n_empty_lists"),
            sum($"n_null_elems").as("n_null_elems"),
            sum($"n_elems").as("n_elems"),
            sum($"sum_elems").as("sum_elems"),
            count(when($"ok", 1)).as("n_ok"))
      },
      Some("""
        WITH lists AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS is_null,
                 CASE WHEN doc_id % 11 <> 0 AND doc_id % 5 = 0
                      THEN 1 ELSE 0 END AS is_empty,
                 doc_id % 3 AS a, doc_id % 3 + doc_id % 7 AS b
          FROM documents),
        elems AS (
          SELECT unnest(generate_series(a, b)) AS x
          FROM lists WHERE is_null = 0 AND is_empty = 0)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM lists) AS n_rows,
               (SELECT CAST(sum(is_null) AS BIGINT) FROM lists)
                 AS n_null_lists,
               (SELECT CAST(sum(is_empty) AS BIGINT) FROM lists)
                 AS n_empty_lists,
               (SELECT CAST(count(*) FILTER (WHERE x % 4 = 0) AS BIGINT)
                  FROM elems) AS n_null_elems,
               (SELECT CAST(count(*) AS BIGINT) FROM elems) AS n_elems,
               (SELECT CAST(sum(x) FILTER (WHERE x % 4 <> 0) AS BIGINT)
                  FROM elems) AS sum_elems,
               CAST(4 AS BIGINT) AS n_ok"""))
  )
}
