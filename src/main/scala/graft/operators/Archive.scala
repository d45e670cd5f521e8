package graft.operators

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.Bytes.{i64le, le16, le32, le64, u16le, u32le}

/** Archive member walks — the packaging layer of training shards.
  *
  * Multimodal corpora ship as tar shards (the WebDataset convention:
  * one sample = adjacent members `key.img` / `key.cap.txt` /
  * `key.json`) and as zip archives; a 100 TB blob store is full of
  * both. The engine therefore needs, BEFORE any decode work: which
  * members does this shard hold, at what offsets (so a column-store
  * style range read can fetch one member), and do the integrity
  * fields verify. Pure JDK byte walks in the house style of
  * [[Compression]] (reference behavior: the reference streams opaque
  * file blobs through its mapper stage, `/root/reference/mapper.py`;
  * member addressing is this engine's extension).
  *
  * Formats are public specs: POSIX ustar + PAX extended headers
  * (POSIX.1-2001), GNU longname 'L' members, and PKWARE's APPNOTE.TXT
  * zip layout (EOCD → central directory → local headers). Corrupt
  * input yields the verified prefix (tar) or None (zip) — one torn
  * shard must not fail a corpus pass.
  */
object Archive {

  // ------------------------------------------------------------------
  // tar (ustar / PAX / GNU longname)
  // ------------------------------------------------------------------

  /** One verified tar member. `headerOffset` addresses the 512-byte
    * ustar header of the entry itself (after any PAX/longname blocks),
    * so `headerOffset + 512` is the payload — the range a member-level
    * fetch reads. `nameSource` is "ustar", "pax", or "gnu". */
  final case class TarMember(name: String, size: Long, mtime: Long,
      typeflag: Char, headerOffset: Long, nameSource: String)

  private val BLOCK = 512

  /** Octal field parse with the GNU base-256 escape (high bit of the
    * first byte set → big-endian binary in the remaining bytes).
    * Leading spaces/NULs tolerated; terminated by space/NUL. None on
    * non-octal bytes or negative/absurd (> 2^42) values. */
  private def tarNumber(b: Array[Byte], off: Int, len: Int): Option[Long] = {
    if ((b(off) & 0x80) != 0) { // GNU base-256
      // only the 0x80 marker bit is reserved; the remaining 7 bits of
      // the first byte are value bits (big-endian two's complement —
      // negatives can't pass the cap below, so plain accumulate)
      var v = (b(off) & 0x7fL)
      var i = off + 1
      while (i < off + len) {
        if (v > (1L << 54)) return None
        v = (v << 8) | (b(i) & 0xffL); i += 1
      }
      return if (v >= 0 && v <= (1L << 42)) Some(v) else None
    }
    var i = off
    val end = off + len
    while (i < end && (b(i) == ' ' || b(i) == 0)) i += 1
    var v = 0L
    var digits = 0
    while (i < end && b(i) >= '0' && b(i) <= '7') {
      v = (v << 3) | (b(i) - '0'); digits += 1; i += 1
      if (v > (1L << 42)) return None
    }
    while (i < end && (b(i) == ' ' || b(i) == 0)) i += 1
    if (digits == 0 || i != end) None else Some(v)
  }

  private def tarString(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    val max = off + len
    while (end < max && b(end) != 0) end += 1
    new String(b, off, end - off, "UTF-8")
  }

  /** Header checksum: unsigned sum of the 512 header bytes with the
    * chksum field (148..155) read as spaces. */
  private def tarChecksum(b: Array[Byte], off: Int): Long = {
    var sum = 0L
    var i = 0
    while (i < BLOCK) {
      sum += (if (i >= 148 && i < 156) 0x20 else b(off + i) & 0xff)
      i += 1
    }
    sum
  }

  private def isZeroBlock(b: Array[Byte], off: Int): Boolean = {
    var i = 0
    while (i < BLOCK) { if (b(off + i) != 0) return false; i += 1 }
    true
  }

  /** PAX extended-header records: repeated "LEN key=value\n" where LEN
    * is the decimal byte length of the WHOLE record (digits, space,
    * key=value, newline). Returns the key→value map, or None on any
    * malformed record — a PAX header that cannot be trusted poisons
    * the member it decorates. */
  private[operators] def parsePaxRecords(payload: Array[Byte]): Option[Map[String, String]] = {
    val out = Map.newBuilder[String, String]
    var off = 0
    while (off < payload.length) {
      var i = off
      var len = 0
      while (i < payload.length && payload(i) >= '0' && payload(i) <= '9') {
        len = len * 10 + (payload(i) - '0'); i += 1
        if (len > payload.length) return None
      }
      if (i == off || i >= payload.length || payload(i) != ' ') return None
      val end = off + len
      if (len <= 0 || end > payload.length || payload(end - 1) != '\n')
        return None
      val kv = new String(payload, i + 1, end - 1 - (i + 1), "UTF-8")
      val eq = kv.indexOf('=')
      if (eq <= 0) return None
      out += (kv.substring(0, eq) -> kv.substring(eq + 1))
      off = end
    }
    Some(out.result())
  }

  /** Walk a tar buffer: ustar magic + checksum verified per header,
    * PAX 'x' and GNU 'L' name/size overrides applied to the following
    * member, archive end at two zero blocks. A corrupt header ends the
    * walk with the verified prefix. */
  def tarMembers(b: Array[Byte]): Vector[TarMember] = {
    if (b == null) return Vector.empty
    val out = Vector.newBuilder[TarMember]
    var off = 0L
    var pendingName: Option[(String, String)] = None // (name, source)
    var pendingSize: Option[Long] = None
    var done = false
    while (!done && off + BLOCK <= b.length) {
      val o = off.toInt
      if (isZeroBlock(b, o)) {
        done = true // end-of-archive marker (second zero block implied)
      } else {
        val magicOk = b(o + 257) == 'u' && b(o + 258) == 's' &&
          b(o + 259) == 't' && b(o + 260) == 'a' && b(o + 261) == 'r'
        val parsed = for {
          _ <- if (magicOk) Some(()) else None
          stored <- tarNumber(b, o + 148, 8)
          _ <- if (stored == tarChecksum(b, o)) Some(()) else None
          size <- tarNumber(b, o + 124, 12)
          mtime <- tarNumber(b, o + 136, 12)
        } yield (size, mtime)
        parsed match {
          case None => done = true
          case Some((rawSize, mtime)) =>
            val typeflag = (b(o + 156) & 0xff).toChar
            val payloadBlocks = (rawSize + BLOCK - 1) / BLOCK
            val next = off + BLOCK + payloadBlocks * BLOCK
            if (next > b.length) { done = true }
            else typeflag match {
              case 'x' | 'g' => // PAX extended header (per-file / global)
                val payload = java.util.Arrays.copyOfRange(
                  b, o + BLOCK, o + BLOCK + rawSize.toInt)
                parsePaxRecords(payload) match {
                  case None => done = true
                  case Some(recs) =>
                    if (typeflag == 'x') {
                      recs.get("path").foreach(p => pendingName = Some((p, "pax")))
                      recs.get("size").flatMap(s => scala.util.Try(s.toLong).toOption)
                        .foreach(sz => pendingSize = Some(sz))
                    }
                    off = next
                }
              case 'L' => // GNU longname: payload is the next member's name
                var end = o + BLOCK + rawSize.toInt
                while (end > o + BLOCK && b(end - 1) == 0) end -= 1
                pendingName =
                  Some((new String(b, o + BLOCK, end - (o + BLOCK), "UTF-8"), "gnu"))
                off = next
              case _ =>
                val prefix = tarString(b, o + 345, 155)
                val baseName = tarString(b, o, 100)
                val ustarName =
                  if (prefix.nonEmpty) prefix + "/" + baseName else baseName
                val (name, src) = pendingName.getOrElse((ustarName, "ustar"))
                val size = pendingSize.getOrElse(rawSize)
                // a PAX size override changes the payload span too
                val realNext =
                  off + BLOCK + ((size + BLOCK - 1) / BLOCK) * BLOCK
                if (realNext > b.length) { done = true }
                else {
                  out += TarMember(name, size, mtime, typeflag, off, src)
                  pendingName = None; pendingSize = None
                  off = realNext
                }
            }
        }
      }
    }
    out.result()
  }

  /** Fixture entry for [[encodeTar]]. `nameMode`: "auto" (PAX when the
    * name exceeds the 100-byte ustar field), "plain", "pax", "gnu". */
  final case class TarEntry(name: String, payload: Array[Byte],
      mtime: Long, nameMode: String = "auto")

  private def writeOctal(h: Array[Byte], off: Int, len: Int, v: Long): Unit = {
    // len-1 octal digits, zero padded, NUL terminated (POSIX style)
    var i = len - 2
    var x = v
    while (i >= 0) {
      h(off + i) = ('0' + (x & 7)).toByte; x >>= 3; i -= 1
    }
    h(off + len - 1) = 0
  }

  private def writeHeader(out: ByteArrayOutputStream, name: String,
      size: Long, mtime: Long, typeflag: Char): Unit = {
    val h = new Array[Byte](BLOCK)
    val nb = name.getBytes("UTF-8")
    System.arraycopy(nb, 0, h, 0, math.min(nb.length, 100))
    writeOctal(h, 100, 8, 420 /* 0644 */)
    writeOctal(h, 108, 8, 0); writeOctal(h, 116, 8, 0)
    writeOctal(h, 124, 12, size)
    writeOctal(h, 136, 12, mtime)
    h(156) = typeflag.toByte
    h(257) = 'u'; h(258) = 's'; h(259) = 't'; h(260) = 'a'; h(261) = 'r'
    h(263) = '0'; h(264) = '0' // POSIX version
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    val sum = tarChecksum(h, 0)
    // 6 octal digits + NUL + space — the historical chksum layout
    var i = 5; var x = sum
    while (i >= 0) { h(148 + i) = ('0' + (x & 7)).toByte; x >>= 3; i -= 1 }
    h(154) = 0; h(155) = ' '
    out.write(h, 0, BLOCK)
  }

  private def writePadded(out: ByteArrayOutputStream, data: Array[Byte]): Unit = {
    out.write(data, 0, data.length)
    val pad = (BLOCK - data.length % BLOCK) % BLOCK
    if (pad > 0) out.write(new Array[Byte](pad), 0, pad)
  }

  /** One PAX record, length-prefix self-consistent. */
  private[operators] def paxRecord(key: String, value: String): Array[Byte] = {
    val body = s" $key=$value\n".getBytes("UTF-8")
    // record length includes its own decimal digits
    var len = body.length + 1
    while (s"$len".length + body.length > len) len += 1
    (s"$len".getBytes("UTF-8") ++ body)
  }

  /** Fixture emitter: byte-valid ustar archive (real checksums, POSIX
    * magic, two-zero-block trailer). Long names go out as a PAX 'x'
    * header (512-byte header + ≤512-byte payload = exactly 1024 extra
    * bytes for the fixtures' short records) or a GNU 'L' member. */
  def encodeTar(entries: Seq[TarEntry]): Array[Byte] = {
    val out = new ByteArrayOutputStream(entries.map(_.payload.length + 1536).sum + 1024)
    entries.foreach { e =>
      val mode = e.nameMode match {
        case "auto" => if (e.name.getBytes("UTF-8").length > 100) "pax" else "plain"
        case m => m
      }
      mode match {
        case "pax" =>
          writeHeader(out, "PaxHeaders/x", paxRecord("path", e.name).length.toLong,
            e.mtime, 'x')
          writePadded(out, paxRecord("path", e.name))
          writeHeader(out, e.name.take(100), e.payload.length.toLong, e.mtime, '0')
          writePadded(out, e.payload)
        case "gnu" =>
          val nb = e.name.getBytes("UTF-8") :+ 0.toByte
          writeHeader(out, "././@LongLink", nb.length.toLong, e.mtime, 'L')
          writePadded(out, nb)
          writeHeader(out, e.name.take(100), e.payload.length.toLong, e.mtime, '0')
          writePadded(out, e.payload)
        case _ =>
          writeHeader(out, e.name, e.payload.length.toLong, e.mtime, '0')
          writePadded(out, e.payload)
      }
    }
    out.write(new Array[Byte](BLOCK * 2), 0, BLOCK * 2)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // zip (EOCD → central directory → local headers)
  // ------------------------------------------------------------------

  /** One central-directory entry. `method` is 0 (store) or 8
    * (deflate); `crc32`/sizes are the central-directory values the
    * verify step checks the actual bytes against. */
  final case class ZipEntryMeta(name: String, method: Int, compSize: Long,
      uncompSize: Long, crc32: Long, localOffset: Long)

  /** Central-directory walk: locate the EOCD record (PK\05\06 scanned
    * back through the ≤65535-byte comment space, comment length
    * cross-checked against the tail), then parse `nEntries` central
    * headers. None on any structural violation — zip trusts end-of-
    * file state, so a torn zip is unusable, unlike a torn tar. */
  def zipEntries(b: Array[Byte]): Option[Vector[ZipEntryMeta]] = {
    if (b == null || b.length < 22) return None
    var eocd = -1
    var i = b.length - 22
    val stop = math.max(0, b.length - 22 - 65535)
    while (eocd < 0 && i >= stop) {
      if (b(i) == 'P' && b(i + 1) == 'K' && b(i + 2) == 5 && b(i + 3) == 6 &&
        u16le(b, i + 20) == b.length - (i + 22)) eocd = i
      i -= 1
    }
    if (eocd < 0) return None
    var n: Long = u16le(b, eocd + 10)
    var cdSize = u32le(b, eocd + 12)
    var cdOff = u32le(b, eocd + 16)
    if (n == 0xffffL || cdSize == 0xffffffffL || cdOff == 0xffffffffL) {
      // ZIP64 (APPNOTE 4.5): a pinned-0xFFFF field means the real
      // value lives in the ZIP64 EOCD record, found through the
      // 20-byte locator that immediately precedes the classic EOCD.
      // At 100 TB, >4 GB shards make this the COMMON path, not the
      // exotic one.
      val loc = eocd - 20
      val hasLocator = loc >= 0 && b(loc) == 'P' && b(loc + 1) == 'K' &&
        b(loc + 2) == 6 && b(loc + 3) == 7
      if (!hasLocator) {
        // APPNOTE makes the ZIP64 record authoritative only when the
        // locator exists: a classic archive with exactly 65,535 entries
        // is legal, so pinned-n alone falls back to the classic fields;
        // a pinned size/offset with no locator is genuinely broken.
        if (cdSize == 0xffffffffL || cdOff == 0xffffffffL) return None
        if (n != u16le(b, eocd + 8)) return None // single-disk only
        return zipCentral(b, eocd, n, cdSize, cdOff)
      }
      if (u32le(b, loc + 16) != 1L) return None // single-disk only
      val z64 = i64le(b, loc + 8)
      if (z64 < 0 || z64 + 56 > loc) return None
      val z = z64.toInt
      if (!(b(z) == 'P' && b(z + 1) == 'K' && b(z + 2) == 6 && b(z + 3) == 6))
        return None
      n = i64le(b, z + 32) // total entry count
      if (n != i64le(b, z + 24)) return None // this-disk vs total
      cdSize = i64le(b, z + 40)
      cdOff = i64le(b, z + 48)
    } else if (n != u16le(b, eocd + 8)) return None // single-disk only
    zipCentral(b, eocd, n, cdSize, cdOff)
  }

  /** The central-directory walk shared by the classic and ZIP64 EOCD
    * resolutions. */
  private def zipCentral(b: Array[Byte], eocd: Int, n: Long,
      cdSize: Long, cdOff0: Long): Option[Vector[ZipEntryMeta]] = {
    val cdOff = cdOff0
    if (cdOff < 0 || cdSize < 0 || cdOff + cdSize > eocd) return None
    if (n < 0 || n > (1L << 22)) return None // hostile-count bound
    val out = Vector.newBuilder[ZipEntryMeta]
    var off = cdOff
    var k = 0L
    while (k < n) {
      if (off + 46 > eocd) return None
      val o = off.toInt
      if (!(b(o) == 'P' && b(o + 1) == 'K' && b(o + 2) == 1 && b(o + 3) == 2))
        return None
      val method = u16le(b, o + 10)
      val crc = u32le(b, o + 16)
      var comp = u32le(b, o + 20)
      var uncomp = u32le(b, o + 24)
      val nameLen = u16le(b, o + 28)
      val extraLen = u16le(b, o + 30)
      val commentLen = u16le(b, o + 32)
      var localOff = u32le(b, o + 42)
      if (off + 46 + nameLen + extraLen + commentLen > eocd) return None
      if (comp == 0xffffffffL || uncomp == 0xffffffffL ||
        localOff == 0xffffffffL) {
        // ZIP64 extra field (id 0x0001): carries ONLY the overflowed
        // fields, in the fixed order uncompressed / compressed /
        // local-header offset
        var eo = o + 46 + nameLen
        val eEnd = eo + extraLen
        var found = false
        while (eo + 4 <= eEnd && !found) {
          val hid = u16le(b, eo); val hlen = u16le(b, eo + 2)
          if (eo + 4 + hlen > eEnd) return None
          if (hid == 1) {
            var p = eo + 4
            if (uncomp == 0xffffffffL) { uncomp = i64le(b, p); p += 8 }
            if (comp == 0xffffffffL) { comp = i64le(b, p); p += 8 }
            if (localOff == 0xffffffffL) { localOff = i64le(b, p); p += 8 }
            if (p > eo + 4 + hlen) return None
            found = true
          } else eo += 4 + hlen
        }
        if (!found) return None
      }
      val name = new String(b, o + 46, nameLen, "UTF-8")
      out += ZipEntryMeta(name, method, comp, uncomp, crc, localOff)
      off += 46 + nameLen + extraLen + commentLen
      k += 1
    }
    Some(out.result())
  }

  /** Extract + VERIFY one entry: local header re-walked (its own
    * name/extra lengths, which may differ from the central dir's),
    * store copied or deflate inflated, then CRC32 and size checked
    * against the central-directory values. None on any mismatch — a
    * successful extract is a verified one. */
  def unzipEntry(b: Array[Byte], e: ZipEntryMeta): Option[Array[Byte]] = {
    try {
      val o = e.localOffset.toInt
      if (e.localOffset + 30 > b.length) return None
      if (!(b(o) == 'P' && b(o + 1) == 'K' && b(o + 2) == 3 && b(o + 3) == 4))
        return None
      val nameLen = u16le(b, o + 26)
      val extraLen = u16le(b, o + 28)
      val start = e.localOffset + 30 + nameLen + extraLen
      if (start + e.compSize > b.length) return None
      val data: Array[Byte] = e.method match {
        case 0 =>
          if (e.compSize != e.uncompSize) return None
          java.util.Arrays.copyOfRange(b, start.toInt, (start + e.compSize).toInt)
        case 8 =>
          if (e.uncompSize > Bytes.MaxInflate) return None
          Bytes.inflate(b, start.toInt, e.compSize.toInt, e.uncompSize.toInt,
            nowrap = true).getOrElse(return None)._1
        case 12 => // bzip2 (APPNOTE 4.4.5): payload is one .bz2 stream
          Bzip2.bunzip2(java.util.Arrays.copyOfRange(b, start.toInt,
            (start + e.compSize).toInt)) match {
            case Some(d) => d
            case None => return None
          }
        case 14 => // LZMA (APPNOTE 5.8): 4-byte version/size hdr + props
          if (e.compSize < 9) return None
          val o2 = start.toInt
          val propSize = u16le(b, o2 + 2)
          if (propSize != 5 || e.compSize < 4 + 5) return None
          val props = b(o2 + 4) & 0xff
          val dictSize = u32le(b, o2 + 5)
          XzCodec.lzmaRawDecode(b, o2 + 9, (start + e.compSize).toInt,
            props, dictSize, e.uncompSize.toInt) match {
            case Some(d) => d
            case None => return None
          }
        case _ => return None // no other methods emitted or accepted
      }
      val crc = new CRC32(); crc.update(data)
      if (data.length.toLong == e.uncompSize && crc.getValue == e.crc32)
        Some(data)
      else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Fixture emitter: byte-valid single-disk zip. `deflate` per entry;
    * real CRCs, real deflate streams, central dir + EOCD. */
  def encodeZip(entries: Seq[(String, Array[Byte], Boolean)]): Array[Byte] = {
    val out = new ByteArrayOutputStream(entries.map(_._2.length + 128).sum + 64)
    val metas = entries.map { case (name, payload, deflate) =>
      val nb = name.getBytes("UTF-8")
      val crc = new CRC32(); crc.update(payload)
      val comp =
        if (!deflate) payload
        else {
          val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
          d.setInput(payload); d.finish()
          val bos = new ByteArrayOutputStream(payload.length / 2 + 32)
          val buf = new Array[Byte](8192)
          while (!d.finished()) { val k = d.deflate(buf); bos.write(buf, 0, k) }
          d.end()
          bos.toByteArray
        }
      val localOff = out.size().toLong
      out.write('P'); out.write('K'); out.write(3); out.write(4)
      le16(out, 20); le16(out, 0); le16(out, if (deflate) 8 else 0)
      le16(out, 0); le16(out, 0x21) // fixed DOS time/date (1980-01-01 00:01)
      le32(out, crc.getValue); le32(out, comp.length.toLong)
      le32(out, payload.length.toLong)
      le16(out, nb.length); le16(out, 0)
      out.write(nb, 0, nb.length)
      out.write(comp, 0, comp.length)
      ZipEntryMeta(name, if (deflate) 8 else 0, comp.length.toLong,
        payload.length.toLong, crc.getValue, localOff)
    }
    val cdOff = out.size().toLong
    metas.foreach { m =>
      val nb = m.name.getBytes("UTF-8")
      out.write('P'); out.write('K'); out.write(1); out.write(2)
      le16(out, 20); le16(out, 20); le16(out, 0); le16(out, m.method)
      le16(out, 0); le16(out, 0x21)
      le32(out, m.crc32); le32(out, m.compSize); le32(out, m.uncompSize)
      le16(out, nb.length); le16(out, 0); le16(out, 0); le16(out, 0)
      le16(out, 0); le32(out, 0)
      le32(out, m.localOffset)
      out.write(nb, 0, nb.length)
    }
    val cdSize = out.size().toLong - cdOff
    out.write('P'); out.write('K'); out.write(5); out.write(6)
    le16(out, 0); le16(out, 0); le16(out, metas.size); le16(out, metas.size)
    le32(out, cdSize); le32(out, cdOff); le16(out, 0)
    out.toByteArray
  }

  /** Fixture emitter: byte-valid FORCED-ZIP64 archive — every u32
    * size/offset field pinned to 0xFFFFFFFF with the real values in
    * 0x0001 extra fields, ZIP64 EOCD record + locator ahead of the
    * classic EOCD (whose counts pin to 0xFFFF). APPNOTE permits ZIP64
    * structures regardless of actual sizes, which is how a testable
    * fixture exercises the >4 GB layout without 4 GB of bytes; the
    * JDK's own ZipFile referees the output in `ArchiveSpec`. */
  /** Fixture emitter for the modern compression methods: per entry
    * (name, data, method) with method 0 (store), 12 (bzip2), or 14
    * (LZMA — version header + 5-byte props + raw known-size stream,
    * no EOS marker so general-purpose bit 1 stays 0). */
  def encodeZipMethods(entries: Seq[(String, Array[Byte], Int)]): Array[Byte] = {
    val out = new ByteArrayOutputStream(512)
    val centrals = Vector.newBuilder[(String, Int, Long, Long, Long, Long)]
    entries.foreach { case (name, data, method) =>
      val comp: Array[Byte] = method match {
        case 0 => data
        case 12 => Bzip2.bzip2Compress(data, level = 5)
        case 14 =>
          val raw = XzCodec.lzmaLiteralRaw(data)
          val hdr = new ByteArrayOutputStream(9)
          hdr.write(9); hdr.write(20) // LZMA SDK version tag
          hdr.write(5); hdr.write(0)  // properties size
          hdr.write(93)               // lc=3 lp=0 pb=2
          var k = 0
          while (k < 4) { hdr.write(((1 << 16) >> (8 * k)) & 0xff); k += 1 }
          hdr.toByteArray ++ raw
        case m => throw new IllegalArgumentException(s"method $m")
      }
      val crc = new CRC32(); crc.update(data)
      val localOff = out.size.toLong
      out.write('P'); out.write('K'); out.write(3); out.write(4)
      le16(out, 63); le16(out, 0); le16(out, method)
      le16(out, 0); le16(out, 0) // time, date
      le32(out, crc.getValue); le32(out, comp.length.toLong)
      le32(out, data.length.toLong)
      // length fields count UTF-8 BYTES, not UTF-16 chars
      val nb = name.getBytes("UTF-8")
      le16(out, nb.length); le16(out, 0)
      out.write(nb, 0, nb.length)
      out.write(comp, 0, comp.length)
      centrals += ((name, method, crc.getValue, comp.length.toLong,
        data.length.toLong, localOff))
    }
    val cdStart = out.size.toLong
    centrals.result().foreach { case (name, method, crc, cs, us, off) =>
      out.write('P'); out.write('K'); out.write(1); out.write(2)
      le16(out, 63); le16(out, 63); le16(out, 0); le16(out, method)
      le16(out, 0); le16(out, 0)
      le32(out, crc); le32(out, cs); le32(out, us)
      val nb = name.getBytes("UTF-8")
      le16(out, nb.length); le16(out, 0); le16(out, 0)
      le16(out, 0); le16(out, 0); le32(out, 0)
      le32(out, off)
      out.write(nb, 0, nb.length)
    }
    val cdSize = out.size.toLong - cdStart
    out.write('P'); out.write('K'); out.write(5); out.write(6)
    le16(out, 0); le16(out, 0); le16(out, entries.length)
    le16(out, entries.length)
    le32(out, cdSize); le32(out, cdStart); le16(out, 0)
    out.toByteArray
  }

  def encodeZip64(entries: Seq[(String, Array[Byte], Boolean)]): Array[Byte] = {
    val out = new ByteArrayOutputStream(entries.map(_._2.length + 192).sum + 160)
    val metas = entries.map { case (name, payload, deflate) =>
      val nb = name.getBytes("UTF-8")
      val crc = new CRC32(); crc.update(payload)
      val comp =
        if (!deflate) payload
        else {
          val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
          d.setInput(payload); d.finish()
          val bos = new ByteArrayOutputStream(payload.length / 2 + 32)
          val buf = new Array[Byte](8192)
          while (!d.finished()) { val k = d.deflate(buf); bos.write(buf, 0, k) }
          d.end()
          bos.toByteArray
        }
      val localOff = out.size().toLong
      out.write('P'); out.write('K'); out.write(3); out.write(4)
      // version 4.5
      le16(out, 45); le16(out, 0); le16(out, if (deflate) 8 else 0)
      le16(out, 0); le16(out, 0x21)
      le32(out, crc.getValue); le32(out, 0xffffffffL); le32(out, 0xffffffffL)
      le16(out, nb.length); le16(out, 20) // zip64 extra: id+len+two u64s
      out.write(nb, 0, nb.length)
      le16(out, 1); le16(out, 16); le64(out, payload.length.toLong)
      le64(out, comp.length.toLong)
      out.write(comp, 0, comp.length)
      ZipEntryMeta(name, if (deflate) 8 else 0, comp.length.toLong,
        payload.length.toLong, crc.getValue, localOff)
    }
    val cdOff = out.size().toLong
    metas.foreach { m =>
      val nb = m.name.getBytes("UTF-8")
      out.write('P'); out.write('K'); out.write(1); out.write(2)
      le16(out, 45); le16(out, 45); le16(out, 0); le16(out, m.method)
      le16(out, 0); le16(out, 0x21)
      le32(out, m.crc32); le32(out, 0xffffffffL); le32(out, 0xffffffffL)
      le16(out, nb.length); le16(out, 28); le16(out, 0); le16(out, 0)
      le16(out, 0); le32(out, 0)
      le32(out, 0xffffffffL)
      out.write(nb, 0, nb.length)
      le16(out, 1); le16(out, 24)
      le64(out, m.uncompSize); le64(out, m.compSize); le64(out, m.localOffset)
    }
    val cdSize = out.size().toLong - cdOff
    val z64Off = out.size().toLong
    // ZIP64 EOCD record (56 bytes, "size of record" excludes sig+size)
    out.write('P'); out.write('K'); out.write(6); out.write(6)
    le64(out, 44); le16(out, 45); le16(out, 45); le32(out, 0); le32(out, 0)
    le64(out, metas.size.toLong); le64(out, metas.size.toLong)
    le64(out, cdSize); le64(out, cdOff)
    // ZIP64 EOCD locator
    out.write('P'); out.write('K'); out.write(6); out.write(7)
    le32(out, 0); le64(out, z64Off); le32(out, 1)
    // classic EOCD, counts/offsets pinned
    out.write('P'); out.write('K'); out.write(5); out.write(6)
    le16(out, 0); le16(out, 0); le16(out, 0xffff); le16(out, 0xffff)
    le32(out, 0xffffffffL); le32(out, 0xffffffffL); le16(out, 0)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // WebDataset sample grouping
  // ------------------------------------------------------------------

  /** Group shard members into WebDataset samples: key = basename up to
    * the FIRST dot (so multi-part extensions like `cap.txt` survive as
    * the extension), one output row per (shard, key) with the sorted
    * extension list, part count, byte total, and a completeness flag
    * against `required`. Input columns: shard_id, member_name,
    * n_bytes. The shuffle is keyed by (shard_id, sample_key) — sample
    * size is format-bounded (a handful of members), so no key can
    * skew, and shard locality keeps the exchange map-side combinable. */
  def webdatasetSamples(members: DataFrame, required: Seq[String]): DataFrame = {
    val base = element_at(split(col("member_name"), "/"), -1)
    val key = substring_index(base, ".", 1)
    val ext = expr(
      "substring(element_at(split(member_name, '/'), -1)," +
        " length(substring_index(element_at(split(member_name, '/'), -1), '.', 1)) + 2)")
    members
      .withColumn("sample_key", key)
      .withColumn("ext", ext)
      .groupBy(col("shard_id"), col("sample_key"))
      .agg(
        count(lit(1)).as("n_parts"),
        concat_ws(",", sort_array(collect_list(col("ext")))).as("exts"),
        sum(col("n_bytes")).as("total_bytes"),
        collect_set(col("ext")).as("ext_set"))
      .withColumn("complete",
        size(array_intersect(col("ext_set"),
          typedLit(required))) === required.size)
      .drop("ext_set")
  }

  // ------------------------------------------------------------------
  // WebDataset shard WRITER
  // ------------------------------------------------------------------

  /** Pack documents into byte-budgeted tar shards — the WRITE side of
    * [[webdatasetSamples]]. Assignment is sequential WITHIN an input
    * split (the production shape: each writer task packs its own split
    * in order; a global sequential cumsum would serialize the corpus
    * through one partition): shard = floor(preceding-bytes / budget)
    * under a per-split ordered window, then one group per (split,
    * shard) emits a byte-valid tar blob. Group size is budget-bounded
    * regardless of corpus size. Returns (split, shard, n_docs,
    * shard_bytes, first_doc, last_doc) with `shard_bytes` measured
    * from the REAL encoded blob. */
  def packShards(docs: DataFrame, idCol: String, textCol: String,
      splitSpan: Long, budgetBytes: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // per-member block math: 512 header + padded payload, plus the
    // fixed 1024 json sidecar member (512 header + 512 payload block)
    val memberBytes = lit(512L) + lit(512L) *
      floor((octet_length(col(textCol)) + lit(511)) / lit(512)).cast("long") +
      lit(1024L)
    val w = Window.partitionBy(col("split")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(idCol), col(textCol))
      .withColumn("split", (col(idCol) / splitSpan).cast("long"))
      .withColumn("d", memberBytes)
      .withColumn("shard",
        (coalesce(sum(col("d")).over(w), lit(0L)) / budgetBytes).cast("long"))
      .groupBy(col("split"), col("shard"))
      .agg(sort_array(collect_list(struct(col(idCol).as("id"),
        col(textCol).as("text")))).as("docs"))
      .as[(Long, Long, Seq[(Long, String)])]
      .map { case (split, shard, ds) =>
        val blob = encodeTar(ds.flatMap { case (id, text) =>
          Seq(TarEntry(s"s$id.txt", text.getBytes("UTF-8"), 0L),
            TarEntry(s"s$id.json", s"""{"id":$id}""".getBytes("UTF-8"), 0L))
        })
        (split, shard, ds.size.toLong, blob.length.toLong,
          ds.head._1, ds.last._1)
      }
      .toDF("split", "shard", "n_docs", "shard_bytes", "first_doc",
        "last_doc")
  }

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(

    // tar member walk: groups of 4 docs become one ustar shard; every
    // 5th member's 130+-char name travels via a PAX 'x' header. The
    // oracle replays name, size, mtime, AND the header byte offset —
    // the offset is a window-sum over the in-shard predecessors' block
    // spans, so any mis-walk (checksum, padding, PAX span) shifts
    // every later offset in the shard.
    QueryDef(
      "q291_tar_members",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .as[(Long, String)]
          .groupByKey { case (id, _) => id / 4 }
          .flatMapGroups { (_, it) =>
            val docs = it.toSeq.sortBy(_._1)
            val blob = Archive.encodeTar(docs.map { case (id, text) =>
              val name =
                if (id % 5 == 0) "deep/" * 24 + s"doc$id.txt"
                else s"data/doc$id.txt"
              TarEntry(name, text.getBytes("UTF-8"), 1000000L + id)
            })
            Archive.tarMembers(blob).zip(docs).map { case (m, (id, _)) =>
              (id, m.name, m.size, m.mtime, m.headerOffset,
                m.nameSource == "pax")
            }
          }
          .toDF("doc_id", "member_name", "n_bytes", "mtime",
            "header_offset", "via_pax")
          .orderBy($"doc_id")
      },
      Some("""
        WITH m AS (
          SELECT doc_id, doc_id // 4 AS grp,
                 doc_id % 5 = 0 AS via_pax,
                 CASE WHEN doc_id % 5 = 0
                      THEN repeat('deep/', 24) || 'doc' || doc_id || '.txt'
                      ELSE 'data/doc' || doc_id || '.txt' END AS member_name,
                 CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                 CAST(1000000 + doc_id AS BIGINT) AS mtime
          FROM documents),
        s AS (
          SELECT *,
                 (CASE WHEN via_pax THEN 1024 ELSE 0 END) + 512 +
                 ((n_bytes + 511) // 512) * 512 AS span
          FROM m)
        SELECT doc_id, member_name, n_bytes, mtime,
               CAST(COALESCE(SUM(span) OVER (PARTITION BY grp ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + CASE WHEN via_pax THEN 1024 ELSE 0 END AS BIGINT)
                 AS header_offset,
               via_pax
        FROM s
        ORDER BY doc_id""")),

    // WebDataset grouping: 8-doc tar shards where each doc contributes
    // s<id>.img (+ .cap.txt unless id%7=0, + .json when id%3=0); the
    // walk feeds webdatasetSamples and the oracle replays part counts,
    // the SORTED multi-dot extension list, byte totals, and the
    // required-extension completeness verdict per sample.
    QueryDef(
      "q292_webdataset_samples",
      (s, dir) => {
        import s.implicits._
        val members = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .as[(Long, String)]
          .groupByKey { case (id, _) => id / 8 }
          .flatMapGroups { (g, it) =>
            val docs = it.toSeq.sortBy(_._1)
            val blob = Archive.encodeTar(docs.flatMap { case (id, text) =>
              val tb = text.getBytes("UTF-8")
              Seq(TarEntry(s"s$id.img", tb, 0L)) ++
                (if (id % 7 != 0) Seq(TarEntry(s"s$id.cap.txt", tb, 0L))
                 else Seq.empty) ++
                (if (id % 3 == 0)
                   Seq(TarEntry(s"s$id.json",
                     s"""{"id":$id}""".getBytes("UTF-8"), 0L))
                 else Seq.empty)
            })
            Archive.tarMembers(blob).map(m => (g, m.name, m.size))
          }
          .toDF("shard_id", "member_name", "n_bytes")
        Archive.webdatasetSamples(members, Seq("img", "cap.txt"))
          .withColumn("doc_id",
            expr("CAST(substring(sample_key, 2) AS BIGINT)"))
          .select("doc_id", "sample_key", "n_parts", "exts",
            "total_bytes", "complete")
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               's' || doc_id AS sample_key,
               CAST(1 + CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END
                      + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
                    AS BIGINT) AS n_parts,
               CASE WHEN doc_id % 7 = 0 AND doc_id % 3 = 0 THEN 'img,json'
                    WHEN doc_id % 7 = 0 THEN 'img'
                    WHEN doc_id % 3 = 0 THEN 'cap.txt,img,json'
                    ELSE 'cap.txt,img' END AS exts,
               CAST(octet_length(encode(text))
                      * CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 2 END
                    + CASE WHEN doc_id % 3 = 0
                           THEN 7 + length(CAST(doc_id AS VARCHAR))
                           ELSE 0 END AS BIGINT) AS total_bytes,
               doc_id % 7 <> 0 AS complete
        FROM documents
        ORDER BY doc_id""")),

    // shard WRITER: byte-budgeted packing into real tar shards, 64 KiB
    // budget, splits of 1000 ids. The oracle replays the ENTIRE
    // layout: per-doc 512-block member math, the per-split windowed
    // cumulative assignment, and every shard's total byte size — the
    // engine measures shard_bytes from the actual encoded blob, so a
    // single padding or trailer slip anywhere shifts a hashed sum.
    QueryDef(
      "q315_webdataset_shard_writer",
      (s, dir) => {
        import s.implicits._
        Archive.packShards(Tables.load(s, dir, "documents"),
          "doc_id", "text", splitSpan = 1000L, budgetBytes = 65536L)
          .orderBy($"split", $"shard")
      },
      Some("""
        WITH m AS (
          SELECT doc_id, doc_id // 1000 AS split,
                 512 + 512 * ((octet_length(encode(text)) + 511) // 512)
                   + 1024 AS d
          FROM documents),
        a AS (
          SELECT *,
                 COALESCE(SUM(d) OVER (PARTITION BY split ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   // 65536 AS shard
          FROM m)
        SELECT CAST(split AS BIGINT) AS split,
               CAST(shard AS BIGINT) AS shard,
               count(*) AS n_docs,
               CAST(sum(d) + 1024 AS BIGINT) AS shard_bytes,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc
        FROM a
        GROUP BY split, shard
        ORDER BY split, shard""")),

    // WRITE -> READ round trip across the whole archive family: pack
    // docs into budgeted shards (q315's layout), then WALK EVERY SHARD
    // BACK through tarMembers + webdatasetSamples and reconcile — the
    // corpus-level proof that what the writer emits, the reader
    // recovers sample-exactly. The oracle replays the packing
    // arithmetic and asserts total completeness; a single lost or torn
    // member anywhere breaks a hashed count.
    QueryDef(
      "q322_shard_round_trip",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val memberBytes = lit(512L) + lit(512L) *
          floor((octet_length($"text") + lit(511)) / lit(512)).cast("long") +
          lit(1024L)
        val w = Window.partitionBy($"split").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val members = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .withColumn("split", ($"doc_id" / 1000).cast("long"))
          .withColumn("d", memberBytes)
          .withColumn("shard",
            (coalesce(sum($"d").over(w), lit(0L)) / 65536L).cast("long"))
          .groupBy($"split", $"shard")
          .agg(sort_array(collect_list(struct($"doc_id".as("id"),
            $"text".as("text")))).as("docs"))
          .as[(Long, Long, Seq[(Long, String)])]
          .flatMap { case (split, shard, ds) =>
            val blob = Archive.encodeTar(ds.flatMap { case (id, text) =>
              Seq(TarEntry(s"s$id.txt", text.getBytes("UTF-8"), 0L),
                TarEntry(s"s$id.json", s"""{"id":$id}""".getBytes("UTF-8"), 0L))
            })
            // the READ path: walk the real bytes back out
            Archive.tarMembers(blob).map(m =>
              (split * 100000 + shard, m.name, m.size))
          }
          .toDF("shard_id", "member_name", "n_bytes")
        Archive.webdatasetSamples(members, Seq("txt", "json"))
          .groupBy()
          .agg(count(lit(1)).as("n_samples"),
            sum(when($"complete", 1L).otherwise(0L)).as("n_complete"),
            sum($"n_parts").as("n_members"),
            sum($"total_bytes").as("payload_bytes"))
      },
      Some("""
        SELECT count(*) AS n_samples,
               count(*) AS n_complete,
               CAST(2 * count(*) AS BIGINT) AS n_members,
               CAST(sum(octet_length(encode(text))
                    + 7 + length(CAST(doc_id AS VARCHAR))) AS BIGINT)
                 AS payload_bytes
        FROM documents""")),

    // zip central-directory walk + verified extract: per-doc archives
    // (text entry deflated on even ids, stored on odd; constant '{}'
    // sidecar), every entry inflated and CRC32-checked against the
    // central directory. crc_ok=true in the hashed output PROVES the
    // inflate ran and verified — a forged CRC or torn stream flips it.
    QueryDef(
      "q293_zip_entries",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val blob = Archive.encodeZip(Seq(
              (s"a/doc$id.txt", text.getBytes("UTF-8"), id % 2 == 0),
              ("meta/info.json", "{}".getBytes("UTF-8"), false)))
            val entries = Archive.zipEntries(blob).getOrElse(Vector.empty)
            val allOk = entries.nonEmpty &&
              entries.forall(e => Archive.unzipEntry(blob, e).isDefined)
            (id, entries.size.toLong,
              entries.headOption.map(_.name).getOrElse(""),
              entries.map(_.uncompSize).sum,
              entries.count(_.method == 8).toLong, allOk)
          }
          .toDF("doc_id", "n_entries", "first_name", "uncomp_bytes",
            "n_deflated", "crc_ok")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(2 AS BIGINT) AS n_entries,
               'a/doc' || doc_id || '.txt' AS first_name,
               CAST(octet_length(encode(text)) + 2 AS BIGINT) AS uncomp_bytes,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
                 AS n_deflated,
               TRUE AS crc_ok
        FROM documents
        ORDER BY doc_id""")),

    // ----- ZIP64 member walk (q293's >4 GB-layout sibling) ------------
    // Forced-ZIP64 fixtures: every size/offset field pinned 0xFFFFFFFF,
    // real values in 0x0001 extras, ZIP64 EOCD + locator chain. The
    // SAME zipEntries walk must route through the 64-bit path (a
    // walk that trusts the pinned u32s reads offset 4 GiB-1 and
    // dies); extraction re-verifies every CRC through the local
    // headers. At 100 TB this is the common shard layout, not the
    // exotic one. JDK ZipFile referees the emitter in ArchiveSpec.
    QueryDef(
      "q345_zip64_entries",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val payload = text.getBytes("UTF-8")
            val third = payload.length / 3
            val blob = Archive.encodeZip64(Seq(
              (s"shard/$id.a", payload.take(third), id % 2 == 0),
              (s"shard/$id.b", payload.slice(third, 2 * third), true),
              (s"shard/$id.c", payload.drop(2 * third), false)))
            val entries = Archive.zipEntries(blob).getOrElse(Vector.empty)
            val verified = entries.count(e =>
              Archive.unzipEntry(blob, e).isDefined)
            (id, entries.size.toLong, entries.map(_.uncompSize).sum,
              verified.toLong)
          }
          .toDF("doc_id", "n_entries", "uncomp_bytes", "verified")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(3 AS BIGINT) AS n_entries,
               CAST(octet_length(encode(text)) AS BIGINT) AS uncomp_bytes,
               CAST(3 AS BIGINT) AS verified
        FROM documents
        ORDER BY doc_id""")),

    // modern zip compression methods: store + bzip2 (12) + LZMA (14)
    // in one archive — real-world zips from 7-Zip/Info-ZIP use them,
    // and both payloads route through this repo's own codecs. CRC32
    // and declared-size verification per entry; ok counts entries
    // whose decode round-trips byte-exactly.
    QueryDef(
      "q435_zip_modern_methods",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val tb = text.getBytes("UTF-8")
            val zip = Archive.encodeZipMethods(Seq(
              (s"s$id.txt", tb, 0),
              ("b.txt", tb ++ "b".getBytes("UTF-8"), 12),
              ("l.txt", tb ++ "l".getBytes("UTF-8"), 14)))
            val entries = Archive.zipEntries(zip).getOrElse(Vector.empty)
            val decoded = entries.flatMap(e =>
              Archive.unzipEntry(zip, e).map(d => (e, d)))
            val okAll = decoded.length == 3 &&
              decoded.forall { case (e, d) => d.length == e.uncompSize }
            (id, entries.length.toLong,
              entries.map(_.method).sorted.mkString(","),
              decoded.map(_._2.length.toLong).sum,
              okAll)
          }
          .toDF("doc_id", "n_entries", "methods", "total_bytes", "ok")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(3 AS BIGINT) AS n_entries,
               '0,12,14' AS methods,
               CAST(3 * octet_length(encode(text)) + 2 AS BIGINT)
                 AS total_bytes,
               TRUE AS ok
        FROM documents
        ORDER BY doc_id""")))
}
