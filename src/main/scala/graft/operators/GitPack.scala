package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.Bytes.{crc32, u32be}

/** Git packfile + pack-index DECODER — pure JVM, from the public
  * format documentation (git's Documentation/gitformat-pack.txt).
  * Code corpora ship as bare repositories: the q414 manifest channel
  * reads Cargo.toml/YAML, but nothing could walk commits/trees/blobs
  * until now. A pack is the unit a mirror actually stores — decoding
  * it map-side is how a 100 TB code-corpus pipeline inventories
  * repositories without materializing loose objects.
  *
  * Implemented: pack v2/v3 entry walk (4-bit type + 7-bit-group size
  * varints, zlib-deflated payloads via the JDK Inflater), OBJ_OFS_DELTA
  * (the +1-biased big-endian base-offset encoding) and OBJ_REF_DELTA
  * bases, full delta application (source/target size varints, copy
  * commands with the size-0 = 0x10000 rule, literal inserts, reserved
  * command 0 rejected), delta-chain depth bounding, per-object SHA-1
  * (`"<type> <size>\0" + content` — reproducing git's object ids
  * exactly), the SHA-1 pack trailer, and idx v2 (fanout monotonicity,
  * sorted names, per-entry CRC32 over the compressed pack entry,
  * 31-bit offsets with the 8-byte large-offset table, both trailer
  * checksums).
  *
  * Referee posture: `/usr/bin/git` is the reference — GitPackSpec
  * builds real repositories, repacks them, and requires this decoder
  * to reproduce `git cat-file --batch-check` (sha, type, size) for
  * every object, while [[encodePack]]/[[encodeIdx]] output must pass
  * `git verify-pack` and `git index-pack`. Corrupt/truncated/thin
  * packs → None: hostile declared lengths bounds-checked in Long, a
  * ref_delta against a missing base (thin pack) rejects, depth > 64
  * rejects.
  */
object GitPack {

  private final class Corrupt extends RuntimeException(null, null, false, false)
  private def fail(): Nothing = throw new Corrupt

  final case class PackObject(sha: String, otype: String, size: Long,
      deltaDepth: Int, offset: Long, crc32: Long)

  private val typeNames = Map(1 -> "commit", 2 -> "tree", 3 -> "blob",
    4 -> "tag")

  private def sha1Hex(prefix: Array[Byte], content: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.update(prefix)
    md.update(content)
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  private def objectSha(otype: String, content: Array[Byte]): String =
    sha1Hex(s"$otype ${content.length}".getBytes("US-ASCII") :+ 0.toByte, content)

  /** Inflate one zlib stream starting at `off`; the declared
    * uncompressed length must match exactly. Returns (data, consumed
    * compressed bytes). */
  private def inflateAt(b: Array[Byte], off: Int,
      declared: Long): (Array[Byte], Int) = {
    if (declared < 0 || declared > Bytes.MaxInflate) fail()
    Bytes.inflate(b, off, b.length - off, declared.toInt)
      .filter(_._1.length == declared).getOrElse(fail())
  }

  /** git delta application (gitformat-pack: copy/insert commands). */
  private def applyDelta(base: Array[Byte],
      delta: Array[Byte]): Array[Byte] = {
    var i = 0
    def sizeVarint(): Long = { // at most 9 bytes (63 bits)
      val (v, next) = Bytes.varint(delta, i).filter(_._2 - i <= 9)
        .getOrElse(fail())
      i = next
      v
    }
    val srcSize = sizeVarint()
    if (srcSize != base.length) fail()
    val tgtSize = sizeVarint()
    if (tgtSize < 0 || tgtSize > Bytes.MaxInflate) fail()
    val out = new Array[Byte](tgtSize.toInt)
    var o = 0
    while (i < delta.length) {
      val cmd = delta(i) & 0xff
      i += 1
      if ((cmd & 0x80) != 0) {
        var cpOff = 0L
        var cpSize = 0L
        var bit = 0
        while (bit < 4) {
          if ((cmd & (1 << bit)) != 0) {
            if (i >= delta.length) fail()
            cpOff |= (delta(i) & 0xffL) << (8 * bit)
            i += 1
          }
          bit += 1
        }
        while (bit < 7) {
          if ((cmd & (1 << bit)) != 0) {
            if (i >= delta.length) fail()
            cpSize |= (delta(i) & 0xffL) << (8 * (bit - 4))
            i += 1
          }
          bit += 1
        }
        if (cpSize == 0) cpSize = 0x10000L
        if (cpOff + cpSize > base.length || o + cpSize > out.length) fail()
        System.arraycopy(base, cpOff.toInt, out, o, cpSize.toInt)
        o += cpSize.toInt
      } else {
        if (cmd == 0) fail() // reserved
        if (i + cmd > delta.length || o + cmd > out.length) fail()
        System.arraycopy(delta, i, out, o, cmd)
        i += cmd
        o += cmd
      }
    }
    if (o != out.length) fail()
    out
  }

  /** Decode every object in a pack, resolving delta chains. The
    * SHA-1 trailer is verified first; thin packs (ref_delta against
    * an absent base), cycles-by-construction (a delta can only
    * reference an EARLIER offset), truncation, and declared-size lies
    * all → None. */
  def packObjectsWithContent(
      pack: Array[Byte]): Option[Vector[(PackObject, Array[Byte])]] =
    try {
      if (pack == null || pack.length < 32) return None
      if (pack(0) != 'P' || pack(1) != 'A' || pack(2) != 'C' ||
        pack(3) != 'K') fail()
      val version = u32be(pack, 4)
      if (version != 2 && version != 3) fail()
      val count = u32be(pack, 8)
      if (count < 0 || count > (pack.length / 12) + 16) fail()
      // trailer: SHA-1 of everything before it
      val md = java.security.MessageDigest.getInstance("SHA-1")
      md.update(pack, 0, pack.length - 20)
      val dig = md.digest()
      var t = 0
      while (t < 20) {
        if (dig(t) != pack(pack.length - 20 + t)) fail()
        t += 1
      }
      var off = 12
      val byOffset = scala.collection.mutable.LongMap
        .empty[(String, Array[Byte], Int)]
      val bySha = scala.collection.mutable.HashMap
        .empty[String, (String, Array[Byte], Int)]
      val out = Vector.newBuilder[(PackObject, Array[Byte])]
      var k = 0L
      while (k < count) {
        val entryStart = off
        if (off >= pack.length - 20) fail()
        val c = pack(off) & 0xff
        off += 1
        val otypeId = (c >>> 4) & 7
        var size = (c & 15).toLong
        if ((c & 0x80) != 0) { // the rest of the size: at most 8 more bytes
          val (rest, next) = Bytes.varint(pack, off)
            .filter { case (_, nx) => nx - off <= 8 && nx <= pack.length - 20 }
            .getOrElse(fail())
          size |= rest << 4
          off = next
        }
        val (otype, content, depth) = otypeId match {
          case 1 | 2 | 3 | 4 =>
            val (data, used) = inflateAt(pack, off, size)
            off += used
            (typeNames(otypeId), data, 0)
          case 6 => // ofs_delta: +1-biased big-endian varint, negative
            if (off >= pack.length - 20) fail()
            var d = pack(off) & 0xff
            off += 1
            var neg = (d & 0x7f).toLong
            while ((d & 0x80) != 0) {
              if (off >= pack.length - 20 || neg > Int.MaxValue) fail()
              d = pack(off) & 0xff
              off += 1
              neg = ((neg + 1) << 7) | (d & 0x7fL)
            }
            val baseOff = entryStart - neg
            if (baseOff < 12 || baseOff >= entryStart) fail()
            val base = byOffset.getOrElse(baseOff, fail())
            if (base._3 >= 64) fail() // chain depth bound (git's limit)
            val (delta, used) = inflateAt(pack, off, size)
            off += used
            (base._1, applyDelta(base._2, delta), base._3 + 1)
          case 7 => // ref_delta: 20-byte base id
            if (off + 20 > pack.length - 20) fail()
            val sha = pack.slice(off, off + 20)
              .map(x => f"${x & 0xff}%02x").mkString
            off += 20
            val base = bySha.getOrElse(sha, fail()) // thin pack → reject
            if (base._3 >= 64) fail()
            val (delta, used) = inflateAt(pack, off, size)
            off += used
            (base._1, applyDelta(base._2, delta), base._3 + 1)
          case _ => fail()
        }
        val sha = objectSha(otype, content)
        byOffset(entryStart.toLong) = ((otype, content, depth))
        bySha(sha) = ((otype, content, depth))
        out += ((PackObject(sha, otype, content.length.toLong, depth,
          entryStart.toLong, crc32(pack, entryStart, off - entryStart)),
          content))
        k += 1
      }
      if (off != pack.length - 20) fail()
      Some(out.result())
    } catch {
      case _: Corrupt | _: ArrayIndexOutOfBoundsException |
        _: NegativeArraySizeException => None
    }

  def packObjects(pack: Array[Byte]): Option[Vector[PackObject]] =
    packObjectsWithContent(pack).map(_.map(_._1))

  /** Parse + verify an idx v2: returns (shaHex, packOffset, crc32)
    * in name order. Both trailer checksums, fanout monotonicity and
    * consistency, and name ordering are enforced. */
  def idxEntries(idx: Array[Byte]): Option[Vector[(String, Long, Long)]] =
    try {
      if (idx == null || idx.length < 8 + 1024 + 40) return None
      if ((idx(0) & 0xff) != 0xff || idx(1) != 't' || idx(2) != 'O' ||
        idx(3) != 'c') fail()
      if (u32be(idx, 4) != 2) fail()
      val fanout = Array.tabulate(256)(i => u32be(idx, 8 + 4 * i))
      var i = 1
      while (i < 256) { if (fanout(i) < fanout(i - 1)) fail(); i += 1 }
      val n = fanout(255)
      if (n < 0 || n > Int.MaxValue / 28) fail()
      val namesAt = 8 + 1024
      val crcAt = namesAt + 20 * n
      val offAt = crcAt + 4 * n
      val largeAt = offAt + 4 * n
      if (largeAt + 40 > idx.length) fail()
      val nLarge = (idx.length - 40 - largeAt) / 8
      if (largeAt + 8 * nLarge + 40 != idx.length) fail()
      // idx trailer checksum (over everything before it)
      val md = java.security.MessageDigest.getInstance("SHA-1")
      md.update(idx, 0, idx.length - 20)
      val dig = md.digest()
      var q = 0
      while (q < 20) {
        if (dig(q) != idx(idx.length - 20 + q)) fail()
        q += 1
      }
      val out = Vector.newBuilder[(String, Long, Long)]
      var prev: String = null
      var e = 0L
      while (e < n) {
        val at = (namesAt + 20 * e).toInt
        val sha = idx.slice(at, at + 20).map(x => f"${x & 0xff}%02x").mkString
        if (prev != null && sha.compareTo(prev) <= 0) fail()
        // fanout consistency: entry index range for this first byte
        val fb = idx(at) & 0xff
        val lo = if (fb == 0) 0L else fanout(fb - 1)
        if (e < lo || e >= fanout(fb)) fail()
        prev = sha
        val crc = u32be(idx, (crcAt + 4 * e).toInt)
        val o32 = u32be(idx, (offAt + 4 * e).toInt)
        val offv =
          if ((o32 & 0x80000000L) == 0) o32
          else {
            val li = o32 & 0x7fffffffL
            if (li >= nLarge) fail()
            val at8 = (largeAt + 8 * li).toInt
            (u32be(idx, at8) << 32) | u32be(idx, at8 + 4)
          }
        out += ((sha, offv, crc))
        e += 1
      }
      Some(out.result())
    } catch {
      case _: Corrupt | _: ArrayIndexOutOfBoundsException |
        _: NegativeArraySizeException => None
    }

  /** Cross-verify a pack/idx pair: same sha set, offsets point at the
    * right entries, per-entry CRC32s match the pack bytes, and the
    * idx embeds the pack's trailer checksum. */
  def verifyPair(pack: Array[Byte], idx: Array[Byte]): Boolean = {
    (for {
      objs <- packObjects(pack)
      ents <- idxEntries(idx)
    } yield {
      val trailerOk = idx.length >= 40 && pack.length >= 20 &&
        java.util.Arrays.equals(
          java.util.Arrays.copyOfRange(idx, idx.length - 40, idx.length - 20),
          java.util.Arrays.copyOfRange(pack, pack.length - 20, pack.length))
      val byOff = objs.map(o => o.offset -> o).toMap
      trailerOk && ents.length == objs.length && ents.forall {
        case (sha, offv, crc) =>
          byOff.get(offv).exists(o => o.sha == sha && o.crc32 == crc)
      }
    }).getOrElse(false)
  }

  // --------------------------------------------------- fixture emitters

  sealed trait PackEntry
  final case class Full(otypeId: Int, content: Array[Byte]) extends PackEntry
  /** Delta against the entry at `baseIndex` (earlier in the list). */
  final case class OfsDelta(baseIndex: Int, delta: Array[Byte])
      extends PackEntry
  final case class RefDelta(baseShaHex: String, delta: Array[Byte])
      extends PackEntry

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data)
    d.finish()
    val out = new ByteArrayOutputStream(data.length / 2 + 16)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def writeTypeSize(out: ByteArrayOutputStream, otypeId: Int,
      size: Long): Unit = {
    var c = (otypeId << 4) | (size & 15).toInt
    var rest = size >>> 4
    while (rest != 0) {
      out.write(c | 0x80)
      c = (rest & 0x7f).toInt
      rest >>>= 7
    }
    out.write(c)
  }

  /** A minimal delta: copy the whole base, then insert `tail`. */
  def buildDelta(base: Array[Byte], tail: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(tail.length + 16)
    Bytes.putVarint(out, base.length.toLong)
    Bytes.putVarint(out, base.length.toLong + tail.length)
    if (base.nonEmpty) {
      // copy command: offset 0 (no bytes), explicit size bytes
      val n = base.length
      var cmd = 0x80
      if ((n & 0xff) != 0) cmd |= 0x10
      if ((n & 0xff00) != 0) cmd |= 0x20
      if ((n & 0xff0000) != 0) cmd |= 0x40
      if (cmd == 0x80) cmd |= 0x10 // size 0x10000 multiples need a byte
      out.write(cmd)
      if ((cmd & 0x10) != 0) out.write(n & 0xff)
      if ((cmd & 0x20) != 0) out.write((n >>> 8) & 0xff)
      if ((cmd & 0x40) != 0) out.write((n >>> 16) & 0xff)
    }
    var i = 0
    while (i < tail.length) {
      val n = math.min(127, tail.length - i)
      out.write(n)
      out.write(tail, i, n)
      i += n
    }
    out.toByteArray
  }

  /** Emit a byte-valid pack v2 (entries in the given order; deltas
    * must reference earlier entries). Also returns per-entry resolved
    * (otype, content) so callers can compute shas. */
  def encodePack(entries: Seq[PackEntry]): Array[Byte] = {
    val out = new ByteArrayOutputStream(1024)
    out.write("PACK".getBytes("US-ASCII"), 0, 4)
    out.write(Array[Byte](0, 0, 0, 2), 0, 4)
    var k = 3
    while (k >= 0) { out.write((entries.length >>> (8 * k)) & 0xff); k -= 1 }
    val resolved = new Array[(String, Array[Byte])](entries.length)
    val offsets = new Array[Int](entries.length)
    entries.zipWithIndex.foreach { case (e, i) =>
      offsets(i) = out.size
      e match {
        case Full(tid, content) =>
          writeTypeSize(out, tid, content.length.toLong)
          val z = deflate(content)
          out.write(z, 0, z.length)
          resolved(i) = ((typeNames(tid), content))
        case OfsDelta(bi, delta) =>
          writeTypeSize(out, 6, delta.length.toLong)
          // +1-biased big-endian offset varint, relative to entry start
          var neg = (offsets(i) - offsets(bi)).toLong
          var groups = List((neg & 0x7f).toInt)
          neg >>>= 7
          while (neg != 0) {
            neg -= 1
            groups ::= ((neg & 0x7f) | 0x80).toInt
            neg >>>= 7
          }
          groups.foreach(out.write)
          val z = deflate(delta)
          out.write(z, 0, z.length)
          val (bt, bc) = resolved(bi)
          resolved(i) =
            try ((bt, applyDelta(bc, delta)))
            catch { case _: Corrupt => null } // emit anyway; decoder rejects
        case RefDelta(shaHex, delta) =>
          writeTypeSize(out, 7, delta.length.toLong)
          shaHex.grouped(2).foreach(h => out.write(Integer.parseInt(h, 16)))
          val z = deflate(delta)
          out.write(z, 0, z.length)
          // a base outside the pack (thin pack) still EMITS — the
          // decoder is what must reject it; later in-pack deltas may
          // not chain off an unresolvable entry
          val bi = resolved.indexWhere(r =>
            r != null && objectSha(r._1, r._2) == shaHex)
          resolved(i) =
            if (bi < 0) null
            else try ((resolved(bi)._1, applyDelta(resolved(bi)._2, delta)))
            catch { case _: Corrupt => null }
      }
    }
    val body = out.toByteArray
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.update(body)
    val fin = new ByteArrayOutputStream(body.length + 20)
    fin.write(body, 0, body.length)
    fin.write(md.digest(), 0, 20)
    fin.toByteArray
  }

  /** Build the idx v2 for a pack via this file's own decode. */
  def encodeIdx(pack: Array[Byte]): Option[Array[Byte]] =
    packObjects(pack).map { objs =>
      val sorted = objs.sortBy(_.sha)
      val out = new ByteArrayOutputStream(1024)
      out.write(0xff); out.write('t'); out.write('O'); out.write('c')
      out.write(Array[Byte](0, 0, 0, 2), 0, 4)
      var cum = 0
      (0 until 256).foreach { fb =>
        cum += sorted.count(o => Integer.parseInt(o.sha.take(2), 16) == fb)
        Bytes.be32(out, cum.toLong)
      }
      sorted.foreach(o =>
        o.sha.grouped(2).foreach(h => out.write(Integer.parseInt(h, 16))))
      sorted.foreach(o => Bytes.be32(out, o.crc32))
      val large = Vector.newBuilder[Long]
      var nLarge = 0
      sorted.foreach { o =>
        if (o.offset <= 0x7fffffffL) Bytes.be32(out, o.offset)
        else {
          Bytes.be32(out, 0x80000000L | nLarge); large += o.offset; nLarge += 1
        }
      }
      large.result().foreach { v =>
        Bytes.be32(out, v >>> 32); Bytes.be32(out, v & 0xffffffffL)
      }
      out.write(pack, pack.length - 20, 20) // pack trailer checksum
      val md = java.security.MessageDigest.getInstance("SHA-1")
      md.update(out.toByteArray)
      out.write(md.digest(), 0, 20)
      out.toByteArray
    }

  /** Build git object payloads for fixtures. */
  def blobSha(content: Array[Byte]): String = objectSha("blob", content)

  // ------------------------------------------------------ loose objects

  /** Decode one loose object (`.git/objects/xx/yyyy...`): a zlib
    * stream over `"<type> <size>" NUL content`. Returns (sha, type,
    * content); header lies, unknown types, truncation, trailing
    * compressed garbage → None. */
  def looseObject(b: Array[Byte]): Option[(String, String, Array[Byte])] = {
    if (b == null || b.length < 8) return None
    Bytes.inflate(b, 0, b.length).collect {
      case (raw, used) if used == b.length => raw
    }.flatMap { raw =>
      val nul = raw.indexOf(0.toByte)
      if (nul <= 0 || nul > 31) return None
      val hdr = new String(raw, 0, nul, "US-ASCII")
      val sp = hdr.indexOf(' ')
      if (sp <= 0) return None
      val otype = hdr.substring(0, sp)
      if (!typeNames.values.exists(_ == otype)) return None
      val size = hdr.substring(sp + 1).toLongOption.getOrElse(return None)
      if (size != raw.length - nul - 1) return None
      val content = java.util.Arrays.copyOfRange(raw, nul + 1, raw.length)
      Some((objectSha(otype, content), otype, content))
    }
  }

  /** Emit a loose object for fixtures. */
  def encodeLoose(otype: String, content: Array[Byte]): Array[Byte] =
    deflate((s"$otype ${content.length}".getBytes("US-ASCII") :+ 0.toByte)
      ++ content)

  /** Parse tree content into (mode, name, shaHex) entries; a
    * non-octal mode, empty name, torn sha, or unsorted names → None. */
  def treeEntries(content: Array[Byte])
      : Option[Vector[(String, String, String)]] =
    try {
      val out = Vector.newBuilder[(String, String, String)]
      var i = 0
      var prevKey: Array[Byte] = null
      // git orders tree entries by raw name bytes with directory
      // names compared as name+"/", so `foo.txt` sorts BEFORE a
      // subtree `foo` ('.' 0x2e < '/' 0x2f) in a valid tree.
      def gitSortKey(name: String, mode: String): Array[Byte] = {
        val nb = name.getBytes("UTF-8")
        if (mode == "40000" || mode == "040000") {
          val k = java.util.Arrays.copyOf(nb, nb.length + 1)
          k(nb.length) = '/'.toByte
          k
        } else nb
      }
      def unsignedLte(a: Array[Byte], b: Array[Byte]): Boolean = {
        var j = 0
        while (j < a.length && j < b.length) {
          val d = (a(j) & 0xff) - (b(j) & 0xff)
          if (d != 0) return d < 0
          j += 1
        }
        a.length <= b.length
      }
      while (i < content.length) {
        val sp = content.indexOf(' '.toByte, i)
        if (sp <= i) fail()
        val mode = new String(content, i, sp - i, "US-ASCII")
        if (mode.isEmpty || !mode.forall(c => c >= '0' && c <= '7')) fail()
        var z = sp + 1
        while (z < content.length && content(z) != 0) z += 1
        if (z >= content.length || z == sp + 1) fail()
        val name = new String(content, sp + 1, z - sp - 1, "UTF-8")
        if (z + 21 > content.length) fail()
        val sha = content.slice(z + 1, z + 21)
          .map(x => f"${x & 0xff}%02x").mkString
        val key = gitSortKey(name, mode)
        if (prevKey != null && unsignedLte(key, prevKey)) fail()
        prevKey = key
        out += ((mode, name, sha))
        i = z + 21
      }
      Some(out.result())
    } catch { case _: Corrupt => None }

  /** Parse commit content: (treeSha, parentShas, message). */
  def commitFields(content: Array[Byte])
      : Option[(String, Vector[String], String)] = {
    val s = new String(content, "UTF-8")
    val blank = s.indexOf("\n\n")
    if (blank < 0) return None
    val headers = s.substring(0, blank).linesIterator.toVector
    val tree = headers.collectFirst {
      case h if h.startsWith("tree ") && h.length == 45 => h.substring(5)
    }
    val parents = headers.collect {
      case h if h.startsWith("parent ") && h.length == 47 => h.substring(7)
    }
    tree.map(t => (t, parents, s.substring(blank + 2).stripSuffix("\n")))
  }

  def treeContent(entries: Seq[(String, String, String)]): Array[Byte] = {
    // (mode, name, shaHex), entries must be git-sorted by caller
    val out = new ByteArrayOutputStream(entries.size * 48)
    entries.foreach { case (mode, name, sha) =>
      out.write(s"$mode $name".getBytes("UTF-8")); out.write(0)
      sha.grouped(2).foreach(h => out.write(Integer.parseInt(h, 16)))
    }
    out.toByteArray
  }

  def commitContent(treeSha: String, msg: String,
      parents: Seq[String] = Nil): Array[Byte] =
    (s"tree $treeSha\n" +
      parents.map(p => s"parent $p\n").mkString +
      "author a <a@example.test> 0 +0000\n" +
      "committer a <a@example.test> 0 +0000\n" +
      s"\n$msg\n").getBytes("UTF-8")

  /** Expose the object id for fixture plumbing (bundle refs etc.). */
  def shaOf(otype: String, content: Array[Byte]): String =
    objectSha(otype, content)

  // ------------------------------------------------------ git bundles

  /** Parse a v2 git bundle: header line, `-<sha>` prerequisites,
    * `<sha> <refname>` refs, blank line, then a packfile. Returns
    * (prereqs, refs, packObjects). Every non-prerequisite ref must
    * resolve inside the pack. */
  def bundle(b: Array[Byte]): Option[(Vector[String],
      Vector[(String, String)], Vector[PackObject])] = {
    if (b == null || b.length < 32) return None
    val hdr = "# v2 git bundle\n".getBytes("US-ASCII")
    if (b.length < hdr.length ||
      !java.util.Arrays.equals(java.util.Arrays.copyOf(b, hdr.length), hdr))
      return None
    var i = hdr.length
    val prereqs = Vector.newBuilder[String]
    val refs = Vector.newBuilder[(String, String)]
    var done = false
    while (!done) {
      if (i >= b.length) return None
      val eol = {
        var e = i
        while (e < b.length && b(e) != '\n') e += 1
        if (e >= b.length) return None
        e
      }
      val line = new String(b, i, eol - i, "UTF-8")
      i = eol + 1
      if (line.isEmpty) done = true
      else if (line.startsWith("-")) {
        val sha = line.substring(1).takeWhile(_ != ' ')
        if (sha.length != 40) return None
        prereqs += sha
      } else {
        val sp = line.indexOf(' ')
        if (sp != 40) return None
        refs += ((line.substring(0, sp), line.substring(sp + 1)))
      }
    }
    val pack = java.util.Arrays.copyOfRange(b, i, b.length)
    packObjects(pack).flatMap { objs =>
      val have = objs.map(_.sha).toSet
      val pre = prereqs.result()
      val rs = refs.result()
      if (rs.forall(r => have.contains(r._1) || pre.contains(r._1)))
        Some((pre, rs, objs))
      else None
    }
  }

  /** Emit a v2 bundle over a pack. */
  def encodeBundle(refs: Seq[(String, String)], pack: Array[Byte],
      prereqs: Seq[String] = Nil): Array[Byte] = {
    val out = new ByteArrayOutputStream(pack.length + 128)
    out.write("# v2 git bundle\n".getBytes("US-ASCII"))
    prereqs.foreach(p => out.write(s"-$p\n".getBytes("US-ASCII")))
    refs.foreach { case (sha, name) =>
      out.write(s"$sha $name\n".getBytes("UTF-8"))
    }
    out.write('\n')
    out.write(pack, 0, pack.length)
    out.toByteArray
  }

  /** A pack holding one tree plus a chain of `n` commits (each the
    * parent of the next); returns (pack, headSha). */
  def fixtureChainPack(id: Long, text: String, n: Int): (Array[Byte], String) = {
    val blob = s"$id\n$text".getBytes("UTF-8")
    val tree = treeContent(Seq(("100644", "a.txt", blobSha(blob))))
    val treeSha = objectSha("tree", tree)
    var parents = List.empty[String]
    val commits = (0 until n).map { k =>
      val c = commitContent(treeSha, s"commit $k of $id",
        parents.headOption.toSeq)
      parents = objectSha("commit", c) :: parents
      c
    }
    val entries = Seq(Full(3, blob), Full(2, tree)) ++
      commits.map(c => Full(1, c))
    (encodePack(entries), parents.head)
  }

  /** The q426/q427 fixture pack: blob A (id-prefixed text), blob B =
    * ofs_delta(A) + tail, the fixed LICENSE blob, a tree over all
    * three, and a commit — five objects, one delta chain. */
  def fixturePack(id: Long, text: String,
      withTag: Boolean = false): Array[Byte] = {
    val a = s"$id\n$text".getBytes("UTF-8")
    val tail = s" tail $id".getBytes("UTF-8")
    val lic = "MIT\n".getBytes("UTF-8")
    val b = a ++ tail
    val tree = treeContent(Seq(
      ("100644", "LICENSE", blobSha(lic)),
      ("100644", "a.txt", blobSha(a)),
      ("100644", "b.txt", blobSha(b))))
    val commit = commitContent(objectSha("tree", tree), s"commit $id")
    val base = Seq(
      Full(3, a),
      OfsDelta(0, buildDelta(a, tail)),
      Full(3, lic),
      Full(2, tree),
      Full(1, commit))
    val tag =
      (s"object ${objectSha("commit", commit)}\n" +
        "type commit\n" +
        s"tag v$id\n" +
        "tagger a <a@example.test> 0 +0000\n" +
        s"\nrelease $id\n").getBytes("UTF-8")
    encodePack(if (withTag) base :+ Full(4, tag) else base)
  }

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(

    // per-pack inventory: each doc is one bare-repo pack (5 objects,
    // one ofs_delta chain). The decode is map-side; idx_ok round-trips
    // the pack through encodeIdx + verifyPair (crc32s, fanout, both
    // trailers). The oracle replays sizes from doc_id arithmetic.
    QueryDef(
      "q426_git_pack_inventory",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val pack = fixturePack(id, text)
            val objs = GitPack.packObjects(pack).getOrElse(Vector.empty)
            val idxOk = GitPack.encodeIdx(pack)
              .exists(idx => GitPack.verifyPair(pack, idx))
            (id,
              objs.count(_.otype == "commit").toLong,
              objs.count(_.otype == "tree").toLong,
              objs.count(_.otype == "blob").toLong,
              objs.count(_.deltaDepth > 0).toLong,
              objs.filter(_.otype == "blob").map(_.size).sum,
              idxOk)
          }
          .toDF("doc_id", "n_commits", "n_trees", "n_blobs", "n_deltas",
            "blob_bytes", "idx_ok")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(1 AS BIGINT) AS n_commits,
               CAST(1 AS BIGINT) AS n_trees,
               CAST(3 AS BIGINT) AS n_blobs,
               CAST(1 AS BIGINT) AS n_deltas,
               CAST(2 * (length(CAST(doc_id AS VARCHAR)) + 1
                         + octet_length(encode(text)))
                    + 6 + length(CAST(doc_id AS VARCHAR)) + 4
                    AS BIGINT) AS blob_bytes,
               TRUE AS idx_ok
        FROM documents
        ORDER BY doc_id""")),

    // repo census composition: packs group into repos (8 shards), the
    // shuffle carries (repo, doc_id, sha) keys only — never pack
    // bytes. The shared LICENSE blob dedups to ONE distinct sha per
    // repo while the id-prefixed objects stay unique: 4n + 1.
    QueryDef(
      "q427_git_repo_census",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .flatMap { case (id, text) =>
            val pack = fixturePack(id, text)
            GitPack.packObjects(pack).getOrElse(Vector.empty)
              .map(o => (s"repo${id % 8}", id, o.sha))
          }
          .toDF("repo", "doc_id", "sha")
          .groupBy($"repo")
          .agg(count_distinct($"doc_id").as("n_packs"),
            count(lit(1)).as("n_objects"),
            count_distinct($"sha").as("n_distinct_shas"))
          .orderBy($"repo")
      },
      Some("""
        SELECT 'repo' || (doc_id % 8) AS repo,
               CAST(count(*) AS BIGINT) AS n_packs,
               CAST(5 * count(*) AS BIGINT) AS n_objects,
               CAST(4 * count(*) + 1 AS BIGINT) AS n_distinct_shas
        FROM documents
        GROUP BY 1
        ORDER BY repo""")),

    // loose-object wing: the other way repositories store objects.
    // Per doc: four loose zlib objects (blob, LICENSE, tree, commit)
    // decode map-side; the tree parser checks entry order and links,
    // the commit parser recovers the tree pointer and message. The
    // oracle replays structure from doc_id arithmetic.
    QueryDef(
      "q428_git_loose_objects",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val blob = s"$id\n$text".getBytes("UTF-8")
            val lic = "MIT\n".getBytes("UTF-8")
            val tree = treeContent(Seq(
              ("100644", "LICENSE", blobSha(lic)),
              ("100644", "a.txt", blobSha(blob))))
            val commit = commitContent(objectSha("tree", tree),
              s"commit $id")
            val loose = Seq(
              encodeLoose("blob", blob), encodeLoose("blob", lic),
              encodeLoose("tree", tree), encodeLoose("commit", commit))
            val decoded = loose.flatMap(GitPack.looseObject)
            val treeSha = decoded.find(_._2 == "tree").map(_._1)
            val entries = decoded.find(_._2 == "tree")
              .flatMap(t => GitPack.treeEntries(t._3))
            val cf = decoded.find(_._2 == "commit")
              .flatMap(c => GitPack.commitFields(c._3))
            (id, decoded.length.toLong,
              entries.map(_.length.toLong).getOrElse(-1L),
              cf.exists(f => treeSha.contains(f._1)),
              cf.map(_._3).getOrElse(""))
          }
          .toDF("doc_id", "n_objects", "n_tree_entries",
            "commit_links_tree", "msg")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(4 AS BIGINT) AS n_objects,
               CAST(2 AS BIGINT) AS n_tree_entries,
               TRUE AS commit_links_tree,
               'commit ' || doc_id AS msg
        FROM documents
        ORDER BY doc_id""")),

    // commit-DAG lineage: each doc's pack holds a parent CHAIN of
    // 1 + id%4 commits; the walk finds the head (the commit no other
    // commit names as parent) and follows parent pointers to the
    // root. Per-repo aggregation carries (repo, depth) keys only.
    QueryDef(
      "q438_git_commit_lineage",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val n = (1 + id % 4).toInt
            val (pack, headSha) = fixtureChainPack(id, text, n)
            val objs = GitPack.packObjectsWithContent(pack)
              .getOrElse(Vector.empty)
            val commits = objs.filter(_._1.otype == "commit").map {
              case (o, c) => o.sha -> GitPack.commitFields(c)
            }.toMap
            val parentOf = commits.collect {
              case (sha, Some((_, ps, _))) if ps.nonEmpty => sha -> ps.head
            }
            val named = parentOf.values.toSet
            val heads = commits.keySet -- named
            val headOk = heads == Set(headSha)
            var depth = 0
            var cur = headSha
            var walking = commits.contains(cur)
            while (walking && depth <= 8) {
              depth += 1
              parentOf.get(cur) match {
                case Some(p) => cur = p
                case None    => walking = false
              }
            }
            val rootMsg = commits.get(cur).flatten.map(_._3).getOrElse("")
            (s"repo${id % 8}", id, depth.toLong, headOk,
              rootMsg == s"commit 0 of $id")
          }
          .toDF("repo", "doc_id", "depth", "head_ok", "root_ok")
          .groupBy($"repo")
          .agg(count(lit(1)).as("n_repos"),
            sum($"depth").as("total_depth"),
            count(when($"head_ok" && $"root_ok", 1)).as("n_clean"))
          .orderBy($"repo")
      },
      Some("""
        SELECT 'repo' || (doc_id % 8) AS repo,
               CAST(count(*) AS BIGINT) AS n_repos,
               CAST(sum(1 + doc_id % 4) AS BIGINT) AS total_depth,
               CAST(count(*) AS BIGINT) AS n_clean
        FROM documents
        GROUP BY 1
        ORDER BY repo""")),

    // git bundles — how repositories ship offline (git bundle create /
    // clone). v2 header + refs parse, the embedded pack decodes, and
    // every ref must resolve inside the pack (a ref to a missing
    // object rejects, like a thin pack).
    QueryDef(
      "q440_git_bundle_census",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val n = (1 + id % 3).toInt
            val (pack, headSha) = fixtureChainPack(id, text, n)
            val blob = encodeBundle(
              Seq((headSha, "refs/heads/main"),
                (headSha, s"refs/tags/v$id")), pack)
            GitPack.bundle(blob) match {
              case Some((pre, refs, objs)) =>
                (id, pre.length.toLong, refs.length.toLong,
                  refs.map(_._2).sorted.mkString(","),
                  objs.count(_.otype == "commit").toLong)
              case None => (id, -1L, -1L, "", -1L)
            }
          }
          .toDF("doc_id", "n_prereqs", "n_refs", "refs", "n_commits")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(0 AS BIGINT) AS n_prereqs,
               CAST(2 AS BIGINT) AS n_refs,
               'refs/heads/main,refs/tags/v' || doc_id AS refs,
               CAST(1 + doc_id % 3 AS BIGINT) AS n_commits
        FROM documents
        ORDER BY doc_id""")),

    // the round's two planes composed: bare repositories shipped as
    // .tar.xz shards. xz outer decode, tar member walk, pack+idx pair
    // cross-verified (crc32s + both trailers), object census with an
    // annotated tag on every third repo. Map-side end to end.
    QueryDef(
      "q431_bare_repo_shard_census",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val pack = fixturePack(id, text, withTag = id % 3 == 0)
            val idx = encodeIdx(pack).getOrElse(Array.emptyByteArray)
            val tar = Archive.encodeTar(Seq(
              Archive.TarEntry("repo.git/HEAD",
                "ref: refs/heads/main\n".getBytes("UTF-8"), 1L),
              Archive.TarEntry("repo.git/objects/pack/pack-1.pack", pack, 2L),
              Archive.TarEntry("repo.git/objects/pack/pack-1.idx", idx, 3L)))
            val shard = XzCodec.encodeXz(tar, checkType = 4,
              literal = id % 3 == 0)
            val walked = for {
              payload <- XzCodec.xzDecompress(shard)
              members = Archive.tarMembers(payload)
              pm <- members.find(_.name.endsWith(".pack"))
              im <- members.find(_.name.endsWith(".idx"))
              pb = java.util.Arrays.copyOfRange(payload,
                (pm.headerOffset + 512).toInt,
                (pm.headerOffset + 512 + pm.size).toInt)
              ib = java.util.Arrays.copyOfRange(payload,
                (im.headerOffset + 512).toInt,
                (im.headerOffset + 512 + im.size).toInt)
              objs <- GitPack.packObjects(pb)
            } yield (members.length.toLong, GitPack.verifyPair(pb, ib),
              objs.length.toLong, objs.count(_.otype == "tag").toLong,
              objs.map(_.deltaDepth).max.toLong)
            walked match {
              case Some((nm, ok, no, nt, md)) => (id, nm, ok, no, nt, md)
              case None => (id, -1L, false, -1L, -1L, -1L)
            }
          }
          .toDF("doc_id", "n_members", "pair_ok", "n_objects", "n_tags",
            "max_depth")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(3 AS BIGINT) AS n_members,
               TRUE AS pair_ok,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 6 ELSE 5 END AS BIGINT)
                 AS n_objects,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
                 AS n_tags,
               CAST(1 AS BIGINT) AS max_depth
        FROM documents
        ORDER BY doc_id""")))
}
