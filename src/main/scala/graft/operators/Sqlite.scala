package graft.operators

import graft.operators.Bytes.{putBe32, u16be, u32be}

/** SQLite database header sniff (public spec: sqlite.org file-format
  * documentation — the 100-byte header). SQLite files are a real
  * crawl/dataset population (app exports, open-data dumps, browser
  * profiles) and the header answers the triage questions without
  * touching a single page: how big is it really (page size × page
  * count, cross-checked against the byte length — a truncated dump
  * fails here), what text encoding do its strings use, and the
  * user/application ids that identify the producing app.
  */
object Sqlite {

  final case class SqliteMeta(pageSize: Int, nPages: Long,
      encoding: String, userVersion: Long, applicationId: Long,
      fileBytes: Long)

  private val Magic = "SQLite format 3".getBytes("US-ASCII") :+ 0.toByte

  def decodeSqlite(b: Array[Byte]): Option[SqliteMeta] =
    try {
      if (b == null || b.length < 100) return None
      var i = 0
      while (i < 16) { if (b(i) != Magic(i)) return None; i += 1 }
      val rawPage = u16be(b, 16)
      // value 1 encodes 65536; otherwise a power of two in 512..32768
      val pageSize =
        if (rawPage == 1) 65536
        else if (rawPage >= 512 && rawPage <= 32768 &&
          Integer.bitCount(rawPage) == 1) rawPage
        else return None
      val nPages = u32be(b, 28)
      if (nPages < 1) return None
      // declared extent must equal the actual bytes — a truncated or
      // padded dump is not a healthy database
      if (pageSize.toLong * nPages != b.length) return None
      val encoding = u32be(b, 56) match {
        case 1 => "utf8"
        case 2 => "utf16le"
        case 3 => "utf16be"
        case _ => return None
      }
      Some(SqliteMeta(pageSize, nPages, encoding, u32be(b, 60), u32be(b, 68),
        b.length.toLong))
    } catch { case _: Exception => None }

  /** Fixture emitter: a structurally valid header (real freelist/
    * schema fields zeroed) followed by zeroed pages to the declared
    * extent. */
  def encodeSqlite(pageSize: Int, nPages: Int, encoding: Int,
      userVersion: Long, applicationId: Long): Array[Byte] = {
    require(pageSize == 65536 || (pageSize >= 512 && pageSize <= 32768 &&
      Integer.bitCount(pageSize) == 1), s"bad page size $pageSize")
    require(nPages >= 1 && encoding >= 1 && encoding <= 3)
    require(pageSize.toLong * nPages <= Int.MaxValue,
      s"extent ${pageSize.toLong * nPages} exceeds a JVM array")
    val out = new Array[Byte](pageSize * nPages)
    Magic.copyToArray(out)
    val rawPage = if (pageSize == 65536) 1 else pageSize
    out(16) = ((rawPage >> 8) & 0xff).toByte; out(17) = (rawPage & 0xff).toByte
    out(18) = 1; out(19) = 1 // legacy write/read versions
    out(21) = 64; out(22) = 32; out(23) = 32 // payload fractions (spec)
    putBe32(out, 28, nPages.toLong)
    putBe32(out, 56, encoding.toLong)
    putBe32(out, 60, userVersion)
    putBe32(out, 68, applicationId)
    out
  }
}
