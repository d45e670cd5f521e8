package graft.operators

import java.io.ByteArrayOutputStream

import graft.operators.Bytes.{be16, putBe32, u16be, u32be}

/** ICC profile extraction from JPEG APP2 (public specs: ICC.1 /
  * ISO 15076-1 profile format; the APP2 embedding convention from the
  * ICC spec annex). Color management is a real curation signal — a
  * CMYK or wide-gamut profile changes what "the same pixels" mean —
  * and the embedding is the one genuinely fiddly marker-segment shape
  * in JPEG: profiles larger than a segment SPAN multiple APP2s, each
  * tagged "ICC_PROFILE\0" + (1-based sequence number, total count),
  * and must be reassembled in sequence order regardless of the order
  * the segments appear in the stream.
  *
  * Parsed out of the assembled profile: the 128-byte header's device
  * class / data color space / PCS 4ccs, the rendering intent, the
  * declared profile size (cross-checked against the assembled
  * length), and the tag table count. Missing segments, duplicate
  * sequence numbers, or a size mismatch → None.
  */
object Icc {

  final case class IccProfile(deviceClass: String, colorSpace: String,
      pcs: String, renderingIntent: Int, profileSize: Long, nTags: Int,
      nSegments: Int)

  /** Walk the JPEG marker chain collecting ICC APP2 parts, then
    * assemble and parse. The walk tolerates fill bytes and standalone
    * markers (the [[ImageHeaders]] discipline) and stops at SOS/EOI. */
  def decodeJpegIcc(b: Array[Byte]): Option[IccProfile] =
    try {
      if (b == null || b.length < 4 ||
        (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
      var parts = Map.empty[Int, Array[Byte]]
      var declared = -1
      var off = 2
      var scanning = true
      while (scanning && off + 2 <= b.length) {
        if ((b(off) & 0xff) != 0xff) return None
        var mOff = off + 1
        while (mOff < b.length && (b(mOff) & 0xff) == 0xff) mOff += 1
        if (mOff >= b.length) return None
        val marker = b(mOff) & 0xff
        if (marker == 0xd9 || marker == 0xda) scanning = false
        else if ((marker >= 0xd0 && marker <= 0xd7) || marker == 0x01)
          off = mOff + 1
        else {
          if (mOff + 3 > b.length) return None
          val len = u16be(b, mOff + 1)
          if (len < 2 || mOff + 1 + len > b.length) return None
          val p = mOff + 3
          if (marker == 0xe2 && len >= 2 + 14 &&
            new String(b, p, 11, "US-ASCII") == "ICC_PROFILE" &&
            b(p + 11) == 0) {
            val seq = b(p + 12) & 0xff
            val cnt = b(p + 13) & 0xff
            if (seq < 1 || cnt < 1 || seq > cnt) return None
            if (declared < 0) declared = cnt
            else if (declared != cnt) return None // inconsistent counts
            if (parts.contains(seq)) return None // duplicate chunk
            parts += seq -> java.util.Arrays.copyOfRange(b, p + 14,
              mOff + 1 + len)
          }
          off = mOff + 1 + len
        }
      }
      if (declared < 0 || parts.size != declared) return None
      val profile = new ByteArrayOutputStream(parts.values.map(_.length).sum)
      var s = 1
      while (s <= declared) { profile.write(parts(s)); s += 1 }
      val prof = profile.toByteArray
      if (prof.length < 132) return None
      val size = u32be(prof, 0)
      if (size != prof.length) return None // declared vs assembled
      val deviceClass = new String(prof, 12, 4, "US-ASCII")
      val colorSpace = new String(prof, 16, 4, "US-ASCII")
      val pcs = new String(prof, 20, 4, "US-ASCII")
      if (new String(prof, 36, 4, "US-ASCII") != "acsp") return None
      val intent = u32be(prof, 64)
      if (intent > 3) return None // perceptual..absolute colorimetric
      val nTags = u32be(prof, 128)
      if (nTags < 0 || 132 + nTags * 12 > prof.length) return None
      Some(IccProfile(deviceClass, colorSpace, pcs, intent.toInt, size,
        nTags.toInt, declared))
    } catch { case _: Exception => None }

  /** Minimal structurally-valid profile: 128-byte header ('acsp'
    * signature, sizes real) + tag table with `nTags` entries all
    * pointing at one shared 12-byte payload. */
  def encodeProfile(deviceClass: String, colorSpace: String, pcs: String,
      intent: Int, nTags: Int): Array[Byte] = {
    require(deviceClass.length == 4 && colorSpace.length == 4 &&
      pcs.length == 4, "4cc fields")
    require(intent >= 0 && intent <= 3 && nTags >= 1 && nTags <= 64)
    val size = 132 + nTags * 12 + 12
    val out = new Array[Byte](size)
    def cc(i: Int, s: String): Unit =
      s.getBytes("US-ASCII").copyToArray(out, i)
    putBe32(out, 0, size.toLong)
    putBe32(out, 8, 0x04300000L) // profile version 4.3
    cc(12, deviceClass); cc(16, colorSpace); cc(20, pcs)
    cc(36, "acsp")
    putBe32(out, 64, intent.toLong)
    putBe32(out, 128, nTags.toLong)
    var t = 0
    while (t < nTags) {
      cc(132 + t * 12, f"tg$t%02d") // unique tag signature
      putBe32(out, 132 + t * 12 + 4, (132 + nTags * 12).toLong)
      putBe32(out, 132 + t * 12 + 8, 12L)
      t += 1
    }
    cc(132 + nTags * 12, "text")
    out
  }

  /** Wrap a profile into a JPEG with the ICC split across `nSegments`
    * APP2 parts — emitted in REVERSE sequence order so the assembler's
    * by-sequence reordering is exercised, with a COM decoy between
    * them. The stream also decodes via [[ImageHeaders.decodeJpeg]]. */
  def encodeJpegWithIcc(width: Int, height: Int, profile: Array[Byte],
      nSegments: Int): Array[Byte] = {
    require(nSegments >= 1 && nSegments <= 255)
    require(profile.length >= nSegments, "more segments than bytes")
    val out = new ByteArrayOutputStream(profile.length + 128)
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8)
    val per = (profile.length + nSegments - 1) / nSegments
    var seq = nSegments
    while (seq >= 1) { // reverse order on purpose
      val from = (seq - 1) * per
      val until = math.min(profile.length, seq * per)
      marker(0xe2)
      be16(out, 2 + 14 + (until - from))
      out.write("ICC_PROFILE".getBytes("US-ASCII"), 0, 11)
      out.write(0); out.write(seq); out.write(nSegments)
      out.write(profile, from, until - from)
      if (seq > 1) { // COM decoy between parts
        marker(0xfe); be16(out, 2 + 5)
        out.write("decoy".getBytes("US-ASCII"), 0, 5)
      }
      seq -= 1
    }
    marker(0xc0)
    be16(out, 8 + 3 * 3)
    out.write(8); be16(out, height); be16(out, width); out.write(3)
    var c = 1
    while (c <= 3) { out.write(c); out.write(0x11); out.write(0); c += 1 }
    marker(0xd9)
    out.toByteArray
  }
}
