package graft.operators

import java.io.ByteArrayOutputStream

import graft.operators.Bytes.{i64le, le16, le32, u16le, u32le}

/** Pure-JVM audio header codec: parse (and, for fixtures, emit) the
  * metadata-bearing prefix of WAV (RIFF/WAVE) streams — the audio
  * sibling of [[ImageHeaders]], no codec libraries, no native deps.
  *
  * WAV layout (public spec, Microsoft/IBM RIFF): 'RIFF' + u32 LE riff
  * size + 'WAVE', then a chunk chain of (4-byte id, u32 LE size,
  * payload, odd sizes padded to even). The 'fmt ' chunk carries
  * format tag, channels (u16 LE), sample rate (u32 LE), byte rate,
  * block align, bits per sample; the 'data' chunk's size gives the
  * sample count. The walker must hop unknown chunks (LIST, cue, fact,
  * ...) by size — exactly the discipline the JPEG segment walk
  * exercises big-endian, here little-endian.
  *
  * A curation pipeline runs this on every audio blob: filter by sample
  * rate / channels / duration BEFORE paying for PCM decode on the
  * survivors. Decode failures return None — one corrupt blob must not
  * kill a corpus-scale pass.
  */
object AudioHeaders {

  /** Decoded WAV metadata. `nSamples` = data bytes / block align;
    * duration derives as nSamples / sampleRate at the caller. */
  final case class WavMeta(channels: Int, sampleRate: Int,
      bitsPerSample: Int, nSamples: Long)

  private def tag(b: Array[Byte], i: Int): String =
    new String(b, i, 4, "US-ASCII")

  def decodeWav(b: Array[Byte]): Option[WavMeta] = {
    if (b == null || b.length < 12) return None
    if (tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE") return None
    var off = 12
    var fmt: Option[(Int, Int, Int, Int)] = None // ch, rate, bits, block
    var dataBytes: Option[Long] = None
    while (off + 8 <= b.length && (fmt.isEmpty || dataBytes.isEmpty)) {
      val id = tag(b, off)
      val size = u32le(b, off + 4)
      if (size < 0) return None
      if (id == "fmt ") {
        if (size < 16 || off + 8 + 16 > b.length) return None
        val ch = u16le(b, off + 10)
        val rate = u32le(b, off + 12)
        val block = u16le(b, off + 20)
        val bits = u16le(b, off + 22)
        if (ch <= 0 || rate <= 0 || rate > Int.MaxValue || block <= 0)
          return None
        fmt = Some((ch, rate.toInt, bits, block))
      } else if (id == "data") {
        dataBytes = Some(size)
      }
      // chunk payloads pad to even length per RIFF; Long math — a
      // declared size near u32 max would overflow an Int offset into
      // negative territory (index crash, not a clean end-of-walk), and
      // a chunk DECLARING more bytes than the buffer carries (our
      // header-only data chunk, or a truncated stream) simply ends the
      // walk at the buffer edge
      val next = off.toLong + 8L + size + (size & 1L)
      off = if (next > b.length) b.length else next.toInt
    }
    for ((ch, rate, bits, block) <- fmt; db <- dataBytes)
      yield WavMeta(ch, rate, bits, db / block)
  }

  // ------------------------------------------------------------------
  // MP3 (MPEG-1/2/2.5 Layer III) frame-header walk
  // ------------------------------------------------------------------

  /** Decoded MP3 stream metadata from a full frame-header WALK (not
    * just the first header): `nFrames` counts every frame hopped by
    * its computed length, so VBR streams report true totals;
    * `bitrateKbps` is the FIRST frame's (the constant rate for CBR).
    * `nSamples` = nFrames × samples-per-frame — duration derives as
    * nSamples / sampleRate at the caller, the [[WavMeta]] discipline. */
  final case class Mp3Meta(version: String, bitrateKbps: Int,
      sampleRate: Int, channels: Int, nFrames: Long, nSamples: Long,
      layer: Int = 3)

  // public ISO/IEC 11172-3 / 13818-3 tables — all three layer columns
  // (round 12; Layer III only before)
  private val Mp3BitrateV1 =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
  private val Mp3BitrateV2 =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)
  private val Mp3BitrateV1L1 = Array(0, 32, 64, 96, 128, 160, 192, 224,
    256, 288, 320, 352, 384, 416, 448, 0)
  private val Mp3BitrateV1L2 = Array(0, 32, 48, 56, 64, 80, 96, 112,
    128, 160, 192, 224, 256, 320, 384, 0)
  private val Mp3BitrateV2L1 = Array(0, 32, 48, 56, 64, 80, 96, 112,
    128, 144, 160, 176, 192, 224, 256, 0)
  private val Mp3RateV1 = Array(44100, 48000, 32000, 0)

  private def mp3BitrateTable(isV1: Boolean, layer: Int): Array[Int] =
    (isV1, layer) match {
      case (true, 1) => Mp3BitrateV1L1
      case (true, 2) => Mp3BitrateV1L2
      case (true, _) => Mp3BitrateV1
      case (false, 1) => Mp3BitrateV2L1
      case (false, _) => Mp3BitrateV2 // V2/V2.5 share the L2/L3 column
    }

  /** Frame length in bytes: Layer I counts 4-byte slots
    * ((12·br/rate + pad)·4), Layers II/III count bytes
    * (spf/8 · br/rate + pad) with Layer III halving samples-per-frame
    * on MPEG-2/2.5. Integer math matches the spec's truncation. */
  private def mp3FrameLen(isV1: Boolean, layer: Int, kbps: Int,
      rate: Int, padding: Int): Long = layer match {
    case 1 => (12L * kbps * 1000L / rate + padding) * 4L
    case 2 => 144L * kbps * 1000L / rate + padding
    case _ => (if (isV1) 144L else 72L) * kbps * 1000L / rate + padding
  }

  /** Samples per frame: L1 384, L2 1152, L3 1152 (V1) / 576 (V2/2.5). */
  private def mp3Spf(isV1: Boolean, layer: Int): Long = layer match {
    case 1 => 384L
    case 2 => 1152L
    case _ => if (isV1) 1152L else 576L
  }

  /** MPEG audio sniff, ALL THREE LAYERS (round 12 — Layer III only
    * before): skip one leading ID3v2 tag (syncsafe size), then walk
    * the frame chain — 11-bit sync, version/layer bits, per-layer
    * bitrate + sample-rate table lookups, per-layer frame length
    * ([[mp3FrameLen]]: Layer I counts 4-byte slots). STRICT and
    * total: free-format (index 0) or reserved table entries, a
    * mid-buffer sync loss, a mid-stream rate OR layer switch, or a
    * trailing partial frame all yield None — one corrupt blob must
    * not kill a corpus-scale pass, and a "successful" parse never
    * silently miscounts. */
  def decodeMp3(b: Array[Byte]): Option[Mp3Meta] = {
    if (b == null || b.length < 4) return None
    var off = 0L
    // one optional ID3v2 prefix: 'ID3' + ver(2) + flags(1) + syncsafe u28
    if (b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      if (b.length < 10) return None
      var size = 0L
      var i = 6
      while (i < 10) {
        if ((b(i) & 0x80) != 0) return None // syncsafe bytes are 7-bit
        size = (size << 7) | (b(i) & 0x7f)
        i += 1
      }
      off = 10L + size
    }
    var first: Option[Mp3Meta] = None
    var nFrames = 0L
    while (off + 4 <= b.length) {
      val o = off.toInt
      // the ubiquitous ID3v1 trailer: exactly 128 'TAG'-led bytes at
      // the end of the stream — most encoders have written one for
      // decades, so rejecting it would mark the majority of real MP3s
      // undecodable. Accept it as clean end-of-stream (the leading
      // ID3v2 sibling of this hop).
      if (b.length - off == 128 && b(o) == 'T' && b(o + 1) == 'A' &&
        b(o + 2) == 'G') {
        off = b.length
      } else {
      if ((b(o) & 0xff) != 0xff || (b(o + 1) & 0xe0) != 0xe0) return None
      val verBits = (b(o + 1) >> 3) & 0x3 // 0=V2.5, 2=V2, 3=V1
      val layerBits = (b(o + 1) >> 1) & 0x3 // 3=L1, 2=L2, 1=L3
      if (verBits == 1 || layerBits == 0) return None
      val layer = 4 - layerBits
      val brIdx = (b(o + 2) >> 4) & 0xf
      val rateIdx = (b(o + 2) >> 2) & 0x3
      val padding = (b(o + 2) >> 1) & 0x1
      if (brIdx == 0 || brIdx == 15 || rateIdx == 3) return None
      val isV1 = verBits == 3
      val kbps = mp3BitrateTable(isV1, layer)(brIdx)
      val rate = Mp3RateV1(rateIdx) / (verBits match {
        case 3 => 1; case 2 => 2; case _ => 4 // V2 halves, V2.5 quarters
      })
      val channels = if (((b(o + 3) >> 6) & 0x3) == 3) 1 else 2
      if (first.isEmpty) {
        val ver = verBits match {
          case 3 => "mpeg1"; case 2 => "mpeg2"; case _ => "mpeg2.5"
        }
        first = Some(Mp3Meta(ver, kbps, rate, channels, 0L, 0L, layer))
      } else if (first.exists(m =>
          m.sampleRate != rate || m.layer != layer)) {
        return None // rate/layer switch mid-stream: not one coherent file
      }
      nFrames += 1
      off += mp3FrameLen(isV1, layer, kbps, rate, padding)
      }
    }
    if (off != b.length) return None // trailing partial frame
    first.filter(_ => nFrames > 0).map { m =>
      val spf = mp3Spf(m.version == "mpeg1", m.layer)
      m.copy(nFrames = nFrames, nSamples = nFrames * spf)
    }
  }

  /** Fixture emitter: `nFrames` byte-valid CBR MPEG-1 Layer III frames
    * (sync, version/layer bits, table indexes, zero payload to the
    * exact computed frame length), prefixed by an ID3v2 tag carrying
    * `note` (syncsafe size — the variable-length hop the walk must
    * take). Stream length = 10 + |note| + nFrames·(144·kbps·1000/rate)
    * — the formula the oracle replays. */
  def encodeMp3(bitrateKbps: Int, sampleRate: Int, nFrames: Int,
      channels: Int, note: Array[Byte], layer: Int = 3): Array[Byte] = {
    require(layer >= 1 && layer <= 3, "layer 1..3")
    val brIdx = mp3BitrateTable(isV1 = true, layer).indexOf(bitrateKbps)
    val rateIdx = Mp3RateV1.indexOf(sampleRate)
    require(brIdx >= 1 && brIdx <= 14,
      s"not a V1 L$layer bitrate: $bitrateKbps")
    require(rateIdx >= 0 && rateIdx <= 2, s"not a V1 rate: $sampleRate")
    require(nFrames >= 1 && note.length < (1 << 28), "need >=1 frame")
    val frameLen = mp3FrameLen(isV1 = true, layer, bitrateKbps,
      sampleRate, padding = 0).toInt
    val out = new ByteArrayOutputStream(10 + note.length +
      nFrames * frameLen)
    out.write('I'); out.write('D'); out.write('3')
    out.write(4); out.write(0); out.write(0) // v2.4, no flags
    var i = 21
    while (i >= 0) { out.write((note.length >> i) & 0x7f); i -= 7 }
    out.write(note, 0, note.length)
    val hdr = Array[Byte](0xff.toByte,
      (0xe0 | (3 << 3) | ((4 - layer) << 1) | 1).toByte, // V1, no CRC
      (((brIdx << 4) | (rateIdx << 2)) & 0xff).toByte, // padding 0
      (if (channels == 1) 0xc0 else 0x00).toByte)
    var f = 0
    while (f < nFrames) {
      out.write(hdr, 0, 4)
      out.write(new Array[Byte](frameLen - 4), 0, frameLen - 4)
      f += 1
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // FLAC STREAMINFO
  // ------------------------------------------------------------------

  /** Decoded FLAC STREAMINFO fields (public spec, RFC 9639). */
  final case class FlacMeta(sampleRate: Int, channels: Int,
      bitsPerSample: Int, totalSamples: Long)

  /** FLAC sniff: 'fLaC' magic, then the METADATA_BLOCK chain — 1-byte
    * header (last-block flag bit 7, type bits 0–6) + u24 BE length.
    * STREAMINFO (type 0, 34 bytes) MUST be first per spec; its packed
    * big-endian tail carries sample rate (20 bits), channels−1 (3),
    * bits-per-sample−1 (5), total samples (36). Later blocks (vorbis
    * comment, padding, ...) are irrelevant to the sniff and left
    * unwalked — the pipeline filter needs only STREAMINFO. */
  def decodeFlac(b: Array[Byte]): Option[FlacMeta] = {
    if (b == null || b.length < 8) return None
    if (b(0) != 'f' || b(1) != 'L' || b(2) != 'a' || b(3) != 'C') return None
    if ((b(4) & 0x7f) != 0) return None // first block must be STREAMINFO
    val len = Bytes.u24be(b, 5)
    if (len < 34 || 8 + 34 > b.length) return None
    val p = 8 // STREAMINFO payload; packed fields start at byte 10
    def u(i: Int): Int = b(p + i) & 0xff
    val rate = (u(10) << 12) | (u(11) << 4) | (u(12) >> 4)
    val channels = ((u(12) >> 1) & 0x7) + 1
    val bps = (((u(12) & 1) << 4) | (u(13) >> 4)) + 1
    val total = ((u(13) & 0xf).toLong << 32) | (u(14).toLong << 24) |
      (u(15) << 16) | (u(16) << 8) | u(17)
    if (rate == 0) return None // 0 is invalid per spec
    Some(FlacMeta(rate, channels, bps, total))
  }

  /** Fixture emitter: 'fLaC' + STREAMINFO (34 bytes, packed fields
    * real) + a VORBIS_COMMENT block carrying `note` as the last block.
    * Stream length = 4 + 38 + 4 + |note| = 46 + |note| — the formula
    * the oracle replays. */
  def encodeFlac(sampleRate: Int, channels: Int, bitsPerSample: Int,
      totalSamples: Long, note: Array[Byte]): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20), "rate is 20 bits")
    require(channels >= 1 && channels <= 8, "channels-1 is 3 bits")
    require(bitsPerSample >= 4 && bitsPerSample <= 32, "bps-1 is 5 bits")
    require(totalSamples >= 0 && totalSamples < (1L << 36),
      "total samples is 36 bits")
    require(note.length < (1 << 24), "block length is u24")
    val out = new ByteArrayOutputStream(46 + note.length)
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    out.write(0x00) // STREAMINFO, not last
    out.write(0); out.write(0); out.write(34)
    val si = new Array[Byte](34)
    // min/max blocksize: legal dummy 4096; min/max framesize 0 (unknown)
    si(0) = 0x10; si(1) = 0x00; si(2) = 0x10; si(3) = 0x00
    si(10) = ((sampleRate >> 12) & 0xff).toByte
    si(11) = ((sampleRate >> 4) & 0xff).toByte
    si(12) = (((sampleRate & 0xf) << 4) | ((channels - 1) << 1) |
      ((bitsPerSample - 1) >> 4)).toByte
    si(13) = ((((bitsPerSample - 1) & 0xf) << 4) |
      ((totalSamples >> 32) & 0xf).toInt).toByte
    si(14) = ((totalSamples >> 24) & 0xff).toByte
    si(15) = ((totalSamples >> 16) & 0xff).toByte
    si(16) = ((totalSamples >> 8) & 0xff).toByte
    si(17) = (totalSamples & 0xff).toByte
    out.write(si, 0, 34)
    out.write(0x84) // VORBIS_COMMENT (type 4), last block
    out.write((note.length >> 16) & 0xff)
    out.write((note.length >> 8) & 0xff)
    out.write(note.length & 0xff)
    out.write(note, 0, note.length)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Ogg container (Opus / Vorbis identification headers)
  // ------------------------------------------------------------------

  /** Decoded Ogg stream metadata (public specs: RFC 3533 container,
    * RFC 7845 Opus, Vorbis I). `nSamples` is the playable per-channel
    * sample count: last granule minus pre-skip for Opus (granules run
    * at a FIXED 48 kHz for Opus regardless of `sampleRate`, which
    * reports the original input rate), last granule for Vorbis (whose
    * granules run at `sampleRate`). */
  final case class OggMeta(codec: String, channels: Int, sampleRate: Int,
      preSkip: Int, nPages: Long, nSamples: Long)

  /** Ogg page CRC: CRC-32 poly 0x04c11db7, init 0, NO reflection, NO
    * final xor (RFC 3533 appendix A) — deliberately not java.util.zip's
    * reflected CRC-32. Computed over the whole page with the CRC field
    * zeroed. */
  private def oggCrc(b: Array[Byte], off: Int, len: Int,
      crcFieldOff: Int): Int = {
    var crc = 0
    var i = 0
    while (i < len) {
      val raw = b(off + i) & 0xff
      val byte = if (i >= crcFieldOff && i < crcFieldOff + 4) 0 else raw
      crc ^= byte << 24
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80000000) != 0) (crc << 1) ^ 0x04c11db7
        else crc << 1
        k += 1
      }
      i += 1
    }
    crc
  }

  /** Ogg sniff: STRICT full page walk — 'OggS' capture pattern, stream
    * version 0, lacing-table payload sizes, page CRC VERIFIED per page
    * (the container's own integrity check — a flipped payload bit
    * yields None, not a wrong answer), one logical stream (constant
    * serial, sequence numbers 0..n−1, BOS flag on the first page, EOS
    * on the last), walk ending exactly at the buffer edge. The first
    * page's payload must be an OpusHead (RFC 7845 §5.1) or Vorbis
    * identification header (Vorbis I §4.2.2); the last page's granule
    * position gives the sample count. Opus granules tick at 48 kHz and
    * include pre-skip; Vorbis granules tick at the declared rate. */
  def decodeOgg(b: Array[Byte]): Option[OggMeta] = {
    if (b == null || b.length < 28) return None
    var off = 0L
    var seq = 0L
    var serial = 0L
    var lastGranule = 0L
    var firstPayload: Array[Byte] = null
    var sawEos = false
    while (off + 27 <= b.length) {
      if (sawEos) return None // pages after the end-of-stream page
      val o = off.toInt
      if (b(o) != 'O' || b(o + 1) != 'g' || b(o + 2) != 'g' ||
        b(o + 3) != 'S') return None
      if (b(o + 4) != 0) return None // stream structure version
      val hdrType = b(o + 5) & 0xff
      val granule = i64le(b, o + 6)
      val pageSerial = u32le(b, o + 14)
      val pageSeq = u32le(b, o + 18)
      val crc = u32le(b, o + 22)
      val nSegs = b(o + 26) & 0xff
      if (off + 27 + nSegs > b.length) return None
      var payloadLen = 0
      var i = 0
      while (i < nSegs) { payloadLen += b(o + 27 + i) & 0xff; i += 1 }
      val pageLen = 27 + nSegs + payloadLen
      if (off + pageLen > b.length) return None
      if (oggCrc(b, o, pageLen, 22) != crc.toInt) return None
      if (pageSeq != seq) return None // lost page
      if (seq == 0L) {
        if ((hdrType & 0x02) == 0) return None // first page must be BOS
        serial = pageSerial
        firstPayload = java.util.Arrays.copyOfRange(b, o + 27 + nSegs,
          o + pageLen)
      } else if (pageSerial != serial) return None // multiplexed stream
      if ((hdrType & 0x04) != 0) sawEos = true
      if (granule != -1L) lastGranule = granule
      seq += 1
      off += pageLen
    }
    if (off != b.length || seq == 0L || !sawEos) return None
    val p = firstPayload
    def u8(i: Int) = p(i) & 0xff
    if (p.length >= 19 && new String(p, 0, 8, "US-ASCII") == "OpusHead") {
      if (u8(8) != 1) return None // OpusHead version
      val ch = u8(9)
      val preSkip = u16le(p, 10)
      val inRate = u32le(p, 12)
      val samples = lastGranule - preSkip
      if (ch <= 0 || inRate <= 0 || inRate > Int.MaxValue || samples < 0)
        return None
      Some(OggMeta("opus", ch, inRate.toInt, preSkip, seq, samples))
    } else if (p.length >= 30 && p(0) == 1 &&
      new String(p, 1, 6, "US-ASCII") == "vorbis") {
      if (u32le(p, 7) != 0L) return None // vorbis version must be 0
      val ch = u8(11)
      val rate = u32le(p, 12)
      if (ch <= 0 || rate <= 0 || rate > Int.MaxValue || lastGranule < 0)
        return None
      Some(OggMeta("vorbis", ch, rate.toInt, 0, seq, lastGranule))
    } else None
  }

  private def writeOggPage(out: ByteArrayOutputStream, hdrType: Int,
      granule: Long, serial: Long, seq: Long,
      payload: Array[Byte]): Unit = {
    val nFull = payload.length / 255
    val nSegs = nFull + 1 // final lacing value = len % 255 (may be 0)
    require(nSegs <= 255, s"payload ${payload.length} needs >255 segments")
    val page = new Array[Byte](27 + nSegs + payload.length)
    page(0) = 'O'; page(1) = 'g'; page(2) = 'g'; page(3) = 'S'
    page(4) = 0
    page(5) = hdrType.toByte
    var g = granule; var i = 0
    while (i < 8) { page(6 + i) = (g & 0xff).toByte; g >>= 8; i += 1 }
    var s = serial; i = 0
    while (i < 4) { page(14 + i) = (s & 0xff).toByte; s >>= 8; i += 1 }
    var q = seq; i = 0
    while (i < 4) { page(18 + i) = (q & 0xff).toByte; q >>= 8; i += 1 }
    page(26) = nSegs.toByte
    i = 0
    while (i < nFull) { page(27 + i) = 0xff.toByte; i += 1 }
    page(27 + nFull) = (payload.length % 255).toByte
    System.arraycopy(payload, 0, page, 27 + nSegs, payload.length)
    val crc = oggCrc(page, 0, page.length, 22)
    i = 0
    while (i < 4) { page(22 + i) = ((crc >> (8 * i)) & 0xff).toByte; i += 1 }
    out.write(page, 0, page.length)
  }

  private def encodeOggStream(idPayload: Array[Byte], nDataPages: Int,
      granulesPerPage: Long, granuleBase: Long,
      note: Array[Byte]): Array[Byte] = {
    require(nDataPages >= 1, "need >=1 data page")
    require(note.length <= 254 * 255, "note exceeds one page's lacing")
    val out = new ByteArrayOutputStream(256 + note.length + nDataPages * 29)
    val serial = 0x47524654L // arbitrary but fixed
    writeOggPage(out, 0x02, 0L, serial, 0L, idPayload) // BOS
    writeOggPage(out, 0x00, 0L, serial, 1L, note) // comment page
    var i = 0
    while (i < nDataPages) {
      val eos = if (i == nDataPages - 1) 0x04 else 0x00
      writeOggPage(out, eos, granuleBase + granulesPerPage * (i + 1),
        serial, 2L + i, Array[Byte](0))
      i += 1
    }
    out.toByteArray
  }

  /** Fixture emitter: BOS page with a byte-valid OpusHead, a comment
    * page carrying `note`, then `nDataPages` one-byte data pages with
    * granules stepping `granulesPerPage` from the pre-skip base, EOS
    * on the last. Real page CRCs. Stream length = 47 + (28 +
    * |note|/255 + |note|) + 29·nDataPages — the formula the oracle
    * replays. */
  def encodeOggOpus(channels: Int, preSkip: Int, inputRate: Int,
      nDataPages: Int, granulesPerPage: Long,
      note: Array[Byte]): Array[Byte] = {
    require(channels >= 1 && channels <= 255 && preSkip >= 0 &&
      preSkip <= 0xffff && inputRate > 0, "invalid OpusHead fields")
    val p = new Array[Byte](19)
    "OpusHead".getBytes("US-ASCII").copyToArray(p)
    p(8) = 1 // version
    p(9) = channels.toByte
    p(10) = (preSkip & 0xff).toByte; p(11) = ((preSkip >> 8) & 0xff).toByte
    var r = inputRate.toLong; var i = 0
    while (i < 4) { p(12 + i) = (r & 0xff).toByte; r >>= 8; i += 1 }
    // output gain 0, mapping family 0 already zeroed
    encodeOggStream(p, nDataPages, granulesPerPage, preSkip.toLong, note)
  }

  /** Fixture emitter, Vorbis flavor: BOS page with a byte-valid
    * Vorbis I identification header (30 bytes), then the same comment
    * + data page chain as [[encodeOggOpus]]. Stream length = 58 +
    * (28 + |note|/255 + |note|) + 29·nDataPages. */
  def encodeOggVorbis(channels: Int, sampleRate: Int, nDataPages: Int,
      granulesPerPage: Long, note: Array[Byte]): Array[Byte] = {
    require(channels >= 1 && channels <= 255 && sampleRate > 0,
      "invalid vorbis id fields")
    val p = new Array[Byte](30)
    p(0) = 1
    "vorbis".getBytes("US-ASCII").copyToArray(p, 1)
    // version u32 = 0 already zeroed
    p(11) = channels.toByte
    var r = sampleRate.toLong; var i = 0
    while (i < 4) { p(12 + i) = (r & 0xff).toByte; r >>= 8; i += 1 }
    // bitrate max/nominal/min 0; blocksizes: legal 256/2048 exponents
    p(28) = ((11 << 4) | 8).toByte
    p(29) = 1 // framing bit
    encodeOggStream(p, nDataPages, granulesPerPage, 0L, note)
  }

  // ------------------------------------------------------------------
  // Vorbis comments — the tag vocabulary of the whole Xiph family
  // (Vorbis I §5, RFC 7845 §5.2 OpusTags, RFC 9639 FLAC block type 4).
  // The audio-curation metadata sibling of ID3: artist/title/album out
  // of FLAC and Ogg streams, no sample decode needed.
  // ------------------------------------------------------------------

  /** Parsed Vorbis-comment metadata. `fields` maps UPPERCASED keys to
    * their FIRST value (the spec allows repeats; curation wants one);
    * `nComments` counts every user comment including repeats. */
  final case class AudioTags(container: String, vendor: String,
      nComments: Int, fields: Map[String, String])

  /** Comment body parse (shared by all three containers — the payload
    * layout is identical, little-endian, per Vorbis I §5): u32 vendor
    * length + UTF-8 vendor, u32 comment count, then per comment u32
    * length + "KEY=value" UTF-8. Keys are case-insensitive per spec →
    * uppercased here; a comment without '=' is skipped (not fatal —
    * real taggers emit them). Declared lengths are bounds-checked as
    * Long against hostile streams. Returns (vendor, count, fields). */
  private def parseVorbisBody(b: Array[Byte], off0: Int,
      end: Int): Option[(String, Int, Map[String, String])] = {
    var off = off0.toLong
    if (off + 4 > end) return None
    val vendorLen = u32le(b, off.toInt)
    if (off + 4 + vendorLen > end) return None
    val vendor = new String(b, (off + 4).toInt, vendorLen.toInt, "UTF-8")
    off += 4 + vendorLen
    if (off + 4 > end) return None
    val n = u32le(b, off.toInt)
    if (n > Int.MaxValue) return None
    off += 4
    var fields = Map.empty[String, String]
    var i = 0L
    while (i < n) {
      if (off + 4 > end) return None
      val len = u32le(b, off.toInt)
      if (off + 4 + len > end) return None
      val c = new String(b, (off + 4).toInt, len.toInt, "UTF-8")
      val eq = c.indexOf('=')
      if (eq > 0) {
        val key = c.substring(0, eq).toUpperCase(java.util.Locale.ROOT)
        if (!fields.contains(key)) fields += key -> c.substring(eq + 1)
      }
      off += 4 + len
      i += 1
    }
    Some((vendor, n.toInt, fields))
  }

  /** Fixture emitter for the comment body (the exact bytes FLAC's
    * VORBIS_COMMENT block carries; Ogg packets wrap it — see
    * [[opusTagsPacket]] / [[vorbisCommentPacket]]). */
  def vorbisCommentBody(vendor: String,
      comments: Seq[(String, String)]): Array[Byte] = {
    val out = new ByteArrayOutputStream(64)
    val vb = vendor.getBytes("UTF-8")
    le32(out, vb.length.toLong); out.write(vb, 0, vb.length)
    le32(out, comments.length.toLong)
    comments.foreach { case (k, v) =>
      val cb = s"$k=$v".getBytes("UTF-8")
      le32(out, cb.length.toLong); out.write(cb, 0, cb.length)
    }
    out.toByteArray
  }

  /** RFC 7845 §5.2: the Ogg Opus comment packet is "OpusTags" + body
    * (no framing bit) — feed to [[encodeOggOpus]] as the `note`. */
  def opusTagsPacket(vendor: String,
      comments: Seq[(String, String)]): Array[Byte] =
    "OpusTags".getBytes("US-ASCII") ++ vorbisCommentBody(vendor, comments)

  /** Vorbis I §4.2.3: packet type 3 + "vorbis" + body + framing bit
    * (a byte whose LSB must be 1) — feed to [[encodeOggVorbis]]. */
  def vorbisCommentPacket(vendor: String,
      comments: Seq[(String, String)]): Array[Byte] =
    Array[Byte](3) ++ "vorbis".getBytes("US-ASCII") ++
      vorbisCommentBody(vendor, comments) :+ 1.toByte

  /** One Ogg page's (payload, next-page offset); None on a malformed
    * header, a payload past the buffer, or a packet that CONTINUES
    * into the next page (final lacing 255) — the tag parse handles
    * single-page comment packets, the overwhelmingly common shape. */
  private def oggPagePayload(b: Array[Byte],
      off: Int): Option[(Array[Byte], Int)] = {
    if (off + 27 > b.length) return None
    if (b(off) != 'O' || b(off + 1) != 'g' || b(off + 2) != 'g' ||
      b(off + 3) != 'S' || b(off + 4) != 0) return None
    val nSegs = b(off + 26) & 0xff
    if (off + 27 + nSegs > b.length) return None
    var plen = 0
    var i = 0
    while (i < nSegs) { plen += b(off + 27 + i) & 0xff; i += 1 }
    if (nSegs > 0 && (b(off + 27 + nSegs - 1) & 0xff) == 255) return None
    val start = off + 27 + nSegs
    if (start + plen > b.length) return None
    Some((java.util.Arrays.copyOfRange(b, start, start + plen),
      start + plen))
  }

  /** Tag extraction across the Xiph family, dispatched on container
    * magic: FLAC walks the METADATA_BLOCK chain to type 4 (body raw);
    * Ogg reads the BOS page to learn the codec, then the second page,
    * whose payload must be an OpusTags or type-3 Vorbis comment
    * packet. Streams without a comment block/packet (or with any
    * structural damage) yield None — a curation pass must distinguish
    * "untagged" from a fabricated empty tag set. */
  def decodeAudioTags(b: Array[Byte]): Option[AudioTags] = {
    if (b == null || b.length < 8) return None
    if (b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C') {
      // block chain: 1-byte last<<7|type + u24 BE length
      var off = 4L
      var last = false
      while (!last && off + 4 <= b.length) {
        val hdr = b(off.toInt) & 0xff
        last = (hdr & 0x80) != 0
        val typ = hdr & 0x7f
        val len = Bytes.u24be(b, off.toInt + 1)
        if (off + 4 + len > b.length) return None
        if (typ == 4)
          return parseVorbisBody(b, off.toInt + 4, (off + 4 + len).toInt)
            .map { case (v, n, f) => AudioTags("flac", v, n, f) }
        off += 4 + len
      }
      None
    } else if (b(0) == 'O' && b(1) == 'g' && b(2) == 'g' && b(3) == 'S') {
      val (first, next) = oggPagePayload(b, 0).getOrElse(return None)
      val codec =
        if (first.length >= 19 &&
          new String(first, 0, 8, "US-ASCII") == "OpusHead") "opus"
        else if (first.length >= 30 && first(0) == 1 &&
          new String(first, 1, 6, "US-ASCII") == "vorbis") "vorbis"
        else return None
      val (second, _) = oggPagePayload(b, next).getOrElse(return None)
      if (codec == "opus") {
        if (second.length < 8 ||
          new String(second, 0, 8, "US-ASCII") != "OpusTags") return None
        parseVorbisBody(second, 8, second.length)
          .map { case (v, n, f) => AudioTags("opus", v, n, f) }
      } else {
        if (second.length < 8 || second(0) != 3 ||
          new String(second, 1, 6, "US-ASCII") != "vorbis") return None
        // framing byte (LSB must be 1) trails the body
        if ((second(second.length - 1) & 1) != 1) return None
        parseVorbisBody(second, 7, second.length - 1)
          .map { case (v, n, f) => AudioTags("vorbis", v, n, f) }
      }
    } else None
  }

  /** Minimal structurally-valid WAV header stream: RIFF/WAVE, a LIST
    * chunk carrying `note` (variable length — the walker must hop it),
    * fmt (PCM), and a data chunk DECLARING `nSamples` frames without
    * carrying them (header-only, which is all the decoder reads —
    * byte-count formulas stay exact for the oracle). */
  def encodeWav(channels: Int, sampleRate: Int, bitsPerSample: Int,
      nSamples: Long, note: Array[Byte]): Array[Byte] = {
    val block = channels * (bitsPerSample / 8)
    // u32 size fields: a declared data size past u32 max would silently
    // truncate and corrupt the decode — fail loudly at encode time
    require(block > 0, s"need positive block align, got $block")
    require(nSamples >= 0 && nSamples * block <= 0xffffffffL,
      s"data chunk size ${nSamples * block} exceeds u32")
    val out = new ByteArrayOutputStream(note.length + 64)
    def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"), 0, 4)
    // a LIST payload starts with a mandatory 4-byte list-type ('INFO');
    // omitting it is nonstandard RIFF that third-party tools reject even
    // though a hop-by-size walker tolerates it. Payload = type + note.
    val listPayload = 4 + note.length
    val noteChunk = 8 + listPayload + (listPayload & 1)
    val riffSize = 4 + noteChunk + (8 + 16) + 8 // WAVE + LIST + fmt + data hdr
    ascii("RIFF"); le32(out, riffSize); ascii("WAVE")
    ascii("LIST"); le32(out, listPayload)
    ascii("INFO")
    out.write(note, 0, note.length)
    if ((listPayload & 1) == 1) out.write(0) // RIFF even padding
    ascii("fmt "); le32(out, 16)
    le16(out, 1) // PCM
    le16(out, channels)
    le32(out, sampleRate)
    le32(out, sampleRate.toLong * block) // byte rate
    le16(out, block)
    le16(out, bitsPerSample)
    ascii("data"); le32(out, nSamples * block) // declared, not carried
    out.toByteArray
  }
}
