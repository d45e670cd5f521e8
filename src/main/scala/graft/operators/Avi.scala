package graft.operators

import java.io.ByteArrayOutputStream

import graft.engine.Tables
import graft.operators.Bytes.{i32le, le32}

/** AVI container walk — the RIFF-based video container that completes
  * the trio with MP4 (q241) and WebM (q344); legacy crawls and
  * screen-capture corpora still carry it.
  *
  * Structure: RIFF('AVI ') → LIST('hdrl') with the 'avih' main header
  * (frame timing, canvas dims, stream count) and one LIST('strl') per
  * stream ('strh' typed 'vids'/'auds'), then LIST('movi') with the
  * actual frame chunks ('00dc' video / '01wb' audio), then the 'idx1'
  * index (16 bytes per entry). The walk is the same even-padded LE
  * chunk discipline as WAV (RIFF is RIFF), but nested LISTs make the
  * hop recursive: unknown chunks are skipped by size, the recursion
  * is bounded by each LIST's declared end, corrupt → None. Map-only.
  *
  * Reference analogue: the map-side per-record parse slot
  * (mapper.py:21-41); the layout is the public OpenDML/AVI spec.
  */
object Avi {

  /** Byte-valid AVI: avih from the given parameters, one strl per
    * stream type, movi with the payload chunks, idx1 over them. */
  def encodeAvi(usPerFrame: Int, width: Int, height: Int,
      streamTypes: Seq[String], frames: Seq[(String, Array[Byte])])
      : Array[Byte] = {
    def chunk(tag: String, payload: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream(payload.length + 8)
      out.write(tag.getBytes("US-ASCII"), 0, 4)
      le32(out, payload.length)
      out.write(payload, 0, payload.length)
      if (payload.length % 2 == 1) out.write(0)
      out.toByteArray
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", kind.getBytes("US-ASCII") ++ body)

    val avihOut = new ByteArrayOutputStream(56)
    Seq(usPerFrame.toLong, 0L, 0L, 0x10L,
      frames.count(_._1.endsWith("dc")).toLong, 0L,
      streamTypes.size.toLong, 0L, width.toLong, height.toLong,
      0L, 0L, 0L, 0L).foreach(le32(avihOut, _))
    val avih = avihOut.toByteArray
    val strls = streamTypes.map { t =>
      val strh = t.getBytes("US-ASCII") ++ Array.fill(52)(0.toByte)
      list("strl", chunk("strh", strh) ++
        chunk("strf", Array.fill(40)(0.toByte)))
    }
    val hdrl = list("hdrl",
      chunk("avih", avih) ++ strls.fold(Array.emptyByteArray)(_ ++ _))
    val moviBody = frames.map { case (tag, payload) => chunk(tag, payload) }
      .fold(Array.emptyByteArray)(_ ++ _)
    val movi = list("movi", moviBody)
    // idx1: 16 bytes per frame chunk (tag, flags, offset, size)
    val idx = new ByteArrayOutputStream(16 * frames.size)
    frames.foreach { case (tag, payload) =>
      val t = tag.getBytes("US-ASCII")
      idx.write(t, 0, t.length)
      le32(idx, 0x10); le32(idx, 4); le32(idx, payload.length)
    }
    val idxBody = idx.toByteArray
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi ++
      chunk("idx1", idxBody)
    val out = new ByteArrayOutputStream(body.length + 8)
    out.write("RIFF".getBytes("US-ASCII"), 0, 4)
    le32(out, body.length)
    out.write(body, 0, body.length)
    out.toByteArray
  }

  final case class AviMeta(usPerFrame: Long, totalFrames: Long,
      width: Int, height: Int, streams: Int, videoStreams: Int,
      moviChunks: Int, moviBytes: Long, idxEntries: Int)

  /** Walk an AVI: hdrl → avih + strh census, movi → chunk count/byte
    * sum, idx1 → entry count. Even-padded LE chunks throughout;
    * unknown chunks hopped; corrupt → None. */
  def decodeAvi(bytes: Array[Byte]): Option[AviMeta] =
    try {
      if (bytes.length < 12) return None
      if (new String(bytes, 0, 4, "US-ASCII") != "RIFF" ||
        new String(bytes, 8, 4, "US-ASCII") != "AVI ") return None
      val riffLen = i32le(bytes, 4)
      if (riffLen < 4 || 8 + riffLen > bytes.length) return None
      var usPerFrame = -1L; var totalFrames = -1L
      var width = -1; var height = -1; var declaredStreams = -1
      var streams = 0; var videoStreams = 0
      var moviChunks = 0; var moviBytes = 0L; var idxEntries = 0

      def walk(from: Int, until: Int, ctx: String): Boolean = {
        var off = from
        while (off + 8 <= until) {
          val tag = new String(bytes, off, 4, "US-ASCII")
          val len = i32le(bytes, off + 8 - 4)
          if (len < 0 || off + 8 + len > until) return false
          tag match {
            case "LIST" =>
              if (len < 4) return false
              val kind = new String(bytes, off + 8, 4, "US-ASCII")
              if (!walk(off + 12, off + 8 + len, kind)) return false
            case "avih" =>
              if (len < 40 || ctx != "hdrl") return false
              usPerFrame = i32le(bytes, off + 8).toLong & 0xffffffffL
              totalFrames = i32le(bytes, off + 24).toLong & 0xffffffffL
              declaredStreams = i32le(bytes, off + 32)
              width = i32le(bytes, off + 40)
              height = i32le(bytes, off + 44)
            case "strh" =>
              if (len < 4 || ctx != "strl") return false
              streams += 1
              if (new String(bytes, off + 8, 4, "US-ASCII") == "vids")
                videoStreams += 1
            case "idx1" =>
              if (len % 16 != 0) return false
              idxEntries += len / 16
            case _ =>
              if (ctx == "movi") {
                moviChunks += 1
                moviBytes += len
              } // anything else: hop
          }
          off += 8 + len + (len % 2)
        }
        true
      }
      if (!walk(12, 8 + riffLen, "riff")) return None
      if (usPerFrame < 0 || declaredStreams != streams) return None
      Some(AviMeta(usPerFrame, totalFrames, width, height, streams,
        videoStreams, moviChunks, moviBytes, idxEntries))
    } catch { case _: Exception => None }

  final case class AviRow(doc_id: Long, us_per_frame: Long,
      total_frames: Long, width: Int, height: Int, streams: Int,
      video_streams: Int, movi_chunks: Int, movi_bytes: Long,
      idx_entries: Int)

  val defs: Seq[QueryDef] = Seq(

    // ----- AVI walk: nested RIFF lists, frame census, idx1 ------------
    // Each doc becomes a byte-valid AVI: canvas dims and frame timing
    // from doc_id arithmetic, 1-2 streams, the doc text split across
    // two video frame chunks (+ one audio chunk when stereo-typed) in
    // movi, idx1 over them. The walk recovers every header field and
    // the movi byte census; the oracle replays the arithmetic incl.
    // octet lengths.
    QueryDef(
      "q348_avi_container_walk",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text").fanout.as[(Long, String)]
          .map { case (id, text) =>
            val hasAudio = id % 2 == 1
            val payload = text.getBytes("UTF-8")
            val half = payload.length / 2
            val frames = Seq(
              "00dc" -> payload.take(half),
              "00dc" -> payload.drop(half)) ++
              (if (hasAudio) Seq("01wb" -> Array.fill(64)(7.toByte))
               else Seq.empty)
            val blob = encodeAvi(
              usPerFrame = (33000 + id % 1000).toInt,
              width = (320 + (id % 8) * 16).toInt,
              height = (240 + (id % 6) * 16).toInt,
              streamTypes = if (hasAudio) Seq("vids", "auds")
                else Seq("vids"),
              frames = frames)
            decodeAvi(blob) match {
              case Some(m) => AviRow(id, m.usPerFrame, m.totalFrames,
                m.width, m.height, m.streams, m.videoStreams,
                m.moviChunks, m.moviBytes, m.idxEntries)
              case None => AviRow(id, -1L, -1L, -1, -1, -1, -1, -1, -1L, -1)
            }
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(33000 + doc_id % 1000 AS BIGINT) AS us_per_frame,
               CAST(2 AS BIGINT) AS total_frames,
               CAST(320 + (doc_id % 8) * 16 AS INT) AS width,
               CAST(240 + (doc_id % 6) * 16 AS INT) AS height,
               CAST(1 + doc_id % 2 AS INT) AS streams,
               CAST(1 AS INT) AS video_streams,
               CAST(2 + doc_id % 2 AS INT) AS movi_chunks,
               CAST(octet_length(encode(text)) + 64 * (doc_id % 2)
                    AS BIGINT) AS movi_bytes,
               CAST(2 + doc_id % 2 AS INT) AS idx_entries
        FROM documents
        ORDER BY doc_id"""))
  )
}
