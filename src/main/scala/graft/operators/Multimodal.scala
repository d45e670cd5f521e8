package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Multimodal-column processing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed per-partition in batches.
  *
  * The 100 TB design:
  *
  *  - media rides in a `binary` column next to its metadata; Parquet
  *    stores it row-grouped so a metadata-only query never reads bytes
  *    (column pruning), and `spark.sql.files.maxPartitionBytes` bounds
  *    per-task memory when it is read.
  *  - decode/feature-extract runs once per partition via mapPartitions —
  *    the iterator is streamed, nothing is materialized, and per-blob
  *    codec/digest state is initialized once per partition, amortized
  *    across the batch.
  *  - the decode step is REAL: [[ImageHeaders]] parses PNG IHDR / JPEG
  *    SOF header structures in pure JVM (the container has no codec
  *    libs, so pixel-level decode stays out of scope — but header decode
  *    is the operation a curation pipeline runs on EVERY blob anyway:
  *    filter by format/resolution/aspect before paying for pixels on
  *    the survivors). One corrupt blob yields NULL metadata, never a
  *    failed job.
  */
object Multimodal {

  /** Input record: opaque bytes + typed metadata. */
  final case class MediaRecord(doc_id: Long, media: Array[Byte], kind: String)

  /** The ONE id→WARC-record fixture mapping q250/q251/q326/q333 share
    * (type by id%3, host by id%7, urn:uuid record id) — their DuckDB
    * oracles replay this arithmetic, so a single definition is what
    * keeps four queries and four oracles in lockstep. */
  private def warcFixtureRecord(id: Long, text: String): Array[Byte] =
    Warc.encodeRecord(
      warcType = (id % 3) match {
        case 0 => "response"; case 1 => "request"
        case _ => "metadata"
      },
      targetUri = if (id % 3 == 2) None
        else Some(s"https://host${id % 7}.example/p/$id"),
      recordId = s"<urn:uuid:$id>",
      payload = text.getBytes("UTF-8"))

  /** Fixture emitter for the zstd family: REAL zstd frames from
    * zstd-jni (the reference C library already on every Spark
    * distribution's classpath — spark.io.compression.codec=zstd), with
    * the content checksum on so [[ZstdCodec]]'s XXH64 verify is in the
    * oracle-gated path. Fixture-side only; the DECODE under test is
    * the pure-JVM [[ZstdCodec]]. */
  private[operators] def zstdJni(data: Array[Byte], level: Int,
      checksum: Boolean = true): Array[Byte] = {
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    try {
      ctx.setLevel(level)
      ctx.setChecksum(checksum)
      ctx.compress(data)
    } finally ctx.close()
  }

  /** Content-level features (no format assumption): length + digest. */
  final case class MediaFeatures(doc_id: Long, n_bytes: Long, digest: String)

  /** Header-decoded image metadata; None columns = undecodable blob. */
  final case class ImageHeaderRow(doc_id: Long, format: Option[String],
      width: Option[Int], height: Option[Int], bit_depth: Option[Int],
      n_bytes: Long)

  /** Header-decoded WAV metadata; None columns = undecodable blob. */
  final case class WavHeaderRow(doc_id: Long, channels: Option[Int],
      sample_rate: Option[Int], bits_per_sample: Option[Int],
      n_samples: Option[Long], n_bytes: Long)

  /** Per-partition content fingerprinting: length + SHA-256, digest
    * instance initialized once per partition (the batch-amortization
    * shape a real feature extractor shares). */
  def contentFeatures(records: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      val md = MessageDigest.getInstance("SHA-256") // per-partition init
      it.map { r =>
        md.reset()
        val digest = md.digest(r.media).map("%02x".format(_)).mkString
        MediaFeatures(r.doc_id, r.media.length.toLong, digest)
      }
    }
  }

  /** The real decode pass: parse each blob's image header
    * ([[ImageHeaders.decode]] — PNG chunk walk / JPEG marker-segment
    * walk) into typed metadata. Row-parallel mapPartitions, streamed
    * iterator, NULLs for undecodable bytes. */
  def decodeImageHeaders(records: Dataset[MediaRecord]): Dataset[ImageHeaderRow] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        ImageHeaders.decode(r.media) match {
          case Some(m) => ImageHeaderRow(r.doc_id, Some(m.format),
            Some(m.width), Some(m.height), Some(m.bitDepth),
            r.media.length.toLong)
          case None => ImageHeaderRow(r.doc_id, None, None, None, None,
            r.media.length.toLong)
        }
      }
    }
  }

  /** The magic-number switchboard over EVERY decoder in the engine:
    * route an unknown blob to its format and pull one salient numeric
    * (images incl. tiff/avif: width; audio: sample rate; mp4:
    * timescale; gzip: declared uncompressed size; zstd: declared
    * content size; warc: record count; pdf: page count; text: byte
    * length). All decoders are STRICT
    * full-structure parses, so magic collisions with text content
    * cannot misroute (e.g. text starting "BM" fails the BMP bit-count
    * check; text starting "ID3" fails the MP3 frame walk) — the
    * dispatcher is the first operator a mixed 100 TB blob store runs. */
  def sniffContent(b: Array[Byte]): (String, Option[Long]) =
    ImageHeaders.decode(b).map(m => (m.format, Some(m.width.toLong)))
      .orElse(AudioHeaders.decodeWav(b).map(m =>
        ("wav", Some(m.sampleRate.toLong))))
      .orElse(AudioHeaders.decodeFlac(b).map(m =>
        ("flac", Some(m.sampleRate.toLong))))
      .orElse(AudioHeaders.decodeMp3(b).map(m =>
        ("mp3", Some(m.sampleRate.toLong))))
      .orElse(AudioHeaders.decodeOgg(b).map(m =>
        ("ogg/" + m.codec, Some(m.sampleRate.toLong))))
      .orElse(VideoHeaders.decodeMp4(b).map(m =>
        ("mp4", Some(m.timescale.toLong))))
      .orElse(Compression.decodeGzipHeader(b).map(m =>
        ("gzip", Some(m.isize))))
      .orElse(Compression.decodeZstdHeader(b).map { m =>
        // round 12: the zstd branch DECODES — detail is the verified
        // decoded length when the frame parses end to end (RFC 8878
        // full decode, checksum verified), the declared size when the
        // blob is a bare header sniff (q254 fixtures) or torn
        ZstdCodec.zstdDecompress(b) match {
          case Some(out) => ("zstd", Some(out.length.toLong))
          case None => ("zstd", m.contentSize)
        }
      })
      .orElse(Compression.decodeLz4Header(b).map(m =>
        ("lz4", m.contentSize.orElse(Some(m.blockMaxKb.toLong)))))
      .orElse {
        if (b != null && b.length >= 5 &&
          new String(b, 0, 5, "US-ASCII") == "WARC/")
          Some(("warc", Some(Warc.parse(b).size.toLong)))
        else None
      }
      .orElse(Pdf.decodePdf(b).map(m => ("pdf", Some(m.nPages.toLong))))
      .orElse(Compression.decodeParquetShell(b).map(m =>
        ("parquet", Some(m.footerLen))))
      .orElse(Avro.sniff(b).map(m => ("avro", Some(m.nRecords))))
      .orElse(Font.decodeFont(b).map(m =>
        ("font_" + m.container, m.nGlyphs.map(_.toLong))))
      .orElse(Font.decodeWoff2(b).map(m =>
        ("font_woff2", Some(m.nTables.toLong))))
      .orElse {
        // tar: ustar magic + per-header checksum make text collision
        // impossible; require at least one verified member
        val ms = Archive.tarMembers(b)
        if (ms.nonEmpty) Some(("tar", Some(ms.size.toLong))) else None
      }
      .orElse {
        // zip: 'PK' gate first so the 64 KiB EOCD back-scan never runs
        // on plain text blobs. Container refinement: OOXML and EPUB
        // packages are zips with a distinguishing part — route by the
        // REAL decode (full-structure gate, same anti-misroute
        // discipline as the rest of the chain) and fall back to the
        // plain zip entry count when the package does not decode.
        if (b != null && b.length >= 4 && b(0) == 'P' && b(1) == 'K')
          Archive.zipEntries(b).filter(_.nonEmpty).map { es =>
            if (es.exists(_.name == "[Content_Types].xml"))
              Docx.decodeDocx(b)
                .map(m => ("docx", Some(m.nParagraphs.toLong)))
                .orElse(Xlsx.decodeXlsx(b)
                  .map(m => ("xlsx", Some(m.nCells.toLong))))
                .orElse(Pptx.decodePptx(b)
                  .map(m => ("pptx", Some(m.nSlides.toLong))))
                .getOrElse(("zip", Some(es.size.toLong)))
            else if (es.exists(_.name == "mimetype"))
              Epub.decodeEpub(b)
                .map(m => ("epub", Some(m.nSpine.toLong)))
                .getOrElse(("zip", Some(es.size.toLong)))
            else ("zip", Some(es.size.toLong))
          }
        else None
      }
      .getOrElse {
        val e = TextEncoding.sniff(b)
        (e.charset, Some(if (b == null) 0L else b.length.toLong))
      }

  /** Format-sniffed audio metadata; None columns = undecodable blob.
    * `n_samples` is per-channel sample count for every format, so
    * duration_ms = n_samples · 1000 / sample_rate uniformly. */
  final case class AudioSniffRow(doc_id: Long, format: Option[String],
      sample_rate: Option[Int], channels: Option[Int],
      n_samples: Option[Long], n_bytes: Long)

  /** The full audio filter pass a crawl mix needs: sniff WAV (RIFF
    * walk), FLAC (STREAMINFO), or MP3 (Layer III frame-header walk,
    * ID3v2 hop) per blob — magics are mutually exclusive, so order is
    * cosmetic. One corrupt blob yields a NULL row, never a failed job. */
  def sniffAudioHeaders(records: Dataset[MediaRecord]): Dataset[AudioSniffRow] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        val wav = AudioHeaders.decodeWav(r.media).map(m =>
          ("wav", m.sampleRate, m.channels, m.nSamples))
        val flac = wav.orElse(AudioHeaders.decodeFlac(r.media).map(m =>
          ("flac", m.sampleRate, m.channels, m.totalSamples)))
        flac.orElse(AudioHeaders.decodeMp3(r.media).map(m =>
          ("mp3", m.sampleRate, m.channels, m.nSamples))) match {
          case Some((f, rate, ch, ns)) => AudioSniffRow(r.doc_id, Some(f),
            Some(rate), Some(ch), Some(ns), r.media.length.toLong)
          case None => AudioSniffRow(r.doc_id, None, None, None, None,
            r.media.length.toLong)
        }
      }
    }
  }

  /** Ogg-sniffed metadata; None columns = undecodable blob. `pre_skip`
    * is 0 for Vorbis (the field is Opus-only); duration derives as
    * n_samples · 1000 / 48000 for Opus (fixed granule clock) and
    * n_samples · 1000 / sample_rate for Vorbis, at the caller. */
  final case class OggSniffRow(doc_id: Long, codec: Option[String],
      channels: Option[Int], sample_rate: Option[Int],
      pre_skip: Option[Int], n_pages: Option[Long],
      n_samples: Option[Long], n_bytes: Long)

  /** Ogg filter pass beside [[sniffAudioHeaders]]: full page walk with
    * per-page CRC verification ([[AudioHeaders.decodeOgg]]), OpusHead /
    * Vorbis-id dispatch on the first page's payload. One corrupt blob
    * yields a NULL row, never a failed job. */
  def sniffOggHeaders(records: Dataset[MediaRecord]): Dataset[OggSniffRow] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        AudioHeaders.decodeOgg(r.media) match {
          case Some(m) => OggSniffRow(r.doc_id, Some(m.codec),
            Some(m.channels), Some(m.sampleRate), Some(m.preSkip),
            Some(m.nPages), Some(m.nSamples), r.media.length.toLong)
          case None => OggSniffRow(r.doc_id, None, None, None, None,
            None, None, r.media.length.toLong)
        }
      }
    }
  }

  /** Header-decoded MP4 metadata; None columns = undecodable blob. */
  final case class Mp4HeaderRow(doc_id: Long, brand: Option[String],
      timescale: Option[Int], duration_units: Option[Long],
      width: Option[Int], height: Option[Int], n_tracks: Option[Int],
      n_bytes: Long)

  /** Video sibling of [[decodeImageHeaders]]: parse each blob's
    * ISO-BMFF box chain ([[VideoHeaders.decodeMp4]] — big-endian box
    * walk, moov/trak recursion) into typed metadata. */
  def decodeMp4Headers(records: Dataset[MediaRecord]): Dataset[Mp4HeaderRow] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        VideoHeaders.decodeMp4(r.media) match {
          case Some(m) => Mp4HeaderRow(r.doc_id, Some(m.brand),
            Some(m.timescale), Some(m.durationUnits), Some(m.width),
            Some(m.height), Some(m.nTracks), r.media.length.toLong)
          case None => Mp4HeaderRow(r.doc_id, None, None, None, None,
            None, None, r.media.length.toLong)
        }
      }
    }
  }

  /** Audio sibling of [[decodeImageHeaders]]: parse each blob's WAV
    * header ([[AudioHeaders.decodeWav]] — RIFF chunk walk, unknown
    * chunks hopped by size) into typed metadata. */
  def decodeWavHeaders(records: Dataset[MediaRecord]): Dataset[WavHeaderRow] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        AudioHeaders.decodeWav(r.media) match {
          case Some(m) => WavHeaderRow(r.doc_id, Some(m.channels),
            Some(m.sampleRate), Some(m.bitsPerSample), Some(m.nSamples),
            r.media.length.toLong)
          case None => WavHeaderRow(r.doc_id, None, None, None, None,
            r.media.length.toLong)
        }
      }
    }
  }

  val defs: Seq[QueryDef] = Seq(

    // documents.text re-cast as utf-8 "media" bytes exercises the whole
    // binary path; features come out of the partition-streamed digest
    // pass and are SQL-checkable because SHA-256 is deterministic.
    QueryDef(
      "q52_multimodal_features",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text".cast("binary").as("media"),
            lit("application/octet-stream").as("kind"))
          .as[MediaRecord]
        contentFeatures(media)
          .toDF()
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS digest
        FROM documents
        ORDER BY doc_id""")),

    // column-pruning contract gated by CORRECTNESS, not only the plan
    // audit: the aggregation must never read the binary column (its
    // ReadSchema excludes `media` — asserted in PlanAuditSpec) and still
    // produce the exact metadata rollup.
    QueryDef(
      "q89_multimodal_metadata_only",
      (s, dir) => metadataOnly(s, dir).orderBy(col("lang")),
      Some("""
        SELECT lang, count(*) AS n
        FROM documents
        GROUP BY lang
        ORDER BY lang""")),

    // frame sampling: the video-pipeline access pattern — cut the binary
    // payload into fixed-size frames, keep every Nth. explode(sequence)
    // over byte offsets + substring on the binary column: linear, row
    // parallel, no window. (A real codec would replace the byte slicing
    // with keyframe extraction; the plumbing — offset enumeration,
    // stride, per-frame rows — is identical. Fixture text is ASCII, so
    // the oracle's char offsets equal the binary byte offsets.)
    QueryDef(
      "q99_multimodal_frame_sample",
      (s, dir) => {
        import s.implicits._
        frameSample(
          Tables.load(s, dir, "documents")
            .select($"doc_id", $"text".cast("binary").as("media")),
          frameBytes = 32, stride = 3)
          .orderBy($"doc_id", $"frame_idx")
      },
      Some("""
        WITH frames AS (
          SELECT doc_id,
                 unnest(generate_series(0, (length(text) - 1) // 32))
                   AS frame_idx,
                 text
          FROM documents
          WHERE length(text) > 0)
        SELECT doc_id, frame_idx,
               substring(text, frame_idx * 32 + 1, 32) AS frame
        FROM frames
        WHERE frame_idx % 3 = 0
        ORDER BY doc_id, frame_idx""")),

    // ----- REAL image-header decode over synthesized real blobs --------
    // Each doc becomes an actual byte-valid image stream (even doc_id:
    // PNG — signature, IHDR with CRC32, text bytes as IDAT; odd: baseline
    // JPEG — SOI, APP0, a variable-length COM the marker walk must hop,
    // SOF0), with dimensions derived from doc_id. The decoder then reads
    // format/width/height/depth back OUT OF THE BYTES (big-endian chunk
    // and segment structure — not from the formula), and the oracle
    // replays the formula + exact encoded stream lengths: a wrong walk,
    // offset, or endianness shows up as a hash mismatch.
    QueryDef(
      "q229_image_header_decode",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val w = (16 + id % 624).toInt
            val h = (16 + (id * 7) % 464).toInt
            val payload = text.getBytes("UTF-8")
            if (id % 2 == 0)
              MediaRecord(id, ImageHeaders.encodePng(w, h, 8, payload),
                "image/png")
            else
              MediaRecord(id, ImageHeaders.encodeJpeg(w, h, 8, payload),
                "image/jpeg")
          }
        decodeImageHeaders(media).toDF().orderBy($"doc_id")
      },
      // the oracle derives everything arithmetically: dims from doc_id,
      // stream length from the fixed PNG chunk overhead (8 sig + 25 IHDR
      // + 12+len IDAT + 12 IEND = 57+len) / JPEG segment overhead (2 SOI
      // + 18 APP0 + 4+len COM + 19 SOF0 + 2 EOI = 45+len, COM payload
      // clamped to one segment's 65533-byte max — ImageHeaders.MaxComBytes)
      Some("""
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
               CAST(16 + doc_id % 624 AS INT) AS width,
               CAST(16 + (doc_id * 7) % 464 AS INT) AS height,
               CAST(8 AS INT) AS bit_depth,
               CAST(CASE WHEN doc_id % 2 = 0
                    THEN 57 + octet_length(encode(text))
                    ELSE 45 + LEAST(octet_length(encode(text)), 65533) END
                    AS BIGINT) AS n_bytes
        FROM documents
        ORDER BY doc_id""")),

    // ----- REAL WEBP-header decode over synthesized real streams -------
    // The web-crawl format q229 was missing: each doc becomes a
    // byte-valid RIFF/WEBP container — an EXIF chunk carrying the text
    // (variable length, the LE chunk hop must skip it), then a VP8
    // (lossy keyframe) / VP8L (lossless bitfield) / VP8X (extended,
    // 24-bit canvas dims) image chunk by doc_id % 3. The decoder reads
    // the dims back OUT OF THE BYTES (start codes, 14-bit packed
    // fields, 24-bit LE); the oracle replays the formula + exact
    // stream lengths per variant.
    QueryDef(
      "q238_webp_header_decode",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val w = (16 + id % 624).toInt
            val h = (16 + (id * 7) % 464).toInt
            val variant = (id % 3) match {
              case 0 => "vp8"; case 1 => "vp8l"; case _ => "vp8x"
            }
            MediaRecord(id,
              ImageHeaders.encodeWebp(variant, w, h, text.getBytes("UTF-8")),
              "image/webp")
          }
        decodeImageHeaders(media).toDF().orderBy($"doc_id")
      },
      // stream length: 12 RIFF + 8+len+len%2 EXIF + image chunk
      // (VP8/VP8X: 8+10 = 18; VP8L: 8+5+1 pad = 14)
      Some("""
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'webp' WHEN 1 THEN 'webp_lossless'
                    ELSE 'webp_extended' END AS format,
               CAST(16 + doc_id % 624 AS INT) AS width,
               CAST(16 + (doc_id * 7) % 464 AS INT) AS height,
               CAST(8 AS INT) AS bit_depth,
               CAST(CASE WHEN doc_id % 3 = 1 THEN 34 ELSE 38 END
                    + octet_length(encode(text))
                    + octet_length(encode(text)) % 2 AS BIGINT) AS n_bytes
        FROM documents
        ORDER BY doc_id""")),

    // ----- REAL WAV-header decode over synthesized real streams --------
    // q229's audio sibling: each doc becomes a byte-valid RIFF/WAVE
    // stream — a variable-length LIST chunk (text bytes, RIFF even
    // padding) the little-endian chunk walk must hop, a PCM fmt chunk,
    // and a data chunk declaring the sample count. The decoder reads
    // channels/rate/bits/samples OUT OF THE BYTES; duration derives
    // as integer math from decoded fields; the oracle replays the
    // derivations and the exact stream length (12 RIFF + 8+4+len+pad
    // LIST incl. its 'INFO' list-type + 24 fmt + 8 data hdr
    // = 56 + len + len%2).
    // MPEG audio across ALL THREE LAYERS (round 12 — q232's mp3 family
    // covered Layer III only): per doc the layer cycles 1/2/3 with a
    // layer-legal V1 bitrate, the rate cycles the V1 table, and the
    // walk must apply the per-layer frame-length law (Layer I counts
    // 4-byte SLOTS — a layer-blind walk desyncs immediately) and
    // per-layer samples-per-frame. The oracle replays the layer/
    // bitrate/frame-length/sample arithmetic and the exact stream
    // length — one wrong table cell shifts n_bytes and mismatches.
    QueryDef(
      "q330_mp3_layer_walk",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val layer = (1 + id % 3).toInt
            val kbps = layer match {
              case 1 => 256; case 2 => 192; case _ => 128
            }
            val rate = ((id / 3) % 3) match {
              case 0 => 44100; case 1 => 48000; case _ => 32000
            }
            val nf = (2 + id % 4).toInt
            val blob = AudioHeaders.encodeMp3(kbps, rate, nf, 2,
              text.getBytes("UTF-8"), layer)
            AudioHeaders.decodeMp3(blob) match {
              case Some(m) => (id, m.layer, m.sampleRate, m.bitrateKbps,
                m.nFrames, m.nSamples, blob.length.toLong)
              case None => (id, -1, -1, -1, -1L, -1L, -1L)
            }
          }
          .toDF("doc_id", "layer", "sample_rate", "bitrate_kbps",
            "n_frames", "n_samples", "n_bytes")
          .orderBy($"doc_id")
      },
      Some("""
        WITH m AS (
          SELECT doc_id,
                 CAST(1 + doc_id % 3 AS INT) AS layer,
                 CASE doc_id % 3 WHEN 0 THEN 256 WHEN 1 THEN 192
                      ELSE 128 END AS kbps,
                 CASE (doc_id // 3) % 3 WHEN 0 THEN 44100
                      WHEN 1 THEN 48000 ELSE 32000 END AS rate,
                 2 + doc_id % 4 AS nf,
                 octet_length(encode(text)) AS note_len
          FROM documents)
        SELECT doc_id,
               layer,
               CAST(rate AS INT) AS sample_rate,
               CAST(kbps AS INT) AS bitrate_kbps,
               CAST(nf AS BIGINT) AS n_frames,
               CAST(nf * CASE layer WHEN 1 THEN 384 ELSE 1152 END
                 AS BIGINT) AS n_samples,
               CAST(10 + note_len + nf *
                 CASE layer
                   WHEN 1 THEN (12 * kbps * 1000 // rate) * 4
                   ELSE 144 * kbps * 1000 // rate
                 END AS BIGINT) AS n_bytes
        FROM m
        ORDER BY doc_id""")),

    QueryDef(
      "q232_wav_header_decode",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val rate = (id % 3) match {
              case 0 => 8000; case 1 => 16000; case _ => 44100
            }
            MediaRecord(id,
              AudioHeaders.encodeWav(
                channels = (1 + id % 2).toInt, sampleRate = rate,
                bitsPerSample = 16, nSamples = 1000 + (id * 13) % 100000,
                note = text.getBytes("UTF-8")),
              "audio/wav")
          }
        decodeWavHeaders(media).toDF()
          .withColumn("duration_ms",
            expr("(n_samples * 1000) div sample_rate"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(1 + doc_id % 2 AS INT) AS channels,
               CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    ELSE 44100 END AS INT) AS sample_rate,
               CAST(16 AS INT) AS bits_per_sample,
               CAST(1000 + (doc_id * 13) % 100000 AS BIGINT) AS n_samples,
               CAST(56 + octet_length(encode(text))
                    + octet_length(encode(text)) % 2 AS BIGINT) AS n_bytes,
               CAST((1000 + (doc_id * 13) % 100000) * 1000
                    // (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        ELSE 44100 END) AS BIGINT) AS duration_ms
        FROM documents
        ORDER BY doc_id""")),

    // ----- MP3 + FLAC sniff: the real crawl audio mix ------------------
    // q232 covered WAV, but a crawl's audio is mostly MP3/FLAC. Even
    // docs become CBR MPEG-1 Layer III streams — an ID3v2 tag carrying
    // the text (syncsafe size, the hop the walk must take) + N
    // byte-valid frames the decoder must WALK (each hopped by its
    // computed table-derived length; the frame count comes out of the
    // walk, not a header field). Odd docs become FLAC — STREAMINFO's
    // packed 20/3/5/36-bit fields + a vorbis-comment block. The oracle
    // replays the tables, the packed fields, and the exact byte
    // lengths: a wrong bitrate table or bit offset is a hash mismatch.
    QueryDef(
      "q239_mp3_flac_header_sniff",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val note = text.getBytes("UTF-8")
            if (id % 2 == 0) {
              val br = if (id % 4 == 0) 64 else 192
              val rate = (id % 3) match {
                case 0 => 44100; case 1 => 48000; case _ => 32000
              }
              val ch = if (id % 4 == 0) 1 else 2
              MediaRecord(id, AudioHeaders.encodeMp3(br, rate,
                (5 + id % 20).toInt, ch, note), "audio/mpeg")
            } else {
              val rate = (id % 3) match {
                case 0 => 44100; case 1 => 48000; case _ => 96000
              }
              val ch = if (id % 4 == 1) 1 else 2
              val bps = if (id % 8 < 4) 16 else 24
              MediaRecord(id, AudioHeaders.encodeFlac(rate, ch, bps,
                1000L + (id * 17) % 100000, note), "audio/flac")
            }
          }
        sniffAudioHeaders(media).toDF()
          .withColumn("duration_ms",
            expr("(n_samples * 1000) div sample_rate"))
          .orderBy($"doc_id")
      },
      // mp3: n_samples = frames*1152, n_bytes = 10 + len + frames *
      // floor(144*br*1000/rate); flac: n_bytes = 46 + len
      Some("""
        WITH p AS (
          SELECT doc_id, octet_length(encode(text)) AS len,
                 5 + doc_id % 20 AS frames,
                 CASE WHEN doc_id % 4 = 0 THEN 64 ELSE 192 END AS br,
                 CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                      ELSE 32000 END AS mrate,
                 CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                      ELSE 96000 END AS frate,
                 1000 + (doc_id * 17) % 100000 AS fsamp
          FROM documents)
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'mp3' ELSE 'flac' END AS format,
               CAST(CASE WHEN doc_id % 2 = 0 THEN mrate ELSE frate END
                    AS INT) AS sample_rate,
               CAST(CASE WHEN doc_id % 2 = 0
                    THEN CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 2 END
                    ELSE CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 2 END END
                    AS INT) AS channels,
               CAST(CASE WHEN doc_id % 2 = 0 THEN frames * 1152
                    ELSE fsamp END AS BIGINT) AS n_samples,
               CAST(CASE WHEN doc_id % 2 = 0
                    THEN 10 + len
                         + frames * CAST(floor(144 * br * 1000.0 / mrate)
                                         AS BIGINT)
                    ELSE 46 + len END AS BIGINT) AS n_bytes,
               CAST(CASE WHEN doc_id % 2 = 0
                    THEN (frames * 1152 * 1000) // mrate
                    ELSE (fsamp * 1000) // frate END AS BIGINT)
                 AS duration_ms
        FROM p
        ORDER BY doc_id""")),

    // Ogg sniff: each doc becomes a byte-valid Ogg stream (real page
    // CRCs, lacing tables, BOS/EOS flags) — Opus for even ids, Vorbis
    // for odd — with the doc text riding the comment page (the
    // variable-length hop the walk must lace across). The oracle
    // replays every output from the variant arithmetic: stream length
    // from the page-size formulas, samples from granule steps, Opus
    // duration at the FIXED 48 kHz granule clock vs Vorbis at the
    // declared rate. A CRC, lacing, or granule bug shifts a column and
    // hash-mismatches.
    QueryDef(
      "q284_ogg_header_sniff",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val note = text.getBytes("UTF-8")
            val nData = (3 + id % 7).toInt
            if (id % 2 == 0) {
              val rate = (id % 3) match {
                case 0 => 44100; case 1 => 48000; case _ => 32000
              }
              val ch = if (id % 4 == 0) 1 else 2
              val preSkip = (156 + (id % 5) * 100).toInt
              val gpp = 960L * (1 + id % 4)
              MediaRecord(id, AudioHeaders.encodeOggOpus(ch, preSkip,
                rate, nData, gpp, note), "audio/ogg")
            } else {
              val rate = (id % 3) match {
                case 0 => 44100; case 1 => 48000; case _ => 22050
              }
              val ch = if (id % 4 == 1) 1 else 2
              val gpp = 1024L * (1 + id % 3)
              MediaRecord(id, AudioHeaders.encodeOggVorbis(ch, rate,
                nData, gpp, note), "audio/ogg")
            }
          }
        sniffOggHeaders(media).toDF()
          .withColumn("duration_ms",
            expr("(n_samples * 1000) div " +
              "(CASE WHEN codec = 'opus' THEN 48000 ELSE sample_rate END)"))
          .orderBy($"doc_id")
      },
      // opus: n_bytes = 75 + len//255 + len + 29*nData;
      // vorbis: n_bytes = 86 + len//255 + len + 29*nData
      Some("""
        WITH p AS (
          SELECT doc_id, octet_length(encode(text)) AS len,
                 3 + doc_id % 7 AS ndata,
                 CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                      ELSE 32000 END AS orate,
                 CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                      ELSE 22050 END AS vrate,
                 156 + (doc_id % 5) * 100 AS pre_skip,
                 960 * (1 + doc_id % 4) AS ogpp,
                 1024 * (1 + doc_id % 3) AS vgpp
          FROM documents)
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'opus' ELSE 'vorbis' END
                 AS codec,
               CAST(CASE WHEN doc_id % 2 = 0
                    THEN CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 2 END
                    ELSE CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 2 END END
                    AS INT) AS channels,
               CAST(CASE WHEN doc_id % 2 = 0 THEN orate ELSE vrate END
                    AS INT) AS sample_rate,
               CAST(CASE WHEN doc_id % 2 = 0 THEN pre_skip ELSE 0 END
                    AS INT) AS pre_skip,
               CAST(2 + ndata AS BIGINT) AS n_pages,
               CAST(CASE WHEN doc_id % 2 = 0 THEN ndata * ogpp
                    ELSE ndata * vgpp END AS BIGINT) AS n_samples,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 75 ELSE 86 END
                    + len // 255 + len + 29 * ndata AS BIGINT) AS n_bytes,
               CAST(CASE WHEN doc_id % 2 = 0
                    THEN (ndata * ogpp * 1000) // 48000
                    ELSE (ndata * vgpp * 1000) // vrate END AS BIGINT)
                 AS duration_ms
        FROM p
        ORDER BY doc_id""")),

    // ----- Vorbis-comment tags: the Xiph family's metadata (round 14) --
    // The audio-curation sibling of ID3 (q260): artist/title/album out
    // of FLAC (METADATA_BLOCK type 4), Ogg Opus (OpusTags packet, RFC
    // 7845 §5.2), and Ogg Vorbis (type-3 comment packet + framing
    // bit), cycled by doc parity. The comment BODY bytes are identical
    // across all three (Vorbis I §5) — one parser, three container
    // walks; the oracle replays every planted field, the repeat-key
    // first-wins rule, and the comment count. Map-only per blob.
    QueryDef(
      "q379_audio_vorbis_tags",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val comments = Seq(
              "ARTIST" -> s"artist ${id % 50}",
              "TITLE" -> s"track no ${id}",
              "ALBUM" -> s"album ${id % 20}",
              "DATE" -> s"${1970 + id % 55}",
              // repeated key: the parser must keep the FIRST value
              "ARTIST" -> "ignored repeat",
              // mixed-case key: case-insensitive per spec
              "TrackNumber" -> s"${1 + id % 12}")
            val vendor = s"graft ${id % 5}"
            val blob = (id % 3) match {
              case 0 => AudioHeaders.encodeFlac(44100, 2, 16, 1000 + id,
                AudioHeaders.vorbisCommentBody(vendor, comments))
              case 1 => AudioHeaders.encodeOggOpus(2, 312, 48000,
                nDataPages = 2, granulesPerPage = 960,
                AudioHeaders.opusTagsPacket(vendor, comments))
              case _ => AudioHeaders.encodeOggVorbis(2, 44100,
                nDataPages = 2, granulesPerPage = 1024,
                AudioHeaders.vorbisCommentPacket(vendor, comments))
            }
            val t = AudioHeaders.decodeAudioTags(blob)
            (id, t.map(_.container).orNull, t.map(_.vendor).orNull,
              t.map(_.nComments), t.flatMap(_.fields.get("ARTIST")).orNull,
              t.flatMap(_.fields.get("TITLE")).orNull,
              t.flatMap(_.fields.get("ALBUM")).orNull,
              t.flatMap(_.fields.get("DATE")).orNull,
              t.flatMap(_.fields.get("TRACKNUMBER")).orNull)
          }
          .toDF("doc_id", "container", "vendor", "n_comments",
            "artist", "title", "album", "date", "track")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'flac' WHEN 1 THEN 'opus'
                    ELSE 'vorbis' END AS container,
               'graft ' || (doc_id % 5) AS vendor,
               CAST(6 AS INT) AS n_comments,
               'artist ' || (doc_id % 50) AS artist,
               'track no ' || doc_id AS title,
               'album ' || (doc_id % 20) AS album,
               CAST(1970 + doc_id % 55 AS VARCHAR) AS date,
               CAST(1 + doc_id % 12 AS VARCHAR) AS track
        FROM documents
        ORDER BY doc_id""")),

    // ----- charset sniff: the ingestion step before ANY text op --------
    // Each doc's ASCII text is wrapped into one of six byte shapes: raw
    // (ascii), UTF-8 BOM prefix, an appended 2-byte UTF-8 sequence, an
    // appended lone 0xFF (the classic windows-1252 tell), an appended
    // NUL (mislabeled-binary tell), or a full UTF-16LE transcode with
    // BOM. The RFC 3629 validation walk classifies each; the oracle
    // replays labels and exact byte lengths from the variant
    // arithmetic — a validator that under- or over-accepts flips a
    // label and hash-mismatches.
    QueryDef(
      "q246_charset_sniff",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val a = text.getBytes("US-ASCII")
            val bytes = (id % 6) match {
              case 0 => a
              case 1 => Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ a
              case 2 => a ++ Array[Byte](0xc3.toByte, 0xa9.toByte)
              case 3 => a ++ Array[Byte](0xff.toByte)
              case 4 => a ++ Array[Byte](0x00)
              case _ => Array[Byte](0xff.toByte, 0xfe.toByte) ++
                text.getBytes("UTF-16LE")
            }
            MediaRecord(id, bytes, "text/plain")
          }
        media.mapPartitions { it =>
          it.map { r =>
            val e = TextEncoding.sniff(r.media)
            (r.doc_id, e.charset, e.bom, r.media.length.toLong)
          }
        }.toDF("doc_id", "charset", "bom", "n_bytes")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE doc_id % 6
                 WHEN 0 THEN 'ascii' WHEN 1 THEN 'utf-8'
                 WHEN 2 THEN 'utf-8' WHEN 3 THEN 'windows-1252'
                 WHEN 4 THEN 'binary' ELSE 'utf-16le' END AS charset,
               doc_id % 6 IN (1, 5) AS bom,
               CAST(CASE doc_id % 6
                 WHEN 0 THEN length(text) WHEN 1 THEN length(text) + 3
                 WHEN 2 THEN length(text) + 2 WHEN 3 THEN length(text) + 1
                 WHEN 4 THEN length(text) + 1
                 ELSE 2 + 2 * length(text) END AS BIGINT) AS n_bytes
        FROM documents
        ORDER BY doc_id""")),

    // ----- gzip member decode: header walk + REAL verified inflate -----
    // Crawl payloads arrive gzip-wrapped; the operator walks the RFC
    // 1952 header (flag-driven FNAME/FCOMMENT hops — set per doc by
    // parity, which GZIPOutputStream cannot even write), then REALLY
    // inflates the deflate stream with the JDK Inflater and verifies
    // the trailer CRC32 + ISIZE against the actual bytes. The oracle
    // replays the metadata arithmetic and the uncompressed length —
    // compressed size is deliberately NOT in the output (deflate's
    // output bytes are impl-defined; everything emitted is exact).
    QueryDef(
      "q249_gzip_decode",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            MediaRecord(id,
              Compression.encodeGzip(text.getBytes("UTF-8"),
                mtime = 1000000000L + id,
                fname = if (id % 2 == 0) Some(s"doc$id.txt") else None,
                fcomment = if (id % 3 == 0) Some(s"c$id") else None),
              "application/gzip")
          }
        media.map { r =>
          val meta = Compression.decodeGzipHeader(r.media)
          val data = Compression.gunzip(r.media)
          (r.doc_id, meta.map(_.mtime), meta.flatMap(_.fname),
            meta.flatMap(_.fcomment),
            data.map(_.length.toLong), data.isDefined)
        }.toDF("doc_id", "mtime", "fname", "fcomment",
            "n_uncompressed", "crc_ok")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(1000000000 + doc_id AS BIGINT) AS mtime,
               CASE WHEN doc_id % 2 = 0
                    THEN 'doc' || doc_id || '.txt' END AS fname,
               CASE WHEN doc_id % 3 = 0 THEN 'c' || doc_id END AS fcomment,
               CAST(octet_length(encode(text)) AS BIGINT)
                 AS n_uncompressed,
               TRUE AS crc_ok
        FROM documents
        ORDER BY doc_id""")),

    // ----- WARC record parsing: the crawl storage format ---------------
    // Four records concatenate per blob (doc_id div 4) and the splitter
    // must JUMP payloads by declared Content-Length — the payloads are
    // the documents' own text, and a boundary SCANNER would tear on
    // text content; only length-jumping reconstructs every record. The
    // oracle replays types/uris/ids/lengths from doc_id arithmetic; a
    // mis-jump shifts every subsequent record in the blob and
    // hash-mismatches en masse.
    QueryDef(
      "q250_warc_parse",
      (s, dir) => {
        import s.implicits._
        val recs = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .as[(Long, String)]
          .groupByKey { case (id, _) => id / 4 }
          .flatMapGroups { (group, it) =>
            val blob = it.toSeq.sortBy(_._1).map { case (id, text) =>
              warcFixtureRecord(id, text)
            }.reduce(_ ++ _)
            Warc.parse(blob).map { r =>
              (group * 4 + r.recordIdx, r.warcType, r.targetUri,
                r.recordId, r.contentLength)
            }
          }
        recs.toDF("doc_id", "warc_type", "target_uri", "record_id",
            "content_length")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'response' WHEN 1 THEN 'request'
                    ELSE 'metadata' END AS warc_type,
               CASE WHEN doc_id % 3 = 2 THEN NULL
                    ELSE 'https://host' || (doc_id % 7) || '.example/p/'
                         || doc_id END AS target_uri,
               '<urn:uuid:' || doc_id || '>' AS record_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS content_length
        FROM documents
        ORDER BY doc_id""")),

    // ----- .warc.gz: the Common Crawl layout, end to end ---------------
    // Each record is its OWN gzip member and members concatenate —
    // random access by member, the reason the format looks this way.
    // The operator must walk members by the inflater's consumed-byte
    // count (no length prefix exists!), verify each member's CRC,
    // then parse the WARC record inside. Composes q249's member codec
    // with q250's record parser; the oracle is q250's — the
    // compression layer must be exactly transparent.
    QueryDef(
      "q251_warc_gz_members",
      (s, dir) => {
        import s.implicits._
        val recs = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .as[(Long, String)]
          .groupByKey { case (id, _) => id / 4 }
          .flatMapGroups { (group, it) =>
            val blob = it.toSeq.sortBy(_._1).map { case (id, text) =>
              Compression.encodeGzip(warcFixtureRecord(id, text),
                mtime = 0L, fname = None, fcomment = None)
            }.reduce(_ ++ _)
            Compression.gunzipMembers(blob).zipWithIndex.flatMap {
              case (member, mi) =>
                Warc.parse(member).map { r =>
                  (group * 4 + mi, r.warcType, r.targetUri, r.recordId,
                    r.contentLength)
                }
            }
          }
        recs.toDF("doc_id", "warc_type", "target_uri", "record_id",
            "content_length")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'response' WHEN 1 THEN 'request'
                    ELSE 'metadata' END AS warc_type,
               CASE WHEN doc_id % 3 = 2 THEN NULL
                    ELSE 'https://host' || (doc_id % 7) || '.example/p/'
                         || doc_id END AS target_uri,
               '<urn:uuid:' || doc_id || '>' AS record_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS content_length
        FROM documents
        ORDER BY doc_id""")),

    // ----- zstd frame decode: the RFC 8878 pure-JVM decoder ------------
    // Each doc zstd-framed by the REAL compressor (zstd-jni, checksum
    // on) at a level mix spanning every entropy regime — fast-mode
    // RLE/raw literals at 1, Huffman + predefined FSE at 3/9, FSE-
    // compressed tables + 4-stream literals at 19 — plus this repo's
    // own stored-mode emitter on the id%5==0 slice (spec-validated by
    // real zstd the other direction). Decode is map-side per cell; the
    // oracle replays length + md5 of the ORIGINAL text, so the
    // compression layer must be exactly transparent, checksum verified.
    QueryDef(
      "q325_zstd_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val tb = text.getBytes("UTF-8")
            val (frame, src) =
              if (id % 5 == 0)
                (ZstdCodec.zstdCompressStored(tb), "stored")
              else {
                val lvl = (id % 4) match {
                  case 0 => 1; case 1 => 3; case 2 => 9; case _ => 19
                }
                (zstdJni(tb, lvl), s"jni-$lvl")
              }
            ZstdCodec.zstdDecompress(frame) match {
              case Some(out) =>
                val hex = MessageDigest.getInstance("MD5").digest(out)
                  .map("%02x".format(_)).mkString
                (id, out.length.toLong, hex,
                  java.util.Arrays.equals(out, tb), src)
              case None => (id, -1L, "", false, src)
            }
          }
          .toDF("doc_id", "n_out", "md5", "roundtrip_ok", "src")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_out,
               md5(text) AS md5,
               TRUE AS roundtrip_ok,
               CASE WHEN doc_id % 5 = 0 THEN 'stored'
                    ELSE 'jni-' || CASE doc_id % 4 WHEN 0 THEN 1
                         WHEN 1 THEN 3 WHEN 2 THEN 9 ELSE 19 END
               END AS src
        FROM documents
        ORDER BY doc_id""")),

    // ----- snappy raw + framed decode (round 16) -------------------------
    // q325's sibling for the OTHER lakehouse workhorse codec: snappy
    // raw blocks (format_description.txt) and the sNaPpY framing
    // stream (framing_format.txt, masked CRC-32C). Most ids decode
    // REFERENCE encodings (snappy-java, the JNI binding on the Spark
    // classpath) through our from-spec raw decoder; id % 4 == 0 runs
    // our framed emitter (itself reference-validated the other
    // direction in SnappyCodecSpec) through the framed decoder —
    // identifier chunk, compressed + uncompressed chunk types, a
    // padding chunk mid-stream, CRCs verified. The oracle replays
    // length + md5 of the ORIGINAL text, so the codec layer must be
    // exactly transparent. Map-side per cell.
    QueryDef(
      "q418_snappy_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .mapPartitions { it =>
            val md = MessageDigest.getInstance("MD5")
            it.map { case (id, text) =>
              val tb = text.getBytes("UTF-8")
              val (out, src) =
                if (id % 4 == 0)
                  (SnappyCodec.decompressFramed(
                    SnappyCodec.compressFramed(tb), tb.length + 16),
                    "framed")
                else
                  (SnappyCodec.decompressRaw(
                    org.xerial.snappy.Snappy.compress(tb),
                    tb.length + 16), "raw-jni")
              out match {
                case Some(o) =>
                  md.reset()
                  val hex = md.digest(o).map("%02x".format(_)).mkString
                  (id, o.length.toLong, hex,
                    java.util.Arrays.equals(o, tb), src)
                case None => (id, -1L, "", false, src)
              }
            }
          }
          .toDF("doc_id", "n_out", "md5", "roundtrip_ok", "src")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_out,
               md5(text) AS md5,
               TRUE AS roundtrip_ok,
               CASE WHEN doc_id % 4 = 0 THEN 'framed'
                    ELSE 'raw-jni' END AS src
        FROM documents
        ORDER BY doc_id""")),

    // ----- .warc.zst: the modern Common Crawl layout, end to end -------
    // q251's sibling with zstd in place of gzip: one frame per record,
    // frames back to back, and a leading SKIPPABLE frame per blob (the
    // real .warc.zst carries its dictionary/index in one — here it
    // must be hopped, not decoded). Frames alternate real-compressor
    // (level 3, checksummed) and stored-mode; the oracle is q250's —
    // the compression layer must be exactly transparent.
    QueryDef(
      "q326_warc_zst_members",
      (s, dir) => {
        import s.implicits._
        val recs = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .as[(Long, String)]
          .groupByKey { case (id, _) => id / 4 }
          .flatMapGroups { (group, it) =>
            val frames = it.toSeq.sortBy(_._1).map { case (id, text) =>
              val rec = warcFixtureRecord(id, text)
              if (id % 2 == 0) zstdJni(rec, 3)
              else ZstdCodec.zstdCompressStored(rec)
            }
            val blob = ZstdCodec.zstdSkippableFrame(
              s"shard-index-$group".getBytes("UTF-8")) ++
              frames.foldLeft(Array.emptyByteArray)(_ ++ _)
            ZstdCodec.zstdFrames(blob).zipWithIndex.flatMap {
              case (member, mi) =>
                Warc.parse(member).map { r =>
                  (group * 4 + mi, r.warcType, r.targetUri, r.recordId,
                    r.contentLength)
                }
            }
          }
        recs.toDF("doc_id", "warc_type", "target_uri", "record_id",
            "content_length")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'response' WHEN 1 THEN 'request'
                    ELSE 'metadata' END AS warc_type,
               CASE WHEN doc_id % 3 = 2 THEN NULL
                    ELSE 'https://host' || (doc_id % 7) || '.example/p/'
                         || doc_id END AS target_uri,
               '<urn:uuid:' || doc_id || '>' AS record_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS content_length
        FROM documents
        ORDER BY doc_id""")),

    // ----- WARC revisit-record dedup resolution -------------------------
    // Real Common Crawl is ~15% `revisit` records: the crawler saw a
    // page it already stored, so the record carries WARC-Refers-To and
    // NO payload — consumers must JOIN revisits back to their original
    // response by record-id or they silently drop that slice of the
    // corpus. Planted chains: every id%5==4 doc becomes a revisit of
    // the id-4 response (a DIFFERENT ingest blob, so resolution is
    // corpus-wide, not per-file). Parse is map-side; resolution is ONE
    // hash join on record-id (Warc.resolveRevisits). The oracle
    // replays the reference arithmetic in DuckDB: a revisit row must
    // surface the ORIGINAL's length and md5.
    QueryDef(
      "q327_warc_revisit_resolution",
      (s, dir) => {
        import s.implicits._
        val rows = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .mapPartitions { it =>
            val md = MessageDigest.getInstance("MD5")
            it.flatMap { case (id, text) =>
              val isRevisit = id % 5 == 4
              val blob =
                if (isRevisit)
                  Warc.encodeRecord("revisit",
                    Some(s"https://host${id % 7}.example/p/${id - 4}"),
                    s"<urn:uuid:$id>", Array.emptyByteArray,
                    refersTo = Some(s"<urn:uuid:${id - 4}>"))
                else
                  Warc.encodeRecord("response",
                    Some(s"https://host${id % 7}.example/p/$id"),
                    s"<urn:uuid:$id>", text.getBytes("UTF-8"))
              Warc.parse(blob).map { r =>
                md.reset()
                (id, r.warcType, r.recordId.getOrElse(""),
                  r.refersTo.orNull,
                  r.payload.length.toLong,
                  md.digest(r.payload).map("%02x".format(_)).mkString)
              }
            }
          }
          .toDF("doc_id", "warc_type", "record_id", "refers_to",
            "payload_len", "payload_md5")
        Warc.resolveRevisits(rows)
          .withColumnRenamed("payload_len", "n_payload")
          .withColumnRenamed("payload_md5", "md5")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 5 = 4 THEN 'revisit'
                    ELSE 'response' END AS warc_type,
               CAST(octet_length(encode(o.text)) AS BIGINT) AS n_payload,
               md5(o.text) AS md5,
               CAST(o.doc_id AS BIGINT) AS payload_from
        FROM documents d
        JOIN documents o
          ON o.doc_id = CASE WHEN d.doc_id % 5 = 4 THEN d.doc_id - 4
                             ELSE d.doc_id END
        ORDER BY d.doc_id""")),

    // ----- .warc.zst WITH a trained dictionary (round 12, closing the
    // no-dict trade-off): real Common Crawl .warc.zst compresses its
    // small per-record frames against a SHARED dictionary carried in
    // the file's leading skippable frame — without it every record
    // pays full entropy-table startup. Here a REAL ZDICT dictionary
    // (zstd-jni trainer, driver-side over a bounded doc sample,
    // broadcast) compresses every record frame; the decoder must parse
    // the dict (magic, id, Huffman + three FSE tables, repcodes,
    // content), preload frame state from it, window-prefix the
    // content, and match the declared dictionary id per frame. The
    // oracle is q250's — any dict-handling slip corrupts payloads
    // corpus-wide.
    QueryDef(
      "q333_warc_zst_dict",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
        // bounded, deterministic training sample (first 1000 by id)
        val sample = docs.orderBy($"doc_id").limit(1000)
          .as[(Long, String)].collect().map(_._2.getBytes("UTF-8"))
        val trainer = new com.github.luben.zstd.ZstdDictTrainer(
          sample.map(_.length).sum + 1024, 4096)
        sample.foreach(trainer.addSample)
        val dictBytes = trainer.trainSamples()
        val bc = s.sparkContext.broadcast(dictBytes)
        val recs = docs
          .as[(Long, String)]
          .groupByKey { case (id, _) => id / 4 }
          .flatMapGroups { (group, it) =>
            val dict = bc.value
            val ctx = new com.github.luben.zstd.ZstdCompressCtx()
            val frames = try {
              ctx.setLevel(3)
              ctx.setChecksum(true)
              ctx.loadDict(dict)
              it.toSeq.sortBy(_._1).map { case (id, text) =>
                ctx.compress(warcFixtureRecord(id, text))
              }
            } finally ctx.close()
            val blob = ZstdCodec.zstdSkippableFrame(dict) ++
              frames.foldLeft(Array.emptyByteArray)(_ ++ _)
            // the consumer side: dict OUT OF THE BLOB, then the walk
            val parsedDict = ZstdCodec.dictFromSkippable(blob)
            ZstdCodec.zstdFrames(blob, parsedDict).zipWithIndex.flatMap {
              case (member, mi) =>
                Warc.parse(member).map { r =>
                  (group * 4 + mi, r.warcType, r.targetUri, r.recordId,
                    r.contentLength)
                }
            }
          }
        recs.toDF("doc_id", "warc_type", "target_uri", "record_id",
            "content_length")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'response' WHEN 1 THEN 'request'
                    ELSE 'metadata' END AS warc_type,
               CASE WHEN doc_id % 3 = 2 THEN NULL
                    ELSE 'https://host' || (doc_id % 7) || '.example/p/'
                         || doc_id END AS target_uri,
               '<urn:uuid:' || doc_id || '>' AS record_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS content_length
        FROM documents
        ORDER BY doc_id""")),

    // ----- HTTP response parse: status / headers / chunked bodies ------
    // The layer between a WARC response payload and the HTML the text
    // family wants. Odd docs ship their body CHUNKED (hex-size lines
    // really decoded, not skipped); content-type parameters split out.
    // The oracle replays status/type/charset arithmetic and the exact
    // body length — a chunked mis-walk changes n_body.
    QueryDef(
      "q252_http_response_parse",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            MediaRecord(id,
              Http.encodeResponse(
                status = if (id % 5 == 4) 404 else 200,
                contentTypeValue = if (id % 3 == 0)
                  "text/HTML; charset=UTF-8" else "text/plain",
                body = text.getBytes("UTF-8"),
                chunked = id % 2 == 1),
              "message/http")
          }
        media.mapPartitions { it =>
          it.map { r =>
            val resp = Http.parseResponse(r.media)
            val ct = resp.flatMap(_.headers.get("content-type"))
            (r.doc_id, resp.map(_.status),
              ct.flatMap(Http.contentType),
              ct.flatMap(Http.charsetParam),
              resp.map(_.body.length.toLong))
          }
        }.toDF("doc_id", "status", "content_type", "charset", "n_body")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 5 = 4 THEN 404 ELSE 200 END AS INT)
                 AS status,
               CASE WHEN doc_id % 3 = 0 THEN 'text/html'
                    ELSE 'text/plain' END AS content_type,
               CASE WHEN doc_id % 3 = 0 THEN 'utf-8' END AS charset,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_body
        FROM documents
        ORDER BY doc_id""")),

    // ----- HTTP trailers after chunked bodies (round 12) ---------------
    // The streaming-server pattern the q252 parser previously dropped:
    // a checksum computed WHILE streaming lands in the trailer section
    // after the zero chunk (RFC 9112 §7.1.2). Every doc ships chunked
    // with an x-digest (md5-of-body) and x-len trailer; the parser
    // must walk past the zero chunk, surface both fields, and the
    // digest must verify against the decoded body — proving body and
    // trailer BOTH survived the chunk walk. The oracle replays md5/
    // length from the documents table directly.
    QueryDef(
      "q331_http_trailers",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .mapPartitions { it =>
            val md = MessageDigest.getInstance("MD5")
            it.map { case (id, text) =>
              val body = text.getBytes("UTF-8")
              md.reset()
              val digest = md.digest(body).map("%02x".format(_)).mkString
              val blob = Http.encodeResponse(200, "text/plain", body,
                chunked = true,
                trailers = Seq("x-digest" -> digest,
                  "x-len" -> body.length.toString))
              Http.parseResponse(blob) match {
                case Some(r) =>
                  md.reset()
                  val got = md.digest(r.body).map("%02x".format(_)).mkString
                  (id, r.status, r.body.length.toLong,
                    r.trailers.getOrElse("x-digest", ""),
                    r.trailers.get("x-digest").contains(got) &&
                      r.trailers.get("x-len")
                        .contains(r.body.length.toString))
                case None => (id, -1, -1L, "", false)
              }
            }
          }
          .toDF("doc_id", "status", "n_body", "trailer_digest",
            "digest_ok")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               200 AS status,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_body,
               md5(text) AS trailer_digest,
               TRUE AS digest_ok
        FROM documents
        ORDER BY doc_id""")),

    // ----- the WHOLE crawl ingestion chain in one query ----------------
    // .warc.gz -> gzip member walk -> WARC record split -> HTTP parse
    // (chunked bodies on odd docs) -> HTML main-text extraction with
    // the link-density cut: five operators composed, each one
    // transparent by construction, so the oracle is q240's main-text
    // replay plus the HTTP status — any layer leaking (a torn member,
    // a mis-jumped record, an undecoded chunk boundary inside the
    // HTML) corrupts main_text and hash-mismatches.
    QueryDef(
      "q253_crawl_ingest_end_to_end",
      (s, dir) => {
        import s.implicits._
        val recs = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .as[(Long, String)]
          .groupByKey { case (id, _) => id / 4 }
          .flatMapGroups { (group, it) =>
            val blob = it.toSeq.sortBy(_._1).map { case (id, text) =>
              val page =
                s"""<html><head><title>Doc $id</title></head><body>
                   |<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>
                   |<h1>Title $id</h1>
                   |<script>if (1 < 2) { alert("x & y"); }</script>
                   |<p>$text</p>
                   |<style>.footer { display: none; }</style>
                   |<p>Read much more in <a href="/arc">the archive</a> every single day</p>
                   |<p>Tom &amp; Jerry &lt;3</p>
                   |<div><a href="/p">Privacy</a> | <a href="/t">Terms</a></div>
                   |</body></html>""".stripMargin
              Compression.encodeGzip(
                Warc.encodeRecord("response",
                  Some(s"https://host${id % 7}.example/p/$id"),
                  s"<urn:uuid:$id>",
                  Http.encodeResponse(200, "text/html; charset=utf-8",
                    page.getBytes("UTF-8"), chunked = id % 2 == 1)),
                mtime = 0L, fname = None, fcomment = None)
            }.reduce(_ ++ _)
            Compression.gunzipMembers(blob).zipWithIndex.flatMap {
              case (member, mi) =>
                for {
                  rec <- Warc.parse(member)
                  resp <- Http.parseResponse(rec.payload)
                } yield {
                  val ext = HtmlExtract.mainText(
                    new String(resp.body, "UTF-8"), maxLinkDensity = 0.5)
                  (group * 4 + mi, resp.status, ext.main_text,
                    ext.n_blocks.toLong, ext.n_dropped.toLong)
                }
            }
          }
        recs.toDF("doc_id", "status", "main_text", "n_blocks", "n_dropped")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(200 AS INT) AS status,
               'Title ' || doc_id || chr(10)
                 || trim(regexp_replace(text, '\s+', ' ', 'g')) || chr(10)
                 || 'Read much more in the archive every single day'
                 || chr(10) || 'Tom & Jerry <3' AS main_text,
               CAST(4 AS BIGINT) AS n_blocks,
               CAST(2 AS BIGINT) AS n_dropped
        FROM documents
        ORDER BY doc_id""")),

    // ----- zstd frame header sniff -------------------------------------
    // gzip's modern sibling (RFC 8878): descriptor-driven field sizes
    // (dict-id 0/1/2/4 bytes, content-size 0/2/4/8), window descriptor
    // exponent+mantissa. Header-only by design — no zstd codec in the
    // JDK, and header-filter-before-decompress is the curation posture.
    // The oracle replays every field from the planted arithmetic.
    QueryDef(
      "q254_zstd_header_sniff",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            MediaRecord(id,
              Compression.encodeZstdHeader(
                windowLog = (20 + id % 8).toInt,
                dictId = (id % 4) match {
                  case 0 => 0L; case 1 => 200L; case 2 => 40000L
                  case _ => 5000000L
                },
                contentSize = if (id % 5 == 4) None
                  else Some(1000L + id),
                checksum = id % 2 == 0,
                payload = text.getBytes("UTF-8")),
              "application/zstd")
          }
        media.mapPartitions { it =>
          it.map { r =>
            val m = Compression.decodeZstdHeader(r.media)
            (r.doc_id, m.flatMap(_.windowSize), m.map(_.dictId),
              m.flatMap(_.contentSize), m.map(_.checksum))
          }
        }.toDF("doc_id", "window_size", "dict_id", "content_size",
            "has_checksum")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(power(2, 20 + doc_id % 8) AS BIGINT) AS window_size,
               CAST(CASE doc_id % 4 WHEN 0 THEN 0 WHEN 1 THEN 200
                    WHEN 2 THEN 40000 ELSE 5000000 END AS BIGINT)
                 AS dict_id,
               CASE WHEN doc_id % 5 = 4 THEN NULL
                    ELSE CAST(1000 + doc_id AS BIGINT) END AS content_size,
               doc_id % 2 = 0 AS has_checksum
        FROM documents
        ORDER BY doc_id""")),

    // Parquet file-shell sniff: each doc becomes a structurally valid
    // parquet shell ('PAR1' head, footer filler, u32 LE footer length,
    // 'PAR1'/'PARE' trailer — every 7th file footer-encrypted) with
    // the doc text as the column-chunk stand-in. The oracle replays
    // footer length, encryption flag, and total size from the variant
    // arithmetic; corrupt trailers (q-side malformed cases live in
    // CompressionWarcSpec) yield NULLs, never failed jobs.
    QueryDef(
      "q290_parquet_footer_sniff",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            MediaRecord(id,
              Compression.encodeParquetShell(
                text.getBytes("UTF-8"),
                footerLen = (100 + id % 50).toInt,
                encryptedFooter = id % 7 == 0),
              "application/vnd.apache.parquet")
          }
        media.mapPartitions { it =>
          it.map { r =>
            val m = Compression.decodeParquetShell(r.media)
            (r.doc_id, m.map(_.footerLen), m.map(_.encryptedFooter),
              r.media.length.toLong)
          }
        }.toDF("doc_id", "footer_len", "encrypted_footer", "n_bytes")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(100 + doc_id % 50 AS BIGINT) AS footer_len,
               doc_id % 7 = 0 AS encrypted_footer,
               CAST(12 + octet_length(encode(text)) + 100 + doc_id % 50
                    AS BIGINT) AS n_bytes
        FROM documents
        ORDER BY doc_id""")),

    // ----- the magic-number switchboard over ALL formats ---------------
    // Fifteen formats round-robin across the corpus, every blob a
    // byte-valid stream from the family's own emitters, and ONE
    // dispatcher routes each to its decoder. The oracle replays label
    // + salient numeric per variant — a misroute (or a decoder
    // loosening that lets text bytes pass a magic check) flips a row.
    QueryDef(
      "q255_content_type_sniff",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val tb = text.getBytes("UTF-8")
            val w = (16 + id % 624).toInt
            val h = (16 + (id * 7) % 464).toInt
            val rate3 = (id % 3) match {
              case 0 => 44100; case 1 => 48000; case _ => 32000
            }
            val bytes = (id % 15) match {
              case 0 => ImageHeaders.encodePng(w, h, 8, tb)
              case 1 => ImageHeaders.encodeJpeg(w, h, 8, tb)
              case 2 => ImageHeaders.encodeWebp("vp8", w, h, tb)
              case 3 => AudioHeaders.encodeWav(1, 8000, 16, 100L, tb)
              case 4 => AudioHeaders.encodeMp3(128, rate3, 3, 2, tb)
              case 5 => AudioHeaders.encodeFlac(rate3, 2, 16, 1000L, tb)
              case 6 => VideoHeaders.encodeMp4("isom",
                if (id % 3 == 0) 600 else 90000, 5000L, w, h, 1, tb)
              case 7 => Compression.encodeGzip(tb, 0L, None, None)
              case 8 => zstdJni(tb, 3) // REAL frame: the branch decodes
              case 9 => Warc.encodeRecord("response", None,
                s"<urn:uuid:$id>", tb)
              case 10 => TiffHeaders.encodeTiff(w, h, 8, 3,
                bigEndian = id % 2 == 1, tb)
              case 11 => VideoHeaders.encodeAvif("avif", w, h, 8, tb)
              case 12 => Pdf.encodePdf("1.7", (1 + id % 5).toInt,
                encrypted = false, tb)
              case 13 => tb ++ Array[Byte](0xc3.toByte, 0xa9.toByte)
              case _ => tb
            }
            MediaRecord(id, bytes, "application/octet-stream")
          }
        media.mapPartitions { it =>
          it.map { r =>
            val (fmt, detail) = sniffContent(r.media)
            (r.doc_id, fmt, detail)
          }
        }.toDF("doc_id", "format", "detail")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE doc_id % 15
                 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'webp'
                 WHEN 3 THEN 'wav' WHEN 4 THEN 'mp3' WHEN 5 THEN 'flac'
                 WHEN 6 THEN 'mp4' WHEN 7 THEN 'gzip' WHEN 8 THEN 'zstd'
                 WHEN 9 THEN 'warc' WHEN 10 THEN 'tiff' WHEN 11 THEN 'avif'
                 WHEN 12 THEN 'pdf' WHEN 13 THEN 'utf-8'
                 ELSE 'ascii' END AS format,
               CAST(CASE doc_id % 15
                 WHEN 0 THEN 16 + doc_id % 624
                 WHEN 1 THEN 16 + doc_id % 624
                 WHEN 2 THEN 16 + doc_id % 624
                 WHEN 3 THEN 8000
                 WHEN 4 THEN CASE doc_id % 3 WHEN 0 THEN 44100
                      WHEN 1 THEN 48000 ELSE 32000 END
                 WHEN 5 THEN CASE doc_id % 3 WHEN 0 THEN 44100
                      WHEN 1 THEN 48000 ELSE 32000 END
                 WHEN 6 THEN CASE WHEN doc_id % 3 = 0 THEN 600
                      ELSE 90000 END
                 WHEN 7 THEN octet_length(encode(text))
                 WHEN 8 THEN octet_length(encode(text))
                 WHEN 9 THEN 1
                 WHEN 10 THEN 16 + doc_id % 624
                 WHEN 11 THEN 16 + doc_id % 624
                 WHEN 12 THEN 1 + doc_id % 5
                 WHEN 13 THEN octet_length(encode(text)) + 2
                 ELSE octet_length(encode(text)) END AS BIGINT) AS detail
        FROM documents
        ORDER BY doc_id""")),

    // the dispatcher's ARCHIVE/CONTAINER wing: tar, zip, avro, and lz4
    // blobs routed by magic with a structure-verified salient numeric
    // (member/entry/record counts; lz4's declared content size). A
    // text blob cannot collide: tar needs a checksum-verified header,
    // zip the PK gate + central directory, avro the sync-verified
    // chain, lz4 the XXH32 header checksum.
    QueryDef(
      "q311_archive_dispatch",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val tb = text.getBytes("UTF-8")
            val bytes = (id % 4) match {
              case 0 => graft.operators.Archive.encodeTar(Seq(
                graft.operators.Archive.TarEntry(s"a$id.txt", tb, 1L),
                graft.operators.Archive.TarEntry("b.json", "{}".getBytes, 2L)))
              case 1 => graft.operators.Archive.encodeZip(Seq(
                (s"a$id.txt", tb, true), ("m.json", "{}".getBytes, false)))
              case 2 => graft.operators.Avro.encode("{}", "null",
                Array.fill(16)((id % 251).toByte),
                Seq((10 + id % 7, 30)))
              case _ => Compression.encodeLz4(tb)
            }
            MediaRecord(id, bytes, "application/octet-stream")
          }
        media.mapPartitions { it =>
          it.map { r =>
            val (fmt, detail) = sniffContent(r.media)
            (r.doc_id, fmt, detail)
          }
        }.toDF("doc_id", "format", "detail")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE doc_id % 4 WHEN 0 THEN 'tar' WHEN 1 THEN 'zip'
                 WHEN 2 THEN 'avro' ELSE 'lz4' END AS format,
               CAST(CASE doc_id % 4
                 WHEN 0 THEN 2
                 WHEN 1 THEN 2
                 WHEN 2 THEN 10 + doc_id % 7
                 ELSE octet_length(encode(text)) END AS BIGINT) AS detail
        FROM documents
        ORDER BY doc_id""")),

    // TWO-STAGE dispatch: real blob stores nest formats (.tgz shards,
    // gzipped images) — the dispatcher runs, and when the outer layer
    // is a gzip member the payload DECODES and re-dispatches. Planted:
    // gzip(tar), gzip(png), and a plain zip control. The oracle
    // replays outer/inner labels and the inner salient numeric
    // (member count / png width / entry count).
    QueryDef(
      "q323_nested_dispatch",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val tb = text.getBytes("UTF-8")
            val blob = (id % 4) match {
              case 0 =>
                val tar = graft.operators.Archive.encodeTar(Seq(
                  graft.operators.Archive.TarEntry(s"a$id.txt", tb, 1L),
                  graft.operators.Archive.TarEntry("b.json", "{}".getBytes, 2L)))
                Compression.encodeGzip(tar, 0L, Some(s"s$id.tar"), None)
              case 1 =>
                Compression.encodeGzip(
                  ImageHeaders.encodePng((16 + id % 624).toInt, 32, 8, tb),
                  0L, None, None)
              case 2 => graft.operators.Archive.encodeZip(Seq(
                (s"a$id.txt", tb, true), ("m.json", "{}".getBytes, false)))
              case _ => // .tar.zst: the modern shard wrapper (round 12)
                zstdJni(graft.operators.Archive.encodeTar(Seq(
                  graft.operators.Archive.TarEntry(s"a$id.txt", tb, 1L),
                  graft.operators.Archive.TarEntry("b.json", "{}".getBytes, 2L))),
                  level = 3)
            }
            // container outers decode ONCE (magic-gated), then the
            // payload re-dispatches — routing through sniffContent
            // first would decode the zstd frame twice (its zstd branch
            // fully decodes for the detail)
            def magic(m: Int*): Boolean = blob.length >= m.length &&
              m.zipWithIndex.forall { case (v, i) => (blob(i) & 0xff) == v }
            val (outer, inner, detail) =
              if (magic(0x1f, 0x8b))
                Compression.gunzip(blob) match {
                  case Some(payload) =>
                    val (f, dd) = sniffContent(payload)
                    ("gzip", f, dd)
                  case None => ("gzip", "corrupt", None)
                }
              else if (magic(0x28, 0xb5, 0x2f, 0xfd))
                ZstdCodec.zstdDecompress(blob) match {
                  case Some(payload) =>
                    val (f, dd) = sniffContent(payload)
                    ("zstd", f, dd)
                  case None => ("zstd", "corrupt", None)
                }
              else {
                val (f, dd) = sniffContent(blob)
                (f, f, dd)
              }
            (id, outer, inner, detail.getOrElse(-1L))
          }
          .toDF("doc_id", "outer_format", "inner_format", "detail")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE doc_id % 4 WHEN 2 THEN 'zip' WHEN 3 THEN 'zstd'
                 ELSE 'gzip' END AS outer_format,
               CASE doc_id % 4 WHEN 0 THEN 'tar' WHEN 1 THEN 'png'
                 WHEN 2 THEN 'zip' ELSE 'tar' END AS inner_format,
               CAST(CASE doc_id % 4
                 WHEN 1 THEN 16 + doc_id % 624
                 ELSE 2 END AS BIGINT) AS detail
        FROM documents
        ORDER BY doc_id""")),

    // lz4 frame sniff on its own: block-max code sweep (64 KB..4 MB),
    // content-size flag by parity, and the hashed presence of every
    // field PROVES the XXH32 header checksum verified (the emitter
    // computes a real one; decode rejects forgeries — spec-tested).
    QueryDef(
      "q312_lz4_frame_sniff",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val blob = Compression.encodeLz4(text.getBytes("UTF-8"),
              blockMaxCode = (4 + id % 4).toInt,
              withContentSize = id % 2 == 0)
            Compression.decodeLz4Header(blob) match {
              case Some(m) => (id, m.blockMaxKb.toLong, m.contentSize,
                m.blockChecksums)
              case None => (id, -1L, None: Option[Long], false)
            }
          }
          .toDF("doc_id", "block_max_kb", "content_size", "block_checksums")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(64 * power(4, doc_id % 4) AS BIGINT) AS block_max_kb,
               CASE WHEN doc_id % 2 = 0
                    THEN CAST(octet_length(encode(text)) AS BIGINT)
                    ELSE NULL END AS content_size,
               FALSE AS block_checksums
        FROM documents
        ORDER BY doc_id""")),

    // ----- TIFF header decode: the scan/archival format ----------------
    // The document-crawl format q229/q238 were missing: each doc becomes
    // a byte-valid TIFF whose IFD0 sits AFTER the doc text (the header's
    // IFD offset must jump it — offsets vary with every doc), endianness
    // alternating II/MM by doc parity, and BitsPerSample alternating the
    // two value encodings the spec allows: grayscale (count 1, INLINE in
    // the entry's value field) vs RGB (count 3, OFFSET-valued past the
    // IFD). The decoder reads dims/depth back OUT OF THE IFD; the oracle
    // replays the formula + exact stream lengths per variant — a wrong
    // endianness, offset base, or inline/offset decision hash-mismatches.
    QueryDef(
      "q258_tiff_header_decode",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val w = (16 + id % 624).toInt
            val h = (16 + (id * 7) % 464).toInt
            val samples = if (id % 4 < 2) 1 else 3
            val bits = if (samples == 1) (if (id % 4 == 0) 8 else 16) else 8
            MediaRecord(id,
              TiffHeaders.encodeTiff(w, h, bits, samples,
                bigEndian = id % 2 == 1, note = text.getBytes("UTF-8")),
              "image/tiff")
          }
        decodeImageHeaders(media).toDF().orderBy($"doc_id")
      },
      // stream length: 8 hdr + len note + 54 IFD + (count-3 bps: 6)
      Some("""
        SELECT doc_id,
               'tiff' AS format,
               CAST(16 + doc_id % 624 AS INT) AS width,
               CAST(16 + (doc_id * 7) % 464 AS INT) AS height,
               CAST(CASE WHEN doc_id % 4 = 0 THEN 8 WHEN doc_id % 4 = 1
                    THEN 16 ELSE 8 END AS INT) AS bit_depth,
               CAST(62 + octet_length(encode(text))
                    + CASE WHEN doc_id % 4 >= 2 THEN 6 ELSE 0 END
                    AS BIGINT) AS n_bytes
        FROM documents
        ORDER BY doc_id""")),

    // ----- EXIF orientation: the field a resize stage must honor -------
    // Each doc becomes a byte-valid JPEG carrying an EXIF APP1 (a real
    // TIFF IFD embedded at segment offset 10 — Make offset-valued ASCII,
    // Orientation inline SHORT, endianness alternating by parity) plus a
    // variable-length COM the marker walk must hop. BOTH decoders run:
    // the EXIF walk pulls orientation/make out of the embedded IFD, and
    // the plain header decode must still see the same stream as a
    // baseline JPEG (the APP1 is just another hoppable segment). The
    // oracle replays every field and the exact stream length.
    QueryDef(
      "q259_exif_orientation",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val w = (16 + id % 624).toInt
            val h = (16 + (id * 7) % 464).toInt
            MediaRecord(id,
              TiffHeaders.encodeJpegExif(w, h,
                orientation = (1 + id % 8).toInt, make = s"Cam${id % 9}",
                bigEndian = id % 2 == 1, rawComment = text.getBytes("UTF-8")),
              "image/jpeg")
          }
        media.mapPartitions { it =>
          it.map { r =>
            val exif = TiffHeaders.decodeJpegExif(r.media)
            val img = ImageHeaders.decode(r.media)
            (r.doc_id, exif.map(_.orientation), exif.flatMap(_.make),
              img.map(_.format), img.map(_.width), img.map(_.height),
              r.media.length.toLong)
          }
        }.toDF("doc_id", "orientation", "make", "format", "width",
            "height", "n_bytes")
          .orderBy($"doc_id")
      },
      // stream length: 2 SOI + 49+|make| APP1 + 4+len COM (clamped to
      // one segment) + 19 SOF0 + 2 EOI; |make| = 4 ('Cam' + one digit)
      Some("""
        SELECT doc_id,
               CAST(1 + doc_id % 8 AS INT) AS orientation,
               'Cam' || (doc_id % 9) AS make,
               'jpeg' AS format,
               CAST(16 + doc_id % 624 AS INT) AS width,
               CAST(16 + (doc_id * 7) % 464 AS INT) AS height,
               CAST(80 + LEAST(octet_length(encode(text)), 65533)
                    AS BIGINT) AS n_bytes
        FROM documents
        ORDER BY doc_id""")),

    // ----- EXIF-aware image curation: orientation-corrected filtering --
    // The step q259's decode exists FOR: a resize/crop stage must use
    // RENDERED dims, and orientations 5-8 transpose them (the camera
    // was held sideways). Filters on raw header dims silently pass
    // portrait shots a landscape-only pipeline should cut. Decode →
    // swap on 5-8 → aspect filter, all row-local on decoded metadata;
    // the oracle replays the swap and the aspect arithmetic.
    QueryDef(
      "q274_exif_oriented_filter",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val w = (16 + id % 624).toInt
            val h = (16 + (id * 7) % 464).toInt
            MediaRecord(id,
              TiffHeaders.encodeJpegExif(w, h,
                orientation = (1 + id % 8).toInt, make = s"Cam${id % 9}",
                bigEndian = id % 2 == 1, rawComment = text.getBytes("UTF-8")),
              "image/jpeg")
          }
        media.mapPartitions { it =>
          it.map { r =>
            val exif = TiffHeaders.decodeJpegExif(r.media)
            val img = ImageHeaders.decode(r.media)
            (r.doc_id, exif.map(_.orientation).getOrElse(1),
              img.map(_.width).getOrElse(0), img.map(_.height).getOrElse(0))
          }
        }.toDF("doc_id", "orientation", "w", "h")
          .select($"doc_id", $"orientation",
            when($"orientation" >= 5, $"h").otherwise($"w")
              .as("oriented_w"),
            when($"orientation" >= 5, $"w").otherwise($"h")
              .as("oriented_h"))
          .withColumn("aspect",
            round($"oriented_w".cast("double")
              / when($"oriented_h" > 0, $"oriented_h"), 4))
          .withColumn("kept", $"aspect".between(0.5, 2.0))
          .orderBy($"doc_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CAST(1 + doc_id % 8 AS INT) AS orientation,
                 16 + doc_id % 624 AS w,
                 16 + (doc_id * 7) % 464 AS h
          FROM documents)
        SELECT doc_id, orientation,
               CAST(CASE WHEN orientation >= 5 THEN h ELSE w END AS INT)
                 AS oriented_w,
               CAST(CASE WHEN orientation >= 5 THEN w ELSE h END AS INT)
                 AS oriented_h,
               round(CAST(CASE WHEN orientation >= 5 THEN h ELSE w END
                          AS DOUBLE)
                     / (CASE WHEN orientation >= 5 THEN w ELSE h END), 4)
                 AS aspect,
               round(CAST(CASE WHEN orientation >= 5 THEN h ELSE w END
                          AS DOUBLE)
                     / (CASE WHEN orientation >= 5 THEN w ELSE h END), 4)
                 BETWEEN 0.5 AND 2.0 AS kept
        FROM d
        ORDER BY doc_id""")),

    // ----- AVIF / HEIC header decode: the modern crawl image mix -------
    // HEIF containers reuse the MP4 box grammar with a different tree:
    // dims live in meta(FULL box)>iprp>ipco>ispe, bit depth in pixi.
    // Each doc becomes a byte-valid header-only container — ftyp (brand
    // avif/heic by parity), a free box carrying the text (the walk must
    // hop it), then the meta tree. The decoder re-derives
    // format/dims/depth from the box chain via the image decode chain
    // (dispatcher coverage included); the oracle replays the formula
    // and the exact stream length.
    QueryDef(
      "q260_avif_header_decode",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val w = (16 + id % 624).toInt
            val h = (16 + (id * 7) % 464).toInt
            val brand = if (id % 2 == 0) "avif" else "heic"
            val depth = if (id % 3 == 0) 10 else 8
            MediaRecord(id,
              VideoHeaders.encodeAvif(brand, w, h, depth,
                text.getBytes("UTF-8")),
              s"image/$brand")
          }
        decodeImageHeaders(media).toDF().orderBy($"doc_id")
      },
      // stream length: 24 ftyp + 8+len free + 97 meta tree
      Some("""
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'avif' ELSE 'heic' END AS format,
               CAST(16 + doc_id % 624 AS INT) AS width,
               CAST(16 + (doc_id * 7) % 464 AS INT) AS height,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 10 ELSE 8 END AS INT)
                 AS bit_depth,
               CAST(129 + octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
        ORDER BY doc_id""")),

    // ----- PDF structure sniff: the document-crawl workhorse -----------
    // Each doc becomes a structurally-valid classic-xref PDF: catalog,
    // page tree (1+id%5 pages), page objects, a content stream carrying
    // the doc text (its length SHIFTS every later object's byte offset,
    // so the xref entries are real arithmetic, not constants), an
    // /Encrypt dict on id%7=0, then the xref table + trailer. The
    // decoder must anchor on startxref, walk the table, and FOLLOW the
    // offsets (catalog → /Pages → /Count); the oracle replays
    // version/pages/objects/encrypted from doc_id arithmetic — a
    // mis-parsed offset or a trailer misread flips a row.
    QueryDef(
      "q261_pdf_sniff",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            MediaRecord(id,
              Pdf.encodePdf(
                version = s"1.${4 + id % 4}",
                nPages = (1 + id % 5).toInt,
                encrypted = id % 7 == 0,
                payload = text.getBytes("UTF-8")),
              "application/pdf")
          }
        media.mapPartitions { it =>
          it.map { r =>
            val m = Pdf.decodePdf(r.media)
            (r.doc_id, m.map(_.version), m.map(_.nPages),
              m.map(_.nObjects), m.map(_.encrypted))
          }
        }.toDF("doc_id", "version", "n_pages", "n_objects", "encrypted")
          .orderBy($"doc_id")
      },
      // objects: catalog + pages + nPages pages + 1 stream (+1 encrypt)
      Some("""
        SELECT doc_id,
               '1.' || (4 + doc_id % 4) AS version,
               CAST(1 + doc_id % 5 AS INT) AS n_pages,
               CAST(3 + (1 + doc_id % 5)
                    + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS INT)
                 AS n_objects,
               doc_id % 7 = 0 AS encrypted
        FROM documents
        ORDER BY doc_id""")),

    // ----- PDF content-stream TEXT extraction (round 14) ---------------
    // The docs modality past the object walk: each doc becomes a
    // classic-xref PDF whose pages carry REAL text operators (Td+Tj,
    // TD+Tj with escapes, T*+TJ kerned arrays, Tm+hex Tj), half of
    // them FlateDecode'd; Pdf.extractText walks catalog → /Kids →
    // /Contents (incl. indirect /Length), inflates, tokenizes, and
    // must reproduce the planted lines byte-exactly — the oracle
    // rebuilds them from doc_id arithmetic. Map-only per blob.
    QueryDef(
      "q377_pdf_text_extract",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val nPages = (1 + id % 3).toInt
            val pages = (0 until nPages).map { p =>
              val nLines = (2 + (id + p) % 3).toInt
              (0 until nLines).map(k =>
                s"d$id p$p l$k (${(id * 7 + p * 3 + k) % 100})")
            }
            val blob = Pdf.encodeTextPdf(s"1.${4 + id % 4}", pages,
              flate = id % 2 == 0)
            (Pdf.decodePdf(blob), Pdf.extractText(blob)) match {
              case (Some(m), Some(lines)) =>
                (id, m.nPages, lines.length, lines.mkString("\n"))
              case _ => (id, -1, -1, "")
            }
          }
          .toDF("doc_id", "n_pages", "n_lines", "text")
          .orderBy($"doc_id")
      },
      Some("""
        WITH pg AS (
          SELECT doc_id,
                 unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS p
          FROM documents),
        ln AS (
          SELECT doc_id, p,
                 unnest(generate_series(0,
                   1 + CAST((doc_id + p) % 3 AS INT))) AS k
          FROM pg),
        lines AS (
          SELECT doc_id, p, k,
                 'd' || doc_id || ' p' || p || ' l' || k || ' (' ||
                   ((doc_id * 7 + p * 3 + k) % 100) || ')' AS line
          FROM ln)
        SELECT doc_id,
               CAST(1 + doc_id % 3 AS INT) AS n_pages,
               CAST(COUNT(*) AS INT) AS n_lines,
               string_agg(line, chr(10) ORDER BY p, k) AS text
        FROM lines
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- PDF 1.5+ cross-reference streams + object streams (r15) ------
    // The MODERN PDF layout (the one every current writer emits, and the
    // round-14 verdict's top corpus gap): the catalog/page-tree/font
    // dicts live compressed inside an /ObjStm, and the cross-reference
    // is a /Type /XRef STREAM — FlateDecode'd [type,field2,field3]
    // records under /W widths, PNG-Up predictor-coded on even ids. The
    // decoder must inflate + unpredict the xref, resolve type-2 entries
    // through the object stream, then run the same text tokenizer as
    // q377. Oracle replays version/pages/objects/lines from doc_id
    // arithmetic — a mis-unpredicted row or a torn ObjStm slice flips
    // a row. Map-only per blob.
    QueryDef(
      "q397_pdf_xref_stream_text",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val nPages = (1 + id % 3).toInt
            val pages = (0 until nPages).map { p =>
              val nLines = (2 + (id + p) % 3).toInt
              (0 until nLines).map(k =>
                s"x$id p$p l$k (${(id * 11 + p * 5 + k) % 100})")
            }
            val blob = Pdf.encodeXrefPdf(s"1.${5 + id % 3}", pages,
              encrypted = false, predictor = if (id % 2 == 0) 12 else 1)
            (Pdf.decodePdf(blob), Pdf.extractText(blob)) match {
              case (Some(m), Some(lines)) =>
                (id, m.version, m.nPages, m.nObjects, lines.length,
                  lines.mkString("\n"))
              case _ => (id, "", -1, -1, -1, "")
            }
          }
          .toDF("doc_id", "version", "n_pages", "n_objects", "n_lines",
            "text")
          .orderBy($"doc_id")
      },
      // objects: catalog + pages + n pages + font + n content streams
      // + the ObjStm + the XRef stream = 5 + 2n
      Some("""
        WITH pg AS (
          SELECT doc_id,
                 unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS p
          FROM documents),
        ln AS (
          SELECT doc_id, p,
                 unnest(generate_series(0,
                   1 + CAST((doc_id + p) % 3 AS INT))) AS k
          FROM pg),
        lines AS (
          SELECT doc_id, p, k,
                 'x' || doc_id || ' p' || p || ' l' || k || ' (' ||
                   ((doc_id * 11 + p * 5 + k) % 100) || ')' AS line
          FROM ln)
        SELECT doc_id,
               '1.' || (5 + doc_id % 3) AS version,
               CAST(1 + doc_id % 3 AS INT) AS n_pages,
               CAST(5 + 2 * (1 + doc_id % 3) AS INT) AS n_objects,
               CAST(COUNT(*) AS INT) AS n_lines,
               string_agg(line, chr(10) ORDER BY p, k) AS text
        FROM lines
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- font sniff: TTF / OTF / WOFF (round 15) ----------------------
    // Web-asset triage: each doc becomes an sfnt (TrueType 0x00010000 /
    // 'OTTO') or a WOFF 1.0 wrapper (zlib-compressed name table, stored
    // head/maxp), with family/subfamily planted in BOTH the Mac Latin-1
    // and Windows UTF-16BE name records (decoder must prefer Windows),
    // glyph count in maxp, units-per-em in head. The oracle replays all
    // fields from doc_id arithmetic — a misread table offset, a
    // mis-inflated WOFF table, or a wrong name-record preference flips
    // a row. Map-only per blob.
    QueryDef(
      "q398_font_sniff",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val fam = s"Fam ${id % 97}"
            val sub = (id % 3) match {
              case 0 => "Regular"; case 1 => "Bold"; case _ => "Italic"
            }
            val glyphs = (10 + id % 1000).toInt
            val upem = if (id % 2 == 0) 2048 else 1000
            val blob = (id % 3) match {
              case 0 => Font.encodeSfnt("ttf", fam, sub, glyphs, upem)
              case 1 => Font.encodeSfnt("otf", fam, sub, glyphs, upem)
              case _ => Font.encodeWoff(if (id % 2 == 0) "ttf" else "otf",
                fam, sub, glyphs, upem)
            }
            Font.decodeFont(blob) match {
              case Some(m) => (id, m.container, m.family.getOrElse(""),
                m.subfamily.getOrElse(""), m.nTables,
                m.nGlyphs.getOrElse(-1), m.unitsPerEm.getOrElse(-1))
              case None => (id, "", "", "", -1, -1, -1)
            }
          }
          .toDF("doc_id", "container", "family", "subfamily", "n_tables",
            "n_glyphs", "units_per_em")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'ttf' WHEN 1 THEN 'otf'
                 ELSE 'woff' END AS container,
               'Fam ' || (doc_id % 97) AS family,
               CASE doc_id % 3 WHEN 0 THEN 'Regular' WHEN 1 THEN 'Bold'
                 ELSE 'Italic' END AS subfamily,
               CAST(3 AS INT) AS n_tables,
               CAST(10 + doc_id % 1000 AS INT) AS n_glyphs,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 2048 ELSE 1000 END
                 AS INT) AS units_per_em
        FROM documents
        ORDER BY doc_id""")),

    // ----- vCard parse: RFC 6350 (round 15) -----------------------------
    // The contacts sibling of q394's iCal: unfolding (values folded at
    // 75 octets across physical lines), parameters (TYPE=..., group
    // prefixes item1.EMAIL), TEXT escaping in FN/N/ORG, the structured
    // N split on unescaped ';', repeated-FN first-wins, and multi-card
    // streams (fields from the FIRST card, every complete card
    // counted). Oracle replays all fields from doc_id arithmetic.
    QueryDef(
      "q399_vcard_parse",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val version = Seq("2.1", "3.0", "4.0")((id % 3).toInt)
            val nCards = (1 + id % 2).toInt
            val cards = (0 until nCards).map { c =>
              Vcard.CardFixture(s"Person ${(id + c) % 1000}",
                s"Fam;${(id + c) % 50}", s"Giv${(id + c) % 25}",
                s"Org, ${(id + c) % 17}",
                (0 until ((id + c) % 4).toInt).map(i => s"e$i@x.test"),
                (0 until ((id / 2 + c) % 3).toInt).map(i => s"+$i"))
            }
            val blob = Vcard.encodeVcard(version, cards)
            Vcard.decodeVcard(blob) match {
              case Some(m) => (id, m.version, m.fn.getOrElse(""),
                m.family.getOrElse(""), m.given.getOrElse(""),
                m.org.getOrElse(""), m.nEmails, m.nTels, m.nCards)
              case None => (id, "", "", "", "", "", -1, -1, -1)
            }
          }
          .toDF("doc_id", "version", "fn", "family", "given", "org",
            "n_emails", "n_tels", "n_cards")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN '2.1' WHEN 1 THEN '3.0'
                 ELSE '4.0' END AS version,
               'Person ' || (doc_id % 1000) AS fn,
               'Fam;' || (doc_id % 50) AS family,
               'Giv' || (doc_id % 25) AS given,
               'Org, ' || (doc_id % 17) AS org,
               CAST(doc_id % 4 AS INT) AS n_emails,
               CAST((doc_id // 2) % 3 AS INT) AS n_tels,
               CAST(1 + doc_id % 2 AS INT) AS n_cards
        FROM documents
        ORDER BY doc_id""")),

    // ----- torrent metainfo via bencode (round 15) ----------------------
    // Dataset-distribution metadata: each doc becomes a BEP-3 metainfo
    // (single-file on doc_id%3=0, multi-file otherwise with per-file
    // planted sizes), keys emitted in the spec's sorted order, the
    // pieces string carrying exactly ceil(total/pieceLength) 20-byte
    // entries. The oracle replays announce/name/pieceLength and the
    // file-size SUM + piece-count ceiling from doc_id arithmetic — a
    // mis-parsed integer, a torn dict, or a wrong ceil flips a row.
    QueryDef(
      "q400_torrent_metainfo",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val pl = 16384L << (id % 3)
            val nFiles = (1 + id % 3).toInt
            val sizes = (0 until nFiles).map(k =>
              100000L + (id * 13 + k * 7919) % 500000)
            val blob = Bencode.encodeTorrent(
              s"udp://tracker${id % 5}.example.test/ann", s"ds-${id % 1000}",
              pl, sizes, id)
            Bencode.decodeTorrent(blob) match {
              case Some(m) => (id, m.announce.getOrElse(""), m.name,
                m.pieceLength, m.nFiles, m.totalSize, m.nPieces)
              case None => (id, "", "", -1L, -1, -1L, -1)
            }
          }
          .toDF("doc_id", "announce", "name", "piece_length", "n_files",
            "total_size", "n_pieces")
          .orderBy($"doc_id")
      },
      Some("""
        WITH f AS (
          SELECT doc_id,
                 unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS k
          FROM documents),
        sz AS (
          SELECT doc_id,
                 CAST(sum(100000 + (doc_id * 13 + k * 7919) % 500000)
                   AS BIGINT) AS total,
                 CAST(count(*) AS INT) AS nf
          FROM f GROUP BY doc_id)
        SELECT doc_id,
               'udp://tracker' || (doc_id % 5) || '.example.test/ann'
                 AS announce,
               'ds-' || (doc_id % 1000) AS name,
               CAST(16384 * power(2, doc_id % 3) AS BIGINT)
                 AS piece_length,
               nf AS n_files,
               total AS total_size,
               CAST((total + CAST(16384 * power(2, doc_id % 3) AS BIGINT)
                     - 1) // CAST(16384 * power(2, doc_id % 3) AS BIGINT)
                 AS INT) AS n_pieces
        FROM sz
        ORDER BY doc_id""")),

    // ----- DOCX text extraction (round 15) ------------------------------
    // Office documents, the largest text population after HTML/PDF:
    // each doc becomes an ECMA-376 WordprocessingML package (plain ZIP
    // — the existing zipEntries/unzipEntry walk) whose paragraphs are
    // SPLIT across multiple <w:t> runs by the emitter (the editor
    // behavior extraction must undo), with tabs as <w:tab/>, entities
    // escaped, an empty <w:p/> on id%4=0, Dublin Core title/creator,
    // and the main part at a NON-default path on odd ids (resolved
    // through _rels, never hard-coded). Oracle replays everything from
    // doc_id arithmetic. Map-only per blob.
    QueryDef(
      "q401_docx_text_extract",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val nP = (2 + id % 3).toInt
            val paras = (0 until nP).map { k =>
              if (k == 0) s"t${id % 50}\tv${(id * 3) % 100}"
              else if (k == 1 && id % 4 == 0) ""
              else s"w$id k$k (${(id * 5 + k) % 100})"
            }
            val blob = Docx.encodeDocx(s"Title ${id % 40}",
              s"Author ${id % 23}", paras,
              mainPath = if (id % 2 == 0) "word/document.xml"
                else s"word/part${id % 7}.xml")
            Docx.decodeDocx(blob) match {
              case Some(m) => (id, m.title.getOrElse(""),
                m.creator.getOrElse(""), m.nParagraphs, m.text)
              case None => (id, "", "", -1, "")
            }
          }
          .toDF("doc_id", "title", "creator", "n_paragraphs", "text")
          .orderBy($"doc_id")
      },
      Some("""
        WITH pg AS (
          SELECT doc_id,
                 unnest(generate_series(0, 1 + CAST(doc_id % 3 AS INT)))
                   AS k
          FROM documents),
        ln AS (
          SELECT doc_id, k,
                 CASE
                   WHEN k = 0 THEN 't' || (doc_id % 50) || chr(9) ||
                     'v' || ((doc_id * 3) % 100)
                   WHEN k = 1 AND doc_id % 4 = 0 THEN ''
                   ELSE 'w' || doc_id || ' k' || k || ' (' ||
                     ((doc_id * 5 + k) % 100) || ')'
                 END AS para
          FROM pg)
        SELECT doc_id,
               'Title ' || (doc_id % 40) AS title,
               'Author ' || (doc_id % 23) AS creator,
               CAST(COUNT(*) AS INT) AS n_paragraphs,
               string_agg(para, chr(10) ORDER BY k) AS text
        FROM ln
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- XLSX cell extraction (round 15) ------------------------------
    // The tabular OOXML sibling of q401: shared-string indirection
    // (plain + rich-run entries, deduped by the emitter), inline
    // strings, numeric cells summed, sheet parts resolved through TWO
    // relationship hops (package rels → workbook, workbook rels →
    // r:id targets). Oracle replays sheet/row/cell counts, the numeric
    // sum, and the tab/newline-joined string-cell text from doc_id
    // arithmetic. Map-only per blob.
    QueryDef(
      "q402_xlsx_cell_extract",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val nSheets = (1 + id % 2).toInt
            val sheets = (0 until nSheets).map { sh =>
              (s"Sheet $sh", (0 until (1 + (id + sh) % 3).toInt).map { r =>
                Seq[Either[String, Long]](
                  Left(s"s$sh r$r d${(id * 7 + r) % 100}"),
                  Right(id * 3 + sh * 10 + r),
                  Left(s"k${(id + r) % 50}"),
                  Right((id + r * 13) % 1000))
              })
            }
            Xlsx.decodeXlsx(Xlsx.encodeXlsx(sheets)) match {
              case Some(m) => (id, m.nSheets, m.firstSheetName, m.nRows,
                m.nCells, math.rint(m.numericSum * 10000) / 10000, m.text)
              case None => (id, -1, "", -1, -1, -1.0d, "")
            }
          }
          .toDF("doc_id", "n_sheets", "first_sheet", "n_rows", "n_cells",
            "numeric_sum", "text")
          .orderBy($"doc_id")
      },
      Some("""
        WITH sh AS (
          SELECT doc_id,
                 unnest(generate_series(0, CAST(doc_id % 2 AS INT))) AS s
          FROM documents),
        rw AS (
          SELECT doc_id, s,
                 unnest(generate_series(0,
                   CAST((doc_id + s) % 3 AS INT))) AS r
          FROM sh),
        cells AS (
          SELECT doc_id, s, r,
                 's' || s || ' r' || r || ' d' || ((doc_id * 7 + r) % 100)
                   || chr(9) || 'k' || ((doc_id + r) % 50) AS rowtext,
                 (doc_id * 3 + s * 10 + r) + ((doc_id + r * 13) % 1000)
                   AS rowsum
          FROM rw),
        persheet AS (
          SELECT doc_id, s,
                 string_agg(rowtext, chr(10) ORDER BY r) AS stext,
                 sum(rowsum) AS ssum, count(*) AS srows
          FROM cells GROUP BY doc_id, s)
        SELECT doc_id,
               CAST(1 + doc_id % 2 AS INT) AS n_sheets,
               'Sheet 0' AS first_sheet,
               CAST(sum(srows) AS INT) AS n_rows,
               CAST(sum(srows) * 4 AS INT) AS n_cells,
               round(CAST(sum(ssum) AS DOUBLE), 4) AS numeric_sum,
               string_agg(stext, chr(10) ORDER BY s) AS text
        FROM persheet
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- PPTX slide text (round 15) -----------------------------------
    // The third OOXML population: DrawingML runs reassemble per <a:p>,
    // shapes count across the deck, and deck ORDER comes from
    // <p:sldIdLst> — the emitter stores deck slide 0 in the HIGHEST
    // numbered part file, so a file-name walk reads the deck backwards
    // and flips every row. Oracle replays from doc_id arithmetic.
    QueryDef(
      "q403_pptx_slide_text",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val slides = (0 until (1 + id % 3).toInt).map { sl =>
              (s"T$id s$sl", (0 until ((id + sl) % 3).toInt).map(p =>
                s"b$sl.$p (${(id * 3 + sl + p) % 100})"))
            }
            Pptx.decodePptx(Pptx.encodePptx(slides)) match {
              case Some(m) => (id, m.nSlides, m.nShapes, m.text)
              case None => (id, -1, -1, "")
            }
          }
          .toDF("doc_id", "n_slides", "n_shapes", "text")
          .orderBy($"doc_id")
      },
      Some("""
        WITH sl AS (
          SELECT doc_id,
                 unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS s
          FROM documents),
        para AS (
          SELECT doc_id, s, CAST((doc_id + s) % 3 AS INT) AS np
          FROM sl),
        body AS (
          SELECT p.doc_id, p.s,
                 string_agg('b' || p.s || '.' || k.k || ' (' ||
                   ((p.doc_id * 3 + p.s + k.k) % 100) || ')',
                   chr(10) ORDER BY k.k) AS btext
          FROM para p, LATERAL (
            SELECT unnest(generate_series(0, p.np - 1)) AS k) k
          WHERE p.np > 0
          GROUP BY p.doc_id, p.s),
        slide AS (
          SELECT para.doc_id, para.s,
                 CASE WHEN para.np = 0 THEN 1 ELSE 2 END AS shapes,
                 'T' || para.doc_id || ' s' || para.s ||
                   CASE WHEN body.btext IS NULL THEN ''
                        ELSE chr(10) || body.btext END AS stext
          FROM para LEFT JOIN body
            ON para.doc_id = body.doc_id AND para.s = body.s)
        SELECT doc_id,
               CAST(1 + doc_id % 3 AS INT) AS n_slides,
               CAST(sum(shapes) AS INT) AS n_shapes,
               string_agg(stext, chr(10) ORDER BY s) AS text
        FROM slide
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- office-corpus triage composition (round 15) ------------------
    // The composition contract (q384/q390 discipline): the round's
    // document decoders feeding a DISTRIBUTED aggregation whose
    // shuffle carries (format, n_chars) keys, never blobs. Docs route
    // by id%5 into docx / xlsx / pptx / epub / modern-PDF containers;
    // each decodes map-side to (format, extracted-text length), then
    // one groupBy yields the corpus profile. The oracle replays the
    // per-format doc counts and summed text lengths arithmetically.
    QueryDef(
      "q404_office_corpus_profile",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            (id % 5) match {
              case 0 =>
                val m = Docx.decodeDocx(Docx.encodeDocx(s"t$id", "a",
                  Seq(s"p$id one", s"q${id % 7} two"))).get
                ("docx", m.text.length.toLong)
              case 1 =>
                val m = Xlsx.decodeXlsx(Xlsx.encodeXlsx(Seq(("s",
                  Seq(Seq(Left(s"c$id"), Right(id))))))).get
                ("xlsx", m.text.length.toLong)
              case 2 =>
                val m = Pptx.decodePptx(Pptx.encodePptx(
                  Seq((s"title $id", Seq(s"b${id % 9}"))))).get
                ("pptx", m.text.length.toLong)
              case 3 =>
                val m = Epub.decodeEpub(Epub.encodeEpub(s"T$id", "A",
                  "en", s"id$id", (1 + id % 3).toInt)).get
                ("epub", m.title.getOrElse("").length.toLong)
              case _ =>
                val lines = Pdf.extractText(Pdf.encodeXrefPdf("1.7",
                  Seq(Seq(s"line $id", s"next ${id % 13}")),
                  encrypted = false, predictor = 12)).get
                ("pdf", lines.mkString("\n").length.toLong)
            }
          }
          .toDF("format", "n_chars")
          .groupBy($"format")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_chars").as("total_chars"))
          .orderBy($"format")
      },
      Some("""
        WITH routed AS (
          SELECT doc_id,
                 CASE doc_id % 5
                   WHEN 0 THEN 'docx' WHEN 1 THEN 'xlsx'
                   WHEN 2 THEN 'pptx' WHEN 3 THEN 'epub'
                   ELSE 'pdf' END AS format,
                 CASE doc_id % 5
                   -- docx: 'p<id> one' || \n || 'q<id%7> two'
                   WHEN 0 THEN len('p' || doc_id || ' one') + 1 +
                     len('q' || (doc_id % 7) || ' two')
                   -- xlsx text: the single string cell 'c<id>'
                   WHEN 1 THEN len('c' || doc_id)
                   -- pptx: 'title <id>' || \n || 'b<id%9>'
                   WHEN 2 THEN len('title ' || doc_id) + 1 +
                     len('b' || (doc_id % 9))
                   -- epub: the title 'T<id>'
                   WHEN 3 THEN len('T' || doc_id)
                   -- pdf: 'line <id>' || \n || 'next <id%13>'
                   ELSE len('line ' || doc_id) + 1 +
                     len('next ' || (doc_id % 13))
                 END AS n_chars
          FROM documents)
        SELECT format,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM routed
        GROUP BY format
        ORDER BY format""")),

    // ----- RTF text extraction (round 15) -------------------------------
    // The legacy office population: brace-grouped control stream whose
    // font/color/stylesheet tables, starred destinations, and info
    // block carry DECOY content that must not leak into the text;
    // escapes (\{ \} \\ \'hh \uN? \tab) decode; the info title is
    // captured. Oracle replays title and paragraphs (incl. the \'hh
    // accent path and tabs) from doc_id arithmetic. Map-only per blob.
    QueryDef(
      "q405_rtf_text_extract",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val paras = (0 until (1 + id % 3).toInt).map {
              case 0 => s"café ${id % 100}"
              case 1 => s"tab\tsep ${id % 7}"
              case _ => s"plain {$id} \\end"
            }
            Rtf.decodeRtf(Rtf.encodeRtf(s"Doc $id", paras)) match {
              case Some(m) => (id, m.title.getOrElse(""), m.text)
              case None => (id, "", "")
            }
          }
          .toDF("doc_id", "title", "text")
          .orderBy($"doc_id")
      },
      Some("""
        WITH pg AS (
          SELECT doc_id,
                 unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS k
          FROM documents),
        ln AS (
          SELECT doc_id, k,
                 CASE k
                   WHEN 0 THEN 'café ' || (doc_id % 100)
                   WHEN 1 THEN 'tab' || chr(9) || 'sep ' || (doc_id % 7)
                   ELSE 'plain {' || doc_id || '} \end'
                 END AS para
          FROM pg)
        SELECT doc_id,
               'Doc ' || doc_id AS title,
               string_agg(para, chr(10) ORDER BY k) AS text
        FROM ln
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- PDF multi-level page trees (round 15) ------------------------
    // Large real-world PDFs balance their page tree through
    // intermediate /Type /Pages nodes; q397's flat walk would miss
    // every page under one. Fixtures build a two-level tree (fanout
    // 2 or 3 by id) inside the ObjStm; the oracle counts the
    // intermediates (ceil(n/f), flattened when the grouping would
    // yield a single node) and replays the planted text — a walk that
    // read leaves in file order instead of TREE order scrambles text.
    QueryDef(
      "q406_pdf_page_tree",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val nPages = (3 + id % 6).toInt
            val fanout = (2 + id % 2).toInt
            val pages = (0 until nPages).map { p =>
              (0 until (1 + (id + p) % 2).toInt).map(k =>
                s"t$id p$p l$k (${(id * 17 + p * 3 + k) % 100})")
            }
            val blob = Pdf.encodeXrefPdf("1.7", pages, encrypted = false,
              predictor = if (id % 2 == 0) 12 else 1,
              treeFanout = fanout)
            (Pdf.decodePdf(blob), Pdf.extractText(blob)) match {
              case (Some(m), Some(lines)) =>
                (id, m.nPages, m.nObjects, lines.length,
                  lines.mkString("\n"))
              case _ => (id, -1, -1, -1, "")
            }
          }
          .toDF("doc_id", "n_pages", "n_objects", "n_lines", "text")
          .orderBy($"doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id,
                 CAST(3 + doc_id % 6 AS INT) AS n,
                 CAST(2 + doc_id % 2 AS INT) AS f
          FROM documents),
        cnt AS (
          SELECT doc_id, n, f,
                 CASE WHEN (n + f - 1) // f >= 2
                      THEN (n + f - 1) // f ELSE 0 END AS nint
          FROM base),
        pg AS (
          SELECT doc_id, unnest(generate_series(0, n - 1)) AS p
          FROM base),
        ln AS (
          SELECT doc_id, p,
                 unnest(generate_series(0,
                   CAST((doc_id + p) % 2 AS INT))) AS k
          FROM pg),
        lines AS (
          SELECT doc_id, p, k,
                 't' || doc_id || ' p' || p || ' l' || k || ' (' ||
                   ((doc_id * 17 + p * 3 + k) % 100) || ')' AS line
          FROM ln),
        agg AS (
          SELECT doc_id, CAST(COUNT(*) AS INT) AS n_lines,
                 string_agg(line, chr(10) ORDER BY p, k) AS text
          FROM lines GROUP BY doc_id)
        SELECT cnt.doc_id,
               cnt.n AS n_pages,
               CAST(5 + 2 * cnt.n + cnt.nint AS INT) AS n_objects,
               agg.n_lines, agg.text
        FROM cnt JOIN agg ON cnt.doc_id = agg.doc_id
        ORDER BY cnt.doc_id""")),

    // ----- Jupyter notebook extraction (round 15) -----------------------
    // The code-crawl population with prose and code interleaved: cells
    // dispatch by type, `source` arrives as BOTH legal shapes (array
    // of lines with their own newlines on even cells, one string on
    // odd — the emitter alternates), outputs count only on code
    // cells, the kernel language reads from metadata.language_info.
    // Strict JSON parsing (escapes, no trailing garbage). Oracle
    // replays counts and the concatenated sources from doc_id
    // arithmetic. Map-only per blob.
    QueryDef(
      "q407_ipynb_extract",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val nCells = (2 + id % 4).toInt
            val lang = Seq("python", "r", "julia")((id % 3).toInt)
            val cells = (0 until nCells).map { c =>
              (c % 3) match {
                case 0 => ("markdown", s"## s$id c$c", 0)
                case 1 => ("code",
                  s"x$c = ${id * 3 + c}\nprint(x$c)",
                  ((id + c) % 3).toInt)
                case _ => ("raw", s"r${(id + c) % 50}", 0)
              }
            }
            Ipynb.decodeIpynb(Ipynb.encodeIpynb(lang, cells)) match {
              case Some(m) => (id, m.nbformat, m.language.getOrElse(""),
                m.nCells, m.nCode, m.nMarkdown, m.nRaw, m.nOutputs,
                m.text)
              case None => (id, -1, "", -1, -1, -1, -1, -1, "")
            }
          }
          .toDF("doc_id", "nbformat", "language", "n_cells", "n_code",
            "n_markdown", "n_raw", "n_outputs", "text")
          .orderBy($"doc_id")
      },
      Some("""
        WITH cl AS (
          SELECT doc_id,
                 unnest(generate_series(0, 1 + CAST(doc_id % 4 AS INT)))
                   AS c
          FROM documents),
        cell AS (
          SELECT doc_id, c,
                 CASE c % 3
                   WHEN 0 THEN 'markdown' WHEN 1 THEN 'code'
                   ELSE 'raw' END AS tpe,
                 CASE c % 3
                   WHEN 0 THEN '## s' || doc_id || ' c' || c
                   WHEN 1 THEN 'x' || c || ' = ' || (doc_id * 3 + c) ||
                     chr(10) || 'print(x' || c || ')'
                   ELSE 'r' || ((doc_id + c) % 50)
                 END AS src,
                 CASE WHEN c % 3 = 1 THEN CAST((doc_id + c) % 3 AS INT)
                      ELSE 0 END AS n_out
          FROM cl)
        SELECT doc_id,
               CAST(4 AS INT) AS nbformat,
               CASE doc_id % 3 WHEN 0 THEN 'python' WHEN 1 THEN 'r'
                 ELSE 'julia' END AS language,
               CAST(COUNT(*) AS INT) AS n_cells,
               CAST(sum(CASE WHEN tpe = 'code' THEN 1 ELSE 0 END)
                 AS INT) AS n_code,
               CAST(sum(CASE WHEN tpe = 'markdown' THEN 1 ELSE 0 END)
                 AS INT) AS n_markdown,
               CAST(sum(CASE WHEN tpe = 'raw' THEN 1 ELSE 0 END)
                 AS INT) AS n_raw,
               CAST(sum(n_out) AS INT) AS n_outputs,
               string_agg(src, chr(10) ORDER BY c) AS text
        FROM cell
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- cross-format content dedup (round 15) ------------------------
    // The composition the office/text extractors exist for: the SAME
    // logical document shipped as DOCX, RTF, modern PDF, and a Jupyter
    // notebook (groups of four consecutive ids share content) must
    // collapse to ONE cluster once extraction normalizes away the
    // container. Extraction is map-side per blob; the dedup groupBy
    // shuffles xxhash64(text) 8-byte keys plus tiny aggregates — never
    // text, never blobs (the q384 discipline at the content level).
    // The oracle replays clusters from doc_id // 4 arithmetic — one
    // extractor emitting even one byte differently from its siblings
    // splits a cluster and flips rows.
    QueryDef(
      "q408_crossformat_content_dedup",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val g = id / 4
            val lines = (0 until (2 + g % 3).toInt).map(k =>
              s"content g$g line $k (${(g * 7 + k) % 100})")
            val text = (id % 4) match {
              case 0 => Docx.decodeDocx(
                Docx.encodeDocx(s"T$g", "A", lines)).get.text
              case 1 => Rtf.decodeRtf(
                Rtf.encodeRtf(s"T$g", lines)).get.text
              case 2 => Pdf.extractText(Pdf.encodeXrefPdf("1.7",
                Seq(lines), encrypted = false, predictor = 12))
                .get.mkString("\n")
              case _ => Ipynb.decodeIpynb(Ipynb.encodeIpynb("python",
                lines.map(l => ("markdown", l, 0)))).get.text
            }
            (id, Seq("docx", "rtf", "pdf", "ipynb")((id % 4).toInt), text)
          }
          .toDF("doc_id", "format", "text")
          .groupBy(xxhash64($"text"))
          .agg(min($"doc_id").as("canonical_id"),
            count(lit(1)).as("n_copies"),
            countDistinct($"format").as("n_formats"),
            first(length($"text")).as("text_len"))
          .drop("xxhash64(text)")
          .orderBy($"canonical_id")
      },
      Some("""
        WITH g AS (
          SELECT DISTINCT doc_id // 4 AS grp FROM documents),
        ln AS (
          SELECT grp,
                 unnest(generate_series(0, 1 + CAST(grp % 3 AS INT)))
                   AS k
          FROM g),
        content AS (
          SELECT grp,
                 string_agg('content g' || grp || ' line ' || k ||
                   ' (' || ((grp * 7 + k) % 100) || ')',
                   chr(10) ORDER BY k) AS text
          FROM ln GROUP BY grp),
        members AS (
          SELECT doc_id // 4 AS grp, doc_id FROM documents)
        SELECT min(members.doc_id) AS canonical_id,
               count(*) AS n_copies,
               count(DISTINCT members.doc_id % 4) AS n_formats,
               CAST(any_value(len(content.text)) AS INT) AS text_len
        FROM members JOIN content ON members.grp = content.grp
        GROUP BY members.grp
        ORDER BY canonical_id""")),

    // ----- YAML front matter (round 15) ---------------------------------
    // The static-site corpus channel: Markdown documents with ---
    // fenced YAML carrying the publication metadata a curation
    // pipeline filters on. The subset parser handles quoted/typed
    // scalars, flow lists, nested maps, block sequences of maps, and
    // literal blocks — and REJECTS anchors/aliases/tags/flow maps
    // rather than guessing. Oracle replays every extracted field from
    // doc_id arithmetic. Map-only per blob.
    QueryDef(
      "q409_yaml_front_matter",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val tags = (0 until (id % 4).toInt).map(k => s"t${(id + k) % 20}")
            val blob = Yaml.encodeFrontMatter(
              s"""Post "$id"""", f"2024-${1 + id % 12}%02d-${1 + id % 28}%02d",
              tags, draft = id % 2 == 0, weight = id % 1000 - 500,
              body = s"# Body $id\ncontent ${id % 7}")
            Yaml.frontMatter(blob) match {
              case Some((y, body)) =>
                def str(k: String) = y.get(k) match {
                  case Some(Yaml.YStr(v)) => v; case _ => ""
                }
                val tagsCsv = y.get("tags") match {
                  case Some(Yaml.YList(items)) => items.collect {
                    case Yaml.YStr(v) => v }.mkString(",")
                  case _ => ""
                }
                val draft = y.get("draft") match {
                  case Some(Yaml.YBool(v)) => v; case _ => false
                }
                val weight = y.get("weight") match {
                  case Some(Yaml.YNum(v)) => v.toLong; case _ => -1L
                }
                val city = y.get("author") match {
                  case Some(a: Yaml.YMap) => a.get("contact") match {
                    case Some(c: Yaml.YMap) => c.get("city") match {
                      case Some(Yaml.YStr(v)) => v; case _ => ""
                    }
                    case _ => ""
                  }
                  case _ => ""
                }
                (id, str("title"), str("date"), tagsCsv, draft, weight,
                  city, str("summary"), body)
              case None => (id, "", "", "", false, -1L, "", "", "")
            }
          }
          .toDF("doc_id", "title", "date", "tags_csv", "draft",
            "weight", "city", "summary", "body")
          .orderBy($"doc_id")
      },
      Some("""
        WITH tg AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 4 = 0 THEN ''
                   ELSE (SELECT string_agg('t' || ((doc_id + k.k) % 20),
                           ',' ORDER BY k.k)
                         FROM (SELECT unnest(generate_series(0,
                           CAST(doc_id % 4 AS INT) - 1)) AS k) k)
                 END AS tags_csv
          FROM documents)
        SELECT doc_id,
               'Post "' || doc_id || '"' AS title,
               '2024-' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0')
                 || '-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
                 AS date,
               tags_csv,
               doc_id % 2 = 0 AS draft,
               CAST(doc_id % 1000 - 500 AS BIGINT) AS weight,
               'Berlin' AS city,
               'first line' || chr(10) || 'second line' || chr(10)
                 AS summary,
               '# Body ' || doc_id || chr(10) || 'content ' ||
                 (doc_id % 7) AS body
        FROM tg
        ORDER BY doc_id""")),

    // ----- WOFF2 directory sniff (round 15) -----------------------------
    // The woff sibling q398 left open: WOFF2's table directory is NOT
    // Brotli-compressed, so container triage decodes honestly without
    // a Brotli implementation (absent in-container — the MP3 deferral
    // class; family strings live in the compressed block and stay
    // None, never guessed). Exercises the known-tags index, the
    // arbitrary-tag escape, UIntBase128 strictness, and transformed
    // glyf/loca entries. Oracle replays fields from doc_id arithmetic.
    QueryDef(
      "q410_woff2_sniff",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val tables = Seq(
              ("head", 54L),
              ("glyf", 1000L + (id * 13) % 100000),
              ("loca", 40L + (id % 50) * 2),
              (if (id % 3 == 0) "Xtag" else "name", 80L + id % 800))
            val blob = Font.encodeWoff2(
              if (id % 2 == 0) "ttf" else "otf", tables,
              blockSize = (id % 300).toInt)
            Font.decodeWoff2(blob) match {
              case Some(m) => (id, m.flavor, m.nTables, m.totalSfntSize,
                m.sumOrigLengths, m.tags.mkString(","))
              case None => (id, "", -1, -1L, -1L, "")
            }
          }
          .toDF("doc_id", "flavor", "n_tables", "total_sfnt_size",
            "sum_orig", "tags_csv")
          .orderBy($"doc_id")
      },
      // sfnt size = 12 + 16*4 + sum of 4-byte-padded table lengths;
      // head(54)->56, glyf g (pad (g+3)//4*4), loca l, name/Xtag n
      Some("""
        WITH t AS (
          SELECT doc_id,
                 1000 + (doc_id * 13) % 100000 AS glyf,
                 40 + (doc_id % 50) * 2 AS loca,
                 80 + doc_id % 800 AS extra
          FROM documents)
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'ttf' ELSE 'otf' END
                 AS flavor,
               CAST(4 AS INT) AS n_tables,
               CAST(12 + 64 + 56 + ((glyf + 3) // 4) * 4 +
                    ((loca + 3) // 4) * 4 + ((extra + 3) // 4) * 4
                 AS BIGINT) AS total_sfnt_size,
               CAST(54 + glyf + loca + extra AS BIGINT) AS sum_orig,
               'head,glyf,loca,' ||
                 CASE WHEN doc_id % 3 = 0 THEN 'Xtag' ELSE 'name' END
                 AS tags_csv
        FROM t
        ORDER BY doc_id""")),

    // ----- TOML package-manifest analysis (round 15) --------------------
    // Where repository-level dependency/feature analysis of a code
    // crawl starts: Cargo.toml-shaped manifests with multiline arrays
    // (trailing commas + comments), multiline strings, inline-table
    // dependencies, [[bin]] array-of-tables with dotted keys. TOML's
    // strictness rules enforced (bare-word values reject — the classic
    // config-parser trap). Oracle replays all fields from doc_id
    // arithmetic. Map-only per blob.
    QueryDef(
      "q411_toml_manifest",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val nDeps = (1 + id % 3).toInt
            val blob = Toml.encodeManifest(s"pkg-${id % 200}",
              s"0.${id % 10}.${id % 5}",
              Seq(2015L, 2018L, 2021L)((id % 3).toInt),
              (0 until (id % 4).toInt).map(k => s"feat${(id + k) % 9}"),
              (0 until nDeps).map(k => (s"dep$k", s"1.${(id + k) % 20}.0")),
              (id % 2).toInt)
            Toml.parseToml(blob) match {
              case Some(m) =>
                val pkg = m.get("package") match {
                  case Some(p: Yaml.YMap) => p
                  case _ => Yaml.YMap(Vector.empty)
                }
                def str(y: Yaml.YMap, k: String) = y.get(k) match {
                  case Some(Yaml.YStr(v)) => v; case _ => ""
                }
                val edition = pkg.get("edition") match {
                  case Some(Yaml.YNum(v)) => v.toLong; case _ => -1L
                }
                val nFeat = pkg.get("features") match {
                  case Some(Yaml.YList(xs)) => xs.length; case _ => -1
                }
                val deps = m.get("dependencies") match {
                  case Some(d: Yaml.YMap) => d.fields.length
                  case _ => 0
                }
                val bins = m.get("bin") match {
                  case Some(Yaml.YList(xs)) => xs.length; case _ => 0
                }
                val dep0 = m.get("dependencies") match {
                  case Some(d: Yaml.YMap) => d.get("dep0") match {
                    case Some(Yaml.YStr(v)) => v
                    case Some(t: Yaml.YMap) => str(t, "version")
                    case _ => ""
                  }
                  case _ => ""
                }
                (id, str(pkg, "name"), str(pkg, "version"), edition,
                  nFeat, deps, bins, dep0)
              case None => (id, "", "", -1L, -1, -1, -1, "")
            }
          }
          .toDF("doc_id", "name", "version", "edition", "n_features",
            "n_deps", "n_bins", "dep0_version")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               'pkg-' || (doc_id % 200) AS name,
               '0.' || (doc_id % 10) || '.' || (doc_id % 5) AS version,
               CAST(CASE doc_id % 3 WHEN 0 THEN 2015 WHEN 1 THEN 2018
                 ELSE 2021 END AS BIGINT) AS edition,
               CAST(doc_id % 4 AS INT) AS n_features,
               CAST(1 + doc_id % 3 AS INT) AS n_deps,
               CAST(doc_id % 2 AS INT) AS n_bins,
               '1.' || (doc_id % 20) || '.0' AS dep0_version
        FROM documents
        ORDER BY doc_id""")),

    // ----- PDF HYBRID-REFERENCE files (round 16) ------------------------
    // Acrobat's pre-1.5-compatibility layout (ISO 32000-1 7.5.8.4), the
    // last commonly-hit xref shape: a CLASSIC table whose trailer's
    // /XRefStm key points at a cross-reference STREAM. The document
    // objects live compressed in an /ObjStm and are FREE in the table;
    // the decoder must merge the stream's type-2 entries under
    // table-wins precedence, then run the q377 text tokenizer. The
    // oracle replays version/pages/objects/lines from doc_id
    // arithmetic — a reader that ignores /XRefStm (the pre-fix state)
    // or lets the stream override the table flips every row. Map-only
    // per blob.
    QueryDef(
      "q412_pdf_hybrid_xref_text",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val nPages = (1 + id % 3).toInt
            val pages = (0 until nPages).map { p =>
              val nLines = (2 + (id + p) % 3).toInt
              (0 until nLines).map(k =>
                s"y$id p$p l$k (${(id * 13 + p * 7 + k) % 100})")
            }
            val blob = Pdf.encodeHybridPdf(s"1.${4 + id % 4}", pages,
              predictor = if (id % 2 == 0) 12 else 1)
            (Pdf.decodePdf(blob), Pdf.extractText(blob)) match {
              case (Some(m), Some(lines)) =>
                (id, m.version, m.nPages, m.nObjects, lines.length,
                  lines.mkString("\n"))
              case _ => (id, "", -1, -1, -1, "")
            }
          }
          .toDF("doc_id", "version", "n_pages", "n_objects", "n_lines",
            "text")
          .orderBy($"doc_id")
      },
      // objects: catalog + pages root + n pages + font + n content
      // streams + the ObjStm + the XRef stream = 5 + 2n
      Some("""
        WITH pg AS (
          SELECT doc_id,
                 unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS p
          FROM documents),
        ln AS (
          SELECT doc_id, p,
                 unnest(generate_series(0,
                   1 + CAST((doc_id + p) % 3 AS INT))) AS k
          FROM pg),
        lines AS (
          SELECT doc_id, p, k,
                 'y' || doc_id || ' p' || p || ' l' || k || ' (' ||
                   ((doc_id * 13 + p * 7 + k) % 100) || ')' AS line
          FROM ln)
        SELECT doc_id,
               '1.' || (4 + doc_id % 4) AS version,
               CAST(1 + doc_id % 3 AS INT) AS n_pages,
               CAST(5 + 2 * (1 + doc_id % 3) AS INT) AS n_objects,
               CAST(COUNT(*) AS INT) AS n_lines,
               string_agg(line, chr(10) ORDER BY p, k) AS text
        FROM lines
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- PDF outline / TOC metadata (round 16) ------------------------
    // The navigation-quality signal for big-document curation: catalog
    // → /Outlines → /First-/Next sibling chains, depth-first, every
    // item living COMPRESSED inside the /ObjStm (the modern layout).
    // Per doc the outline tree is planted from doc_id arithmetic —
    // tops, kids, and an occasional grandchild — with parens in top
    // titles (escape path). doc_id % 7 == 0 docs have NO outline and
    // must yield the EMPTY outline, not a failure. The oracle replays
    // item count, max depth, and the '|'-joined PRE-ORDER title walk —
    // a wrong sibling order or a skipped ObjStm resident flips the
    // string. Map-only per blob.
    QueryDef(
      "q413_pdf_outline_toc",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val outline =
              if (id % 7 == 0) Nil
              else (0 until (1 + id % 3).toInt).map { t =>
                val nK = ((id + t) % 3).toInt
                Pdf.OItem(s"o$id (t$t)", (0 until nK).map { j =>
                  val g = if ((id + t + j) % 4 == 0)
                    Seq(Pdf.OItem(s"o$id t$t k$j g")) else Nil
                  Pdf.OItem(s"o$id t$t k$j", g)
                })
              }
            val blob = Pdf.encodeXrefPdf(s"1.${5 + id % 3}",
              Seq(Seq(s"body $id")), encrypted = false,
              predictor = if (id % 2 == 0) 12 else 1, outline = outline)
            Pdf.decodeOutline(blob) match {
              case Some(o) =>
                (id, o.nItems, o.maxDepth, o.titles.mkString("|"))
              case None => (id, -1, -1, "")
            }
          }
          .toDF("doc_id", "n_items", "max_depth", "titles")
          .orderBy($"doc_id")
      },
      Some("""
        WITH tops AS (
          SELECT doc_id,
                 unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS t
          FROM documents WHERE doc_id % 7 <> 0),
        kids AS (
          SELECT doc_id, t,
                 unnest(generate_series(0,
                   CAST((doc_id + t) % 3 AS INT) - 1)) AS j
          FROM tops),
        grands AS (
          SELECT doc_id, t, j FROM kids WHERE (doc_id + t + j) % 4 = 0),
        items AS (
          SELECT doc_id, t, -1 AS j, -1 AS g, 1 AS depth,
                 'o' || doc_id || ' (t' || t || ')' AS title
          FROM tops
          UNION ALL
          SELECT doc_id, t, j, -1, 2,
                 'o' || doc_id || ' t' || t || ' k' || j
          FROM kids
          UNION ALL
          SELECT doc_id, t, j, 0, 3,
                 'o' || doc_id || ' t' || t || ' k' || j || ' g'
          FROM grands),
        agg AS (
          SELECT doc_id, CAST(COUNT(*) AS INT) AS n_items,
                 CAST(MAX(depth) AS INT) AS max_depth,
                 string_agg(title, '|' ORDER BY t, j, g) AS titles
          FROM items GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(COALESCE(a.n_items, 0) AS INT) AS n_items,
               CAST(COALESCE(a.max_depth, 0) AS INT) AS max_depth,
               COALESCE(a.titles, '') AS titles
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        ORDER BY d.doc_id""")),

    // ----- repo-manifest dependency histogram (round 16 composition) ----
    // What the q409/q411 parsers exist FOR: a mixed corpus of
    // Cargo-style TOML manifests (even ids) and hpack/pnpm-style YAML
    // manifests (odd ids, with a dev-dependencies block) parses
    // map-side, normalizes to (ecosystem, kind, dep, version) rows,
    // and feeds a distributed dependency histogram — manifests per
    // dep, distinct version-ranges, first adopter. The groupBy
    // compiles to partial+final hash aggregation: at corpus scale the
    // shuffle carries one row per (task, dep key), never manifest
    // text. TOML inline-table deps ({ version = ... }) and plain
    // string deps both normalize. The oracle replays the histogram
    // from doc_id arithmetic.
    QueryDef(
      "q414_manifest_dependency_histogram",
      (s, dir) => {
        import s.implicits._
        val rows = Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .flatMap { id =>
            val deps = (0 to (id % 4).toInt).map(k =>
              (s"lib${(id * 3 + k * 5) % 40}", s"1.${(id + k) % 20}"))
            if (id % 2 == 0) {
              val blob = Toml.encodeManifest(s"pkg-${id % 200}", "1.0.0",
                2021L, Nil, deps, 0)
              Toml.parseToml(blob) match {
                case Some(m) =>
                  val dm = m.get("dependencies") match {
                    case Some(d: Yaml.YMap) => d.fields
                    case _ => Vector.empty
                  }
                  dm.map { case (dep, v) =>
                    val ver = v match {
                      case Yaml.YStr(x) => x
                      case t: Yaml.YMap => t.get("version") match {
                        case Some(Yaml.YStr(x)) => x
                        case _ => ""
                      }
                      case _ => ""
                    }
                    (id, "cargo", "runtime", dep, ver)
                  }
                case None => Seq((id, "cargo", "parse-error", "", ""))
              }
            } else {
              val blob = Yaml.encodePackageManifest(s"pkg-${id % 200}",
                s"0.${id % 10}.0", deps,
                Seq((s"devlib${id % 10}", s"0.${id % 7}")))
              Yaml.parseYaml(blob) match {
                case Some(m: Yaml.YMap) =>
                  def block(key: String, kind: String) = m.get(key) match {
                    case Some(d: Yaml.YMap) => d.fields.map {
                      case (dep, v) =>
                        val ver = v match {
                          case Yaml.YStr(x) => x
                          case _ => ""
                        }
                        (id, "yaml", kind, dep, ver)
                    }
                    case _ => Vector.empty[(Long, String, String,
                      String, String)]
                  }
                  block("dependencies", "runtime") ++
                    block("dev-dependencies", "dev")
                case _ => Seq((id, "yaml", "parse-error", "", ""))
              }
            }
          }
          .toDF("doc_id", "ecosystem", "kind", "dep", "ver")
        rows.groupBy($"ecosystem", $"kind", $"dep")
          .agg(count(lit(1)).as("n_manifests"),
            countDistinct($"ver").as("n_versions"),
            min($"doc_id").as("first_doc"))
          .orderBy($"ecosystem", $"kind", $"dep")
      },
      Some("""
        WITH runtime AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 2 = 0 THEN 'cargo' ELSE 'yaml' END
                   AS ecosystem,
                 'runtime' AS kind,
                 'lib' || ((doc_id * 3 + k * 5) % 40) AS dep,
                 '1.' || ((doc_id + k) % 20) AS ver
          FROM (SELECT doc_id,
                       unnest(generate_series(0,
                         CAST(doc_id % 4 AS INT))) AS k
                FROM documents)),
        dev AS (
          SELECT doc_id, 'yaml' AS ecosystem, 'dev' AS kind,
                 'devlib' || (doc_id % 10) AS dep,
                 '0.' || (doc_id % 7) AS ver
          FROM documents WHERE doc_id % 2 = 1),
        both_ AS (
          SELECT * FROM runtime UNION ALL SELECT * FROM dev)
        SELECT ecosystem, kind, dep,
               CAST(COUNT(*) AS BIGINT) AS n_manifests,
               CAST(COUNT(DISTINCT ver) AS BIGINT) AS n_versions,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc
        FROM both_
        GROUP BY ecosystem, kind, dep
        ORDER BY ecosystem, kind, dep""")),

    // ----- WOFF2 family strings through Brotli (round 16) ---------------
    // The q410 deferral promoted: a conformant Brotli source landed
    // in-container (libbrotli referee — see BrotliSpec), so the WOFF2
    // data block now decompresses and the name/head/maxp tables read
    // out of the reassembled stream. Fixtures carry REAL Brotli
    // streams — the compressed fixed-Huffman form on most ids, the
    // stored form on id % 3 == 0 — with a Mac-record decoy the
    // Windows-record preference must beat. The oracle replays every
    // field from doc_id arithmetic. Map-only per blob.
    QueryDef(
      "q415_woff2_family_strings",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val fam = s"Fam ${id % 97}"
            val sub = (id % 3) match {
              case 0 => "Regular"; case 1 => "Bold"; case _ => "Italic"
            }
            val blob = Font.encodeWoff2Font(
              if (id % 2 == 0) "ttf" else "otf", fam, sub,
              nGlyphs = (10 + id % 1000).toInt,
              unitsPerEm = if (id % 2 == 0) 2048 else 1000,
              fixedHuffman = id % 3 != 0,
              macFamily = Some(s"DECOY ${id % 7}"))
            Font.decodeFont(blob) match {
              case Some(m) => (id, m.container, m.family.getOrElse(""),
                m.subfamily.getOrElse(""), m.nTables,
                m.nGlyphs.getOrElse(-1), m.unitsPerEm.getOrElse(-1))
              case None => (id, "", "", "", -1, -1, -1)
            }
          }
          .toDF("doc_id", "container", "family", "subfamily",
            "n_tables", "n_glyphs", "units_per_em")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               'woff2' AS container,
               'Fam ' || (doc_id % 97) AS family,
               CASE doc_id % 3 WHEN 0 THEN 'Regular' WHEN 1 THEN 'Bold'
                 ELSE 'Italic' END AS subfamily,
               CAST(3 AS INT) AS n_tables,
               CAST(10 + doc_id % 1000 AS INT) AS n_glyphs,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 2048 ELSE 1000 END
                 AS INT) AS units_per_em
        FROM documents
        ORDER BY doc_id""")),

    // ----- PDF classic incremental updates (round 16) -------------------
    // Save-in-place PDFs (ISO 32000-1 7.5.6): the original bytes stay
    // put and each save APPENDS replacement objects plus a SPARSE
    // multi-subsection xref section chaining through trailer /Prev.
    // Every doc gets one update (replacing page doc_id % n); even ids
    // get a SECOND update on page (doc_id+1) % n — on 1-page docs that
    // re-updates the same page, so the newest-wins merge must beat the
    // MIDDLE section, not just the base. The oracle replays the final
    // per-page text. Map-only per blob.
    QueryDef(
      "q416_pdf_incremental_update",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val np = (1 + id % 3).toInt
            val pages = (0 until np).map { p =>
              (0 until (2 + (id + p) % 2).toInt).map(k =>
                s"w$id p$p l$k (${(id * 17 + p * 5 + k) % 100})")
            }
            val base = Pdf.encodeTextPdf(s"1.${4 + id % 3}", pages,
              flate = id % 2 == 0)
            val u1 = (id % np).toInt
            val up1 = Pdf.appendIncrementalUpdate(base, np, u1,
              (0 until 2).map(k =>
                s"u1 $id p$u1 l$k (${(id * 19 + k) % 100})"),
              flate = id % 3 == 0)
            val blob =
              if (id % 2 == 0) {
                val u2 = ((id + 1) % np).toInt
                Pdf.appendIncrementalUpdate(up1, np, u2,
                  Seq(s"u2 $id p$u2 (${(id * 23) % 100})"),
                  flate = id % 3 != 0)
              } else up1
            (Pdf.decodePdf(blob), Pdf.extractText(blob)) match {
              case (Some(m), Some(lines)) =>
                (id, m.nPages, lines.length, lines.mkString("\n"))
              case _ => (id, -1, -1, "")
            }
          }
          .toDF("doc_id", "n_pages", "n_lines", "text")
          .orderBy($"doc_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, CAST(1 + doc_id % 3 AS INT) AS np
          FROM documents),
        pg AS (
          SELECT doc_id, np,
                 unnest(generate_series(0, np - 1)) AS p
          FROM d),
        cls AS (
          SELECT doc_id, np, p,
                 CAST(doc_id % np AS INT) AS u1,
                 CAST((doc_id + 1) % np AS INT) AS u2,
                 (doc_id % 2 = 0) AS hasu2
          FROM pg),
        linesv2 AS (
          SELECT doc_id, p, 0 AS k,
                 'u2 ' || doc_id || ' p' || p || ' (' ||
                   ((doc_id * 23) % 100) || ')' AS line
          FROM cls WHERE hasu2 AND p = u2),
        linesv1 AS (
          SELECT doc_id, p, k,
                 'u1 ' || doc_id || ' p' || p || ' l' || k || ' (' ||
                   ((doc_id * 19 + k) % 100) || ')' AS line
          FROM (SELECT doc_id, p, u1, u2, hasu2,
                       unnest(generate_series(0, 1)) AS k
                FROM cls) q
          WHERE p = u1 AND NOT (hasu2 AND p = u2)),
        lines0 AS (
          SELECT doc_id, p, k,
                 'w' || doc_id || ' p' || p || ' l' || k || ' (' ||
                   ((doc_id * 17 + p * 5 + k) % 100) || ')' AS line
          FROM (SELECT doc_id, p, u1, u2, hasu2,
                       unnest(generate_series(0,
                         1 + CAST((doc_id + p) % 2 AS INT))) AS k
                FROM cls) q
          WHERE p <> u1 AND NOT (hasu2 AND p = u2)),
        alllines AS (
          SELECT * FROM linesv2 UNION ALL
          SELECT * FROM linesv1 UNION ALL
          SELECT * FROM lines0)
        SELECT a.doc_id,
               CAST(1 + a.doc_id % 3 AS INT) AS n_pages,
               CAST(COUNT(*) AS INT) AS n_lines,
               string_agg(a.line, chr(10) ORDER BY a.p, a.k) AS text
        FROM alllines a
        GROUP BY a.doc_id
        ORDER BY a.doc_id""")),

    // ----- brotli-compressed web assets (round 16 composition) ----------
    // Content-Encoding: br is the modern crawl's default wire form —
    // what [[Brotli]] exists for beyond fonts. Each doc is an HTML
    // page carried as a REAL Brotli stream (compressed fixed-Huffman
    // form on even ids, stored on odd); the pipeline decompresses
    // map-side, runs the q240-family page-metadata extractor
    // (title + canonical), derives the host from the canonical URL,
    // and aggregates a per-host crawl profile — pages, distinct
    // titles, summed decompressed bytes. The shuffle carries (host)
    // keys + counters only, never HTML. The oracle reconstructs the
    // exact page text and replays the histogram.
    QueryDef(
      "q417_brotli_web_assets",
      (s, dir) => {
        import s.implicits._
        val pages = Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val title = s"T ${id % 50}"
            val host = s"h${id % 20}"
            val html = "<html><head><title>" + title + "</title>" +
              "<link rel=\"canonical\" href=\"https://" + host +
              ".example/p" + id + "\">" +
              "<meta name=\"description\" content=\"d" + id + "\">" +
              "</head><body><p>" + ("body " * (1 + (id % 5)).toInt) +
              id + "</p></body></html>"
            val raw = html.getBytes("UTF-8")
            val wire =
              if (id % 2 == 0) Brotli.encodeFixed(raw)
              else Brotli.encodeStored(raw)
            // the decode path a crawl worker runs
            Brotli.decompress(wire, 1 << 20) match {
              case Some(body) =>
                val meta = HtmlExtract.pageMetadata(
                  new String(body, "UTF-8"))
                val h = meta.canonical match {
                  case Some(u) if u.startsWith("https://") &&
                      u.contains(".example/") =>
                    u.substring(8, u.indexOf(".example/"))
                  case _ => ""
                }
                (id, h, meta.title.getOrElse(""), body.length)
              case None => (id, "", "", -1)
            }
          }
          .toDF("doc_id", "host", "title", "n_chars")
        pages.groupBy($"host")
          .agg(count(lit(1)).as("n_pages"),
            countDistinct($"title").as("n_titles"),
            sum($"n_chars").as("sum_chars"))
          .orderBy($"host")
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
                 'h' || (doc_id % 20) AS host,
                 'T ' || (doc_id % 50) AS title,
                 length('<html><head><title>T ' || (doc_id % 50) ||
                   '</title><link rel="canonical" href="https://h' ||
                   (doc_id % 20) || '.example/p' || doc_id ||
                   '"><meta name="description" content="d' || doc_id ||
                   '"></head><body><p>' ||
                   repeat('body ', CAST(1 + doc_id % 5 AS INT)) ||
                   doc_id || '</p></body></html>') AS n_chars
          FROM documents)
        SELECT host,
               CAST(COUNT(*) AS BIGINT) AS n_pages,
               CAST(COUNT(DISTINCT title) AS BIGINT) AS n_titles,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM d
        GROUP BY host
        ORDER BY host""")),

    // ----- JS source maps (round 16) -------------------------------------
    // The code-crawl analog of EXIF: every minified JS/CSS asset points
    // at a Source Map v3 file, the only route from minified positions
    // back to original files/identifiers. JSON container through the
    // q407 strict parser; the `mappings` string decodes as
    // ';'/','-separated base64-VLQ segments with RELATIVE values
    // (generated column resets per line, the other four accumulators
    // run across the whole string — planted values jump backwards, so
    // sign-bit VLQs are constantly exercised). The oracle replays
    // source/name counts, segment counts, named-segment counts, and
    // the summed absolute original lines from doc_id arithmetic — one
    // mis-accumulated delta flips the sum. Map-only per blob.
    QueryDef(
      "q419_source_map",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val ns = (1 + id % 4).toInt
            val nn = (id % 5).toInt
            val nl = (1 + id % 6).toInt
            val lines = (0 until nl).map { l =>
              (0 until (1 + (id + l) % 2).toInt).map { st =>
                SourceMap.Segment(
                  genCol = 10 * st + (id % 7).toInt,
                  srcIdx = ((id + l + st) % ns).toInt,
                  origLine = ((id + l * 2 + st) % 50).toInt,
                  origCol = ((id + st) % 40).toInt,
                  nameIdx =
                    if (nn > 0 && (id + l + st) % 3 == 0)
                      ((id + l) % nn).toInt
                    else -1)
              }
            }
            val blob = SourceMap.encodeSourceMap(s"app$id.min.js",
              (0 until ns).map(i => s"src/m$i.js"),
              (0 until nn).map(i => s"fn$i"), lines)
            SourceMap.decodeSourceMap(blob) match {
              case Some(m) => (id, m.nSources, m.nNames, m.nLines,
                m.nSegments, m.nNamed, m.sumOrigLines)
              case None => (id, -1, -1, -1, -1, -1, -1L)
            }
          }
          .toDF("doc_id", "n_sources", "n_names", "n_lines",
            "n_segments", "n_named", "sum_orig_lines")
          .orderBy($"doc_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CAST(1 + doc_id % 4 AS INT) AS ns,
                 CAST(doc_id % 5 AS INT) AS nn,
                 CAST(1 + doc_id % 6 AS INT) AS nl
          FROM documents),
        ln AS (
          SELECT doc_id, ns, nn,
                 unnest(generate_series(0, nl - 1)) AS l
          FROM d),
        seg AS (
          SELECT doc_id, ns, nn, l,
                 unnest(generate_series(0,
                   CAST((doc_id + l) % 2 AS INT))) AS st
          FROM ln),
        rows_ AS (
          SELECT doc_id, ns, nn,
                 (doc_id + l * 2 + st) % 50 AS orig_line,
                 CASE WHEN nn > 0 AND (doc_id + l + st) % 3 = 0
                      THEN 1 ELSE 0 END AS named
          FROM seg)
        SELECT doc_id,
               CAST(MAX(ns) AS INT) AS n_sources,
               CAST(MAX(nn) AS INT) AS n_names,
               CAST(1 + doc_id % 6 AS INT) AS n_lines,
               CAST(COUNT(*) AS INT) AS n_segments,
               CAST(SUM(named) AS INT) AS n_named,
               CAST(SUM(orig_line) AS BIGINT) AS sum_orig_lines
        FROM rows_
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- JS asset -> source-map pointer triage (round 16) --------------
    // q419's composition: the crawl sees the minified ASSET, not the
    // map — the pointer is the last `//# sourceMappingURL=` comment
    // (legacy `//@` accepted, last occurrence wins). External
    // references profile by URL; inline `data:application/json;base64`
    // URIs decode straight through the q419 decoder. The shuffle
    // carries (kind, url) keys + counters only. The oracle replays the
    // kind histogram, distinct reference URLs, and the summed inline
    // segment counts from doc_id arithmetic.
    QueryDef(
      "q420_js_sourcemap_pointer",
      (s, dir) => {
        import s.implicits._
        val rows = Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val js = new StringBuilder
            js.append(s"function f$id(){return ${id % 97};}\n")
            if (id % 5 == 0) // a decoy the last-wins rule must beat
              js.append("//# sourceMappingURL=decoy.map\n")
            js.append(s"f$id();\n")
            if (id % 3 == 0)
              js.append(s"//# sourceMappingURL=maps/app${id % 9}.js.map\n")
            else {
              val nSegs = (1 + id % 2).toInt
              val map = SourceMap.encodeSourceMap(s"a$id.min.js",
                Seq(s"src/a$id.js"), Nil,
                Seq((0 until nSegs).map(st => SourceMap.Segment(
                  genCol = st * 8, srcIdx = 0,
                  origLine = ((id + st) % 30).toInt,
                  origCol = (id % 20).toInt))))
              js.append("//# sourceMappingURL=data:application/json;" +
                "base64," +
                java.util.Base64.getEncoder.encodeToString(map) + "\n")
            }
            val asset = js.toString
            SourceMap.sourceMappingUrl(asset) match {
              case Some(url) =>
                SourceMap.inlineMapBytes(url) match {
                  case Some(bytes) =>
                    SourceMap.decodeSourceMap(bytes) match {
                      case Some(m) => (id, "inline", "", m.nSegments)
                      case None => (id, "broken", "", -1)
                    }
                  case None => (id, "ref", url, 0)
                }
              case None => (id, "none", "", -1)
            }
          }
          .toDF("doc_id", "kind", "url", "n_segments")
        rows.groupBy($"kind")
          .agg(count(lit(1)).as("n_assets"),
            countDistinct($"url").as("n_urls"),
            sum($"n_segments").as("sum_segments"))
          .orderBy($"kind")
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN 'ref'
                      ELSE 'inline' END AS kind,
                 CASE WHEN doc_id % 3 = 0
                      THEN 'maps/app' || (doc_id % 9) || '.js.map'
                      ELSE '' END AS url,
                 CASE WHEN doc_id % 3 = 0 THEN 0
                      ELSE CAST(1 + doc_id % 2 AS INT)
                      END AS n_segments
          FROM documents)
        SELECT kind,
               CAST(COUNT(*) AS BIGINT) AS n_assets,
               CAST(COUNT(DISTINCT url) AS BIGINT) AS n_urls,
               CAST(SUM(n_segments) AS BIGINT) AS sum_segments
        FROM d
        GROUP BY kind
        ORDER BY kind""")),

    // ----- HEIF primary-item resolution (round 16) -----------------------
    // q260's sniff reads an ispe; REAL AVIF/HEIC files carry
    // thumbnail/alpha ispe properties too, so canvas dims require the
    // item machinery (ISO 23008-12): pitm names the primary item, ipma
    // associates items with 1-based ipco property indexes, and only
    // the primary's associated ispe is the canvas. Fixtures plant a
    // 160x90 thumbnail decoy as property ONE with the primary's ispe
    // at property THREE — a first-ispe shortcut flips every row — and
    // cycle pitm v0/v1 and both ipma association widths. The oracle
    // replays format/dims/item/property counts. Map-only per blob.
    QueryDef(
      "q421_heif_primary_item",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val blob = VideoHeaders.encodeAvifItems(
              if (id % 2 == 0) "avif" else "heic",
              width = (16 + id % 624).toInt,
              height = (16 + (id * 7) % 464).toInt,
              thumbW = 160, thumbH = 90,
              nItems = (2 + id % 4).toInt,
              widePitm = id % 2 == 0,
              wideAssoc = id % 3 == 0)
            VideoHeaders.decodeAvifItems(blob) match {
              case Some(m) => (id, m.format, m.primaryWidth,
                m.primaryHeight, m.nItems, m.nProps)
              case None => (id, "", -1L, -1L, -1, -1)
            }
          }
          .toDF("doc_id", "format", "width", "height", "n_items",
            "n_props")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'avif' ELSE 'heic' END
                 AS format,
               CAST(16 + doc_id % 624 AS BIGINT) AS width,
               CAST(16 + (doc_id * 7) % 464 AS BIGINT) AS height,
               CAST(2 + doc_id % 4 AS INT) AS n_items,
               CAST(3 AS INT) AS n_props
        FROM documents
        ORDER BY doc_id""")),

    // ----- EXIF GPS sub-IFD + IFD1 thumbnail (round 14) -----------------
    // The remaining commonly-consumed EXIF families past q259's IFD0
    // walk: geolocation (tag 0x8825 → GPS IFD: hemisphere refs, three
    // RATIONALs per axis) and the IFD1 thumbnail (next-IFD pointer →
    // JPEGInterchangeFormat/-Length, a complete embedded JPEG sliced
    // and re-decoded through the plain header decoder). The oracle
    // replays the planted rationals EXACTLY (centi-arcseconds as
    // BIGINT), the decimal-degree derivation (identical IEEE op
    // order both engines), thumbnail dims/length, and the full
    // stream-length formula. Map-only per blob.
    QueryDef(
      "q378_exif_gps_thumbnail",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val thumb = ImageHeaders.encodeJpeg(
              (8 + id % 56).toInt, (8 + (id * 3) % 40).toInt, 8,
              Array.fill(((id * 5) % 48).toInt)('t'.toByte))
            MediaRecord(id,
              TiffHeaders.encodeJpegExifGps(
                width = (16 + id % 624).toInt,
                height = (16 + (id * 7) % 464).toInt,
                orientation = (1 + id % 8).toInt, make = s"Cam${id % 9}",
                bigEndian = id % 2 == 1,
                latRef = if (id % 2 == 0) 'N' else 'S',
                latDeg = id % 90, latMin = (id * 7) % 60,
                latSecNum = (id * 13) % 6000, latSecDen = 100,
                lonRef = if (id % 3 == 0) 'E' else 'W',
                lonDeg = id % 180, lonMin = (id * 11) % 60,
                lonSecNum = (id * 17) % 6000, lonSecDen = 100,
                thumb = thumb),
              "image/jpeg")
          }
        media.mapPartitions { it =>
          def as100(c: TiffHeaders.GpsCoord): Long = {
            val sign = if (c.ref == "S" || c.ref == "W") -1L else 1L
            sign * ((c.degNum / c.degDen * 3600 +
              c.minNum / c.minDen * 60) * 100 +
              c.secNum * 100 / c.secDen)
          }
          it.map { r =>
            val e = TiffHeaders.decodeJpegExifFull(r.media)
            val lat = e.flatMap(_.lat)
            val lon = e.flatMap(_.lon)
            val thumbBytes = e.flatMap(_.thumbnail)
            val thumbMeta = thumbBytes.flatMap(ImageHeaders.decode)
            (r.doc_id, e.map(_.orientation).getOrElse(-1),
              e.flatMap(_.make).orNull,
              lat.map(_.ref).orNull,
              lat.map(as100), lat.map(_.signedDecimalDegrees),
              lon.map(_.ref).orNull,
              lon.map(as100), lon.map(_.signedDecimalDegrees),
              thumbMeta.map(_.width), thumbMeta.map(_.height),
              thumbBytes.map(_.length.toLong),
              r.media.length.toLong)
          }
        }.toDF("doc_id", "orientation", "make",
            "lat_ref", "lat_as100", "lat_dd",
            "lon_ref", "lon_as100", "lon_dd",
            "thumb_w", "thumb_h", "thumb_len", "n_bytes")
          .orderBy($"doc_id")
      },
      // arcseconds×100 exact; decimal degrees via deg + min/60 +
      // sec/100/3600 (same op order as GpsCoord.decimalDegrees);
      // |thumb| = 45 + (id*5)%48; stream = 265 + (id*5)%48
      Some("""
        WITH g AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 2 = 0 THEN 'N' ELSE 'S' END AS lat_ref,
                 doc_id % 90 AS lat_deg, (doc_id * 7) % 60 AS lat_min,
                 (doc_id * 13) % 6000 AS lat_s100,
                 CASE WHEN doc_id % 3 = 0 THEN 'E' ELSE 'W' END AS lon_ref,
                 doc_id % 180 AS lon_deg, (doc_id * 11) % 60 AS lon_min,
                 (doc_id * 17) % 6000 AS lon_s100
          FROM documents)
        SELECT doc_id,
               CAST(1 + doc_id % 8 AS INT) AS orientation,
               'Cam' || (doc_id % 9) AS make,
               lat_ref,
               CAST(CASE WHEN lat_ref = 'S' THEN -1 ELSE 1 END
                    * ((lat_deg * 3600 + lat_min * 60) * 100 + lat_s100)
                    AS BIGINT) AS lat_as100,
               CAST(CASE WHEN lat_ref = 'S' THEN -1 ELSE 1 END AS DOUBLE)
                 * (CAST(lat_deg AS DOUBLE)
                    + CAST(lat_min AS DOUBLE) / 60.0
                    + CAST(lat_s100 AS DOUBLE) / 100.0 / 3600.0) AS lat_dd,
               lon_ref,
               CAST(CASE WHEN lon_ref = 'W' THEN -1 ELSE 1 END
                    * ((lon_deg * 3600 + lon_min * 60) * 100 + lon_s100)
                    AS BIGINT) AS lon_as100,
               CAST(CASE WHEN lon_ref = 'W' THEN -1 ELSE 1 END AS DOUBLE)
                 * (CAST(lon_deg AS DOUBLE)
                    + CAST(lon_min AS DOUBLE) / 60.0
                    + CAST(lon_s100 AS DOUBLE) / 100.0 / 3600.0) AS lon_dd,
               CAST(8 + doc_id % 56 AS INT) AS thumb_w,
               CAST(8 + (doc_id * 3) % 40 AS INT) AS thumb_h,
               CAST(45 + (doc_id * 5) % 48 AS BIGINT) AS thumb_len,
               CAST(265 + (doc_id * 5) % 48 AS BIGINT) AS n_bytes
        FROM g
        ORDER BY doc_id""")),

    // ----- DICOM Part 10 sniff (round 14) -------------------------------
    // Medical imaging as a corpus modality: preamble + DICM magic,
    // the File Meta group (always explicit-VR LE) delimited by its
    // group-length element and carrying SOP class + transfer syntax
    // UIDs (NUL-padded to even length), then the explicit-LE dataset:
    // modality, NUL/space-padded patient name, u16 rows/cols, and an
    // OB pixel stub exercising the long-VR 12-byte header. The oracle
    // replays every field, the element count, and the exact padded
    // stream length.
    QueryDef(
      "q396_dicom_sniff",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val (sop, modality) = (id % 3) match {
              case 0 => ("1.2.840.10008.5.1.4.1.1.2", "CT")
              case 1 => ("1.2.840.10008.5.1.4.1.1.4", "MR")
              case _ => ("1.2.840.10008.5.1.4.1.1.6", "US")
            }
            val blob = Dicom.encodeDicom(sop, modality,
              patient = s"Doe^J$id",
              rows = (64 + id % 192).toInt, cols = (64 + (id * 3) % 192).toInt,
              pixelBytes = (2 * (id % 50)).toInt)
            val m = Dicom.decodeDicom(blob)
            (id, m.map(_.transferSyntax).orNull,
              m.flatMap(_.mediaSopClass).orNull,
              m.flatMap(_.modality).orNull,
              m.flatMap(_.rows), m.flatMap(_.cols),
              m.flatMap(_.patientName).orNull,
              m.map(_.nElements), blob.length.toLong)
          }
          .toDF("doc_id", "transfer_syntax", "sop_class", "modality",
            "rows", "cols", "patient", "n_elements", "n_bytes")
          .orderBy($"doc_id")
      },
      // n_bytes = 256 + padded |patient| + pixel bytes (sop UIDs all
      // 25 chars -> 26 padded; see Dicom.encodeDicom layout)
      Some("""
        WITH p AS (
          SELECT doc_id,
                 octet_length(encode('Doe^J' || doc_id)) AS pl,
                 2 * (doc_id % 50) AS pix
          FROM documents)
        SELECT doc_id,
               '1.2.840.10008.1.2.1' AS transfer_syntax,
               CASE doc_id % 3
                 WHEN 0 THEN '1.2.840.10008.5.1.4.1.1.2'
                 WHEN 1 THEN '1.2.840.10008.5.1.4.1.1.4'
                 ELSE '1.2.840.10008.5.1.4.1.1.6' END AS sop_class,
               CASE doc_id % 3 WHEN 0 THEN 'CT' WHEN 1 THEN 'MR'
                 ELSE 'US' END AS modality,
               CAST(64 + doc_id % 192 AS INT) AS rows,
               CAST(64 + (doc_id * 3) % 192 AS INT) AS cols,
               'Doe^J' || doc_id AS patient,
               CAST(8 AS INT) AS n_elements,
               CAST(256 + pl + pl % 2 + pix AS BIGINT) AS n_bytes
        FROM p
        ORDER BY doc_id""")),

    // ----- iCalendar parse (round 14) -----------------------------------
    // The calendar-export corpus (RFC 5545): folded lines unfold
    // (every long SUMMARY is split mid-word with CRLF+SP), property
    // parameters respect the first-colon rule (DTSTART;TZID=...:v on
    // every second event), and TEXT escapes (\, \; \n) decode. The
    // oracle replays the event count, lexicographic min/max DTSTART
    // (exact in the spec's basic format), the unescaped first
    // summary, and PRODID.
    QueryDef(
      "q394_ical_parse",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val n = (1 + id % 7).toInt
            val events = (0 until n).map { k =>
              (s"${2018 + (id + k) % 8}0${1 + (id + k) % 9}15T1${k % 10}0000Z",
                s"Event $id, room; $k with a long enough name to fold")
            }
            val blob = Ical.encodeIcal(s"-//graft//cal $id//EN", events)
            val m = Ical.decodeIcal(blob)
            (id, m.flatMap(_.prodid).orNull, m.map(_.nEvents),
              m.flatMap(_.minStart).orNull, m.flatMap(_.maxStart).orNull,
              m.flatMap(_.firstSummary).orNull)
          }
          .toDF("doc_id", "prodid", "n_events", "min_start", "max_start",
            "first_summary")
          .orderBy($"doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, CAST(1 + doc_id % 7 AS INT) AS n FROM documents),
        ev AS (
          SELECT b.doc_id,
                 (2018 + (b.doc_id + k) % 8) || '0' ||
                 (1 + (b.doc_id + k) % 9) || '15T1' || (k % 10) ||
                 '0000Z' AS start
          FROM base b, unnest(generate_series(0, b.n - 1)) AS t(k)),
        agg AS (
          SELECT doc_id, MIN(start) AS min_start, MAX(start) AS max_start
          FROM ev GROUP BY doc_id)
        SELECT b.doc_id,
               '-//graft//cal ' || b.doc_id || '//EN' AS prodid,
               b.n AS n_events,
               a.min_start, a.max_start,
               'Event ' || b.doc_id ||
                 ', room; 0 with a long enough name to fold'
                 AS first_summary
        FROM base b JOIN agg a ON a.doc_id = b.doc_id
        ORDER BY b.doc_id""")),

    // ----- SQLite header sniff (round 14) -------------------------------
    // Database files as a crawl population: the 100-byte header
    // answers triage without touching a page — page size (the value 1
    // encoding 65536), page count cross-checked against the actual
    // byte length (truncated dumps fail), text encoding, and the
    // user/application ids. The oracle replays every field and the
    // exact extent.
    QueryDef(
      "q395_sqlite_header_sniff",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val pageSize = (id % 5) match {
              case 0 => 512; case 1 => 1024; case 2 => 4096
              case 3 => 32768; case _ => 65536
            }
            val blob = Sqlite.encodeSqlite(pageSize,
              nPages = (1 + id % 5).toInt,
              encoding = (1 + id % 3).toInt,
              userVersion = id % 100, applicationId = id % 1000)
            val m = Sqlite.decodeSqlite(blob)
            (id, m.map(_.pageSize), m.map(_.nPages),
              m.map(_.encoding).orNull, m.map(_.userVersion),
              m.map(_.applicationId), m.map(_.fileBytes))
          }
          .toDF("doc_id", "page_size", "n_pages", "encoding",
            "user_version", "application_id", "file_bytes")
          .orderBy($"doc_id")
      },
      Some("""
        WITH p AS (
          SELECT doc_id,
                 CASE doc_id % 5 WHEN 0 THEN 512 WHEN 1 THEN 1024
                      WHEN 2 THEN 4096 WHEN 3 THEN 32768
                      ELSE 65536 END AS page_size,
                 CAST(1 + doc_id % 5 AS BIGINT) AS n_pages
          FROM documents)
        SELECT doc_id,
               CAST(page_size AS INT) AS page_size,
               n_pages,
               CASE doc_id % 3 WHEN 0 THEN 'utf8' WHEN 1 THEN 'utf16le'
                    ELSE 'utf16be' END AS encoding,
               CAST(doc_id % 100 AS BIGINT) AS user_version,
               CAST(doc_id % 1000 AS BIGINT) AS application_id,
               CAST(page_size * n_pages AS BIGINT) AS file_bytes
        FROM p
        ORDER BY doc_id""")),

    // ----- EPUB metadata (round 14 composition) -------------------------
    // The book-corpus container, three hops deep through the tested
    // ZIP reader: STORED mimetype conformance check, container.xml →
    // rootfile full-path, OPF Dublin Core (entity-escaped titles) +
    // manifest/spine sizes as the chapter-count signal. The oracle
    // replays every field from doc_id arithmetic.
    QueryDef(
      "q393_epub_metadata",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val n = (1 + id % 6).toInt
            val blob = Epub.encodeEpub(
              title = s"Book & Tome $id",
              creator = s"Author ${id % 30}",
              language = (id % 3) match {
                case 0 => "en"; case 1 => "fr"; case _ => "de"
              },
              identifier = s"urn:isbn:978-$id",
              nChapters = n)
            val m = Epub.decodeEpub(blob)
            (id, m.flatMap(_.title).orNull, m.flatMap(_.creator).orNull,
              m.flatMap(_.language).orNull,
              m.flatMap(_.identifier).orNull,
              m.map(_.nManifest), m.map(_.nSpine), m.map(_.nEntries),
              m.map(_.mimetypeOk))
          }
          .toDF("doc_id", "title", "creator", "language", "identifier",
            "n_manifest", "n_spine", "n_entries", "mimetype_ok")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               'Book & Tome ' || doc_id AS title,
               'Author ' || (doc_id % 30) AS creator,
               CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'fr'
                    ELSE 'de' END AS language,
               'urn:isbn:978-' || doc_id AS identifier,
               CAST(1 + doc_id % 6 AS INT) AS n_manifest,
               CAST(1 + doc_id % 6 AS INT) AS n_spine,
               CAST(3 + 1 + doc_id % 6 AS INT) AS n_entries,
               TRUE AS mimetype_ok
        FROM documents
        ORDER BY doc_id""")),

    // ----- email / MIME parse (round 14) --------------------------------
    // Mailing-list archives as a corpus modality: folded headers
    // unfold, RFC 2047 encoded-word subjects decode (B and Q forms by
    // parity — the non-ASCII subject forces real encoding), and the
    // multipart walk finds the FIRST text/plain part, decoding its
    // quoted-printable body (escaped '=', a soft line break) while
    // skipping the base64 HTML twin. The oracle replays every header,
    // the part count, and the exact decoded body text.
    QueryDef(
      "q392_email_mime_parse",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val blob = Eml.encodeMultipart(
              fromAddr = s"user${id % 40}@example.test",
              subject = s"Report #$id — naïve résumé",
              date = s"Mon, ${1 + id % 28} Jan ${2015 + id % 10} " +
                "12:00:00 +0000",
              textBody = s"body $id with = sign",
              useB = id % 2 == 0)
            val m = Eml.parseEmail(blob)
            (id, m.flatMap(_.from).orNull, m.flatMap(_.subject).orNull,
              m.flatMap(_.date).orNull, m.map(_.contentType).orNull,
              m.map(_.nParts), m.flatMap(_.textBody).orNull)
          }
          .toDF("doc_id", "from_addr", "subject", "date", "content_type",
            "n_parts", "text")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               'user' || (doc_id % 40) || '@example.test' AS from_addr,
               'Report #' || doc_id || ' — naïve résumé' AS subject,
               'Mon, ' || (1 + doc_id % 28) || ' Jan ' ||
                 (2015 + doc_id % 10) || ' 12:00:00 +0000' AS date,
               'multipart/alternative' AS content_type,
               CAST(2 AS INT) AS n_parts,
               'body ' || doc_id || ' with = signsoft-wrapped tail' AS text
        FROM documents
        ORDER BY doc_id""")),

    // ----- ICC profile assembly from APP2 (round 14) --------------------
    // Color management as a curation signal: profiles larger than one
    // segment SPAN multiple APP2s ("ICC_PROFILE\0" + 1-based seq +
    // count) and must reassemble in SEQUENCE order — the fixture
    // emits parts in REVERSE stream order with COM decoys between
    // them to force the reorder. Header fields (device class, color
    // space, PCS, rendering intent), the declared-vs-assembled size
    // cross-check, and the tag count are replayed by the oracle along
    // with the exact stream-length formula. The plain header decode
    // runs the same stream.
    QueryDef(
      "q391_jpeg_icc_profile",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val devClass = (id % 3) match {
              case 0 => "mntr"; case 1 => "prtr"; case _ => "scnr"
            }
            val space = (id % 4) match {
              case 0 => "RGB "; case 1 => "CMYK"; case 2 => "GRAY"
              case _ => "Lab "
            }
            val profile = Icc.encodeProfile(devClass, space, "XYZ ",
              intent = (id % 4).toInt, nTags = (1 + id % 9).toInt)
            val blob = Icc.encodeJpegWithIcc(
              (16 + id % 624).toInt, (16 + (id * 7) % 464).toInt,
              profile, nSegments = (1 + id % 4).toInt)
            val p = Icc.decodeJpegIcc(blob)
            val img = ImageHeaders.decode(blob)
            (id, p.map(_.deviceClass).orNull, p.map(_.colorSpace).orNull,
              p.map(_.pcs).orNull, p.map(_.renderingIntent),
              p.map(_.profileSize), p.map(_.nTags), p.map(_.nSegments),
              img.map(_.width), img.map(_.height), blob.length.toLong)
          }
          .toDF("doc_id", "device_class", "color_space", "pcs", "intent",
            "profile_size", "n_tags", "n_segments", "width", "height",
            "n_bytes")
          .orderBy($"doc_id")
      },
      // profile = 144 + 12*nTags; stream = 14 + 27*nSeg + profile
      Some("""
        WITH p AS (
          SELECT doc_id,
                 CAST(1 + doc_id % 9 AS INT) AS ntags,
                 CAST(1 + doc_id % 4 AS INT) AS nseg
          FROM documents)
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'mntr' WHEN 1 THEN 'prtr'
                    ELSE 'scnr' END AS device_class,
               CASE doc_id % 4 WHEN 0 THEN 'RGB ' WHEN 1 THEN 'CMYK'
                    WHEN 2 THEN 'GRAY' ELSE 'Lab ' END AS color_space,
               'XYZ ' AS pcs,
               CAST(doc_id % 4 AS INT) AS intent,
               CAST(144 + 12 * ntags AS BIGINT) AS profile_size,
               ntags AS n_tags,
               nseg AS n_segments,
               CAST(16 + doc_id % 624 AS INT) AS width,
               CAST(16 + (doc_id * 7) % 464 AS INT) AS height,
               CAST(14 + 27 * nseg + 144 + 12 * ntags AS BIGINT) AS n_bytes
        FROM p
        ORDER BY doc_id""")),

    // ----- GPS geo-cell density (round 14 composition) ------------------
    // What q378's GPS decode feeds: quantize signed decimal degrees to
    // integer 10°×10° cells (floor semantics — a western longitude
    // must land in the NEGATIVE cell, which integer division would
    // get wrong) and aggregate per-cell densities. The exact
    // centi-arcsecond representation drives the cell math in integer
    // space, so the oracle replays it with no floating-point hazard.
    // The groupBy shuffles cell keys, never blobs.
    QueryDef(
      "q390_gps_geocell_density",
      (s, dir) => {
        import s.implicits._
        val decoded = Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val thumb = ImageHeaders.encodeJpeg(8, 8, 8,
              Array.emptyByteArray)
            val blob = TiffHeaders.encodeJpegExifGps(
              width = 64, height = 64,
              orientation = 1, make = s"Cam${id % 9}",
              bigEndian = id % 2 == 1,
              latRef = if (id % 2 == 0) 'N' else 'S',
              latDeg = id % 90, latMin = (id * 7) % 60,
              latSecNum = (id * 13) % 6000, latSecDen = 100,
              lonRef = if (id % 3 == 0) 'E' else 'W',
              lonDeg = id % 180, lonMin = (id * 11) % 60,
              lonSecNum = (id * 17) % 6000, lonSecDen = 100,
              thumb = thumb)
            val e = TiffHeaders.decodeJpegExifFull(blob)
            def as100(c: TiffHeaders.GpsCoord): Long = {
              val sign = if (c.ref == "S" || c.ref == "W") -1L else 1L
              sign * ((c.degNum / c.degDen * 3600 +
                c.minNum / c.minDen * 60) * 100 +
                c.secNum * 100 / c.secDen)
            }
            (id, e.flatMap(_.lat).map(as100).getOrElse(Long.MinValue),
              e.flatMap(_.lon).map(as100).getOrElse(Long.MinValue),
              e.flatMap(_.make).orNull)
          }
          .toDF("doc_id", "lat_as100", "lon_as100", "make")
        // 10° cell = 3_600_000 centi-arcseconds; floorDiv, NOT integer
        // division (S/W coordinates must floor toward -∞)
        val cellL = lit(3600000L)
        decoded
          .withColumn("cell_lat",
            floor($"lat_as100".cast("double") / cellL).cast("int"))
          .withColumn("cell_lon",
            floor($"lon_as100".cast("double") / cellL).cast("int"))
          .groupBy($"cell_lat", $"cell_lon")
          .agg(count(lit(1)).as("n"),
            countDistinct($"make").as("n_makes"),
            min($"doc_id").as("first_doc"))
          .orderBy($"cell_lat", $"cell_lon")
      },
      Some("""
        WITH g AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END
                   * ((doc_id % 90) * 360000 + ((doc_id * 7) % 60) * 6000
                      + (doc_id * 13) % 6000) AS lat_as100,
                 CASE WHEN doc_id % 3 = 0 THEN 1 ELSE -1 END
                   * ((doc_id % 180) * 360000 + ((doc_id * 11) % 60) * 6000
                      + (doc_id * 17) % 6000) AS lon_as100,
                 'Cam' || (doc_id % 9) AS make
          FROM documents)
        SELECT CAST(floor(lat_as100 / 3600000.0) AS INT) AS cell_lat,
               CAST(floor(lon_as100 / 3600000.0) AS INT) AS cell_lon,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT make) AS BIGINT) AS n_makes,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc
        FROM g
        GROUP BY 1, 2
        ORDER BY 1, 2""")),

    // ----- RSS/Atom feed parse (round 14) -------------------------------
    // The freshest-URL discovery channel next to sitemaps: RSS 2.0
    // items (CDATA titles every third item) and Atom entries
    // (href-style links, RFC 3339 updated stamps), cycled by doc
    // parity. Channel title is the first <title> BEFORE any entry —
    // an entry's own title must not leak up. The oracle replays the
    // kind, titles, entry/link counts, and the max date stamp.
    QueryDef(
      "q389_feed_parse",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val n = (2 + id % 5).toInt
            val entries = (0 until n).map { k =>
              (s"post $id-$k & more",
                s"https://h${id % 9}.test/p$k",
                s"${2015 + (id + k) % 10}-0${1 + (id + k) % 9}-11")
            }
            val blob =
              if (id % 2 == 0) Feed.encodeRss(s"chan <$id>", entries)
              else Feed.encodeAtom(s"chan <$id>", entries)
            val m = Feed.decodeFeed(blob)
            (id, m.map(_.kind).orNull, m.flatMap(_.title).orNull,
              m.map(_.nEntries), m.map(_.nLinks),
              m.flatMap(_.maxDate).orNull)
          }
          .toDF("doc_id", "kind", "title", "n_entries", "n_links",
            "max_date")
          .orderBy($"doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, CAST(2 + doc_id % 5 AS INT) AS n
          FROM documents),
        dates AS (
          SELECT b.doc_id,
                 MAX((2015 + (b.doc_id + k) % 10) || '-0' ||
                     (1 + (b.doc_id + k) % 9) || '-11') AS max_date
          FROM base b, unnest(generate_series(0, b.n - 1)) AS t(k)
          GROUP BY b.doc_id)
        SELECT b.doc_id,
               CASE WHEN b.doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
               'chan <' || b.doc_id || '>' AS title,
               b.n AS n_entries,
               b.n AS n_links,
               d.max_date
        FROM base b JOIN dates d ON d.doc_id = b.doc_id
        ORDER BY b.doc_id""")),

    // ----- HLS playlist parse (round 14) --------------------------------
    // The manifests video ships under (RFC 8216): media playlists
    // (EXTINF durations summed in exact ms, TARGETDURATION, ENDLIST =
    // VOD vs live) and master playlists (STREAM-INF attribute lists
    // whose quoted CODECS value carries a comma the parser must not
    // split on; max bandwidth/resolution across variants), cycled by
    // doc. Comment and blank-line noise sits between EXTINF and its
    // URI. The oracle replays every field from doc_id arithmetic.
    QueryDef(
      "q388_hls_playlist_parse",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val blob =
              if (id % 3 == 0) {
                val n = (1 + id % 4).toInt
                M3u8.encodeMasterPlaylist((3 + id % 5).toInt,
                  (0 until n).map(k =>
                    (100000L * (k + 1) + id % 997, 640 + 64 * k,
                      360 + 36 * k)))
              } else {
                val n = (3 + id % 6).toInt
                M3u8.encodeMediaPlaylist((3 + id % 5).toInt, 10,
                  (0 until n).map(k => (20 + (id + k) % 80).toInt),
                  ended = id % 2 == 1)
              }
            val m = M3u8.decodeM3u8(blob)
            (id, m.map(_.kind).orNull, m.map(_.version),
              m.map(_.nSegments), m.map(_.totalDurationMs),
              m.map(_.targetDuration), m.map(_.ended),
              m.map(_.nVariants), m.map(_.maxBandwidth),
              m.map(_.maxWidth), m.map(_.maxHeight))
          }
          .toDF("doc_id", "kind", "version", "n_segments", "total_ms",
            "target", "ended", "n_variants", "max_bw", "max_w", "max_h")
          .orderBy($"doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id,
                 doc_id % 3 = 0 AS master,
                 CAST(3 + doc_id % 5 AS INT) AS version,
                 CAST(1 + doc_id % 4 AS BIGINT) AS nv,
                 CAST(3 + doc_id % 6 AS INT) AS ns
          FROM documents),
        segs AS (
          SELECT b.doc_id,
                 SUM((20 + (b.doc_id + k) % 80) * 100) AS total_ms
          FROM base b, unnest(generate_series(0, b.ns - 1)) AS t(k)
          WHERE NOT b.master
          GROUP BY b.doc_id)
        SELECT b.doc_id,
               CASE WHEN b.master THEN 'master' ELSE 'media' END AS kind,
               b.version,
               CAST(CASE WHEN b.master THEN 0 ELSE b.ns END AS INT)
                 AS n_segments,
               CAST(CASE WHEN b.master THEN 0 ELSE s.total_ms END AS BIGINT)
                 AS total_ms,
               CAST(CASE WHEN b.master THEN 0 ELSE 10 END AS INT) AS target,
               (NOT b.master) AND b.doc_id % 2 = 1 AS ended,
               CAST(CASE WHEN b.master THEN b.nv ELSE 0 END AS INT)
                 AS n_variants,
               CAST(CASE WHEN b.master THEN 100000 * b.nv + b.doc_id % 997
                    ELSE 0 END AS BIGINT) AS max_bw,
               CAST(CASE WHEN b.master THEN 640 + 64 * (b.nv - 1)
                    ELSE 0 END AS INT) AS max_w,
               CAST(CASE WHEN b.master THEN 360 + 36 * (b.nv - 1)
                    ELSE 0 END AS INT) AS max_h
        FROM base b LEFT JOIN segs s ON s.doc_id = b.doc_id
        ORDER BY b.doc_id""")),

    // ----- JSON-LD extraction (round 14) --------------------------------
    // The publisher-declared metadata channel (schema.org in
    // <script type="application/ld+json">): headline / datePublished /
    // @type read by a minimal JSON object reader that surfaces
    // TOP-LEVEL STRING fields and structurally skips nested objects,
    // arrays, and numbers. The page also carries a plain-script decoy
    // and (every 5th doc) a MALFORMED ld+json block the reader must
    // skip without poisoning the good one. The oracle replays every
    // field, the block count, and the escape-decoded headline.
    QueryDef(
      "q387_jsonld_extract",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val atType = if (id % 3 == 1) "Product" else "Article"
            val date = s"${2010 + id % 15}-0${1 + id % 9}-1${id % 10}"
            val good =
              s"""{"@context":"https://schema.org","@type":"$atType",
                 |"headline":"h$id \\"x\\"","datePublished":"$date",
                 |"author":{"@type":"Person","name":"a${id % 9}"},
                 |"wordCount":${100 + id % 900}}""".stripMargin
            val second =
              if (id % 4 == 0)
                """<script type="application/ld+json">
                  |{"@type":"BreadcrumbList","name":"crumbs"}
                  |</script>""".stripMargin
              else ""
            val broken =
              if (id % 5 == 0)
                """<script type="application/ld+json">{"@type":"Oops",</script>"""
              else ""
            val html =
              s"""<html><head><title>decoy $id</title>
                 |<script>var ld = "application/ld+json decoy";</script>
                 |$broken
                 |<script type="application/ld+json">$good</script>
                 |$second</head><body>body $id</body></html>""".stripMargin
            val blocks = JsonLd.extract(html)
            val first = blocks.headOption
            (id, blocks.length,
              first.flatMap(_.atType).orNull,
              first.flatMap(_.fields.get("headline")).orNull,
              first.flatMap(_.fields.get("datePublished")).orNull,
              first.map(_.fields.size))
          }
          .toDF("doc_id", "n_blocks", "at_type", "headline",
            "date_published", "n_fields")
          .orderBy($"doc_id")
      },
      // top-level strings of the good block: @context, @type, headline,
      // datePublished = 4 (author object + wordCount skipped)
      Some("""
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS INT)
                 AS n_blocks,
               CASE WHEN doc_id % 3 = 1 THEN 'Product' ELSE 'Article' END
                 AS at_type,
               'h' || doc_id || ' "x"' AS headline,
               (2010 + doc_id % 15) || '-0' || (1 + doc_id % 9) || '-1'
                 || (doc_id % 10) AS date_published,
               CAST(4 AS INT) AS n_fields
        FROM documents
        ORDER BY doc_id""")),

    // ----- SVG sniff: the vector-image population (round 14) ------------
    // Dimensions (explicit px attrs OR the viewBox fallback), the
    // entity-decoded <title>, and path/shape counts — the complexity
    // signal that separates an illustration from a tracking pixel —
    // across four prolog/quote/attribute-order variants (XML decl,
    // comment-led single-quote, DOCTYPE + viewBox-only, bare attrs
    // with no title). The oracle replays every field per variant.
    // Map-only per blob.
    QueryDef(
      "q386_svg_sniff",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val w = (16 + id % 624).toInt
            val h = (16 + (id * 7) % 464).toInt
            val blob = Svg.encodeSvg(w, h, s"icon &$id <logo>",
              nPaths = (id % 5).toInt, nRects = (id % 4).toInt,
              variant = (id % 4).toInt)
            val m = Svg.decodeSvg(blob)
            (id, m.flatMap(_.width), m.flatMap(_.height),
              m.flatMap(_.viewBoxW), m.flatMap(_.viewBoxH),
              m.flatMap(_.title).orNull,
              m.map(_.nPaths), m.map(_.nShapes))
          }
          .toDF("doc_id", "width", "height", "vb_w", "vb_h", "title",
            "n_paths", "n_shapes")
          .orderBy($"doc_id")
      },
      // variant 2 has no width/height attrs; variant 3 no viewBox/title
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CAST(16 + doc_id % 624 AS DOUBLE) AS w,
                 CAST(16 + (doc_id * 7) % 464 AS DOUBLE) AS h,
                 doc_id % 4 AS v
          FROM documents)
        SELECT doc_id,
               CASE WHEN v = 2 THEN NULL ELSE w END AS width,
               CASE WHEN v = 2 THEN NULL ELSE h END AS height,
               CASE WHEN v = 3 THEN NULL ELSE w END AS vb_w,
               CASE WHEN v = 3 THEN NULL ELSE h END AS vb_h,
               CASE WHEN v = 3 THEN NULL
                    ELSE 'icon &' || doc_id || ' <logo>' END AS title,
               CAST(doc_id % 5 AS INT) AS n_paths,
               CAST(doc_id % 4 AS INT) AS n_shapes
        FROM d
        ORDER BY doc_id""")),

    // ----- EXIF capture-time curation (round 14) ------------------------
    // The Exif sub-IFD (0x8769) timestamp fields temporal curation
    // cuts on: DateTimeOriginal ("YYYY:MM:DD HH:MM:SS", offset-valued
    // 20-byte ASCII) + SubSecTimeOriginal (inline ASCII digits). The
    // composition is the cut itself: decode → parse the year → keep a
    // 2000–2019 capture window → per-year histogram with distinct
    // makes, min/max full timestamps (string order = time order in
    // EXIF's zero-padded format), and the max sub-second — every
    // column replayable from doc_id arithmetic. The groupBy shuffles
    // 20 year-keys, never media.
    QueryDef(
      "q385_exif_capture_time_curation",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val dt = f"${1990 + id % 35}:${1 + id % 12}%02d:" +
              f"${1 + id % 28}%02d ${id % 24}%02d:${id % 60}%02d:" +
              f"${id * 7 % 60}%02d"
            val blob = TiffHeaders.encodeJpegExifDated(
              width = (16 + id % 624).toInt,
              height = (16 + (id * 7) % 464).toInt,
              orientation = (1 + id % 8).toInt, make = s"Cam${id % 9}",
              bigEndian = id % 2 == 1, dateTime = dt,
              subSec = s"${id % 1000}")
            val e = TiffHeaders.decodeJpegExifFull(blob)
            (id, e.flatMap(_.dateTimeOriginal).orNull,
              e.flatMap(_.subSecOriginal).orNull,
              e.flatMap(_.make).orNull, blob.length.toLong)
          }
          .toDF("doc_id", "dto", "subsec", "make", "n_bytes")
          .filter(substring($"dto", 1, 4).cast("int").between(2000, 2019))
          .groupBy(substring($"dto", 1, 4).cast("int").as("year"))
          .agg(count(lit(1)).as("n"),
            countDistinct($"make").as("n_makes"),
            min($"dto").as("first_ts"), max($"dto").as("last_ts"),
            max($"subsec".cast("int")).as("max_subsec"),
            max($"n_bytes").as("n_bytes"))
          .orderBy($"year")
      },
      // stream length: 33 + 100 + |make|+1 = 138 for 'CamX'
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CAST(1990 + doc_id % 35 AS INT) AS year,
                 (1990 + doc_id % 35) || ':' ||
                 lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') || ':' ||
                 lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') || ' ' ||
                 lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':' ||
                 lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || ':' ||
                 lpad(CAST(doc_id * 7 % 60 AS VARCHAR), 2, '0') AS dto,
                 CAST(doc_id % 1000 AS INT) AS subsec,
                 'Cam' || (doc_id % 9) AS make
          FROM documents)
        SELECT year,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT make) AS BIGINT) AS n_makes,
               MIN(dto) AS first_ts, MAX(dto) AS last_ts,
               CAST(MAX(subsec) AS INT) AS max_subsec,
               CAST(138 AS BIGINT) AS n_bytes
        FROM d
        WHERE year BETWEEN 2000 AND 2019
        GROUP BY year
        ORDER BY year""")),

    // ----- cross-format tag dedup (round 14 composition) ----------------
    // What the tag decoders exist FOR: five container formats (FLAC /
    // Ogg Opus / Ogg Vorbis / MP4 ilst / bare ID3v2.4) normalize to
    // one (artist, title) relation, then a distributed exact dedup
    // keyed on the normalized pair — min-id keeper, copy count, and
    // the container spread per group. The groupBy compiles to partial
    // + final hash aggregation, so at corpus scale the shuffle carries
    // one row per (task, key), never the blobs. The oracle replays the
    // whole grouping from doc_id arithmetic.
    QueryDef(
      "q384_crossformat_tag_dedup",
      (s, dir) => {
        import s.implicits._
        val tags = Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val artist = s"artist ${id % 7}"
            val title = s"track ${id % 40}"
            val comments = Seq("ARTIST" -> artist, "TITLE" -> title)
            val blob = (id % 5) match {
              case 0 => AudioHeaders.encodeFlac(44100, 2, 16, 1000L,
                AudioHeaders.vorbisCommentBody("v", comments))
              case 1 => AudioHeaders.encodeOggOpus(2, 312, 48000, 1, 960L,
                AudioHeaders.opusTagsPacket("v", comments))
              case 2 => AudioHeaders.encodeOggVorbis(2, 44100, 1, 1024L,
                AudioHeaders.vorbisCommentPacket("v", comments))
              case 3 => VideoHeaders.encodeMp4Tagged("mp42", 1000, 1000L,
                0, 0, 1, Array.emptyByteArray,
                title, artist, "alb", "2000", 1, 1)
              case _ => Id3.encodeId3(4,
                Seq("TPE1" -> artist, "TIT2" -> title), padding = 16)
            }
            val parsed = (id % 5) match {
              case 0 | 1 | 2 => AudioHeaders.decodeAudioTags(blob).map(x =>
                (x.container, x.fields.get("ARTIST").orNull,
                  x.fields.get("TITLE").orNull))
              case 3 => VideoHeaders.decodeMp4Tags(blob).map(x =>
                ("mp4", x.artist.orNull, x.title.orNull))
              case _ => Id3.parseId3(blob).map(x =>
                ("id3", x.frames.get("TPE1").orNull,
                  x.frames.get("TIT2").orNull))
            }
            val (container, a, t) = parsed.getOrElse(("none", null, null))
            (id, container, a, t)
          }
          .toDF("doc_id", "container", "artist", "title")
        tags.groupBy($"artist", $"title")
          .agg(min($"doc_id").as("keeper"),
            count(lit(1)).as("n_copies"),
            countDistinct($"container").as("n_containers"))
          .orderBy($"artist", $"title")
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
                 'artist ' || (doc_id % 7) AS artist,
                 'track ' || (doc_id % 40) AS title,
                 CASE doc_id % 5 WHEN 0 THEN 'flac' WHEN 1 THEN 'opus'
                      WHEN 2 THEN 'vorbis' WHEN 3 THEN 'mp4'
                      ELSE 'id3' END AS container
          FROM documents)
        SELECT artist, title,
               CAST(MIN(doc_id) AS BIGINT) AS keeper,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               CAST(COUNT(DISTINCT container) AS BIGINT) AS n_containers
        FROM t
        GROUP BY artist, title
        ORDER BY artist, title""")),

    // ----- WebP VP8X EXIF/XMP chunks (round 14) -------------------------
    // Completes EXIF across the big-three image formats (JPEG q378,
    // PNG q382, WebP here): the VP8X flag bits gate EXIF ('Exif\0\0'-
    // prefixed or bare TIFF, both real-writer shapes, cycled by
    // parity) and 'XMP ' chunks, with RIFF odd-size padding exercised
    // on every chunk. The plain header sniff reads canvas dims off the
    // same stream. The oracle replays the EXIF fields, the XMP packet
    // verbatim, dims, and the exact padded stream length.
    QueryDef(
      "q383_webp_exif_xmp",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val xmp =
              if (id % 3 == 2) ""
              else s"<x:xmpmeta><dc:title>t$id</dc:title></x:xmpmeta>"
            MediaRecord(id,
              ImageHeaders.encodeWebpExif(
                width = (16 + id % 624).toInt,
                height = (16 + (id * 7) % 464).toInt,
                orientation = (1 + id % 8).toInt, make = s"Cam${id % 9}",
                bigEndian = id % 2 == 1, exifPrefix = id % 2 == 0,
                xmp = xmp),
              "image/webp")
          }
        media.mapPartitions { it =>
          it.map { r =>
            val meta = ImageHeaders.decodeWebpMeta(r.media)
            val exif = meta.flatMap(_._1)
            val img = ImageHeaders.decode(r.media)
            (r.doc_id, exif.map(_.orientation),
              exif.flatMap(_.make).orNull,
              meta.flatMap(_._2).orNull,
              img.map(_.format).orNull,
              img.map(_.width), img.map(_.height),
              r.media.length.toLong)
          }
        }.toDF("doc_id", "orientation", "make", "xmp", "format",
            "width", "height", "n_bytes")
          .orderBy($"doc_id")
      },
      // exif payload 49 (prefixed) / 43 (bare), both odd -> +1 pad;
      // chunks: RIFF 12 + VP8X 18 + EXIF + [XMP] + VP8L 14
      Some("""
        WITH w AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 2 THEN NULL
                      ELSE '<x:xmpmeta><dc:title>t' || doc_id ||
                           '</dc:title></x:xmpmeta>' END AS xmp,
                 CASE WHEN doc_id % 2 = 0 THEN 50 ELSE 44 END AS exif_padded
          FROM documents)
        SELECT doc_id,
               CAST(1 + doc_id % 8 AS INT) AS orientation,
               'Cam' || (doc_id % 9) AS make,
               xmp,
               'webp_extended' AS format,
               CAST(16 + doc_id % 624 AS INT) AS width,
               CAST(16 + (doc_id * 7) % 464 AS INT) AS height,
               CAST(12 + 18 + 8 + exif_padded
                    + CASE WHEN xmp IS NULL THEN 0
                           ELSE 8 + octet_length(encode(xmp))
                                + octet_length(encode(xmp)) % 2 END
                    + 14 AS BIGINT) AS n_bytes
        FROM w
        ORDER BY doc_id""")),

    // ----- PNG text + eXIf chunks (round 14) ----------------------------
    // The metadata the PNG decoders previously only HOPPED: tEXt
    // (Latin-1), zTXt (deflated Latin-1), iTXt (UTF-8, compressed by
    // parity, language-tagged), and eXIf (a bare TIFF IFD — the same
    // walk as JPEG APP1), all CRC-verified and spliced into a real
    // pixel-bearing PNG right before IEND. The PIXEL decoder runs over
    // the same spliced stream — chunk hops must be transparent — and
    // the oracle replays every text value (including the non-ASCII
    // iTXt), the EXIF fields, the chunk count, and the ramp pixel sum.
    QueryDef(
      "q382_png_text_chunks",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val w = (8 + id % 16).toInt
            val h = (8 + (id * 3) % 16).toInt
            val px = Array.tabulate(w * h)(i =>
              ((id * 13 + i.toLong * 7) % 256).toInt)
            val blob = PngMeta.withChunks(
              Pixels.encodeGrayPng(w, h, px, Array.emptyByteArray),
              Seq(
                PngMeta.textChunk("Title", s"title $id"),
                PngMeta.ztxtChunk("Description",
                  "d" * (10 + id % 40).toInt),
                PngMeta.itxtChunk("Comment", s"café $id — ok", "en",
                  compressed = id % 2 == 0),
                PngMeta.exifChunk((1 + id % 8).toInt, s"Cam${id % 9}",
                  bigEndian = id % 2 == 1)))
            val meta = PngMeta.decodePngMeta(blob)
            val pixels = Pixels.decodeGrayPng(blob)
            def field(kw: String, kind: String): String =
              meta.flatMap(_.texts.find(t =>
                t.keyword == kw && t.kind == kind)).map(_.value).orNull
            (id, meta.map(_.nChunks),
              field("Title", "text"), field("Description", "ztxt"),
              field("Comment", "itxt"),
              meta.flatMap(_.texts.find(_.kind == "itxt")).map(_.lang).orNull,
              meta.flatMap(_.exif).map(_.orientation),
              meta.flatMap(_.exif).flatMap(_.make).orNull,
              pixels.map(_._1), pixels.map(_._2),
              pixels.map(_._3.foldLeft(0L)(_ + _)))
          }
          .toDF("doc_id", "n_chunks", "title", "description", "comment",
            "lang", "exif_orientation", "exif_make", "width", "height",
            "px_sum")
          .orderBy($"doc_id")
      },
      // base PNG chunks (IHDR, tEXt, IDAT, IEND) + 4 spliced = 8
      Some("""
        WITH dims AS (
          SELECT doc_id,
                 CAST(8 + doc_id % 16 AS INT) AS w,
                 CAST(8 + (doc_id * 3) % 16 AS INT) AS h
          FROM documents),
        idx AS (
          SELECT doc_id, w, h,
                 unnest(generate_series(0, w * h - 1)) AS i
          FROM dims),
        sums AS (
          SELECT doc_id, SUM((doc_id * 13 + i * 7) % 256) AS px_sum
          FROM idx GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(8 AS INT) AS n_chunks,
               'title ' || d.doc_id AS title,
               repeat('d', CAST(10 + d.doc_id % 40 AS INT)) AS description,
               'café ' || d.doc_id || ' — ok' AS comment,
               'en' AS lang,
               CAST(1 + d.doc_id % 8 AS INT) AS exif_orientation,
               'Cam' || (d.doc_id % 9) AS exif_make,
               d.w AS width, d.h AS height,
               CAST(s.px_sum AS BIGINT) AS px_sum
        FROM dims d JOIN sums s ON s.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // ----- MP4 / ISO-BMFF header decode: the VIDEO modality ------------
    // Completes the image/audio/video triad: each doc becomes a
    // byte-valid header-only MP4 — ftyp, a variable-length 'free' box
    // the walk must hop, then moov[mvhd + per-track trak[tkhd]] with
    // the dims on the first track and later tracks 0x0 (the audio-
    // track shape the first-nonzero-dims rule exists for). The decoder
    // re-derives brand/timescale/duration/dims/track-count from the
    // big-endian box chain; the oracle replays the derivations and the
    // exact per-track stream lengths.
    QueryDef(
      "q241_mp4_header_decode",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            val ts = (id % 3) match {
              case 0 => 600; case 1 => 1000; case _ => 90000
            }
            MediaRecord(id,
              VideoHeaders.encodeMp4(
                brand = if (id % 2 == 0) "isom" else "mp42",
                timescale = ts,
                durationUnits = 1000L + (id * 29) % 100000,
                width = (16 + id % 624).toInt,
                height = (16 + (id * 7) % 464).toInt,
                nTracks = (1 + id % 2).toInt,
                note = text.getBytes("UTF-8")),
              "video/mp4")
          }
        decodeMp4Headers(media).toDF()
          .withColumn("duration_ms",
            expr("(duration_units * 1000) div timescale"))
          .orderBy($"doc_id")
      },
      // stream length: 24 ftyp + 8+len free + 8 moov hdr + 108 mvhd
      // + nTracks * 100 trak
      Some("""
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
               CAST(CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
                    ELSE 90000 END AS INT) AS timescale,
               CAST(1000 + (doc_id * 29) % 100000 AS BIGINT)
                 AS duration_units,
               CAST(16 + doc_id % 624 AS INT) AS width,
               CAST(16 + (doc_id * 7) % 464 AS INT) AS height,
               CAST(1 + doc_id % 2 AS INT) AS n_tracks,
               CAST(148 + octet_length(encode(text))
                    + (1 + doc_id % 2) * 100 AS BIGINT) AS n_bytes,
               CAST((1000 + (doc_id * 29) % 100000) * 1000
                    // (CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
                        ELSE 90000 END) AS BIGINT) AS duration_ms
        FROM documents
        ORDER BY doc_id""")),

    // ----- MP4 ilst tags: the iTunes metadata atoms (round 14) ---------
    // Completes the tag triad — ID3 (q260), Vorbis comments (q379),
    // ilst (here): moov > udta > meta(fullbox) > ilst, ©-prefixed
    // 4ccs matched by RAW bytes (0xA9 is not ASCII), text carried in
    // 'data' children with type flag 1 and trkn as a u16 pair with
    // flag 0. Both decoders run over the same blob — the header sniff
    // must be undisturbed by the udta growth. The oracle replays every
    // tag, the trkn pair, the item count, and the full stream-length
    // formula. Map-only per blob.
    QueryDef(
      "q381_mp4_ilst_tags",
      (s, dir) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text")
          .fanout.as[(Long, String)]
          .map { case (id, text) =>
            MediaRecord(id,
              VideoHeaders.encodeMp4Tagged(
                brand = if (id % 2 == 0) "isom" else "mp42",
                timescale = 1000,
                durationUnits = 1000L + (id * 29) % 100000,
                width = (16 + id % 624).toInt,
                height = (16 + (id * 7) % 464).toInt,
                nTracks = (1 + id % 2).toInt,
                note = text.getBytes("UTF-8"),
                title = s"title $id", artist = s"artist ${id % 40}",
                album = s"album ${id % 15}", day = s"${1980 + id % 45}",
                track = (1 + id % 20).toInt, trackTotal = 20),
              "video/mp4")
          }
        media.mapPartitions { it =>
          it.map { r =>
            val tags = VideoHeaders.decodeMp4Tags(r.media)
            val meta = VideoHeaders.decodeMp4(r.media)
            (r.doc_id,
              tags.flatMap(_.title).orNull, tags.flatMap(_.artist).orNull,
              tags.flatMap(_.album).orNull, tags.flatMap(_.day).orNull,
              tags.flatMap(_.track), tags.flatMap(_.trackTotal),
              tags.map(_.nItems),
              meta.map(_.brand).orNull, meta.map(_.durationUnits),
              r.media.length.toLong)
          }
        }.toDF("doc_id", "title", "artist", "album", "day",
            "track", "track_total", "n_items", "brand", "duration_units",
            "n_bytes")
          .orderBy($"doc_id")
      },
      // n_bytes = 148 + |note| + 100*nTracks + 189 + sum of tag text
      // lengths (all ASCII here)
      Some("""
        WITH t AS (
          SELECT doc_id,
                 'title ' || doc_id AS title,
                 'artist ' || (doc_id % 40) AS artist,
                 'album ' || (doc_id % 15) AS album,
                 CAST(1980 + doc_id % 45 AS VARCHAR) AS day,
                 octet_length(encode(text)) AS len,
                 1 + doc_id % 2 AS ntracks
          FROM documents)
        SELECT doc_id, title, artist, album, day,
               CAST(1 + doc_id % 20 AS INT) AS track,
               CAST(20 AS INT) AS track_total,
               CAST(5 AS INT) AS n_items,
               CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
               CAST(1000 + (doc_id * 29) % 100000 AS BIGINT)
                 AS duration_units,
               CAST(148 + len + 100 * ntracks + 189
                    + octet_length(encode(title)) + octet_length(encode(artist))
                    + octet_length(encode(album)) + octet_length(encode(day))
                    AS BIGINT) AS n_bytes
        FROM t
        ORDER BY doc_id"""))
  )

  /** Cut a binary payload into fixed-size frames, keep every `stride`-th:
    * (doc_id, frame_idx, frame). Empty payloads emit NO frames — Spark's
    * int division truncates (0-1)/N toward zero, which without the guard
    * would fabricate one empty frame where floor semantics (DuckDB `//`)
    * emit none; a real decoder also yields nothing for an empty stream. */
  def frameSample(media: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media
      .filter(length($"media") > 0)
      .select($"doc_id",
        explode(sequence(lit(0),
          ((length($"media") - 1) / frameBytes).cast("int")))
          .as("frame_idx"),
        $"media")
      .filter($"frame_idx" % stride === 0)
      .select($"doc_id", $"frame_idx".cast("long").as("frame_idx"),
        $"media".substr($"frame_idx" * frameBytes + 1, lit(frameBytes))
          .cast("string").as("frame"))
  }

  /** Column-pruning counterpart: metadata-only aggregation that must never
    * touch the binary column (ReadSchema shows bytes excluded). */
  def metadataOnly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id", $"text".cast("binary").as("media"), $"lang")
      .groupBy($"lang").agg(count(lit(1)).as("n"))
  }
}
