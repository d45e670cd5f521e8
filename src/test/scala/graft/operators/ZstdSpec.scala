package graft.operators

import java.util.Base64

import org.scalatest.funsuite.AnyFunSuite

import com.github.luben.zstd.Zstd

/** The zstd decoder refereed by TWO independent real implementations:
  *
  *  - golden frames emitted ONCE by the zstd CLI v1.5.7 (embedded
  *    base64 below; each carries a real XXH64-low-32 content checksum
  *    the decoder must reproduce), and
  *  - zstd-jni (the reference C library behind Spark's own
  *    spark.io.compression.codec=zstd), compressing property-style
  *    inputs at every level tier in-process.
  *
  * Direction B: [[ZstdCodec.zstdCompressStored]] frames must decode
  * byte-identically through zstd-jni — the emitter is spec-valid, not
  * merely self-consistent. Corruption posture: every structural tear
  * (bit flips, truncation, forged checksum, dictionary frames,
  * reserved block types) returns None, never throws.
  */
class ZstdSpec extends AnyFunSuite {

  private def b64(s: String): Array[Byte] =
    Base64.getDecoder.decode(s.replaceAll("\\s", ""))

  // the SAME reference-compressor invocation the query fixtures use —
  // one copy, so the spec's frames cannot drift from the oracle-gated
  // path's frames
  private def jniCompress(data: Array[Byte], level: Int,
      checksum: Boolean = true): Array[Byte] =
    Multimodal.zstdJni(data, level, checksum)

  // ---------------- golden CLI frames (zstd v1.5.7, --content-size) ----

  // `zstd -19` of "the quick brown fox jumps over the lazy dog. " * 40
  private val goldText = b64("""
    KLUv/WQIBrUBANQCdGhlIHF1aWNrIGJyb3duIGZveCBqdW1wcyBvdmVyIHRoZSBsYXp5IGRvZy4g
    AQDFFv6qDDSHfX8=""")
  // `zstd -3` of "abababababab" * 300
  private val goldAbab = b64("KLUv/WQQDU0AABBhYgEAC853WN+1yeA=")
  // `zstd -9` of '{"key": 1, "value": "spark"}\n' * 200
  private val goldJson = b64("""
    KLUv/WSoFS0BAOh7ImtleSI6IDEsICJ2YWx1ZSI6ICJzcGFyayJ9CgEAIRrolRNuuJqZ""")
  // `zstd -1` of the 5000-byte Knuth-hash byte walk below (near-random)
  private val goldRand = b64("""
    KLUv/WSIElUIAAQQALFiE8R1JteIOeqbTP2uXxDBciPUhTbnmEn6q1wNvm8g0YIz5JVG96hZCrts
    Hc5/MOGSQ/SlVge4aRrLfC3ej0DxolMEtWYXyHkq24w97p9QAbJjFMV2J9iJOuucTf6vYBHCcyTV
    hjfomUr7rF0Ov3Ah0oM05ZZH+KlaC7xtHs+AMeKTRPWmVwi5ahvMfS7fkEHyo1QFtmcYyXor3I0+
    76BRArNkFcZ3KNmKO+ydTv+wYRLDdCXWhzjpmkv8rV4PwHEi04Q15pdI+apbDL1uH9CBMuOURfan
    WAm6axzNfi/gkULzpFUGt2gZynss3Y4/8KFSA7RlFsd4KdqLPO2eTwEAAIUy0K8p6Ay3jw==""")
  // `zstd -19` of "graft zstd decode round twelve " * 9000 (~280 KB —
  // multi-block, long matches, RLE-mode sequence tables)
  private val goldBig = b64("""
    KLUv/aTYQQQARAEA+GdyYWZ0IHpzdGQgZGVjb2RlIHJvdW5kIHR3ZWx2ZSABAHv/i1w5AUQAAAAB
    AP3/IldAPQAAAAEA1cEOgBbtRQc=""")
  private val goldTiny = b64("KLUv/SQBCQAAeCMRBIM=") // "x"
  private val goldEmpty = b64("KLUv/SQAAQAAmenYUQ==") // empty input

  private def bytesOf(s: String): Array[Byte] = s.getBytes("UTF-8")
  private val textRaw = bytesOf(
    "the quick brown fox jumps over the lazy dog. " * 40)
  private val ababRaw = bytesOf("abababababab" * 300)
  private val jsonRaw = bytesOf("{\"key\": 1, \"value\": \"spark\"}\n" * 200)
  private val randRaw = Array.tabulate[Byte](5000)(i =>
    ((i.toLong * 2654435761L) % 256).toByte)
  private val bigRaw = bytesOf("graft zstd decode round twelve " * 9000)

  test("golden CLI frames decode byte-identically (checksums verified)") {
    for ((z, raw) <- Seq(goldText -> textRaw, goldAbab -> ababRaw,
        goldJson -> jsonRaw, goldRand -> randRaw, goldBig -> bigRaw,
        goldTiny -> bytesOf("x"), goldEmpty -> Array.emptyByteArray)) {
      val out = ZstdCodec.zstdDecompress(z)
      assert(out.isDefined, "golden frame must decode")
      assert(java.util.Arrays.equals(out.get, raw))
    }
  }

  test("zstd-jni round trip across levels, sizes and shapes") {
    val shapes: Seq[Array[Byte]] = Seq(
      Array.emptyByteArray,
      Array[Byte](42),
      bytesOf("hello zstd"),
      Array.fill[Byte](100000)(7), // pure RLE shape
      bytesOf(("spark catalyst tungsten shuffle partition " * 5000)),
      Array.tabulate[Byte](300000)(i => // structured + noise, > 128 KiB
        if (i % 7 == 0) ((i * 2654435761L) % 256).toByte
        else ('a' + (i % 13)).toByte),
      Array.tabulate[Byte](65537)(i =>
        ((i.toLong * 1103515245L + 12345L) >> 9).toByte)) // incompressible
    for (data <- shapes; level <- Seq(1, 3, 9, 19)) {
      val z = jniCompress(data, level)
      val out = ZstdCodec.zstdDecompress(z)
      assert(out.isDefined,
        s"level $level size ${data.length} must decode")
      assert(java.util.Arrays.equals(out.get, data),
        s"level $level size ${data.length} content mismatch")
    }
  }

  test("zstd-jni round trip without checksum flag") {
    val data = bytesOf("no checksum frame " * 100)
    val z = jniCompress(data, 3, checksum = false)
    assert(ZstdCodec.zstdDecompress(z).exists(
      java.util.Arrays.equals(_, data)))
  }

  test("direction B: stored-mode emitter decodes through real zstd") {
    for (data <- Seq(Array.emptyByteArray, bytesOf("x"),
        bytesOf("stored frame payload " * 50),
        Array.fill[Byte](1000)(9), // RLE block path
        Array.tabulate[Byte](200000)(i => (i % 251).toByte))) { // 2 blocks
      val z = ZstdCodec.zstdCompressStored(data)
      val out = Zstd.decompress(z, data.length)
      assert(java.util.Arrays.equals(out, data))
      // and through this decoder too (self-consistency)
      assert(ZstdCodec.zstdDecompress(z).exists(
        java.util.Arrays.equals(_, data)))
    }
  }

  test("frame concatenation walk (.warc.zst layout) with skippables") {
    val parts = Seq(bytesOf("record one"), bytesOf("record two " * 30),
      bytesOf("record three"))
    val blob = new java.io.ByteArrayOutputStream()
    blob.write(ZstdCodec.zstdSkippableFrame(bytesOf("shard index")))
    for ((p, i) <- parts.zipWithIndex) {
      val frame =
        if (i % 2 == 0) jniCompress(p, 3)
        else ZstdCodec.zstdCompressStored(p)
      blob.write(frame)
      if (i == 1) // an interior skippable frame must be hopped too
        blob.write(ZstdCodec.zstdSkippableFrame(Array[Byte](1, 2, 3)))
    }
    val decoded = ZstdCodec.zstdFrames(blob.toByteArray)
    assert(decoded.size == parts.size)
    for ((d, p) <- decoded.zip(parts))
      assert(java.util.Arrays.equals(d, p))
  }

  test("a torn tail keeps the good prefix") {
    val a = jniCompress(bytesOf("good frame"), 3)
    val b = jniCompress(bytesOf("torn frame with more content"), 3)
    val blob = a ++ b.dropRight(5)
    val decoded = ZstdCodec.zstdFrames(blob)
    assert(decoded.size == 1)
    assert(new String(decoded.head, "UTF-8") == "good frame")
  }

  test("corruption: every single-bit flip fails or preserves content") {
    // flipping any bit must never crash; and if the frame carries a
    // checksum the decode must not silently return WRONG content
    val z = goldText
    for (i <- z.indices; bit <- 0 to 7) {
      val c = z.clone()
      c(i) = (c(i) ^ (1 << bit)).toByte
      ZstdCodec.zstdDecompress(c) match {
        case None => // rejected: fine
        case Some(out) =>
          // survivable flips exist only where the bit is outside the
          // checksummed content path (none in this frame — headers and
          // entropy bits all alter content or structure); accept only
          // an exact content match (e.g. a flip inside an unused
          // window-descriptor bit would leave content intact)
          assert(java.util.Arrays.equals(out, textRaw),
            s"bit flip at byte $i bit $bit returned wrong content")
      }
    }
  }

  test("corruption: truncation at every length returns None") {
    for (n <- 0 until goldJson.length)
      assert(ZstdCodec.zstdDecompress(goldJson.take(n)).isEmpty,
        s"truncated to $n must not decode")
  }

  test("dictionary frames are rejected (no-dict decoder)") {
    // descriptor with Dictionary_ID_Flag=1 and a nonzero 1-byte dict id
    val z = goldTiny.clone()
    // rebuild: magic + descriptor(0x25: fcs=0,ss=1,did=1) + did + fcs...
    val framed = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte,
      0x25, 0x07, 0x01) ++ z.drop(6)
    assert(ZstdCodec.zstdDecompress(framed).isEmpty)
  }

  test("structured dictionary (real ZDICT output): parse, preload, " +
      "window prefix, id match — round trip through this decoder") {
    // train a REAL dictionary over repetitive samples
    val samples = (0 until 64).map(i =>
      bytesOf(s"record $i: the quick brown fox jumps over host$i " * 6))
    val trainer = new com.github.luben.zstd.ZstdDictTrainer(
      samples.map(_.length).sum + 1024, 2048)
    samples.foreach(trainer.addSample)
    val dictBytes = trainer.trainSamples()
    val dict = ZstdCodec.parseDict(dictBytes)
    assert(dict.exists(d => d.structured && d.dictId != 0L))
    val data = bytesOf(
      "record 99: the quick brown fox jumps over host99 " * 4)
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    val frame = try {
      ctx.setLevel(3); ctx.setChecksum(true); ctx.loadDict(dictBytes)
      ctx.compress(data)
    } finally ctx.close()
    // the frame declares the dict id: decoding WITHOUT the dict fails,
    // with the WRONG dict fails, with the right one round-trips
    assert(ZstdCodec.zstdDecompress(frame).isEmpty)
    assert(ZstdCodec.zstdDecompress(frame, dict).exists(
      java.util.Arrays.equals(_, data)))
    val otherTrainer = new com.github.luben.zstd.ZstdDictTrainer(
      samples.map(_.length).sum + 1024, 2048)
    samples.reverse.zipWithIndex.foreach { case (x, i) =>
      otherTrainer.addSample(bytesOf(s"DIFFERENT $i ") ++ x)
    }
    val other = ZstdCodec.parseDict(otherTrainer.trainSamples())
    if (other.exists(_.dictId != dict.get.dictId))
      assert(ZstdCodec.zstdDecompress(frame, other).isEmpty)
  }

  test("raw-content dictionary: window-prefix matches resolve") {
    val dictBytes = bytesOf("shared prefix material " * 40)
    val dict = ZstdCodec.parseDict(dictBytes)
    assert(dict.exists(d => !d.structured && d.dictId == 0L))
    val data = bytesOf("shared prefix material " * 3 + "tail")
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    val frame = try {
      ctx.setLevel(19); ctx.setChecksum(true); ctx.loadDict(dictBytes)
      ctx.compress(data)
    } finally ctx.close()
    assert(ZstdCodec.zstdDecompress(frame, dict).exists(
      java.util.Arrays.equals(_, data)))
  }

  test("dict-carrying skippable frame: extraction + dict-aware walk") {
    val dictBytes = bytesOf("warc record boilerplate " * 30)
    val parts = Seq(bytesOf("warc record boilerplate one"),
      bytesOf("warc record boilerplate two two"))
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    val frames = try {
      ctx.setLevel(3); ctx.setChecksum(true); ctx.loadDict(dictBytes)
      parts.map(ctx.compress)
    } finally ctx.close()
    val blob = ZstdCodec.zstdSkippableFrame(dictBytes) ++
      frames.foldLeft(Array.emptyByteArray)(_ ++ _)
    val dict = ZstdCodec.dictFromSkippable(blob)
    assert(dict.isDefined)
    val decoded = ZstdCodec.zstdFrames(blob, dict)
    assert(decoded.size == parts.size)
    for ((d, pp) <- decoded.zip(parts))
      assert(java.util.Arrays.equals(d, pp))
  }

  test("xxh64 matches the published empty-input vector") {
    assert(ZstdCodec.xxh64(Array.emptyByteArray, 0, 0) ==
      0xef46db3751d8e999L)
  }

  test("hostile declared content size is rejected, not allocated") {
    // single-segment frame declaring 2^62 bytes: must fail fast
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x28); out.write(0xb5); out.write(0x2f); out.write(0xfd)
    out.write(0xe0) // fcsFlag=3 (8 bytes), single-segment
    for (_ <- 0 until 7) out.write(0xff)
    out.write(0x3f)
    out.write(1); out.write(0); out.write(0) // last raw block, size 0
    assert(ZstdCodec.zstdDecompress(out.toByteArray).isEmpty)
  }

  /** (byte0, count) of the sequences-section header of every compressed
    * block in a single zstd frame (RFC 8878 §3.1.1.2-3.1.1.3). */
  private def sequenceHeaders(z: Array[Byte]): Seq[(Int, Int)] = {
    def u(i: Int) = z(i) & 0xff
    val fhd = u(4)
    val fcsFlag = fhd >> 6
    val single = (fhd & 0x20) != 0
    val fcsLen = Seq(if (single) 1 else 0, 2, 4, 8)(fcsFlag)
    var off = 5 + (if (single) 0 else 1) + Seq(0, 1, 2, 4)(fhd & 3) + fcsLen
    val out = Seq.newBuilder[(Int, Int)]
    var last = false
    while (!last) {
      val h = u(off) | u(off + 1) << 8 | u(off + 2) << 16
      last = (h & 1) == 1
      val size = h >>> 3
      val body = off + 3
      if (((h >> 1) & 3) == 2) {
        val b0 = u(body)
        val sf = (b0 >> 2) & 3
        val litLen = (b0 & 3) match {
          case t if t < 2 => // raw or RLE
            val (hdr, regen) = sf match {
              case 1 => (2, (b0 >> 4) + (u(body + 1) << 4))
              case 3 => (3, (b0 >> 4) + (u(body + 1) << 4) + (u(body + 2) << 12))
              case _ => (1, b0 >> 3)
            }
            hdr + (if (t == 0) regen else 1)
          case _ => // compressed or treeless: sizes share one LE field
            val (hdr, bits) = Seq((3, 10), (3, 10), (4, 14), (5, 18))(sf)
            val v = (0 until hdr).foldLeft(0L)((a, i) => a | u(body + i).toLong << (8 * i))
            hdr + ((v >> (4 + bits)) & ((1L << bits) - 1)).toInt
        }
        val s = body + litLen
        val c = u(s) match {
          case n if n < 128 => n
          case n if n < 255 => ((n - 0x80) << 8) + u(s + 1)
          case _ => u(s + 1) + (u(s + 2) << 8) + 0x7f00
        }
        out += ((u(s), c))
      }
      off = body + (if (((h >> 1) & 3) == 1) 1 else size)
    }
    out.result()
  }

  test("3-byte sequence count: a block of 32768+ sequences round-trips") {
    // 3-byte words from a 4096-word vocabulary, each written once up
    // front: at level 19 (minimum match 3) every later word is one 3-byte
    // match, so a full 128 KiB block carries ~43k sequences
    val rng = new scala.util.Random(7)
    val vocab = Array.fill(4096)(Array.fill[Byte](3)(rng.nextInt(256).toByte))
    val data = (vocab ++ Array.fill(200000)(vocab(rng.nextInt(vocab.length))))
      .flatten
    val z = jniCompress(data, 19)
    val long = sequenceHeaders(z).filter(_._1 == 0xff)
    assert(long.exists(_._2 >= 32768),
      s"no block uses the 3-byte count form with >= 32768 sequences: " +
        sequenceHeaders(z))
    assert(ZstdCodec.zstdDecompress(z).exists(java.util.Arrays.equals(_, data)))
  }
}
