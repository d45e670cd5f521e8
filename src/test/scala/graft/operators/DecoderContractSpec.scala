package graft.operators

import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** The hostile-input contract of every decoder that inflates, reads
  * fixed-width integers or decodes prefix codes through [[Bytes]], of
  * the other stream codecs (LZW included), of the raster decoders, of
  * the media header sniffs and of the markup decoders on [[Xml]] and
  * [[Json]]: on ANY input it returns (`None` or a value) without
  * throwing, within 2 s of wall clock and 256 MiB allocated on the
  * calling thread.
  *
  * Inputs are valid blobs from each module's own encoder, then
  * truncated, bit-flipped, or with four bytes overwritten by a hostile
  * length (0x7FFFFFF0 or 0xFFFFFFFF, either byte order). The fixed cases
  * are streams built to hang or exhaust a decoder: a zlib header asking
  * for a preset dictionary, a zip entry declaring a ~2 GiB size, a
  * gzip member inflating past the 64 MiB cap, GIF, TIFF and BMP files
  * of a few bytes declaring 8192×8192 pixels; and markup whose size
  * alone (tens of thousands of elements, attributes or nesting levels)
  * once made a scan quadratic or recursive. */
class DecoderContractSpec extends SparkSpec {
  import DecoderContractSpec._

  private val text = ("graft decoder contract " * 40).getBytes("UTF-8")

  private def orcFile: Array[Byte] = {
    val dir = tempDir("contract_orc")
    spark.range(200).selectExpr("id", "id % 7 AS m").coalesce(1)
      .write.mode("overwrite").option("compression", "zlib").orc(dir)
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".orc"))
      .map(f => Files.readAllBytes(f.toPath)).head
  }

  private def resource(path: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(path)
    assert(in != null, s"missing test resource $path")
    try in.readAllBytes() finally in.close()
  }

  /** ~2 KB of letters from a 16-symbol alphabet with no repeats to
    * match: zstd codes its literals with Huffman. */
  private val letters: Array[Byte] = {
    val rnd = new scala.util.Random(7)
    Array.fill(2048)(('a' + rnd.nextInt(16)).toByte)
  }

  private def unzipAll(b: Array[Byte]): Option[Vector[Option[Array[Byte]]]] =
    Archive.zipEntries(b).map(_.map(e => Archive.unzipEntry(b, e)))

  /** (name, valid blob, decode). */
  private type Case = (String, Array[Byte], Array[Byte] => Any)

  private lazy val decoders: Seq[Case] = {
    val pages = Seq(Seq("hello world", "second line"), Seq("page two"))
    val pdf = Pdf.encodeTextPdf("1.7", pages, flate = true)
    val xrefPdf = Pdf.encodeXrefPdf("1.7", pages, encrypted = false,
      predictor = 12, outline = Seq(Pdf.OItem("one", Seq(Pdf.OItem("two")))))
    val png = Pixels.encodeGrayPng(16, 12,
      Array.tabulate(192)(i => (i * 7) % 256), Array.emptyByteArray)
    val (pack, head) = GitPack.fixtureChainPack(5L, "contract body", 3)
    val sync = Array.tabulate(16)(_.toByte)
    val recs = (0 until 30).map { i =>
      Seq[AvroRecords.AV](AvroRecords.ALong(i.toLong),
        if (i % 4 == 0) AvroRecords.ANull else AvroRecords.AStr(s"v$i"),
        AvroRecords.ADbl(i * 0.5),
        AvroRecords.AArr(Vector.tabulate(i % 3)(j => AvroRecords.AStr(s"g$j"))))
    }
    val orc = orcFile
    val tone = Array.tabulate(4000)(i => (3000 * math.sin(i / 9.0)).toInt)
    val jpegImg = Jpeg.colorFixture(11L)
    Seq(
      ("Brotli.decompress encodeFixed", Brotli.encodeFixed(text),
        (b: Array[Byte]) => Brotli.decompress(b, 1 << 20)),
      ("Brotli.decompress libbrotli q5", resource("/brotli/text_q5.br"),
        (b: Array[Byte]) => Brotli.decompress(b, 1 << 20)),
      ("Bzip2.bunzip2", Bzip2.bzip2Compress(text),
        (b: Array[Byte]) => Bzip2.bunzip2(b)),
      ("Jpeg.decodeJpeg baseline 4:2:0", Jpeg.encodeImageIO(jpegImg, 2, 2,
        progressive = false), Jpeg.decodeJpeg _),
      ("Jpeg.decodeJpeg progressive", Jpeg.encodeImageIO(jpegImg, 1, 1,
        progressive = true), Jpeg.decodeJpeg _),
      ("Vp8l.decodeWebpLossless own", Vp8l.encodeWebpLossless(16, 9,
        Array.tabulate(144)(i => 0xff000000 | (i * 0x010307))),
        Vp8l.decodeWebpLossless _),
      ("Vp8l.decodeWebpLossless libwebp", resource("/webp/photo_64x48.webp"),
        Vp8l.decodeWebpLossless _),
      ("ZstdCodec.zstdDecompress stored", ZstdCodec.zstdCompressStored(text),
        (b: Array[Byte]) => ZstdCodec.zstdDecompress(b)),
      ("ZstdCodec.zstdDecompress zstd-jni", zstdHuffmanFrame,
        (b: Array[Byte]) => ZstdCodec.zstdDecompress(b)),
      ("XzCodec.xzDecompress", XzCodec.encodeXz(text),
        (b: Array[Byte]) => XzCodec.xzDecompress(b)),
      ("Lz4Codec.lz4Decompress", Lz4Codec.encodeLz4Literal(text),
        (b: Array[Byte]) => Lz4Codec.lz4Decompress(b)),
      ("SnappyCodec.decompressFramed", SnappyCodec.compressFramed(text),
        (b: Array[Byte]) => SnappyCodec.decompressFramed(b, 1 << 20)),
      ("SnappyCodec.decompressRaw", SnappyCodec.compressRawLiteral(text),
        (b: Array[Byte]) => SnappyCodec.decompressRaw(b, 1 << 20)),
      ("Flac.decodeFlac", Flac.encodeFlac(tone, 1024, 44100), Flac.decodeFlac _),
      ("Pdf.extractText", pdf, Pdf.extractText _),
      ("Pdf.decodePdf", pdf, Pdf.decodePdf _),
      ("Pdf.extractText xref stream", xrefPdf, Pdf.extractText _),
      ("Pdf.decodeOutline", xrefPdf, Pdf.decodeOutline _),
      ("PdfFilters.decodeChain", zlib(text),
        (b: Array[Byte]) => PdfFilters.decodeChain(b, Seq("FlateDecode"))),
      ("Font.decodeFont woff",
        Font.encodeWoff("ttf", "Contract", "Regular", 5, 1000), Font.decodeFont _),
      ("Font.decodeFont sfnt",
        Font.encodeSfnt("otf", "Contract", "Bold", 7, 2048), Font.decodeFont _),
      ("Font.decodeWoff2Font", Font.encodeWoff2Font("ttf", "Contract",
        "Regular", 5, 1000, fixedHuffman = true), Font.decodeWoff2Font _),
      ("PngMeta.decodePngMeta", PngMeta.withChunks(png, Seq(
        PngMeta.textChunk("Title", "t"),
        PngMeta.ztxtChunk("Description", "contract " * 20),
        PngMeta.itxtChunk("Comment", "ü contract", "en-US", true),
        PngMeta.exifChunk(3, "Cam", bigEndian = true))), PngMeta.decodePngMeta _),
      ("Pixels.decodeGrayPng", png, Pixels.decodeGrayPng _),
      ("Pixels.decodeImage", png, Pixels.decodeImage _),
      ("Pixels.decodePngLuma rgb", Pixels.encodeRgbPng(9, 7,
        Array.tabulate(63)(i => i * 0x010203), Array.emptyByteArray),
        Pixels.decodePngLuma _),
      ("Pixels.decodePngLuma palette", Pixels.encodePalettePng(9, 7,
        Array.tabulate(63)(_ % 4), Array(0x000000, 0xff0000, 0x00ff00, 0xffffff),
        Array.emptyByteArray), Pixels.decodePngLuma _),
      ("GitPack.packObjects", pack, GitPack.packObjects _),
      ("GitPack.idxEntries", GitPack.encodeIdx(pack).get, GitPack.idxEntries _),
      ("GitPack.looseObject", GitPack.encodeLoose("blob", text),
        GitPack.looseObject _),
      ("GitPack.bundle", GitPack.encodeBundle(
        Seq((head, "refs/heads/main")), pack), GitPack.bundle _),
      ("Compression.gunzip", Compression.encodeGzip(text, 7L, Some("f.txt"),
        None), Compression.gunzip _),
      ("Compression.gunzipMembers", Compression.encodeGzip(text, 1L, None,
        None) ++ Compression.encodeGzip(text.take(99), 2L, None, Some("c")),
        Compression.gunzipMembers _),
      ("Archive zip", Archive.encodeZip(Seq(("a.txt", text, true),
        ("b.txt", text.take(50), false))), unzipAll _),
      ("Archive zip64", Archive.encodeZip64(Seq(("a.txt", text, true))),
        unzipAll _),
      ("AvroRecords.records", AvroRecords.encodeRecordFile(
        AvroRecords.FixtureSchema, "deflate", sync, recs),
        (b: Array[Byte]) => AvroRecords.records(b)),
      ("Orc", orc, (b: Array[Byte]) =>
        Orc.parseTail(b).map(m => Orc.readColumn(b, m, "m"))))
  }

  /** A zstd-jni frame whose first block codes its literals with
    * Huffman (literals block type 2, RFC 8878 §3.1.1.3.1). */
  private lazy val zstdHuffmanFrame: Array[Byte] = {
    val f = Multimodal.zstdJni(letters, 3)
    val fhd = f(4) & 0xff
    val single = (fhd >> 5) & 1
    val fcs = fhd >> 6 match {
      case 0 => single; case k => 1 << k
    }
    val block = 4 + 1 + (1 - single) + Array(0, 1, 2, 4)(fhd & 3) + fcs
    assert(((f(block) >> 1) & 3) == 2, "first block is not compressed")
    assert((f(block + 3) & 3) == 2, "literals are not Huffman-coded")
    f
  }

  /** (name, valid header, sniff): the image, TIFF/EXIF, audio and
    * video header parsers, which walk declared chunk, box, IFD and
    * page lengths and offsets. */
  private lazy val sniffs: Seq[Case] = {
    val note = "contract note".getBytes("UTF-8")
    val tags = Seq("ARTIST" -> "Someone", "TITLE" -> "A Song")
    val flac = AudioHeaders.encodeFlac(44100, 2, 16, 12345L,
      AudioHeaders.vorbisCommentBody("v", tags))
    val opus = AudioHeaders.encodeOggOpus(2, 312, 48000, 2, 960L,
      AudioHeaders.opusTagsPacket("v", tags))
    val vorbis = AudioHeaders.encodeOggVorbis(2, 44100, 2, 1024L,
      AudioHeaders.vorbisCommentPacket("v", tags))
    val thumb = ImageHeaders.encodeJpeg(16, 16, 8, Array.emptyByteArray)
    Seq(
      ("ImageHeaders.decode png", ImageHeaders.encodePng(640, 480, 8, note),
        ImageHeaders.decode _),
      ("ImageHeaders.decode jpeg", ImageHeaders.encodeJpeg(640, 480, 8, note),
        ImageHeaders.decode _),
      ("ImageHeaders.decode webp vp8", ImageHeaders.encodeWebp("vp8", 320,
        240, note), ImageHeaders.decode _),
      ("ImageHeaders.decode webp vp8l", ImageHeaders.encodeWebp("vp8l", 320,
        240, note), ImageHeaders.decode _),
      ("ImageHeaders.decode webp vp8x", ImageHeaders.encodeWebp("vp8x", 320,
        240, note), ImageHeaders.decode _),
      ("ImageHeaders.decodeWebpMeta", ImageHeaders.encodeWebpExif(640, 360, 6,
        "CamQ", bigEndian = true, exifPrefix = true,
        xmp = "<x:xmpmeta>hi</x:xmpmeta>"), ImageHeaders.decodeWebpMeta _),
      ("TiffHeaders.decodeTiff little-endian", TiffHeaders.encodeTiff(64, 32,
        8, 3, bigEndian = false, note), TiffHeaders.decodeTiff _),
      ("TiffHeaders.decodeTiff big-endian", TiffHeaders.encodeTiff(64, 32,
        16, 1, bigEndian = true, note), TiffHeaders.decodeTiff _),
      ("TiffHeaders.decodeJpegExif", TiffHeaders.encodeJpegExif(640, 480, 6,
        "TestCam", bigEndian = true, note), TiffHeaders.decodeJpegExif _),
      ("TiffHeaders.decodeJpegExifFull dated", TiffHeaders.encodeJpegExifDated(
        320, 240, 3, "CamT", bigEndian = false, "2020:01:02 03:04:05", "123"),
        TiffHeaders.decodeJpegExifFull _),
      ("TiffHeaders.decodeJpegExifFull gps", TiffHeaders.encodeJpegExifGps(
        640, 480, 1, "CamX", bigEndian = true, 'N', 52L, 22L, 3061L, 100L,
        'W', 4L, 53L, 1234L, 100L, thumb), TiffHeaders.decodeJpegExifFull _),
      ("AudioHeaders.decodeWav", AudioHeaders.encodeWav(2, 44100, 16, 1000L,
        note), AudioHeaders.decodeWav _),
      ("AudioHeaders.decodeMp3", AudioHeaders.encodeMp3(128, 44100, 4, 2,
        note), AudioHeaders.decodeMp3 _),
      ("AudioHeaders.decodeFlac", flac, AudioHeaders.decodeFlac _),
      ("AudioHeaders.decodeOgg opus", opus, AudioHeaders.decodeOgg _),
      ("AudioHeaders.decodeOgg vorbis", vorbis, AudioHeaders.decodeOgg _),
      ("AudioHeaders.decodeAudioTags flac", flac, AudioHeaders.decodeAudioTags _),
      ("AudioHeaders.decodeAudioTags opus", opus, AudioHeaders.decodeAudioTags _),
      ("AudioHeaders.decodeAudioTags vorbis", vorbis,
        AudioHeaders.decodeAudioTags _),
      ("VideoHeaders.decodeMp4", VideoHeaders.encodeMp4("isom", 600, 5000L,
        64, 48, 2, note), VideoHeaders.decodeMp4 _),
      ("VideoHeaders.decodeMp4Tags", VideoHeaders.encodeMp4Tagged("mp42",
        1000, 90000L, 640, 360, 2, note, "Title", "Artist", "Album", "2020",
        3, 12), VideoHeaders.decodeMp4Tags _),
      ("VideoHeaders.decodeAvif", VideoHeaders.encodeAvif("avif", 640, 480, 8,
        note), VideoHeaders.decodeAvif _),
      ("VideoHeaders.decodeAvifItems", VideoHeaders.encodeAvifItems("avif",
        800, 600, 160, 90, 3, widePitm = false, wideAssoc = false),
        VideoHeaders.decodeAvifItems _))
  }

  /** (name, valid image or LZW stream, decode): the raster decoders,
    * which size their output from a header, and the LZW codec under
    * them. */
  private lazy val imageDecoders: Seq[Case] = {
    val px = Array.tabulate(24 * 40)(i => (i * 7 + i / 24 * 3) % 256)
    val runs = Array.tabulate(24 * 40)(i => if (i % 24 < 9) 40 else i % 5)
    val lzwText = ("graft lzw contract " * 60).getBytes("UTF-8")
    Seq(
      ("Pixels.decodeGrayGif still", Pixels.encodeGrayGif(24, 40, px,
        "contract".getBytes("UTF-8")), Pixels.decodeGrayGif _),
      ("Pixels.decodeGrayGif animated", Pixels.encodeAnimatedGif(24, 40,
        Seq((px, 5), (px.reverse, 7)), Array.emptyByteArray),
        Pixels.decodeGrayGif _),
      ("Pixels.decodeAnimatedGif", Pixels.encodeAnimatedGif(24, 40,
        Seq((px, 5), (runs, 7)), Array.emptyByteArray),
        Pixels.decodeAnimatedGif _),
      ("Pixels.decodeGrayTiff none", Pixels.encodeGrayTiff(24, 40, px, 1),
        Pixels.decodeGrayTiff _),
      ("Pixels.decodeGrayTiff PackBits", Pixels.encodeGrayTiff(24, 40, runs,
        32773), Pixels.decodeGrayTiff _),
      ("Pixels.decodeGrayTiff LZW", Pixels.encodeGrayTiff(24, 40, px, 5),
        Pixels.decodeGrayTiff _),
      ("Pixels.decodeGrayBmp RGB", Pixels.encodeGrayBmp(23, 40, px.take(920)),
        Pixels.decodeGrayBmp _),
      ("Pixels.decodeGrayBmp RLE8", Pixels.encodeRle8Bmp(24, 40, runs),
        Pixels.decodeGrayBmp _),
      ("Pixels.decodeGrayPgm", Pixels.encodePgm(24, 40, px, "contract"),
        Pixels.decodeGrayPgm _),
      ("Pixels.decodePpmLuma", Pixels.encodePpm(24, 40, px.map(_ * 0x010203),
        "contract"), Pixels.decodePpmLuma _),
      ("Lzw.decode EarlyChange 1", Lzw.encode(lzwText, Lzw.pdf(1)),
        (b: Array[Byte]) => Lzw.decode(b, Lzw.pdf(1))),
      ("Lzw.decode EarlyChange 0", Lzw.encode(lzwText, Lzw.pdf(0)),
        (b: Array[Byte]) => Lzw.decode(b, Lzw.pdf(0))),
      ("PdfFilters.decodeChain LZWDecode",
        PdfFilters.ascii85Encode(Lzw.encode(lzwText, Lzw.Tiff)),
        (b: Array[Byte]) => PdfFilters.decodeChain(b,
          Seq("ASCII85Decode", "LZWDecode"))))
  }

  private def utf8(f: String => Any): Array[Byte] => Any =
    b => f(new String(b, "UTF-8"))

  /** (name, valid document, decode): the text-format decoders. */
  private lazy val markupDecoders: Seq[Case] = {
    val feed = Seq(("first & post", "https://h.test/1", "2020-01-05"),
      ("second <b>", "https://h.test/2", "2021-03-11"),
      ("cdata & <raw>", "https://h.test/3", "2019-12-31"))
    val ld = """<html><head><script type="application/ld+json">""" +
      """{"@type":"Article","headline":"h","n":[1,{"a":null}]}""" +
      "</script></head><body>b</body></html>"
    Seq(
      ("Docx.decodeDocx", Docx.encodeDocx("T & t", "A", Seq("one\ttab",
        "", "two <three>")), Docx.decodeDocx _),
      ("Xlsx.decodeXlsx", Xlsx.encodeXlsx(Seq(("S", Seq(
        Seq(Left("a & b"), Right(3L), Left("rich run")),
        Seq(Left("c"), Left("a & b"), Right(-2L)))))), Xlsx.decodeXlsx _),
      ("Pptx.decodePptx", Pptx.encodePptx(Seq(("Title", Seq("p1", "p <2>")),
        ("Two", Nil))), Pptx.decodePptx _),
      ("Epub.decodeEpub", Epub.encodeEpub("Book & Tome", "A", "en", "urn:x",
        3), Epub.decodeEpub _),
      ("Feed.decodeFeed rss", Feed.encodeRss("chan & co", feed),
        Feed.decodeFeed _),
      ("Feed.decodeFeed atom", Feed.encodeAtom("atom <feed>", feed),
        Feed.decodeFeed _),
      ("Sitemap.parse", Sitemap.emit(Seq(("https://a.test/p?x=1&y=2",
        Some("2024-03-01"), Some(0.8)), ("https://a.test/<odd>", None, None)))
        .getBytes("UTF-8"), utf8(Sitemap.parse)),
      ("Svg.decodeSvg", Svg.encodeSvg(64, 48, "icon & <logo>", 3, 2, 1),
        Svg.decodeSvg _),
      ("Ipynb.decodeIpynb", Ipynb.encodeIpynb("python", Seq(
        ("markdown", "# head\nbody", 0), ("code", "x = 1\n", 2))),
        Ipynb.decodeIpynb _),
      ("SourceMap.decodeSourceMap", SourceMap.encodeSourceMap("a.min.js",
        Seq("a.js", "b.js"), Seq("f"), Seq(Seq(SourceMap.Segment(0, 1, 4, 2, 0)),
          Nil, Seq(SourceMap.Segment(3, 0, 1, 1)))), SourceMap.decodeSourceMap _),
      ("JsonLd.extract", ld.getBytes("UTF-8"), utf8(JsonLd.extract)),
      ("Json.pathTypes", """{"a":[1,2.5e3,{"b":"x\u00e9"}],"c":null}"""
        .getBytes("UTF-8"), utf8(Json.pathTypes)))
  }

  /** `zip` with each named part's text rewritten by `f`. */
  private def repack(zip: Array[Byte], part: String)(
      f: String => String): Array[Byte] =
    Archive.encodeZip(Archive.zipEntries(zip).get.map { e =>
      val body = Archive.unzipEntry(zip, e).get
      (e.name, if (e.name == part) f(new String(body, "UTF-8"))
        .getBytes("UTF-8") else body, true)
    })

  private def decodesValid(cases: Seq[Case]) =
    cases.foreach { case (name, blob, decode) =>
      val got = withinBudget(name)(decode(blob))
      assert(got match {
        case None | Some(None) => false
        case v: Vector[_] => v.nonEmpty
        case _ => true
      }, s"$name: valid blob did not decode")
    }

  private def staysInBudget(cases: Seq[Case]) =
    cases.foreach { case (name, blob, decode) =>
      val res = SCTest.check(SCTest.Parameters.default
        .withMinSuccessfulTests(40).withInitialSeed(name.hashCode.toLong),
        Prop.forAll(mutant(blob)) { b => withinBudget(name)(decode(b)); true })
      assert(res.passed, s"$name: ${res.status}")
    }

  test("every valid blob decodes to a value") {
    decodesValid(decoders)
  }

  test("truncated, bit-flipped and length-overwritten blobs stay in budget") {
    staysInBudget(decoders)
  }

  test("every valid media header sniffs to a value") {
    decodesValid(sniffs)
  }

  test("truncated, bit-flipped and length-overwritten headers stay in budget") {
    staysInBudget(sniffs)
  }

  test("every valid image and LZW stream decodes to a value") {
    decodesValid(imageDecoders)
  }

  test("truncated, bit-flipped and length-overwritten images and LZW " +
      "streams stay in budget") {
    staysInBudget(imageDecoders)
  }

  test("images declaring 8192x8192 over a few bytes of data are rejected " +
      "without allocating the raster") {
    val side = 8192
    def le16(v: Int) = Array(v.toByte, (v >> 8).toByte)
    // GIF: screen and image 8192x8192, no colour table, minimum code
    // size 8, one sub-block holding ClearCode then EOI (9-bit codes,
    // LSB first), the block terminator and the trailer: 30 bytes
    val gif = "GIF89a".getBytes("US-ASCII") ++ le16(side) ++ le16(side) ++
      Array[Byte](0, 0, 0, 0x2c, 0, 0, 0, 0) ++ le16(side) ++ le16(side) ++
      Array[Byte](0, 8, 3, 0x00, 0x03, 0x02, 0, 0x3b)
    assert(gif.length == 30)
    // an LZW TIFF of 4x4 pixels with ImageWidth and ImageLength patched
    val tiff = tiffSized(Pixels.encodeGrayTiff(4, 4,
      Array.tabulate(16)(_ * 9), 5), side, side)
    // 8-bit BMPs, 16x16 uncompressed and RLE8, with the size patched
    def bmpSized(b: Array[Byte]) =
      overwrite(overwrite(b, 18, side, be = false), 22, side, be = false)
    val bmp = bmpSized(Pixels.encodeGrayBmp(16, 16, Array.tabulate(256)(identity)))
    val rle = bmpSized(Pixels.encodeRle8Bmp(16, 16,
      Array.tabulate(256)(i => i / 16 * 16)))
    Seq(("GIF", gif, Pixels.decodeGrayGif _), ("LZW TIFF", tiff,
      Pixels.decodeGrayTiff _), ("BMP", bmp, Pixels.decodeGrayBmp _),
      ("RLE8 BMP", rle, Pixels.decodeGrayBmp _)).foreach {
      case (name, blob, decode) =>
        assert(withinBudget(s"$name ${blob.length} B")(decode(blob)).isEmpty,
          s"$name decoded")
    }
  }

  /** `tiff` (little-endian, one IFD) with its ImageWidth and ImageLength
    * entries set to `w` and `h`. */
  private def tiffSized(tiff: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.wrap(tiff).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifd = bb.getInt(4)
    (0 until bb.getShort(ifd).toInt).map(ifd + 2 + 12 * _).foldLeft(tiff) {
      (t, at) => bb.getShort(at) match {
        case 256 => overwrite(t, at + 8, w, be = false)
        case 257 => overwrite(t, at + 8, h, be = false)
        case _ => t
      }
    }
  }

  test("every valid markup document decodes to a value") {
    decodesValid(markupDecoders)
  }

  test("truncated, bit-flipped and length-overwritten markup stays in budget") {
    staysInBudget(markupDecoders)
  }

  test("an officeDocument relationship with 20,000 xTarget= attributes " +
      "is read in one pass") {
    val docx = repack(Docx.encodeDocx("t", "a", Seq("p")), "_rels/.rels")(
      _.replace("Target=\"word/document.xml\"",
        "xTarget=\"" * 20000 + " Target=\"word/document.xml\""))
    assert(withinBudget("docx xTarget")(Docx.decodeDocx(docx))
      .map(_.text) === Some("p"))
    withinBudget("xlsx xTarget")(Xlsx.decodeXlsx(docx))
    withinBudget("pptx xTarget")(Pptx.decodePptx(docx))
  }

  test("a paragraph of 40,000 runs is read in one pass") {
    val docx = repack(Docx.encodeDocx("t", "a", Seq("p")),
      "word/document.xml")(_.replace("<w:body>",
        "<w:body><w:p>" + "<w:r><w:t>x</w:t></w:r>" * 40000 + "</w:p>"))
    val m = withinBudget("docx runs")(Docx.decodeDocx(docx)).get
    assert(m.nParagraphs === 2 && m.text === "x" * 40000 + "\np")
  }

  test("feeds of 50,000 items or entries are read in one pass") {
    val rss = ("""<rss version="2.0"><channel><title>t</title>""" +
      "<item></item>" * 50000 + "</channel></rss>").getBytes("UTF-8")
    assert(withinBudget("rss 50k")(Feed.decodeFeed(rss)).map(_.nEntries)
      === Some(50000))
    val atom = ("""<feed xmlns="http://www.w3.org/2005/Atom"><title>t</title>""" +
      "<entry></entry>" * 50000 + "</feed>").getBytes("UTF-8")
    assert(withinBudget("atom 50k")(Feed.decodeFeed(atom)).map(_.nEntries)
      === Some(50000))
  }

  test("a sitemap of 50,000 URLs is read in one pass") {
    val xml = "<urlset>" + "<url><loc>x</loc></url>" * 50000 + "</urlset>"
    assert(withinBudget("sitemap 50k")(Sitemap.parse(xml)).length === 50000)
  }

  test("JSON nested 100,000 deep is rejected, not recursed into") {
    val deep = "[" * 100000 + "]" * 100000
    assert(withinBudget("json deep")(Json.pathTypes(deep)) === None)
    val nb = s"""{"nbformat":4,"cells":$deep}""".getBytes("UTF-8")
    assert(withinBudget("ipynb deep")(Ipynb.decodeIpynb(nb)) === None)
    val map = s"""{"version":3,"sources":$deep,"mappings":""}"""
    assert(withinBudget("source map deep")(
      SourceMap.decodeSourceMap(map.getBytes("UTF-8"))) === None)
    assert(withinBudget("json-ld deep")(JsonLd.extract(
      s"""<script type="application/ld+json">{"a":$deep}</script>""")) ===
      Vector.empty)
  }

  test("a PDF stream asking for a preset dictionary is rejected, not spun on") {
    val pdf = Pdf.encodeTextPdf("1.7", Seq(Seq("locked text")), flate = true)
    val at = indexOf(pdf, "/FlateDecode >> stream\n") +
      "/FlateDecode >> stream\n".length
    assert(withinBudget("Pdf FDICT")(Pdf.extractText(withFdict(pdf, at)))
      == None)
  }

  test("a WOFF table asking for a preset dictionary is rejected, not spun on") {
    val woff = Font.encodeWoff("ttf", "Locked", "Regular", 5, 1000)
    val dir = java.nio.ByteBuffer.wrap(woff) // big-endian table directory
    val nameAt = (0 until dir.getShort(12)).map(44 + 20 * _)
      .find(e => new String(woff, e, 4, "US-ASCII") == "name").get
    assert(withinBudget("Font FDICT")(
      Font.decodeFont(withFdict(woff, dir.getInt(nameAt + 4)))) == None)
  }

  test("a zip entry declaring a ~2 GiB size is rejected without allocating it") {
    val zip = Archive.encodeZip(Seq(("a.txt", text, true)))
    val central = indexOf(zip, "PK\u0001\u0002")
    val local = indexOf(zip, "PK\u0003\u0004")
    val hostile = overwrite(overwrite(zip, central + 24, 0x7FFFFFF0L, be = false),
      local + 22, 0x7FFFFFF0L, be = false)
    val entries = Archive.zipEntries(hostile).get
    assert(entries.head.uncompSize == 0x7FFFFFF0L)
    assert(withinBudget("zip declared size")(
      Archive.unzipEntry(hostile, entries.head)) == None)
  }

  test("a gzip member inflating past 64 MiB is cut off at the cap") {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    val zeros = new Array[Byte](1 << 20)
    (0 until 160).foreach(_ => gz.write(zeros))
    gz.close()
    val bomb = bos.toByteArray
    assert(withinBudget("gzip bomb")(Compression.gunzip(bomb)) == None)
    assert(withinBudget("gzip bomb members")(
      Compression.gunzipMembers(bomb)) == Vector.empty)
  }
}

object DecoderContractSpec {
  val WallMs = 2000L
  val AllocBytes: Long = 256L << 20

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Run `f` on a fresh daemon thread and return its value; fail if it
    * throws, outlives the wall-clock budget or allocates past the
    * allocation budget. A hung call is left spinning on its daemon
    * thread. */
  def withinBudget[A](label: String)(f: => A): A = {
    val result = new AtomicReference[Either[Throwable, (A, Long)]]()
    val worker = new Thread(() => {
      val id = Thread.currentThread.getId
      val before = threads.getThreadAllocatedBytes(id)
      try {
        val v = f
        result.set(Right((v, threads.getThreadAllocatedBytes(id) - before)))
      } catch { case e: Throwable => result.set(Left(e)) }
    }, s"contract-$label")
    worker.setDaemon(true)
    worker.start()
    worker.join(WallMs)
    if (worker.isAlive)
      throw new AssertionError(s"$label: still running after $WallMs ms")
    result.get match {
      case Left(e) => throw new AssertionError(s"$label: threw $e", e)
      case Right((_, alloc)) if alloc > AllocBytes =>
        throw new AssertionError(s"$label: allocated ${alloc >> 20} MiB")
      case Right((v, _)) => v
    }
  }

  def zlib(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(b); d.finish()
    val out = new Array[Byte](b.length + 64)
    val n = d.deflate(out)
    d.end()
    java.util.Arrays.copyOf(out, n)
  }

  def indexOf(b: Array[Byte], s: String): Int = {
    val i = new String(b, "ISO-8859-1").indexOf(s)
    require(i >= 0, s"marker not found: $s")
    i
  }

  /** Overwrite `b(at)` with a zlib header whose FDICT bit is set (0x78
    * 0x20: check bits valid, level 0) and a dictionary id: the JDK
    * inflater then asks for a dictionary forever. */
  def withFdict(b: Array[Byte], at: Int): Array[Byte] = {
    val c = b.clone()
    Array(0x78, 0x20, 0, 0, 0, 1).zipWithIndex.foreach { case (v, i) =>
      c(at + i) = v.toByte
    }
    c
  }

  def overwrite(b: Array[Byte], at: Int, v: Long, be: Boolean): Array[Byte] = {
    val c = b.clone()
    (0 until 4).foreach { i =>
      val shift = if (be) 24 - 8 * i else 8 * i
      c(at + i) = (v >>> shift).toByte
    }
    c
  }

  /** A valid blob, damaged one of three ways. */
  def mutant(b: Array[Byte]): Gen[Array[Byte]] = Gen.oneOf(
    Gen.choose(0, b.length - 1).map(n => b.take(n)),
    Gen.listOfN(3, Gen.zip(Gen.choose(0, b.length - 1), Gen.choose(0, 7)))
      .map { flips =>
        val c = b.clone()
        flips.foreach { case (i, bit) => c(i) = (c(i) ^ (1 << bit)).toByte }
        c
      },
    for {
      at <- Gen.choose(0, b.length - 4)
      v <- Gen.oneOf(0x7FFFFFF0L, 0xFFFFFFFFL)
      be <- Gen.oneOf(true, false)
    } yield overwrite(b, at, v, be))
}
