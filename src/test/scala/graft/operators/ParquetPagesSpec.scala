package graft.operators

import java.nio.file.Files

import graft.SparkSpec

/** Parquet page-reader conformance, refereed by Spark's own parquet
  * writer/reader (parquet-mr): real files across codecs and
  * encoding shapes (dictionary, high-cardinality fallback to PLAIN,
  * nulls, multi-row-group) must decode to exactly the values Spark
  * reads back. */
class ParquetPagesSpec extends SparkSpec {

  private def writeAndRead(df: org.apache.spark.sql.DataFrame,
      codec: String): Array[Array[Byte]] = {
    val dir = tempDir("pqpages")
    df.coalesce(1).write.mode("overwrite")
      .option("compression", codec).parquet(dir)
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => Files.readAllBytes(f.toPath))
  }

  private def decodeAll(bytes: Array[Byte], col: String)
      : Vector[Option[Either[String, Long]]] = {
    val footer = ParquetPages.footerBytes(bytes).get
    val (_, chunks, reps) = ParquetPages.chunkMetas(footer).get
    chunks.filter(_.path == col).foldLeft(
      Vector.empty[Option[Either[String, Long]]]) { (acc, c) =>
      acc ++ ParquetPages.readColumn(bytes, c,
        optional = reps.getOrElse(col, 1) == 1).get
    }
  }

  test("snappy + gzip + zstd + uncompressed files decode to the exact " +
      "values Spark reads back (dictionary-encoded low cardinality)") {
    import spark.implicits._
    val df = (0L until 3000L).map(i => (i, s"name${i % 40}")).toDF("id", "s")
    Seq("snappy", "gzip", "zstd", "none").foreach { codec =>
      val files = writeAndRead(df, codec)
      assert(files.length == 1, codec)
      val ids = decodeAll(files(0), "id").flatten.collect {
        case Right(v) => v
      }
      val strs = decodeAll(files(0), "s").flatten.collect {
        case Left(v) => v
      }
      assert(ids == (0L until 3000L).toVector, codec)
      assert(strs == (0L until 3000L).map(i => s"name${i % 40}").toVector,
        codec)
    }
  }

  test("high-cardinality column triggers parquet-mr's mid-column " +
      "dictionary fallback to PLAIN; both page kinds decode") {
    import spark.implicits._
    // long random-ish strings defeat the dictionary size ratio early
    val rows = (0L until 30000L).map(i => (i, s"u$i-" + ("x" * (i % 37).toInt)))
    val files = writeAndRead(rows.toDF("id", "s"), "snappy")
    val strs = decodeAll(files(0), "s").flatten.collect { case Left(v) => v }
    assert(strs == rows.map(_._2).toVector)
    val ids = decodeAll(files(0), "id").flatten.collect { case Right(v) => v }
    assert(ids == rows.map(_._1).toVector)
  }

  test("nulls: definition levels route around missing values") {
    import spark.implicits._
    val df = (0L until 5000L)
      .map(i => (i, if (i % 7 == 0) None else Some(s"v${i % 13}")))
      .toDF("id", "s")
    val files = writeAndRead(df, "snappy")
    val strs = decodeAll(files(0), "s")
    assert(strs.length == 5000)
    (0 until 5000).foreach { i =>
      if (i % 7 == 0) assert(strs(i).isEmpty, i)
      else assert(strs(i).contains(Left(s"v${i % 13}")), i)
    }
  }

  test("multi-row-group files concatenate chunk decodes in order") {
    import spark.implicits._
    val dir = tempDir("pqrg")
    val df = (0L until 200000L).map(i => (i, s"g${i % 5}")).toDF("id", "s")
    df.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", (256 * 1024).toString)
      .option("compression", "snappy").parquet(dir)
    val bytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => Files.readAllBytes(f.toPath)).head
    val footer = ParquetPages.footerBytes(bytes).get
    val (nRows, chunks, _) = ParquetPages.chunkMetas(footer).get
    assert(nRows == 200000L)
    assert(chunks.count(_.path == "id") > 1, "expected multiple row groups")
    val ids = decodeAll(bytes, "id").flatten.collect { case Right(v) => v }
    assert(ids == (0L until 200000L).toVector)
  }

  test("v2 pages: DELTA_BINARY_PACKED ints and DELTA_BYTE_ARRAY " +
      "strings (with dictionary pages first), nulls, all codecs") {
    import spark.implicits._
    val rows = (0L until 25000L).map(i =>
      (i * 7 - 3000, if (i % 6 == 0) None
      else Some(s"pfx-common-${i % 997}-u$i")))
    val df = rows.toDF("id", "s")
    Seq("snappy", "gzip", "zstd", "none").foreach { codec =>
      val dir = tempDir("pqv2")
      df.coalesce(1).write.mode("overwrite")
        .option("compression", codec)
        .option("parquet.writer.version", "v2")
        .parquet(dir)
      val bytes = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => Files.readAllBytes(f.toPath)).head
      val ids = decodeAll(bytes, "id")
      val strs = decodeAll(bytes, "s")
      assert(ids.length == 25000, codec)
      (0 until 25000).foreach { i =>
        assert(ids(i) == Some(Right(i * 7L - 3000)), s"$codec id@$i")
        val want = rows(i)._2
        assert(strs(i) == want.map(Left(_)), s"$codec s@$i")
      }
    }
  }

  test("hostile input: truncation, flipped page bytes (CRC gate), " +
      "non-parquet bytes all reject") {
    import spark.implicits._
    val files = writeAndRead(
      (0L until 500L).map(i => (i, s"n${i % 9}")).toDF("id", "s"), "snappy")
    val bytes = files(0)
    assert(ParquetPages.footerBytes("not parquet".getBytes).isEmpty)
    assert(ParquetPages.footerBytes(null).isEmpty)
    (1 until bytes.length by 97).foreach { k =>
      val t = bytes.take(k)
      ParquetPages.footerBytes(t).foreach { f =>
        ParquetPages.chunkMetas(f).foreach { case (_, chunks, reps) =>
          chunks.foreach(c =>
            ParquetPages.readColumn(t, c, optional = true)) // no throw
        }
      }
    }
    // flip a byte inside the first data page region: CRC (or snappy
    // framing, or value bounds) must reject — never wrong values
    val footer = ParquetPages.footerBytes(bytes).get
    val (_, chunks, reps) = ParquetPages.chunkMetas(footer).get
    val c0 = chunks.head
    val at = (math.min(c0.dataPageOffset,
      if (c0.dictPageOffset >= 0) c0.dictPageOffset
      else c0.dataPageOffset) + 20).toInt
    val bad = bytes.clone()
    bad(at) = (bad(at) ^ 0x40).toByte
    val got = ParquetPages.readColumn(bad, c0,
      optional = reps.getOrElse(c0.path, 1) == 1)
    val orig = ParquetPages.readColumn(bytes, c0,
      optional = reps.getOrElse(c0.path, 1) == 1)
    assert(got.isEmpty || got == orig)
  }

  private def decodeLists(bytes: Array[Byte], col: String)
      : Vector[Option[Vector[Option[Either[String, Long]]]]] = {
    val footer = ParquetPages.footerBytes(bytes).get
    val (_, chunks, _) = ParquetPages.chunkMetas(footer).get
    val lv = ParquetPages.schemaLevels(footer).get(col)
    chunks.filter(_.path == col).foldLeft(
      Vector.empty[Option[Vector[Option[Either[String, Long]]]]]) {
      (acc, c) => acc ++ ParquetPages.readListColumn(bytes, c, lv).get
    }
  }

  test("list columns: Dremel rep/def assembly reproduces Spark-written " +
      "arrays — null/empty lists, null elements, all codecs") {
    import spark.implicits._
    val rows: Seq[(Long, Option[Seq[Option[Long]]])] =
      (0L until 800L).map { i =>
        val lst =
          if (i % 11 == 0) None
          else if (i % 5 == 0) Some(Seq.empty[Option[Long]])
          else Some((0L to i % 7).map(x =>
            if (x % 4 == 0) None else Some(x + i % 3)))
        (i, lst)
      }
    val expect: Vector[Option[Vector[Option[Either[String, Long]]]]] =
      rows.map { case (_, lst) =>
        lst.map(_.toVector.map(_.map(v => Right(v): Either[String, Long])))
      }.toVector
    val df = rows.toDF("id", "tokens")
    Seq("snappy", "gzip", "none").foreach { codec =>
      val files = writeAndRead(df, codec)
      assert(files.length == 1, codec)
      val footer = ParquetPages.footerBytes(files(0)).get
      val lv = ParquetPages.schemaLevels(footer).get("tokens.list.element")
      assert(lv == ParquetPages.LeafLevels(3, 1, true), codec)
      assert(decodeLists(files(0), "tokens.list.element") == expect, codec)
    }
  }

  test("list columns: required elements (containsNull=false) use " +
      "maxDef=2 and empty lists still assemble") {
    import spark.implicits._
    val rows = (0L until 500L).map(i => (i, (1L to i % 5).toSeq))
    val df = rows.toDF("id", "xs")
    val files = writeAndRead(df, "snappy")
    val footer = ParquetPages.footerBytes(files(0)).get
    val lv = ParquetPages.schemaLevels(footer).get("xs.list.element")
    assert(lv == ParquetPages.LeafLevels(2, 1, false))
    val got = decodeLists(files(0), "xs.list.element")
    val expect = rows.map { case (_, xs) =>
      Some(xs.toVector.map(v => Some(Right(v): Either[String, Long])))
    }.toVector
    assert(got == expect)
  }

  test("list columns: string elements and v2 pages (raw rep/def level " +
      "regions + DELTA element encodings)") {
    import spark.implicits._
    val srows = (0L until 400L).map(i =>
      (i, (0L until i % 4).map(j => s"tok${(i + j) % 23}")))
    val sdf = srows.toDF("id", "ws")
    val sfiles = writeAndRead(sdf, "snappy")
    val sexpect = srows.map { case (_, ws) =>
      Some(ws.toVector.map(w => Some(Left(w): Either[String, Long])))
    }.toVector
    assert(decodeLists(sfiles(0), "ws.list.element") == sexpect)
    // v2 writer: DataPageV2 with level bytes outside the codec region
    val lrows = (0L until 600L).map(i => (i, (0L to i % 6).map(_ + i)))
    val ldf = lrows.toDF("id", "xs")
    val dir = tempDir("pqlistv2")
    ldf.coalesce(1).write.mode("overwrite")
      .option("parquet.writer.version", "v2")
      .option("compression", "snappy").parquet(dir)
    val v2bytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => Files.readAllBytes(f.toPath)).head
    val lexpect = lrows.map { case (_, xs) =>
      Some(xs.toVector.map(v => Some(Right(v): Either[String, Long])))
    }.toVector
    assert(decodeLists(v2bytes, "xs.list.element") == lexpect)
  }

  test("list columns: truncation and flip sweeps never throw, never " +
      "change row counts silently") {
    import spark.implicits._
    val df = (0L until 300L).map(i => (i, (0L to i % 5).toSeq))
      .toDF("id", "xs")
    val bytes = writeAndRead(df, "snappy")(0)
    val footer = ParquetPages.footerBytes(bytes).get
    val (_, chunks, _) = ParquetPages.chunkMetas(footer).get
    val lv = ParquetPages.schemaLevels(footer).get("xs.list.element")
    val leaf = chunks.filter(_.path == "xs.list.element").head
    val orig = ParquetPages.readListColumn(bytes, leaf, lv).get
    (1 until bytes.length by 83).foreach { k =>
      ParquetPages.readListColumn(bytes.take(k), leaf, lv) // no throw
    }
    (leaf.dataPageOffset.toInt until bytes.length - 8 by 131).foreach { k =>
      val bad = bytes.clone()
      bad(k) = (bad(k) ^ 0x20).toByte
      val got = ParquetPages.readListColumn(bad, leaf, lv)
      assert(got.isEmpty || got.get == orig, s"flip@$k")
    }
  }

  test("hostile page header: numValues=Int.MaxValue rejects before " +
      "allocation (no OOM escaping the None contract)") {
    // hand-built thrift-compact PageHeader with a hostile value count;
    // Int.MaxValue*8 wraps in Int math, so the fix must cap in Long
    def zz(n: Int): Array[Byte] = {
      var u = ((n << 1) ^ (n >> 31)).toLong & 0xffffffffL
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      var go = true
      while (go) {
        var b = (u & 0x7f).toInt
        u >>>= 7
        if (u != 0) b |= 0x80 else go = false
        out += b.toByte
      }
      out.toArray
    }
    def hdr(ptype: Int, structField: Int): Array[Byte] =
      Array[Byte](0x15) ++ zz(ptype) ++          // 1: page type
        Array[Byte](0x15) ++ zz(16) ++           // 2: uncompressed size
        Array[Byte](0x15) ++ zz(16) ++           // 3: compressed size
        Array[Byte](((structField - 3) << 4 | 0xC).toByte) ++ // header struct
        Array[Byte](0x15) ++ zz(Int.MaxValue) ++ // num_values
        Array[Byte](0x15) ++ zz(0) ++            // encoding = PLAIN
        Array[Byte](0, 0)                        // 2x stop
    // dictionary-page path (field 7) and data-page-v1 path (field 5)
    Seq((2, 7, 0L), (0, 5, -1L)).foreach { case (pt, fld, dictOff) =>
      val file = hdr(pt, fld) ++ Array.fill[Byte](16)(0)
      val meta = ParquetPages.ChunkMeta("c", 2, 0, 0L, dictOff, 100L)
      assert(ParquetPages.readColumn(file, meta, optional = false).isEmpty)
    }
  }
}
