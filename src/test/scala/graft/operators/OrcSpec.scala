package graft.operators

import java.nio.file.Files

import graft.SparkSpec

/** ORC reader conformance, refereed by Spark's own ORC writer
  * (orc-core): real files across codecs and value distributions
  * chosen to force every RLEv2 sub-encoding must decode to exactly
  * the values Spark reads back. */
class OrcSpec extends SparkSpec {

  private def writeOrc(df: org.apache.spark.sql.DataFrame, codec: String,
      opts: Map[String, String] = Map.empty): Array[Byte] = {
    val dir = tempDir("orcspec")
    val w = df.coalesce(1).write.mode("overwrite")
      .option("compression", codec)
    opts.foreach { case (k, v) => w.option(k, v) }
    w.orc(dir)
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".orc"))
      .map(f => Files.readAllBytes(f.toPath)).head
  }

  private def longs(bytes: Array[Byte], col: String): Vector[Option[Long]] = {
    val meta = Orc.parseTail(bytes).get
    Orc.readColumn(bytes, meta, col).get.map(_.map {
      case Right(v) => v
      case Left(_)  => fail("expected long")
    })
  }

  private def strs(bytes: Array[Byte], col: String): Vector[Option[String]] = {
    val meta = Orc.parseTail(bytes).get
    Orc.readColumn(bytes, meta, col).get.map(_.map {
      case Left(v)  => v
      case Right(_) => fail("expected string")
    })
  }

  test("every RLEv2 sub-encoding decodes: constant (SHORT_REPEAT), " +
      "sequential (DELTA), random (DIRECT), outliers (PATCHED_BASE)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 30000).map { i =>
      val outlier = if (i % 500 == 13) 1L << 40 else (i % 100).toLong
      (7L, i.toLong, rnd.nextLong() >> 16, outlier)
    }
    val df = rows.toDF("const", "seq", "rand", "patched")
    Seq("zlib", "snappy", "zstd", "none").foreach { codec =>
      val bytes = writeOrc(df, codec)
      assert(longs(bytes, "const").flatten == rows.map(_._1).toVector, codec)
      assert(longs(bytes, "seq").flatten == rows.map(_._2).toVector, codec)
      assert(longs(bytes, "rand").flatten == rows.map(_._3).toVector, codec)
      assert(longs(bytes, "patched").flatten == rows.map(_._4).toVector,
        codec)
    }
  }

  test("strings: dictionary (low cardinality) and direct (high " +
      "cardinality) encodings both decode") {
    import spark.implicits._
    val low = (0 until 20000).map(i => (i.toLong, s"cat${i % 12}"))
    val bl = writeOrc(low.toDF("id", "s"), "zlib")
    assert(strs(bl, "s").flatten == low.map(_._2).toVector)
    val high = (0 until 20000).map(i => (i.toLong, s"unique-$i-${i * 31}"))
    val bh = writeOrc(high.toDF("id", "s"), "snappy")
    assert(strs(bh, "s").flatten == high.map(_._2).toVector)
  }

  test("nulls route through the PRESENT bitmap") {
    import spark.implicits._
    val rows = (0 until 9000).map(i =>
      (i.toLong, if (i % 11 == 0) None else Some(s"v${i % 5}")))
    val bytes = writeOrc(rows.toDF("id", "s"), "zlib")
    val got = strs(bytes, "s")
    assert(got.length == 9000)
    (0 until 9000).foreach { i =>
      if (i % 11 == 0) assert(got(i).isEmpty, i)
      else assert(got(i).contains(s"v${i % 5}"), i)
    }
    // the non-null long column alongside decodes too
    assert(longs(bytes, "id").flatten == rows.map(_._1).toVector)
  }

  test("multi-stripe files concatenate stripes in order") {
    import spark.implicits._
    val rows = (0L until 300000L).map(i => (i, s"g${i % 4}"))
    val bytes = writeOrc(rows.toDF("id", "s"), "zlib",
      Map("orc.stripe.size" -> (1 << 18).toString))
    val meta = Orc.parseTail(bytes).get
    assert(meta.stripes.length > 1, "expected multiple stripes")
    assert(longs(bytes, "id").flatten == rows.map(_._1).toVector)
    assert(strs(bytes, "s").flatten == rows.map(_._2).toVector)
  }

  test("hostile input: truncation sweep, non-ORC bytes, flipped " +
      "stream bytes never yield wrong values silently accepted as ok") {
    import spark.implicits._
    val rows = (0 until 2000).map(i => (i.toLong, s"n${i % 7}"))
    val bytes = writeOrc(rows.toDF("id", "s"), "zlib")
    assert(Orc.parseTail(null).isEmpty)
    assert(Orc.parseTail("garbage".getBytes).isEmpty)
    (0 until bytes.length by 41).foreach { k =>
      val t = bytes.take(k)
      Orc.parseTail(t).foreach { m =>
        Orc.readColumn(t, m, "id") // no throw
        Orc.readColumn(t, m, "s")
      }
    }
    // unknown column
    val meta = Orc.parseTail(bytes).get
    assert(Orc.readColumn(bytes, meta, "nope").isEmpty)
    // hostile stripe row count: a declared multi-billion nRows must
    // reject BEFORE allocation (an OOM would escape the None contract)
    val huge = meta.copy(stripes = meta.stripes.map(s =>
      (s._1, s._2, s._3, s._4, 3000000000L)))
    assert(Orc.readColumn(bytes, huge, "id").isEmpty)
    val neg = meta.copy(stripes = meta.stripes.map(s =>
      (s._1, s._2, s._3, s._4, -1L)))
    assert(Orc.readColumn(bytes, neg, "id").isEmpty)
    // flips inside the data region: either reject or decode unchanged
    val orig = longs(bytes, "id")
    (100 until bytes.length - 100 by 211).foreach { k =>
      val bad = bytes.clone()
      bad(k) = (bad(k) ^ 0x08).toByte
      Orc.parseTail(bad).foreach { m =>
        Orc.readColumn(bad, m, "id") match {
          case Some(v) =>
            // zlib has no integrity check; a flip may change VALUES but
            // must never crash or change the row count
            assert(v.length == orig.length, s"flip@$k")
          case None =>
        }
      }
    }
  }
}
