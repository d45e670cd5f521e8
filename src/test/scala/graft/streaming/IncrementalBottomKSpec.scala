package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec
import graft.operators.Maintenance

/** Laws behind q270's incremental KMV maintenance: the folded sketch is
  * bit-for-bit the single-pass sketch of all arrivals, and re-running
  * with no new files changes nothing. */
class IncrementalBottomKSpec extends SparkSpec {
  import spark.implicits._

  test("incremental folds equal the one-shot sketch over all arrivals; " +
      "empty update is a no-op") {
    val input = tempDir("bk_in_")
    val inc = new Incremental(
      spark, input,
      StructType(Seq(StructField("k", LongType), StructField("v", LongType))),
      tempDir("bk_ck_"), tempDir("bk_st_"),
      Maintenance.bottomKState(_, col("k"), col("v"), 8),
      Maintenance.mergeBottomK(_, _, 8))
    val b1 = (0L until 200L).map(i => (i % 3, i * 7 % 500))
    val b2 = (0L until 150L).map(i => (i % 3, i * 11 % 500))
    Seq(b1, b2).foreach { b =>
      b.toDF("k", "v").write.mode("append").parquet(input)
      inc.update()
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"k", $"h", $"v").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val oneShot = Maintenance.bottomKState(
      (b1 ++ b2).toDF("k", "v"), col("k"), col("v"), 8)
    assert(rows(inc.state().get) === rows(oneShot))
    // no new files: the state must not move
    val before = rows(inc.state().get)
    inc.update()
    assert(rows(inc.state().get) === before)
    // the estimate reads off the same state
    val est = Maintenance.distinctFromBottomK(inc.state().get, 8).collect()
    assert(est.length === 3)
    est.foreach(r => assert(r.getAs[Boolean]("saturated")))
  }
}
