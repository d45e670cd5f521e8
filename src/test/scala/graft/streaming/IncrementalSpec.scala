package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.SkewJoin

class IncrementalSpec extends SparkSpec {

  test("incremental agg: two updates equal one batch aggregate (f(A+B)=f(A)+f(B))") {
    import spark.implicits._
    val base = tempPath("inc_")
    val input = base.resolve("in").toString
    new java.io.File(input).mkdirs()

    val batchA = Seq(("x", 1.0), ("y", 2.0), ("x", 3.0)).toDF("k", "v")
    val batchB = Seq(("y", 10.0), ("z", 5.0)).toDF("k", "v")
    batchA.write.parquet(input + "/fileA")
    val inc = new IncrementalAgg(spark, input + "/*/", batchA.schema,
      base.resolve("ckpt").toString, base.resolve("state").toString,
      keys = Seq("k"), sumCols = Seq("v"))

    val s1 = inc.update().collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(s1 == Set(("x", 4.0, 2L), ("y", 2.0, 1L)))

    // second wave of files: only fileB is processed, state is merged
    batchB.write.parquet(input + "/fileB")
    val s2 = inc.update().collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(s2 == Set(("x", 4.0, 2L), ("y", 12.0, 2L), ("z", 5.0, 1L)))

    // idempotence: nothing new -> state unchanged
    val s3 = inc.update().collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(s3 == s2)
  }

  test("state pointer flip is an atomic rename: replaces existing, no temp left") {
    val dir = tempPath("ptr_")
    val pointer = dir.resolve("_LATEST")
    IncrementalAgg.flipPointer(pointer, "v0")
    assert(Files.readString(pointer) == "v0")
    IncrementalAgg.flipPointer(pointer, "v1") // overwrite path
    assert(Files.readString(pointer) == "v1")
    assert(!Files.exists(dir.resolve("_LATEST.tmp")))
  }

  test("salted join resolves same-named key columns and avoids nondeterministic salts") {
    import spark.implicits._
    val left = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "lv")
    val right = Seq(("a", 10), ("b", 20)).toDF("k", "rv")
    val r = SkewJoin.saltedInnerJoin(left, right, "k", "k", salt = 3)
    assert(r.count() == 3)
    // salts must come from row content, not monotonically_increasing_id:
    // task retries reassign mid-ids, making re-runs bit-nonidentical
    assert(!r.queryExecution.analyzed.toString
      .contains("monotonically_increasing_id"))
  }

  test("salted join equals plain join on skewed data") {
    import spark.implicits._
    // 90% of left rows share one hot key
    val left = (1 to 2000).map(i =>
      (if (i % 10 == 0) s"k$i" else "HOT", i)).toDF("lk", "lv")
    val right = (Seq("HOT") ++ (10 to 2000 by 10).map(i => s"k$i"))
      .zipWithIndex.map { case (k, j) => (k, j) }.toDF("rk", "rv")
    val plain = left.join(right, $"lk" === $"rk")
      .select($"lk", $"lv", $"rv")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val salted = SkewJoin.saltedInnerJoin(left, right, "lk", "rk", salt = 4)
      .select($"lk", $"lv", $"rv")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(salted == plain)
    assert(plain.size == 2000)
  }

  test("spreadIdentical salting matches plain join on bit-identical hot rows") {
    import spark.implicits._
    // every probe row is bit-identical: content hashing alone would put
    // them all in ONE salt bucket (the skew survives); spreadIdentical
    // mixes in partition id + row index to break them up
    val left = (1 to 500).map(_ => ("HOT", 1)).toDF("lk", "lv")
    val right = Seq(("HOT", 9)).toDF("rk", "rv")
    val spread = SkewJoin.saltedInnerJoin(left, right, "lk", "rk",
      salt = 4, spreadIdentical = true)
    assert(spread.count() == 500)
    assert(spread.queryExecution.analyzed.toString
      .contains("monotonically_increasing_id"))
  }

  test("default salting skips map columns instead of erroring in xxhash64") {
    import spark.implicits._
    val left = Seq(("a", Map("x" -> 1)), ("b", Map("y" -> 2))).toDF("k", "m")
    val right = Seq(("a", 10), ("b", 20)).toDF("rk", "rv")
    val r = SkewJoin.saltedInnerJoin(left, right, "k", "rk", salt = 3)
    assert(r.count() == 2)
  }
}
