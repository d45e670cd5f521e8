package graft.operators

import graft.SparkSpec

class SkewJoinSpec extends SparkSpec {

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
