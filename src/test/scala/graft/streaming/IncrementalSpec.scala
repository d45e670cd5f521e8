package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SourceGuard, SparkSpec}

class IncrementalSpec extends SparkSpec {

  test("incremental agg: two updates equal one batch aggregate (f(A+B)=f(A)+f(B))") {
    import spark.implicits._
    val base = tempPath("inc_")
    val input = base.resolve("in").toString
    new java.io.File(input).mkdirs()

    val batchA = Seq(("x", 1.0), ("y", 2.0), ("x", 3.0)).toDF("k", "v")
    val batchB = Seq(("y", 10.0), ("z", 5.0)).toDF("k", "v")
    batchA.write.parquet(input + "/fileA")
    // the keyed-sum state: per key, the sum of v and the row count
    def partial(df: DataFrame): DataFrame =
      df.groupBy($"k").agg(sum($"v").as("sum_v"), count(lit(1)).as("n"))
    def merge(prev: DataFrame, delta: DataFrame): DataFrame =
      prev.unionByName(delta).groupBy($"k")
        .agg(sum($"sum_v").as("sum_v"), sum($"n").as("n"))
    val inc = new Incremental(spark, input + "/*/", batchA.schema,
      base.resolve("ckpt").toString, base.resolve("state").toString,
      partial, merge)
    def update() = {
      inc.update()
      inc.state().get.collect().map(r =>
        (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    }

    val s1 = update()
    assert(s1 == Set(("x", 4.0, 2L), ("y", 2.0, 1L)))

    // second wave of files: only fileB is processed, state is merged
    batchB.write.parquet(input + "/fileB")
    val s2 = update()
    assert(s2 == Set(("x", 4.0, 2L), ("y", 12.0, 2L), ("z", 5.0, 1L)))

    // idempotence: nothing new -> state unchanged
    val s3 = update()
    assert(s3 == s2)
  }

  test("state pointer flip is an atomic rename: replaces existing, no temp left") {
    val dir = tempPath("ptr_")
    val pointer = dir.resolve("_LATEST")
    Incremental.flipPointer(pointer, "v0")
    assert(Files.readString(pointer) == "v0")
    Incremental.flipPointer(pointer, "v1") // overwrite path
    assert(Files.readString(pointer) == "v1")
    assert(!Files.exists(dir.resolve("_LATEST.tmp")))
  }

  /** The version store exists once: its pointer, prune and fold live
    * only in streaming/Incremental.scala. */
  test("no state pointer, prune or fold outside streaming/Incremental") {
    val home = Some("graft/streaming/Incremental.scala")
    val offenders = SourceGuard.offenders(Seq(
      "\"_LATEST" -> home,
      "flipPointer" -> home,
      "pruneVersions" -> home,
      "foldNewArrivals" -> home))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
