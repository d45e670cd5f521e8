package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{DataSkipping, Json, Maintenance}

/** Laws of the incremental maintainer, on q233's quantile state:
  * exactly-once folding (a re-run with no new files is a NO-OP, not a
  * double-count), keep-last-N retention, the rollback version, crash
  * recovery, and incremental == one-shot for every state kind the
  * queries keep (the exact-merge property surfaced at the file level). */
class IncrementalQuantileSpec extends SparkSpec {
  import spark.implicits._

  private def quantileInc(input: String, stateDir: String,
      ckpt: String = tempDir("iq_ck_"), retainVersions: Int = 2) =
    new Incremental(spark, input,
      Seq((0L, 0.0)).toDF("k", "v").schema, ckpt, stateDir,
      Maintenance.quantileState(_, col("k"), col("v"), 0.0, 100.0, 20),
      Maintenance.mergeQuantileState, retainVersions)

  private def mk(): (Incremental, String) = {
    val input = tempDir("iq_in_")
    (quantileInc(input, tempDir("iq_st_")), input)
  }

  private def stateCells(inc: Incremental) =
    inc.state().get.orderBy($"k", $"b").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

  test("update with no new files is a no-op; re-arrivals fold exactly once") {
    val (inc, input) = mk()
    Seq((1L, 10.0), (1L, 55.0), (2L, 90.0)).toDF("k", "v")
      .write.mode("append").parquet(input)
    inc.update()
    val after1 = stateCells(inc)
    // no new files: the checkpoint's seen-set must make this a no-op
    inc.update()
    assert(stateCells(inc) == after1, "re-run without new data double-folded")
    // a second batch folds in once
    Seq((1L, 12.0), (2L, 5.0)).toDF("k", "v")
      .write.mode("append").parquet(input)
    inc.update()
    val after2 = stateCells(inc)
    assert(after2 != after1)
    inc.update() // and again: no-op
    assert(stateCells(inc) == after2)
  }

  test("keep-last-N retention: old versions vanish after each flip, " +
      "the pointer target and the rollback version survive") {
    import java.nio.file.{Files => F, Paths}
    val input = tempDir("iq_in_")
    val stateDir = tempDir("iq_st_")
    val inc = quantileInc(input, stateDir, retainVersions = 2)
    def versions(): Set[String] = {
      val s = F.list(Paths.get(stateDir))
      try {
        val it = s.iterator(); val b = Set.newBuilder[String]
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (n.matches("v\\d+")) b += n
        }
        b.result()
      } finally s.close()
    }
    for (i <- 1 to 4) {
      Seq((1L, i * 10.0)).toDF("k", "v").write.mode("append").parquet(input)
      inc.update()
    }
    // batch ids 0..3 -> only v2 (rollback) and v3 (current) remain
    assert(versions() == Set("v2", "v3"),
      s"expected last-2 retention, got ${versions()}")
    assert(inc.versions() == Seq("v2", "v3"))
    val pointer = Paths.get(stateDir, "_LATEST")
    assert(F.readString(pointer).trim == "v3")
    // the rollback contract: flipping the pointer back one version
    // reads a complete, older state
    val nCurrent = inc.state().get.agg(sum($"c")).collect()(0).getLong(0)
    Incremental.flipPointer(pointer, "v2")
    val nRolledBack = inc.state().get.agg(sum($"c")).collect()(0).getLong(0)
    assert(nRolledBack == nCurrent - 1, "v2 must be the pre-batch-3 state")
    // prune must NEVER delete the pointer target, even a manually
    // rolled-back one outside the newest N
    Incremental.pruneVersions(stateDir, pointer, retain = 1)
    assert(versions() == Set("v2", "v3"),
      "pointer target v2 must survive a retain-1 prune")
    // a version written by a crashed run that never flipped sorts
    // newest and is retained for the replaying batch to overwrite
    F.createDirectories(Paths.get(stateDir, "v99"))
    Incremental.pruneVersions(stateDir, pointer, retain = 1)
    assert(versions() == Set("v2", "v99"),
      "crashed-but-unflipped newest version must be retained")
  }

  test("previousState is the version one flip behind the pointer " +
      "(None before two versions; respects a manual rollback)") {
    import java.nio.file.{Files => F, Paths}
    val input = tempDir("iq_in_")
    val stateDir = tempDir("iq_st_")
    val inc = quantileInc(input, stateDir)
    assert(inc.previousState().isEmpty)
    Seq((1L, 10.0)).toDF("k", "v").write.mode("append").parquet(input)
    inc.update()
    assert(inc.previousState().isEmpty, "one version: no previous yet")
    Seq((1L, 30.0)).toDF("k", "v").write.mode("append").parquet(input)
    inc.update()
    // previous = v0 (one row folded), current = v1 (two)
    def total(df: DataFrame) = df.agg(sum($"c")).collect()(0).getLong(0)
    assert(total(inc.previousState().get) == 1L)
    assert(total(inc.state().get) == 2L)
    // drift between them sees exactly the second batch's contribution
    val drift = Maintenance.psiDrift(inc.previousState().get, inc.state().get)
      .select($"n_ref", $"n_cur").collect()(0)
    assert(drift.getLong(0) == 1L && drift.getLong(1) == 2L)
    // after a manual rollback to v0, there is nothing older than the
    // pointer target -> no previous
    Incremental.flipPointer(Paths.get(stateDir, "_LATEST"), "v0")
    assert(inc.previousState().isEmpty)
    assert(F.exists(Paths.get(stateDir, "v1")), "rollback deletes nothing")
  }

  test("crash between state write and pointer flip recovers: the " +
      "replayed fold overwrites the same version and the result is " +
      "exactly-once") {
    import java.nio.file.{Files => F, Paths}
    val input = tempDir("iq_in_")
    val stateDir = tempDir("iq_st_")
    // simulate the crash window: v0 was WRITTEN by a run that died
    // before flipping the pointer (and before the checkpoint commit —
    // a fresh checkpoint dir, so batch 0 replays). Plant a poisoned v0
    // to prove the replay overwrites rather than trusts it.
    Seq((9L, 50.0)).toDF("k", "v")
      .write.parquet(Paths.get(stateDir, "v0").toString)
    assert(!F.exists(Paths.get(stateDir, "_LATEST")))
    Seq((1L, 10.0), (2L, 90.0)).toDF("k", "v")
      .write.mode("append").parquet(input)
    val inc = quantileInc(input, stateDir)
    inc.update()
    assert(F.readString(Paths.get(stateDir, "_LATEST")).trim == "v0")
    val cells = inc.state().get.orderBy($"k", $"b").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(cells == Seq((1L, 2, 1L), (2L, 18, 1L)),
      s"replay must overwrite the crashed write, got $cells")
  }

  test("incremental folds equal the one-shot state over all arrivals") {
    val quantile = Seq(
      Seq((1L, 10.0), (1L, 55.0), (2L, 90.0), (3L, 33.0)).toDF("k", "v"),
      Seq((1L, 12.0), (2L, 5.0), (3L, 33.5)).toDF("k", "v"))
    val bottomK = Seq(
      (0L until 200L).map(i => (i % 3, i * 7 % 500)).toDF("k", "v"),
      (0L until 150L).map(i => (i % 3, i * 11 % 500)).toDF("k", "v"))
    val manifest = Seq(0L until 100L, 100L until 250L, 250L until 400L)
      .map(r => r.map(i => (i, i * 3)).toDF("k", "p"))
    val census = Seq(
      Seq((1L, """{"a":1,"b":[1,2]}"""), (2L, """{"a":2}""")),
      Seq((3L, """{"a":"x","c":{"d":null}}"""), (4L, "not json")))
      .map(_.toDF("doc_id", "json"))
    // (state kind, arrival batches, partial, merge)
    val kinds = Seq[(String, Seq[DataFrame], DataFrame => DataFrame,
        (DataFrame, DataFrame) => DataFrame)](
      ("quantile", quantile,
        Maintenance.quantileState(_, col("k"), col("v"), 0.0, 100.0, 20),
        Maintenance.mergeQuantileState),
      ("bottom-k", bottomK, Maintenance.bottomKState(_, col("k"), col("v"), 8),
        Maintenance.mergeBottomK(_, _, 8)),
      ("manifest", manifest, DataSkipping.fileManifest(_, "k"),
        DataSkipping.mergeFileManifest),
      ("census", census, Json.schemaProfile(_, "doc_id", "json"),
        Json.mergeCensus))
    kinds.foreach { case (kind, batches, partial, merge) =>
      val input = tempDir("fold_in_")
      val inc = new Incremental(spark, input, batches.head.schema,
        tempDir("fold_ck_"), tempDir("fold_st_"), partial, merge)
      batches.foreach { b =>
        b.repartition(1).write.mode("append").parquet(input)
        inc.update()
      }
      val folded = inc.state().get
      // the one-shot state reads every arrival at once
      val oneShot = partial(spark.read.parquet(input))
      assert(folded.exceptAll(oneShot).isEmpty &&
        oneShot.exceptAll(folded).isEmpty,
        s"$kind: ${batches.size} incremental folds must equal the one-shot state")
      // no new files: no new version, the state must not move
      val before = inc.versions()
      inc.update()
      assert(inc.versions() == before, kind)
    }
  }
}
