package graft.jobs

import java.nio.file.Files

import graft.SparkSpec

class JobsSpec extends SparkSpec {

  test("jobs run in priority-descending order, ties FIFO") {
    val q = new JobQueue()
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    def j(name: String, prio: Int) =
      SparkJob(name, _ => order += name, priority = prio)
    q.submit(j("low", 1))
    q.submit(j("high", 10))
    q.submit(j("mid-a", 5))
    q.submit(j("mid-b", 5))
    val res = q.runAll(spark)
    assert(order.toList == List("high", "mid-a", "mid-b", "low"))
    assert(res.forall(_.ok))
  }

  test("failure cascade-deletes the whole group; other groups continue") {
    val q = new JobQueue()
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    q.submit(SparkJob("g1-boom", _ => throw new RuntimeException("boom"),
      priority = 10, groupName = Some("g1")))
    q.submit(SparkJob("g1-dependent", _ => ran += "g1-dependent",
      priority = 5, groupName = Some("g1")))
    q.submit(SparkJob("g2-ok", _ => ran += "g2-ok",
      priority = 1, groupName = Some("g2")))
    val res = q.runAll(spark)
    assert(ran.toList == List("g2-ok"))
    assert(q.failures.map(_.name) == Seq("g1-boom"))
    assert(res.count(_.ok) == 1 && res.count(!_.ok) == 1)
  }

  test("runOnce deletes after success; finished jobs don't re-run unless forced") {
    val q = new JobQueue()
    var n = 0
    q.submit(SparkJob("once", _ => n += 1, runOnce = true))
    q.submit(SparkJob("sticky", _ => n += 10))
    q.runAll(spark)
    assert(n == 11)
    assert(q.jobs.map(_.name) == Seq("sticky")) // "once" deleted
    q.runAll(spark) // sticky already finished -> no-op
    assert(n == 11)
    q.runAll(spark, forceRun = true)
    assert(n == 21)
  }

  test("script job: success on exit 0, failure otherwise") {
    val q = new JobQueue()
    q.submit(ScriptJob("ok", Seq("true"), priority = 2))
    q.submit(ScriptJob("bad", Seq("false"), priority = 1))
    val res = q.runAll(spark)
    assert(res.find(_.name == "ok").get.ok)
    assert(!res.find(_.name == "bad").get.ok)
  }

  test("transfer job copies and deletes via the Hadoop FileSystem API") {
    val dir = tempPath("xfer_")
    val src = dir.resolve("a.txt")
    Files.writeString(src, "payload")
    val dst = dir.resolve("b.txt")
    val q = new JobQueue()
    q.submit(TransferJob("cp", TransferType.Copy, src.toString, dst.toString,
      priority = 2))
    q.submit(TransferJob("rm", TransferType.Delete, src.toString, "",
      priority = 1))
    val res = q.runAll(spark)
    assert(res.forall(_.ok))
    assert(Files.exists(dst) && !Files.exists(src))
  }

  test("journal restore: resubmitted finished jobs skip unless forced; names escape") {
    val f = tempFile("jobs_", ".data").toString
    var n = 0
    val tricky = "job \"quoted\"\twith\ncontrol chars"
    locally {
      val q = new JobQueue(Some(f))
      q.submit(SparkJob(tricky, _ => n += 1))
      q.runAll(spark)
      assert(n == 1)
    }
    // journal stays one valid JSON object per line despite the quotes
    Files.readAllLines(java.nio.file.Paths.get(f)).forEach { line =>
      assert(line.startsWith("{") && line.endsWith("}"))
    }
    // a fresh queue (simulated restart) restores the finished-set when
    // the job is resubmitted
    val q2 = new JobQueue(Some(f))
    q2.submit(SparkJob(tricky, _ => n += 1))
    q2.runAll(spark)
    assert(n == 1) // restored as finished -> skipped
    q2.runAll(spark, forceRun = true)
    assert(n == 2)
  }

  test("state journal persists queue metadata; runtimes are tracked") {
    val f = tempFile("jobs_", ".data").toString
    val q = new JobQueue(Some(f))
    q.submit(SparkJob("a", _ => (), priority = 3, groupName = Some("g")))
    q.runAll(spark)
    val journal = Files.readString(java.nio.file.Paths.get(f))
    assert(journal.contains("\"name\":\"a\"") && journal.contains("\"finished\":true"))
    assert(q.runtimeHistory("a").nonEmpty)
  }

  test("estimateRuntime: None before first run, median-of-last-k after, straggler-robust") {
    val q = new JobQueue()
    q.submit(SparkJob("j", _ => ()))
    assert(q.estimateRuntime("j").isEmpty) // no history yet
    val first = q.runAll(spark)
    assert(first.head.etaSeconds.isEmpty) // pre-run estimate on run 1
    // force 4 more runs: history now 5 entries
    for (_ <- 1 to 4) q.runAll(spark, forceRun = true)
    val eta = q.estimateRuntime("j")
    assert(eta.isDefined && eta.get > 0)
    val hist = q.runtimeHistory("j")
    // median of the recorded history, not the mean: plant a synthetic
    // check that the estimator sits inside the observed range (a mean of
    // history-with-straggler could not be guaranteed to)
    assert(eta.get >= hist.min && eta.get <= hist.max)
    // exact median law on a known window
    val last5 = hist.takeRight(5).sorted
    assert(eta.get == last5(2))
    // the NEXT run's result carries the pre-run eta
    val next = q.runAll(spark, forceRun = true)
    assert(next.head.etaSeconds.contains(eta.get))
  }

  test("numeric batch names survive forced replay (path-based self-exclusion)") {
    import spark.implicits._
    // partition-value inference reads batch=007 back as integer 7; a
    // column-compare exclusion would miss it on retry and the batch
    // would collide with its own index — exclusion is by path, so the
    // replay must be a no-op even for a non-canonical numeric name
    val root = tempPath("neardup_num_").toString
    val in = s"$root/in"
    Seq((1L, (1 to 40).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(in)
    val q = new JobQueue()
    q.submit(IncrementalJobs.nearDupBatchJob("007", in, s"$root/index",
      s"$root/out", 0.5))
    assert(q.runAll(spark).forall(_.ok))
    assert(q.runAll(spark, forceRun = true).forall(_.ok))
    val kept = spark.read.parquet(s"$root/out/batch=007")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
    intercept[IllegalArgumentException] {
      IncrementalJobs.nearDupBatchJob("a/b", in, s"$root/index",
        s"$root/out", 0.5)
    }
  }

  test("incremental near-dup runs as scheduled batch jobs over a persisted index") {
    import spark.implicits._
    val root = tempPath("neardup_job_").toString
    val (indexDir, outDir) = (s"$root/index", s"$root/out")
    def writeBatch(name: String, rows: (Long, String)*): String = {
      val dir = s"$root/in_$name"
      rows.toDF("doc_id", "text").write.parquet(dir)
      dir
    }
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val fresh = (200 to 240).map(i => s"u$i").mkString(" ")
    // batch 1: base + an in-batch near-dup of it (higher id drops)
    val b1 = writeBatch("b1", (1L, base),
      (2L, (1 to 39).map(i => s"tok$i").mkString(" ") + " tokX"))
    // batch 2: a copy of batch-1 history (cross-batch drop) + a fresh doc
    val b2 = writeBatch("b2", (11L, base), (12L, fresh))
    val q = new JobQueue(Some(s"$root/jobs.data"))
    // same priority: FIFO order is what makes b2 see b1's index
    q.submit(IncrementalJobs.nearDupBatchJob("b1", b1, indexDir, outDir, 0.5))
    q.submit(IncrementalJobs.nearDupBatchJob("b2", b2, indexDir, outDir, 0.5))
    assert(q.runAll(spark).forall(_.ok))
    def keptIds(batch: String): Set[Long] =
      spark.read.parquet(s"$outDir/batch=$batch")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds("b1") == Set(1L))          // 2 is an in-batch near-dup
    assert(keptIds("b2") == Set(12L))         // 11 collides with history
    // the persisted index now covers both surviving docs' band keys
    val idx = IncrementalJobs.readIndex(spark, indexDir)
    assert(idx.count() > 0)
    val expected = graft.operators.Dedup
      .minhashBandIndex(Seq((1L, base), (12L, fresh)).toDF("doc_id", "text"))
    assert(idx.except(expected).count() == 0 &&
      expected.except(idx).count() == 0)
    // replaying batch 2 forced: idempotent (same survivors, no index dup)
    assert(q.runAll(spark, forceRun = true).forall(_.ok))
    assert(keptIds("b1") == Set(1L))
    assert(IncrementalJobs.readIndex(spark, indexDir)
      .except(expected).count() == 0)
  }

  test("replay of an EARLIER batch ignores later-sequenced index partitions") {
    import spark.implicits._
    // In the natural flow a later survivor can never share a band with an
    // earlier one (the screen guarantees disjointness) — but a partition
    // seeded by a crashed half-run, a different threshold, or another
    // pipeline sharing the index CAN collide. seq-scoped history makes
    // the replay read exactly the state the batch originally saw.
    val root = tempPath("neardup_seq_").toString
    val (indexDir, outDir) = (s"$root/index", s"$root/out")
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val in = s"$root/in_b1"
    Seq((1L, base)).toDF("doc_id", "text").write.parquet(in)
    IncrementalJobs.runBatch(spark, "b1", in, indexDir, outDir, 0.5)
    assert(spark.read.parquet(s"$outDir/batch=b1").count() == 1)
    // adversarial later partition: doc 1's OWN band keys at seq 1
    graft.operators.Dedup
      .minhashBandIndex(Seq((99L, base)).toDF("doc_id", "text"))
      .withColumn("seq", org.apache.spark.sql.functions.lit(1L))
      .write.mode("overwrite").parquet(s"$indexDir/batch=evil")
    // replay b1: its stored seq (0) scopes history to seq < 0 = empty,
    // so the colliding seq-1 keys are invisible and doc 1 survives
    IncrementalJobs.runBatch(spark, "b1", in, indexDir, outDir, 0.5)
    assert(spark.read.parquet(s"$outDir/batch=b1")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L))
    // a genuinely NEW batch (seq 2) does screen against those keys
    val in2 = s"$root/in_b2"
    Seq((2L, base)).toDF("doc_id", "text").write.parquet(in2)
    IncrementalJobs.runBatch(spark, "b2", in2, indexDir, outDir, 0.5)
    assert(spark.read.parquet(s"$outDir/batch=b2").count() == 0)
  }
}
