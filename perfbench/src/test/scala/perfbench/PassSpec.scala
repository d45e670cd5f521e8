package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PassSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("perfbench-test")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("perfbench-warehouse").toString)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rangeItem(name: String, n: Long) = Item(name, (s, constructed) => {
    val df = s.range(n).selectExpr("id", "cast(id AS string) AS s").orderBy("id")
    constructed()
    RowHash.of(df)
  })

  test("a throw, a wrong hash and a timeout each count as one failed item") {
    val good = RowHash.of(spark.range(10).selectExpr("id", "cast(id AS string) AS s"))
    val pass = new Pass(spark, watchdogMs = 1500)
    val outcomes = Seq(
      pass.run(rangeItem("ok", 10), Some(Expect(10, Some(good._2)))),
      pass.run(rangeItem("rows-only", 10), Some(Expect(10, None))),
      pass.run(Item("throws", (_, _) => throw new RuntimeException("boom")),
        Some(Expect(10, Some(good._2)))),
      pass.run(rangeItem("wrong-hash", 10), Some(Expect(10, Some(good._2 + 1)))),
      pass.run(rangeItem("wrong-rows", 11), Some(Expect(10, None))),
      pass.run(Item("hangs", (_, _) => { Thread.sleep(60000); (10L, good._2) }),
        Some(Expect(10, Some(good._2)))))
    assert(outcomes.map(_.ok) == Seq(true, true, false, false, false, false))
    assert(outcomes.count(!_.ok).toDouble / outcomes.size == 4.0 / 6)
    assert(outcomes(2).error.exists(_.contains("boom")))
    assert(outcomes(3).error.exists(_.startsWith("hash")))
    assert(outcomes(4).error.exists(_.startsWith("rows")))
    assert(outcomes(5).error.exists(_.startsWith("watchdog")))
    assert(outcomes(5).seconds < 10)
    // the interrupted worker ended, so the run is not degraded
    assert(pass.degradedFrom.isEmpty)
    assert(outcomes.head.constructSeconds <= outcomes.head.seconds)
  }

  test("an item with no expected value is never counted correct") {
    val o = new Pass(spark, 30000).run(rangeItem("unrecorded", 5), None)
    assert(!o.ok && o.rows == 5)
  }

  test("the hash ignores row and column order but not content") {
    val a = RowHash.of(spark.range(100).selectExpr("id AS a", "id * 2 AS b"))
    val b = RowHash.of(spark.range(100).selectExpr("id * 2 AS b", "id AS a")
      .orderBy(org.apache.spark.sql.functions.desc("a")))
    val c = RowHash.of(spark.range(100).selectExpr("id AS a", "id * 3 AS b"))
    assert(a == b)
    assert(a._1 == c._1 && a._2 != c._2)
  }

  test("the hash of string rows matches gen.py's table_hash") {
    // value computed by perfbench/gen.py: table_hash([("k1", "v1"), ("k2", "v2")])
    import spark.implicits._
    val df = Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "value_json")
    assert(RowHash.of(df) == ((2L, -9012815363190355993L)))
  }

  test("no workload query runs during warm-up: it reads only its own file") {
    val dir = java.nio.file.Files.createTempDirectory("perfbench-warmup").toString
    val read = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.foreach(i => sites.add(i.name))
    }
    spark.sparkContext.addSparkListener(l)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = qe.analyzed.collectLeaves().foreach {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.foreach(p => read.add(p.toString))
            case _ => ()
          }
        case _ => ()
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try Warmup.run(spark, dir)
    finally {
      spark.sparkContext.parallelize(Seq(1), 1).count() // flush the bus
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(l)
      spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    // stage names carry the user call site that created them
    val warm = sites.asScala.toSeq.filter(_.contains(".scala")).dropRight(1)
    assert(warm.exists(_.contains("Warmup.scala")), warm)
    assert(warm.forall(_.contains("Warmup.scala")), warm)
    assert(read.asScala.nonEmpty)
    assert(read.asScala.forall(_.contains("perfbench-warmup")), read)
  }
}
