package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.api.MapReduce
import graft.jobs.{JobQueue, SparkJob}
import graft.sources.JsonLines

/** The reference's own job shape over seeded NDJSON arrival directories:
  * read (plain and gzip files) with corrupt-line quarantine, a
  * sorted-group MapReduce, a key-value JSON-lines write, and a read-back.
  * The two steps run as jobs of a `JobQueue`.
  *
  * Each key's reduce emits `{"n":..,"sum":..,"min":..,"max":..}`, with
  * min and max taken as the first and last value of the group, so the
  * result also checks the reduce's secondary sort. */
object Ingest {

  /** Layer timings of the last run, in seconds unless named otherwise. */
  final case class Stats(readS: Double, writeS: Double, corruptRows: Long,
      mapReduceS: Double, groups: Long, queueS: Double, queueOverheadS: Double)

  @volatile var last: Option[Stats] = None

  def item(arrivals: File, outDir: File, expectedCorrupt: Long): Item =
    Item("ingest_ndjson", (spark, constructed) => {
      constructed()
      run(spark, arrivals, outDir, expectedCorrupt)
    })

  def run(spark: SparkSession, arrivals: File, outDir: File,
      expectedCorrupt: Long): (Long, Long) = {
    import spark.implicits._
    val dirs = Option(arrivals.listFiles()).getOrElse(Array.empty[File])
      .filter(_.isDirectory).map(_.getPath).sorted.toSeq
    require(dirs.nonEmpty, s"no arrival directories under $arrivals")
    val out = new File(outDir, "reduced").getPath
    var readS, writeS, mrS = 0.0
    var corrupt, groups = 0L
    var result = (0L, 0L)
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    val queue = new JobQueue()
    queue.submit(SparkJob("reduce", s => {
      val ((clean, bad), rs) = timed {
        val (c, b) = JsonLines.quarantine(JsonLines.read(s, dirs))
        corrupt = b.count()
        (c, b)
      }
      readS += rs
      if (corrupt != expectedCorrupt)
        throw new IllegalStateException(s"corrupt lines $corrupt != expected $expectedCorrupt")
      val (reduced, ms) = timed {
        val r = MapReduce.run[(String, Long), String, Long, (String, String)](
          clean.select(col("key"), col("v").cast("long")).as[(String, Long)],
          { case (k, v) => Iterator.single((k, v)) },
          (k, vs) => {
            var n, sum, first, last = 0L
            vs.foreach { v =>
              if (n == 0) first = v
              n += 1; sum += v; last = v
            }
            Iterator.single((k, s"""{"n":$n,"sum":$sum,"min":$first,"max":$last}"""))
          }).toDF("key", "value_json").persist()
        groups = r.count()
        r
      }
      mrS += ms
      writeS += timed(JsonLines.writeKv(reduced, out))._2
      reduced.unpersist()
      ()
    }, priority = 1, groupName = Some("ingest")))
    queue.submit(SparkJob("readback", s => {
      val (rh, rs) = timed(RowHash.of(JsonLines.readKv(s, Seq(out))
        .select("key", "value_json")))
      readS += rs
      result = rh
    }, groupName = Some("ingest")))

    val (results, queueS) = timed(queue.runAll(spark))
    results.find(!_.ok).foreach(r =>
      throw new IllegalStateException(s"job ${r.name} failed: ${r.error.getOrElse("")}"))
    last = Some(Stats(readS, writeS, corrupt, mrS, groups, queueS,
      queueS - results.map(_.seconds).sum))
    result
  }
}
