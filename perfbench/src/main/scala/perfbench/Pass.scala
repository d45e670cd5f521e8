package perfbench

import org.apache.spark.sql.SparkSession

/** Expected output of one item: its row count, and its hash unless the
  * item is checked by row count only. */
final case class Expect(rows: Long, hash: Option[Long])

/** One timed item of a workload. `body` runs on the worker thread; it
  * calls `constructed()` once the item's frame is built and execution
  * starts, and returns the result's (row count, hash). */
final case class Item(name: String,
    body: (SparkSession, () => Unit) => (Long, Long))

/** What one timed item did. Times are `System.nanoTime` stamps;
  * `constructedNs` equals `startNs` for items with no construction. A
  * skipped item never ran: it failed, and it has no latency. */
final case class Outcome(name: String, startNs: Long, constructedNs: Long,
    endNs: Long, rows: Long, hash: Long, error: Option[String],
    skipped: Boolean = false) {
  def ok: Boolean = error.isEmpty
  def seconds: Double = (endNs - startNs) / 1e9
  def constructSeconds: Double = (constructedNs - startNs) / 1e9
}

object Outcome {
  /** An item not started because the pass deadline had passed at `ns`. */
  def skipped(name: String, ns: Long): Outcome =
    Outcome(name, ns, ns, ns, -1, 0, Some("pass deadline passed"), skipped = true)
}

/** Closed-loop runner: one client submits one item at a time and waits
  * for its result.
  *
  * Each item runs on a worker thread under a job group named after it. A
  * watchdog cancels the group, stops any active stream and interrupts
  * the worker once the item runs past `watchdogMs`; the item then counts
  * as failed. A worker that survives the interrupt keeps competing for
  * cores, so the run is marked degraded from that item on. */
final class Pass(spark: SparkSession, watchdogMs: Long) {

  @volatile var degradedFrom: Option[String] = None

  def run(item: Item, expect: Option[Expect]): Outcome = {
    hygiene()
    @volatile var constructed = 0L
    @volatile var result: Either[Throwable, (Long, Long)] =
      Left(new IllegalStateException("no result"))
    val start = System.nanoTime()
    val worker = new Thread(() => {
      val sc = spark.sparkContext
      try {
        sc.setJobGroup(item.name, item.name, interruptOnCancel = true)
        result = Right(item.body(spark, () => constructed = System.nanoTime()))
      } catch { case e: Throwable => result = Left(e) }
      finally sc.clearJobGroup()
    }, s"perfbench-${item.name}")
    worker.setDaemon(true)
    worker.start()
    worker.join(watchdogMs)
    val timedOut = worker.isAlive
    if (timedOut) {
      spark.sparkContext.cancelJobGroup(item.name)
      spark.streams.active.foreach(sq =>
        try sq.stop() catch { case _: Throwable => () })
      worker.interrupt()
      worker.join(10000)
      if (worker.isAlive) degradedFrom = degradedFrom.orElse(Some(item.name))
    }
    val end = System.nanoTime()
    val cons = if (constructed == 0L) start else math.min(constructed, end)
    val verdict: Either[String, (Long, Long)] =
      if (timedOut) Left(s"watchdog: over ${watchdogMs / 1000}s")
      else result match {
        case Left(e) => Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right(rh) => Pass.check(rh, expect).toLeft(rh)
      }
    verdict match {
      case Right((rows, hash)) => Outcome(item.name, start, cons, end, rows, hash, None)
      case Left(err) =>
        val (rows, hash) = result.getOrElse((-1L, 0L))
        Outcome(item.name, start, cons, end, rows, hash, Some(err))
    }
  }

  /** Between-item hygiene, outside the timed region: no frame cached or
    * table staged by one item may flatter a later one. */
  private def hygiene(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_bkt_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}

object Pass {
  /** None when the result matches; otherwise why it does not. An item
    * with no expectation is never correct. */
  def check(got: (Long, Long), expect: Option[Expect]): Option[String] =
    expect match {
      case None => Some("no expected value recorded")
      case Some(Expect(rows, _)) if rows != got._1 =>
        Some(s"rows ${got._1} != expected $rows")
      case Some(Expect(_, Some(h))) if h != got._2 =>
        Some(s"hash ${got._2} != expected $h")
      case _ => None
    }
}
