package graft.operators

import scala.util.Random

import graft.SparkSpec

/** The fixture oracle (q183) covers non-negative days and one bin
  * width; these pin the LOSSLESS claim of bin blocking against brute
  * force across widths, touching intervals, and negative coordinates
  * (where integer DIV truncates toward zero instead of flooring — the
  * bin function only needs monotonicity, which truncation preserves). */
class IntervalJoinSpec extends SparkSpec {

  private def brute(iv: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] =
    (for {
      (ia, sa, ea) <- iv; (ib, sb, eb) <- iv
      if ia < ib && sa <= eb && sb <= ea
    } yield (ia, ib, math.min(ea, eb) - math.max(sa, sb) + 1)).toSet

  private def viaBins(iv: Seq[(Long, Long, Long)],
      binWidth: Long): Set[(Long, Long, Long)] = {
    import spark.implicits._
    Joins.intervalSelfOverlap(iv.toDF("id", "s", "e"), binWidth)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("random intervals (negative days included) match brute force, several widths") {
    val rnd = new Random(7)
    val iv = (1L to 120L).map { id =>
      val s = rnd.nextInt(400) - 200L // straddles zero
      (id, s, s + rnd.nextInt(30))
    }
    val expected = brute(iv)
    assert(expected.nonEmpty)
    for (w <- Seq(1L, 7L, 16L, 1000L))
      assert(viaBins(iv, w) == expected, s"binWidth=$w")
  }

  test("touching endpoints overlap by exactly one day; disjoint do not") {
    val iv = Seq((1L, 0L, 5L), (2L, 5L, 9L), (3L, 10L, 12L))
    assert(viaBins(iv, 4L) == Set((1L, 2L, 1L)))
  }

  test("q183 is exact under duplicate (orderkey, linenumber) fixture keys") {
    // The driver fixture carries ~20% duplicate line-item keys at every
    // SF; q183's interval identity must be the DISTINCT (key, start-day)
    // pair or the candidate dedup collapses rows the O(n²) scan keeps.
    import spark.implicits._
    import java.sql.Timestamp
    def ts(d: String) = Timestamp.valueOf(s"$d 00:00:00")
    val rows = Seq(
      // key (1,1) duplicated with DIFFERENT shipdates -> two windows
      (1L, 1, 50.0, ts("1995-01-01")),
      (1L, 1, 50.0, ts("1995-01-05")),
      // key (1,2) duplicated with the SAME shipdate -> ONE window
      (1L, 2, 50.0, ts("1995-01-03")),
      (1L, 2, 51.0, ts("1995-01-03")),
      (2L, 1, 50.0, ts("1995-01-04")),
      (3L, 1, 10.0, ts("1995-01-04"))) // filtered: quantity < 50
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    val dir = tempPath("graft_q183_dup").toString
    rows.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = graft.SparkEntry.queries("q183_interval_overlap_join")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // distinct windows: k=11 at days 9131 & 9135, k=12 at 9133, k=21 at
    // 9134 -> brute force over those four
    val iv = Seq((11L, 9131L), (11L, 9135L), (12L, 9133L), (21L, 9134L))
      .map { case (k, s) => (k * 65536 + s, s, s + 7) }
    assert(out == brute(iv))
    assert(out.size == 6) // all four windows pairwise overlap
  }
}
