package perfbench

/** One traced interval. Times are epoch nanoseconds; `parent` is the id
  * of the span that caused this one (0 for the root). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startNs: Long, endNs: Long,
    counts: Map[String, Double] = Map.empty) {
  def durNs: Long = math.max(0L, endNs - startNs)
}

object Spans {

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(lo, s), math.min(hi, e)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover (children may overlap one another). */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - covered(s.startNs, s.endNs, ch))
    }.toMap
  }

  /** Self time summed per span kind, in seconds. */
  def selfByKind(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupMapReduce(_.kind)(s => self(s.id) / 1e9)(_ + _)
  }

  /** Innermost span of one of `kinds` whose interval holds `t`. */
  def enclosing(spans: Iterable[Span], kinds: Set[String], t: Long): Option[Span] =
    spans.filter(s => kinds(s.kind) && s.startNs <= t && t <= s.endNs)
      .minByOption(_.durNs)
}
