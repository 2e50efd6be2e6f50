package perfbench

/** One traced interval. `parent` is the id of the span that caused it
  * (0 for the run root); spans of one query share its job-group id in
  * `group`. Times are nanoseconds on one epoch-aligned clock. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      group: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Spans {

  /** Total length of the union of half-open intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The span's duration minus the part of its interval that its
    * children cover; overlapping children are counted once and child
    * time outside the parent's interval is ignored. */
  def selfNs(span: Span, children: Seq[Span]): Long =
    span.durNs - covered(children.map(c =>
      (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs))))

  /** Self time of every span, keyed by id. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfNs(s, kids.getOrElse(s.id, Nil))).toMap
  }

  /** The innermost span of `candidates` whose interval contains `t`. */
  def enclosing(candidates: Seq[Span], t: Long): Option[Span] =
    candidates.filter(s => s.startNs <= t && t <= s.endNs).minByOption(_.durNs)

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** One JSON object per line, self time included. */
  def toJsonLines(spans: Seq[Span]): Iterator[String] = {
    val self = selfTimes(spans)
    spans.iterator.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":${q(s.kind)},"name":${q(s.name)},""" +
        s""""group":${q(s.group)},"start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}""")
  }
}
