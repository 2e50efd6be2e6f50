package perfbench

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The result of one timed execution. A step that threw or whose
  * digest differs from the expected one has `ok = false`; its time is
  * never used as a latency sample. */
final case class Outcome(name: String, op: String, startNs: Long, buildEndNs: Long,
                         endNs: Long, digest: String, error: Option[String],
                         persisted: Int, ok: Boolean) {
  def latencyNs: Long = endNs - startNs
  def buildNs: Long = buildEndNs - startNs
}

/** Epoch-aligned nanosecond clock: monotonic within the process, and on
  * the same scale as the millisecond timestamps Spark's listener events
  * carry. */
final class Clock {
  private val baseEpochNs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

object Runner {

  /** Builds the step's frame, then materializes the FULL result through
    * [[Digest.of]] (every output column and the query's own final
    * ordering — never `count()`, which lets Catalyst prune unused output
    * columns) and checks it. Operator-internal caches are released
    * after every execution so no step warms the next. */
  def execute(spark: SparkSession, step: Step, expected: Option[String], clock: Clock): Outcome = {
    val t0 = clock.now()
    var t1 = t0
    try {
      val df = step.build(spark)
      t1 = clock.now()
      val d = Digest.of(df)
      val t2 = clock.now()
      val ok = expected.contains(d)
      Outcome(step.name, step.op, t0, t1, t2, d,
        if (ok) None else Some(s"digest $d, expected ${expected.getOrElse("none")}"),
        graft.Caching.pendingCount, ok)
    } catch {
      case NonFatal(e) =>
        val t2 = clock.now()
        Outcome(step.name, step.op, t0, math.max(t1, t0), t2, "",
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"), graft.Caching.pendingCount, ok = false)
    } finally graft.Caching.release()
  }
}
