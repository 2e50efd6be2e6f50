package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import scala.util.hashing.MurmurHash3

/** Order-insensitive digest of a full query result.
  *
  * Every column of every row is rendered canonically and hashed twice
  * (two seeds, 32 bits each → one 64-bit row hash); row hashes are
  * SUMMED modulo 2^64, so the digest ignores row order (which a query
  * without a final ORDER BY may change between runs) but still counts
  * duplicate rows, which an XOR fold would cancel. Floats render via
  * their shortest round-trip decimal, so any bit change is a mismatch —
  * the same exactness the oracle compare holds the engine to. */
object Digest {

  def canon(v: Any): String = v match {
    case null                    => "∅"
    case d: Double               => "d" + java.lang.Double.toString(d)
    case f: Float                => "f" + java.lang.Float.toString(f)
    case b: java.math.BigDecimal => "m" + b.toPlainString
    case b: BigDecimal           => "m" + b.bigDecimal.toPlainString
    case t: java.sql.Timestamp   => "t" + t.toInstant.toString
    case t: java.time.Instant    => "t" + t.toString
    case d: java.sql.Date        => "D" + d.toLocalDate.toString
    case a: Array[Byte]          => "x" + a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row                  => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case s: String               => "s" + s
    case other                   => other.getClass.getSimpleName.take(1) + other.toString
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x0b1d5a7f).toLong & 0xffffffffL)
  }

  /** `rows:<n>:<hex sum>` — the row count is spelled out so a mismatch
    * report shows whether rows went missing or values changed. */
  def format(rows: Long, sum: Long): String = f"rows:$rows:$sum%016x"

  def of(rows: Array[Row]): String = format(rows.length, rows.iterator.map(rowHash).sum)

  /** Runs the frame's full plan once — every output column, the final
    * ordering, no column pruning — and digests the rows where they are
    * produced, so only two numbers per task travel to the driver. This
    * is the sink every timed execution uses. */
  def of(df: DataFrame): String = {
    val sc = df.sparkSession.sparkContext
    val rows = sc.longAccumulator("perfbench.rows")
    val sum = sc.longAccumulator("perfbench.digest")
    df.foreachPartition { (it: Iterator[Row]) =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(r) }
      rows.add(n)
      sum.add(h) // wraps modulo 2^64, as the per-row sum does
    }
    format(rows.sum, sum.sum)
  }
}
