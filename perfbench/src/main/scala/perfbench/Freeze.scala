package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Writes the expected-digest file from a correctness dump (one parquet
  * directory per query, as `graft.Verify` writes it) that has passed the
  * oracle compare:
  * {{{ Freeze <dumpDir> <out.json> }}}
  * Only the registry workload's queries are frozen. */
object Freeze {
  def main(args: Array[String]): Unit = {
    val Array(dump, out) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = Workloads.RegistryQueries.sorted
    val lines = names.map { n =>
      val d = Digest.of(spark.read.parquet(s"$dump/$n"))
      s"""  "$n": "$d""""
    }
    Files.write(Paths.get(out), lines.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
    spark.stop()
  }
}
