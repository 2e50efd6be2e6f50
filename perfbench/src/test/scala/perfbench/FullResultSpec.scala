package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark times full results. `count()` lets Catalyst prune
  * every output column the count does not need, aggregates included;
  * these pins show the plan the runner executes keeps them all. */
class FullResultSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()
  private val data = new java.io.File("data").getAbsolutePath

  override def afterAll(): Unit = spark.stop()

  private def aggregates(p: LogicalPlan): Seq[AggregateExpression] =
    p.flatMap(_.expressions.flatMap(_.collect { case a: AggregateExpression => a }))
  private def distinctCount(p: LogicalPlan): Int = aggregates(p).map(_.canonicalized).distinct.size
  private def sums(p: LogicalPlan): Seq[String] =
    aggregates(p).map(_.aggregateFunction.prettyName).filter(_ != "count")

  private def query(name: String): DataFrame = graft.SparkEntry.queries(name)(spark, data)

  Seq("q_tpch_q1", "q_revenue_month").foreach { name =>
    test(s"the timed plan of $name keeps every aggregate expression") {
      val qe = query(name).queryExecution
      assert(sums(qe.analyzed).nonEmpty)
      assert(distinctCount(qe.optimizedPlan) >= distinctCount(qe.analyzed))
      assert(sums(qe.analyzed).toSet.subsetOf(sums(qe.optimizedPlan).toSet))
      // the same frame under count(): the sums and averages are pruned
      val counted = query(name).groupBy().count().queryExecution.optimizedPlan
      assert(sums(counted).size < sums(qe.analyzed).size, s"count() plan kept ${sums(counted)}")
    }
  }

  test("the distributed digest sink equals the digest of the collected rows") {
    Seq("q_revenue_month", "q_rolling_1h").foreach { q =>
      assert(Digest.of(query(q)) == Digest.of(query(q).collect()))
    }
  }

  test("a wrong answer counts as failed even though the query ran") {
    val step = Step("q_revenue_month", "query", s => graft.SparkEntry.queries("q_revenue_month")(s, data))
    val out = Runner.execute(spark, step, Some("rows:1:0000000000000000"), new Clock)
    assert(!out.ok)
    assert(out.digest.startsWith("rows:"))
    assert(out.error.exists(_.startsWith("digest")))
  }
}
