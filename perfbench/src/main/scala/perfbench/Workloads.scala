package perfbench

import graft.SparkEntry
import graft.functions.ColFns.moneySum
import graft.operators.{AssocRules, TopK}
import graft.sources.{BillingReader, DataGen}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed execution: `build` is the call into the engine (registry
  * function or operator), which may itself run Spark actions; the
  * runner then materializes the full result. `op` labels the operator
  * layer the step exercises. */
final case class Step(name: String, op: String, build: SparkSession => DataFrame)

trait Workload {
  /** Makes the workload's inputs; runs once per set-up. */
  def prepare(spark: SparkSession): Unit
  /** The steps of pass `pass`, in execution order. */
  def steps(pass: Int): Seq[Step]
  /** The expected digest of every step, given the digests of the
    * warm-up pass (used where the check is a cross-check between two
    * implementations rather than a frozen answer). */
  def expected(spark: SparkSession, warm: Map[String, String]): Map[String, String]
}

object Workloads {

  val Names: Seq[String] = Seq("basket", "registry")

  /** Registry queries whose full-result steady time on 4 cores is a few
    * hundred milliseconds, so fixed per-query cost (analysis,
    * optimization, planning, codegen, task scheduling) dominates; one
    * or two from each family. q_sliding_1h_15m and q_interval_join run
    * with byte-coalesced shuffles, the others at Spark's default;
    * q_pack_global persists an intermediate through graft.Caching. */
  val Short: Seq[String] = Seq(
    "q_filter_project", "q_cube", "q_correlated_subquery", "q_pivot",
    "q_sliding_1h_15m", "q_interval_join", "q_dedup_exact", "q_lang_id", "q_pack_global")

  /** Driver-serial rounds: a fuzzy self-join, then connected-component
    * rounds, each round checkpointed and joined co-partitioned, with
    * byte-coalesced shuffles. */
  val Rounds: Seq[String] = Seq("q_entity_clusters")

  /** A micro-batch replay gate: stream state and foreachBatch folds. */
  val Stream: Seq[String] = Seq("q_stream_dedup")

  val RegistryQueries: Seq[String] = Short ++ Rounds ++ Stream

  /** Seeded pass order: the same (seed, pass) always gives the same
    * permutation, and each pass gets its own. */
  def passOrder[A](items: Seq[A], seed: Long, pass: Int): Seq[A] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(items)

  def apply(name: String, seed: Long, dataDir: String, workDir: String,
            frozen: Map[String, String]): Workload = name match {
    case "basket"    => new Basket(seed, workDir)
    case "registry"  => new Registry(seed, dataDir, frozen)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  /** Registry queries over the benchmark's frozen tables, checked
    * against digests frozen from a verified dump. */
  final class Registry(seed: Long, dataDir: String, frozen: Map[String, String]) extends Workload {
    def prepare(spark: SparkSession): Unit = ()
    def steps(pass: Int): Seq[Step] = passOrder(RegistryQueries, seed, pass)
      .map(q => Step(q, "query", s => SparkEntry.queries(q)(s, dataDir)))
    def expected(spark: SparkSession, warm: Map[String, String]): Map[String, String] =
      RegistryQueries.map(q => q -> frozen.getOrElse(q, s"no frozen digest for $q")).toMap
  }

  /** The paper's own traffic: generated billing text in the reference
    * format, parsed by the engine's reader, then the three reference
    * queries. */
  final class Basket(seed: Long, workDir: String) extends Workload {
    val Lines = 10000L
    val MaxItems = 10
    /** The reference's 8 foods give dense pairs: map-side combine
      * collapses the aggregations. A catalog-sized vocabulary gives
      * sparse pairs, which the exchange carries; only the rules see
      * that difference, so only the rules run on it. */
    val Dense = DataGen.DefaultVocab
    val Sparse: Seq[String] = (1 to 1000).map(i => f"sku$i%04d")

    private def dir(v: String, dialect: String) = s"$workDir/basket/$v/$dialect"

    def prepare(spark: SparkSession): Unit = {
      DataGen.dialectALines(spark, Lines, MaxItems, Dense, seed).write.mode("overwrite").text(dir("dense", "a"))
      DataGen.dialectBLines(spark, Lines, MaxItems, Dense, seed).write.mode("overwrite").text(dir("dense", "b"))
      DataGen.dialectALines(spark, Lines, MaxItems, Sparse, seed).write.mode("overwrite").text(dir("sparse", "a"))
    }

    private def monthly(s: SparkSession) =
      BillingReader.dialectA(s, dir("dense", "a"))
        .select(date_format(col("date"), "yyyy-MM").as("month"), explode(col("items")).as("item"))
        .groupBy(col("month"), col("item")).agg(count(lit(1)).as("cnt"))

    private def revenue(df: DataFrame, cost: String) =
      df.groupBy(col("item"), date_format(col("date"), "yyyy-MM").as("month"))
        .agg(moneySum(col(cost), 2).as("total"))

    private def rules(v: String): Seq[Step] = Seq(
      Step(s"$v.rules_join", "rules_join", s =>
        AssocRules.rules(BillingReader.dialectA(s, dir(v, "a"))
          .select(col("billId"), explode(col("items")).as("item")), "billId", "item")),
      Step(s"$v.rules_gen", "rules_gen", s =>
        AssocRules.rulesFromBasketArrays(BillingReader.dialectA(s, dir(v, "a")), "items")))

    def steps(pass: Int): Seq[Step] = Seq(
      Step("dense.top5", "top5", s =>
        TopK.perGroupNative(monthly(s), Seq("month"), "cnt", Seq("item"), 5)
          .select("month", "item", "cnt")),
      Step("dense.top5_window", "top5_window", s =>
        TopK.perGroup(monthly(s), Seq(col("month")), col("cnt"), Seq(col("item")), 5)
          .select("month", "item", "cnt")),
      Step("dense.revenue", "revenue", s => revenue(BillingReader.dialectB(s, dir("dense", "b")), "unitCost")),
    ) ++ rules("dense") ++ rules("sparse")

    /** Traced runs only: one parse of every generated text file. */
    def parseSeconds(s: SparkSession, clock: Clock): Double = {
      val t0 = clock.now()
      Seq("dense", "sparse").foreach(v =>
        BillingReader.dialectA(s, dir(v, "a")).write.format("noop").mode("overwrite").save())
      BillingReader.dialectB(s, dir("dense", "b")).write.format("noop").mode("overwrite").save()
      (clock.now() - t0) / 1e9
    }

    /** Revenue straight from the generated baskets, pricing each item
      * with the generator's own rule: no text, no parsing. */
    private def referenceRevenue(s: SparkSession) =
      revenue(DataGen.baskets(s, Lines, MaxItems, Dense, seed)
        .select(col("billId"), col("date"), explode(col("items")).as("item"))
        .withColumn("cost", (pmod(xxhash64(col("billId"), col("item"), lit(seed)), lit(20L)) + 1)
          .cast("double")), "cost")

    /** Each pair of implementations must agree in the warm-up pass; the
      * agreed digest is then what every timed execution must match. */
    def expected(spark: SparkSession, warm: Map[String, String]): Map[String, String] = {
      def agreed(a: String, b: String): Seq[(String, String)] = {
        val d = (warm.get(a), warm.get(b)) match {
          case (Some(x), Some(y)) if x == y && x.nonEmpty => x
          case (x, y) => s"$a=$x disagrees with $b=$y"
        }
        Seq(a -> d, b -> d)
      }
      Map("dense.revenue" -> Digest.of(referenceRevenue(spark))) ++
        agreed("dense.top5", "dense.top5_window") ++
        agreed("dense.rules_join", "dense.rules_gen") ++
        agreed("sparse.rules_join", "sparse.rules_gen")
    }
  }
}
