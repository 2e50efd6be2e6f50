package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set-up (session, inputs, one warm-up
  * execution of every step), then a closed loop of passes for the
  * given number of seconds with one client thread. Prints an info line
  * (`PERFBENCH_INFO {...}`) and, last, the result object. See
  * perfbench/README.md for the metrics. */
object Main {

  val MinPasses = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, dataDir: String, workDir: String, expected: String,
                        launchEpochNs: Long)

  def parse(argv: Array[String]): Opts = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, need("data"), need("work"), need("expected"),
      need("launch-epoch-ns").toLong)
  }

  /** Flat `{"name": "digest", ...}` map, as written by [[Freeze]]. */
  def readDigests(path: String): Map[String, String] =
    """"([^"]+)"\s*:\s*"([^"]*)"""".r
      .findAllMatchIn(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
      .map(m => m.group(1) -> m.group(2)).toMap

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val clock = new Clock
    val spark = SparkSession.builder().master(s"local[${o.cores}]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.workDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, o, clock) finally spark.stop()
  }

  private def run(spark: SparkSession, o: Opts, clock: Clock): Unit = {
    val sc = spark.sparkContext
    val sessionS = (clock.now() - o.launchEpochNs) / 1e9
    val wl = Workloads(o.workload, o.seed, o.dataDir, o.workDir, readDigests(o.expected))

    val genStart = clock.now()
    wl.prepare(spark)
    val genNs = clock.now() - genStart

    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.metrics.source.CodegenMetrics
    val compile0 = CodeGenerator.compileTime
    val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val warm = wl.steps(0).map { st =>
      sc.setJobGroup(s"warmup.${st.name}", st.name)
      try Runner.execute(spark, st, None, clock) finally sc.clearJobGroup()
    }
    System.err.println(f"[perfbench] session ready at $sessionS%.2f s; inputs ${genNs / 1e9}%.2f s; warm-up " +
      warm.map(w => f"${w.name}=${w.latencyNs / 1e9}%.2f").mkString(" "))
    warm.filter(_.error.exists(!_.startsWith("digest"))).foreach(w =>
      System.err.println(s"[perfbench] warm-up ${w.name} failed: ${w.error.get}"))
    val expected = wl.expected(spark, warm.map(w => w.name -> w.digest).toMap)
    val compileMs = (CodeGenerator.compileTime - compile0) / 1e6
    val classes = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0).toDouble
    val setupS = (clock.now() - o.launchEpochNs) / 1e9

    // ---- timed closed loop -------------------------------------------
    val probe = new Probe(spark)
    val spans = mutable.ArrayBuffer.empty[Span]
    var nextId = 0L
    def newId(): Long = { nextId += 1; nextId }
    val runSpan = newId()
    val outcomes = mutable.ArrayBuffer.empty[(Int, Outcome)]
    final case class PassRec(pass: Int, traced: Boolean, startNs: Long, endNs: Long, ok: Boolean)
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
    var gcTraced = 0L
    var heapPeak = 0L

    val runStart = clock.now()
    val deadline = runStart + (o.seconds * 1e9).toLong
    // at least MinPasses passes, so the median pass discards one slow
    // outlier (the JIT is still warming in the first); after that a pass
    // starts only if, as long as the last one, it still ends by the
    // deadline
    var p = 1
    var lastNs = 0L
    while (p <= MinPasses || clock.now() + lastNs <= deadline) {
      val traced = o.trace && p % 2 == 0
      val gc0 = gcMs
      if (traced) { heapPools.foreach(_.resetPeakUsage()); probe.attach() }
      val passId = newId()
      val ps = clock.now()
      wl.steps(p).zipWithIndex.foreach { case (st, i) =>
        val group = s"p$p.$i.${st.name}"
        sc.setJobGroup(group, st.name)
        val out = try Runner.execute(spark, st, expected.get(st.name), clock) finally sc.clearJobGroup()
        out.error.foreach(e => System.err.println(s"[perfbench] pass $p ${st.name} failed: $e"))
        outcomes += p -> out
        if (traced) {
          val q = newId()
          spans += Span(q, passId, "query", st.name, group, out.startNs, out.endNs)
          spans += Span(newId(), q, "build", st.name, group, out.startNs, out.buildEndNs)
          spans += Span(newId(), q, "materialize", st.name, group, out.buildEndNs, out.endNs)
        }
      }
      val pe = clock.now()
      if (traced) {
        probe.detach()
        gcTraced += gcMs - gc0
        heapPeak = math.max(heapPeak, heapPools.map(_.getPeakUsage.getUsed).sum)
        spans += Span(passId, runSpan, "pass", s"pass $p", "", ps, pe)
      }
      passes += PassRec(p, traced, ps, pe, outcomes.filter(_._1 == p).forall(_._2.ok))
      lastNs = pe - ps
      p += 1
    }
    val runEnd = clock.now()

    val all = outcomes.map(_._2)
    val attempted = all.size
    val failed = all.count(!_.ok)
    val untraced = passes.filter(!_.traced)
    val untracedPasses = untraced.map(_.pass).toSet
    val okLatMs = outcomes.collect { case (pp, x) if x.ok && untracedPasses(pp) => x.latencyNs / 1e6 }.toSeq
    // a pass with a failed step never counts as a fast pass
    val untracedPassS = (if (untraced.exists(_.ok)) untraced.filter(_.ok) else untraced)
      .map(r => (r.endNs - r.startNs) / 1e9).toSeq
    val tail = Stats.highestTail(okLatMs)
    val latSamples = if (okLatMs.nonEmpty) okLatMs else all.map(_.latencyNs / 1e6).toSeq

    val metrics: Seq[(String, Double, String)] = if (!o.trace) Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", Stats.median(untracedPassS), "s"),
      ("query_p50_ms", Stats.median(latSamples), "ms"),
    ) else {
      val tracedRecs = passes.filter(_.traced)
      val tracedSet = tracedRecs.map(_.pass).toSet
      val tr = outcomes.collect { case (pp, x) if tracedSet(pp) => x }
      val nT = tracedRecs.size.toDouble
      val wallNs = tracedRecs.map(r => r.endNs - r.startNs).sum
      def opS(op: String) = tr.filter(_.op == op).map(_.latencyNs).sum / 1e9 / nT
      // pass times fall as the JIT warms, so each traced pass is compared
      // with the mean of the untraced passes on either side of it (pass 2
      // is traced and passes 1 and 3 always run)
      val wall = passes.map(r => r.pass -> (r.endNs - r.startNs).toDouble).toMap
      val overheads = tracedRecs.toSeq.flatMap(r =>
        for (a <- wall.get(r.pass - 1); b <- wall.get(r.pass + 1)) yield wall(r.pass) / ((a + b) / 2) - 1)
      val parseS = wl match {
        case b: Workloads.Basket => b.parseSeconds(spark, clock)
        case _ => 0.0
      }
      spans += Span(runSpan, 0, "run", s"${o.workload} seed ${o.seed}", "", runStart, runEnd)
      val allSpans = spans.toSeq ++ probe.spans(spans.toSeq, () => newId())
      val traceDir = Paths.get(o.workDir, "trace")
      Files.createDirectories(traceDir)
      Files.write(traceDir.resolve(s"${o.workload}_seed${o.seed}.jsonl"),
        Spans.toJsonLines(allSpans).toSeq.asJava)
      val layer = probe.metrics(tracedRecs.size, wallNs, o.cores, tr.size)
      val units = Map("_mb" -> "MB", "_ms" -> "ms", "_s" -> "s", "_frac" -> "fraction")
      def unit(n: String) = units.collectFirst { case (suf, u) if n.endsWith(suf) => u }.getOrElse("count")
      val extra = Seq(
        "sources.gen_s" -> genNs / 1e9,
        "sources.parse_s" -> parseS,
        "queries.build_s" -> tr.map(_.buildNs).sum / 1e9 / nT,
        "codegen.compile_ms" -> compileMs,
        "codegen.classes" -> classes,
        "operators.top5_s" -> opS("top5"),
        "operators.top5_window_s" -> opS("top5_window"),
        "operators.revenue_s" -> opS("revenue"),
        "operators.rules_join_s" -> opS("rules_join"),
        "operators.rules_gen_s" -> opS("rules_gen"),
        "caching.persisted" -> tr.map(_.persisted).sum / nT,
        "jvm.gc_s" -> gcTraced / 1e3 / nT,
        "jvm.heap_peak_mb" -> heapPeak / (1024.0 * 1024.0),
        "trace.overhead_frac" -> Stats.median(overheads))
      (layer.toSeq ++ extra).sortBy(_._1).map { case (n, v) => (n, v, unit(n)) }
    }

    val info = Seq(
      s""""workload":"${o.workload}"""", s""""seed":${o.seed}""", s""""trace":${o.trace}""",
      s""""cores":${o.cores}""", s""""passes":${passes.size}""",
      s""""pass_samples":${untracedPassS.size}""",
      s""""pass_s":${passes.map(r => num((r.endNs - r.startNs) / 1e9)).mkString("[", ",", "]")}""",
      s""""query_samples":${okLatMs.size}""",
      s""""step_ms":${outcomes.collect { case (pp, x) if x.ok && untracedPasses(pp) => x }.groupBy(_.name)
        .map { case (n, xs) => s""""$n":${num(Stats.median(xs.map(_.latencyNs / 1e6).toSeq))}""" }
        .mkString("{", ",", "}")}""",
      s""""query_tail":${tail.map { case (pc, v) => s"""{"percentile":$pc,"ms":${num(v)}}""" }.getOrElse("null")}""",
      s""""failed_frac":${num(failed.toDouble / math.max(attempted, 1))}""",
      s""""failed_steps":${all.filter(!_.ok).map(_.name).distinct.map("\"" + _ + "\"").mkString("[", ",", "]")}""")
    println("PERFBENCH_INFO " + info.mkString("{", ",", "}"))
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":${metricsJson(metrics)}}""")
  }
}
