package perfbench

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Records what Spark did during traced passes, observed from outside
  * the engine: SQL executions (the actions), jobs, stages and task
  * metrics through a SparkListener, planning phases through a
  * QueryExecutionListener, and micro-batch progress through a
  * StreamingQueryListener. Listeners are attached only while a traced
  * pass runs, so untraced passes pay nothing. */
final class Probe(spark: SparkSession) {
  private val sc = spark.sparkContext

  private final class Exec(val id: Long, val group: String, val startMs: Long) {
    var endMs = -1L
  }
  private final class Job(val id: Int, val group: String, val execId: Option[Long],
                          val startMs: Long) {
    var endMs = -1L
  }
  /** Task metrics summed per stage (milliseconds unless named `Ns`). */
  private final class StageAgg {
    var jobId = -1; var submitMs = -1L; var endMs = -1L
    var tasks, taskMs, runMs, cpuNs, gcMs, peakMem = 0L
    var inBytes, inRecords, scanTasks = 0L
    var shWriteBytes, shWriteRecords, shReadBytes, fetchWaitMs, spillBytes = 0L
  }
  private final case class Progress(startMs: Long, durMs: Map[String, Long],
                                    inputRows: Long, stateRows: Long)

  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val phases = mutable.HashMap.empty[Long, Map[String, Long]]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
  private val taskDurMs = mutable.ArrayBuffer.empty[Double]
  private val progress = mutable.ArrayBuffer.empty[Progress]

  private def stage(id: Int, attempt: Int): StageAgg =
    stages.getOrElseUpdate((id, attempt), {
      val a = new StageAgg; a.jobId = stageJob.getOrElse(id, -1); a
    })

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = Probe.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execs(s.executionId) = new Exec(s.executionId, s.jobGroupId.getOrElse(""), s.time)
        case s: SparkListenerSQLExecutionEnd =>
          execs.get(s.executionId).foreach(_.endMs = s.time)
        case _ => ()
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty(SparkContextKeys.JobGroupId))).getOrElse("")
      val exec = props.flatMap(p => Option(p.getProperty(SparkContextKeys.ExecutionId))).map(_.toLong)
      jobs(e.jobId) = new Job(e.jobId, group, exec, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Probe.this.synchronized {
      val i = e.stageInfo
      val a = stage(i.stageId, i.attemptNumber())
      a.submitMs = i.submissionTime.getOrElse(-1L)
      a.endMs = i.completionTime.getOrElse(-1L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      val m = e.taskMetrics
      val a = stage(e.stageId, e.stageAttemptId)
      a.tasks += 1
      a.taskMs += e.taskInfo.duration
      taskDurMs += e.taskInfo.duration.toDouble
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
        if (m.inputMetrics.bytesRead > 0) a.scanTasks += 1
        a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
        a.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Probe.this.synchronized {
      phases(qe.id) = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Probe.this.synchronized {
      val p = e.progress
      progress += Progress(
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum)
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits for every event already posted, then stops listening. */
  def detach(): Unit = {
    ListenerBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Action, job and stage spans under the harness spans (query and its
    * build/materialize phases, found by job group and time). */
  def spans(harness: Seq[Span], nextId: () => Long): Seq[Span] = synchronized {
    val ms = 1000000L
    val phaseAll = harness.filter(s => s.kind == "build" || s.kind == "materialize")
    val phaseSpans = phaseAll.groupBy(_.group)
    val querySpans = harness.filter(_.kind == "query").groupBy(_.group)
    // work started on an engine-owned thread (a streaming query's
    // micro-batches) carries that thread's job group, not the query's;
    // with one client thread, the phase running at that instant caused it
    def parentIn(group: String, t: Long): Option[Span] =
      Spans.enclosing(phaseSpans.getOrElse(group, Nil), t)
        .orElse(querySpans.getOrElse(group, Nil).headOption)
        .orElse(Spans.enclosing(phaseAll, t))
    def child(parent: Option[Span], kind: String, name: String, startMs: Long, endMs: Long) =
      Span(nextId(), parent.map(_.id).getOrElse(0L), kind, name,
        parent.map(_.group).getOrElse(""), startMs * ms, endMs * ms)
    val actionSpan = execs.values.filter(_.endMs >= 0).map { e =>
      e.id -> child(parentIn(e.group, e.startMs * ms), "action", s"execution ${e.id}", e.startMs, e.endMs)
    }.toMap
    val jobSpan = jobs.values.filter(_.endMs >= 0).map { j =>
      val parent = j.execId.flatMap(actionSpan.get).orElse(parentIn(j.group, j.startMs * ms))
      j.id -> child(parent, "job", s"job ${j.id}", j.startMs, j.endMs)
    }.toMap
    val stageSpans = stages.collect { case ((id, att), a) if a.submitMs >= 0 && a.endMs >= 0 =>
      child(jobSpan.get(a.jobId), "stage", s"stage $id.$att", a.submitMs, a.endMs)
    }
    actionSpan.values.toSeq ++ jobSpan.values ++ stageSpans
  }

  /** Layer metrics over everything recorded, as totals per traced pass
    * (plus medians and ratios where named so). */
  def metrics(passes: Int, tracedWallNs: Long, cores: Int,
              queryExecutions: Int): Map[String, Double] = synchronized {
    val per = 1.0 / math.max(passes, 1)
    val mb = 1.0 / (1024 * 1024)
    val st = stages.values
    def sum(f: StageAgg => Long): Double = st.iterator.map(f).sum.toDouble
    def phase(name: String): Double = phases.values.iterator.map(_.getOrElse(name, 0L)).sum.toDouble
    val runMs = sum(_.runMs)
    val epochs = progress.map(_.durMs.getOrElse("triggerExecution", 0L).toDouble)
    def streamMs(keys: String*): Double =
      progress.iterator.map(p => keys.map(p.durMs.getOrElse(_, 0L)).sum).sum.toDouble
    Map(
      "tables.input_mb" -> sum(_.inBytes) * mb * per,
      "tables.input_rows" -> sum(_.inRecords) * per,
      "tables.scan_tasks" -> sum(_.scanTasks) * per,
      "plan.analysis_ms" -> phase("analysis") * per,
      "plan.optimization_ms" -> phase("optimization") * per,
      "plan.planning_ms" -> phase("planning") * per,
      "plan.actions" -> execs.size.toDouble / math.max(queryExecutions, 1),
      "exec.jobs" -> jobs.size * per,
      "exec.stages" -> st.size * per,
      "exec.tasks" -> sum(_.tasks) * per,
      "exec.task_p50_ms" -> (if (taskDurMs.isEmpty) 0.0 else Stats.median(taskDurMs.toSeq)),
      "exec.overhead_s" -> (sum(_.taskMs) - runMs) / 1e3 * per,
      "exec.busy_frac" -> runMs * 1e6 / math.max(1.0, tracedWallNs.toDouble * cores),
      "exec.run_s" -> runMs / 1e3 * per,
      "exec.cpu_s" -> sum(_.cpuNs) / 1e9 * per,
      "exec.gc_s" -> sum(_.gcMs) / 1e3 * per,
      "exec.peak_mem_mb" -> (if (st.isEmpty) 0.0 else st.map(_.peakMem).max * mb),
      "exchange.write_mb" -> sum(_.shWriteBytes) * mb * per,
      "exchange.read_mb" -> sum(_.shReadBytes) * mb * per,
      "exchange.records" -> sum(_.shWriteRecords) * per,
      "exchange.fetch_wait_ms" -> sum(_.fetchWaitMs) * per,
      "exchange.spill_mb" -> sum(_.spillBytes) * mb * per,
      "streaming.epochs" -> epochs.size * per,
      "streaming.epoch_p50_ms" -> (if (epochs.isEmpty) 0.0 else Stats.median(epochs.toSeq)),
      "streaming.add_batch_ms" -> streamMs("addBatch") * per,
      "streaming.commit_ms" -> streamMs("walCommit", "commitOffsets", "commitBatch") * per,
      "streaming.planning_ms" -> streamMs("queryPlanning") * per,
      "streaming.input_rows" -> progress.iterator.map(_.inputRows).sum * per,
      "streaming.state_rows" -> progress.iterator.map(_.stateRows).sum * per,
    )
  }
}

/** Local-property keys Spark stamps on every job. */
object SparkContextKeys {
  val JobGroupId = "spark.jobGroup.id"
  val ExecutionId = "spark.sql.execution.id"
}
