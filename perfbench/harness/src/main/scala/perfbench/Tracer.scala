package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{GenerateExec, ProjectExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what Spark's public listener and plan APIs report while it is
  * attached: jobs, stages and per-stage task totals (SparkListener), each
  * finished action's planning phases and final-plan census
  * (QueryExecutionListener), and streaming progress
  * (StreamingQueryListener). Times are driver epoch milliseconds, the
  * clock the listener events carry. Records stay in memory until
  * [[records]] is read at the end of the run. */
final class Tracer(spark: SparkSession) {
  private val SyncGroup = "perfbench-sync"

  /** Task totals of one stage attempt. */
  final class StageRec(val stageId: Int, val jobId: Int) {
    var submitted, completed = 0L
    var tasks, failedTasks, scanTasks, reduceTasks, sinkTasks = 0L
    var busyMs, cpuNs, gcMs, schedWaitMs, peakMem = 0L
    var inBytes, inRows, shWriteBytes, shRecords, shWriteNs = 0L
    var shReadBytes, fetchWaitMs, spillBytes, outBytes, sinkBusyMs = 0L
    def toMap: Map[String, Any] = Map(
      "stage" -> stageId, "job" -> jobId, "start" -> submitted,
      "end" -> completed, "tasks" -> tasks, "failed_tasks" -> failedTasks,
      "scan_tasks" -> scanTasks, "reduce_tasks" -> reduceTasks,
      "sink_tasks" -> sinkTasks, "busy_ms" -> busyMs, "cpu_ns" -> cpuNs,
      "gc_ms" -> gcMs, "sched_wait_ms" -> schedWaitMs, "peak_mem" -> peakMem,
      "in_bytes" -> inBytes, "in_rows" -> inRows,
      "sh_write_bytes" -> shWriteBytes, "sh_records" -> shRecords,
      "sh_write_ns" -> shWriteNs, "sh_read_bytes" -> shReadBytes,
      "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spillBytes,
      "out_bytes" -> outBytes, "sink_busy_ms" -> sinkBusyMs)
  }

  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val syncJobs = mutable.Set[Int]()
  private val syncEnded = mutable.Set[Int]()
  private val actions = mutable.ArrayBuffer[Map[String, Any]]()
  private val streams = mutable.LinkedHashMap[String, mutable.Map[String, Any]]()
  private val batches = mutable.ArrayBuffer[Map[String, Any]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == SyncGroup) syncJobs += e.jobId
      else {
        jobs(e.jobId) = mutable.Map("job" -> e.jobId, "start" -> e.time,
          "end" -> e.time, "ok" -> true)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j("end") = e.time
        j("ok") = e.jobResult == JobSucceeded
      }
      if (syncJobs(e.jobId)) {
        syncEnded += e.jobId
        Tracer.this.notifyAll()
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
          .foreach(_.submitted = e.stageInfo.submissionTime.getOrElse(0L))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stage(e.stageInfo.stageId, e.stageInfo.attemptNumber()).foreach { s =>
          s.submitted = e.stageInfo.submissionTime.getOrElse(s.submitted)
          s.completed = e.stageInfo.completionTime.getOrElse(0L)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stage(e.stageId, e.stageAttemptId).foreach { s =>
        val info = e.taskInfo
        s.tasks += 1
        if (!info.successful) s.failedTasks += 1
        if (s.submitted > 0) s.schedWaitMs += math.max(0L, info.launchTime - s.submitted)
        Option(e.taskMetrics).foreach { m =>
          s.busyMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
          val in = m.inputMetrics
          if (in.bytesRead > 0 || in.recordsRead > 0) s.scanTasks += 1
          s.inBytes += in.bytesRead
          s.inRows += in.recordsRead
          val w = m.shuffleWriteMetrics
          s.shWriteBytes += w.bytesWritten
          s.shRecords += w.recordsWritten
          s.shWriteNs += w.writeTime
          val r = m.shuffleReadMetrics
          if (r.recordsRead > 0) s.reduceTasks += 1
          s.shReadBytes += r.totalBytesRead
          s.fetchWaitMs += r.fetchWaitTime
          s.spillBytes += m.diskBytesSpilled
          val out = m.outputMetrics
          if (out.recordsWritten > 0) {
            s.sinkTasks += 1
            s.sinkBusyMs += m.executorRunTime
          }
          s.outBytes += out.bytesWritten
        }
      }
    }
  }

  /** The record of a traced stage attempt; None for the sync job's
    * stages and for stages of jobs started before the tracer attached. */
  private def stage(id: Int, attempt: Int): Option[StageRec] =
    stageJob.get(id).map(j => stages.getOrElseUpdate((id, attempt), new StageRec(id, j)))

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0L, ok = false)
  }

  private def record(funcName: String, qe: QueryExecution, durationNs: Long,
                     ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Seq(p.startTimeMs, p.endTimeMs) }
    val census = try PlanCensus(qe.executedPlan) catch {
      case _: Throwable => Map.empty[String, Double] }
    Tracer.this.synchronized {
      actions += Map("func" -> funcName, "ok" -> ok, "duration_ns" -> durationNs,
        "phases" -> phases, "census" -> census)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized {
        streams(e.runId.toString) = mutable.Map("start" -> epochMs(e.timestamp),
          "terminated" -> false)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators
      Tracer.this.synchronized {
        batches += Map("run" -> p.runId.toString, "batch" -> p.batchId,
          "start" -> epochMs(p.timestamp),
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "rows_in" -> p.numInputRows,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum)
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Tracer.this.synchronized {
        streams.get(e.runId.toString).foreach(_("terminated") = true)
        Tracer.this.notifyAll()
      }
  }

  private def epochMs(iso: String): Long =
    try java.time.Instant.parse(iso).toEpochMilli catch { case _: Throwable => 0L }

  /** Sessions other than `spark` whose actions are recorded too. */
  private val watched = mutable.Set[SparkSession]()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Also record the actions of `session`, while attached: a query may
    * build its DataFrame in a session of its own (`newSession`), whose
    * query executions the main session's listeners do not see. */
  def watch(session: SparkSession): Unit =
    if ((session ne spark) && watched.add(session))
      session.listenerManager.register(qeListener)

  /** Wait until every event posted so far has been delivered, then stop
    * listening. Events reach a listener queue in posting order, so once a
    * marker job's end arrives the Spark and query-execution events before
    * it have too; streaming events have their own queue and are awaited
    * until every started stream has reported its termination. */
  def detach(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(SyncGroup, SyncGroup)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    Tracer.this.synchronized {
      def settled = syncEnded.nonEmpty &&
        streams.values.forall(_("terminated") == true)
      while (!settled && System.currentTimeMillis() < deadline) Tracer.this.wait(50)
    }
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    watched.foreach(_.listenerManager.unregister(qeListener))
    watched.clear()
    spark.streams.removeListener(streamListener)
    Tracer.this.synchronized { syncJobs.clear(); syncEnded.clear() }
  }

  def records: Map[String, Any] = Tracer.this.synchronized {
    Map("jobs" -> jobs.values.map(_.toMap).toSeq,
      "stages" -> stages.values.map(_.toMap).toSeq,
      "actions" -> actions.toSeq,
      "streams" -> streams.map { case (k, v) => (v + ("run" -> k)).toMap }.toSeq,
      "batches" -> batches.toSeq)
  }
}

/** Counts over an executed physical plan, adaptive stages included and
  * reused exchanges counted once at their origin. Times are seconds. */
object PlanCensus {
  def apply(plan: SparkPlan): Map[String, Double] = {
    val c = mutable.Map[String, Double]().withDefaultValue(0.0)
    def metric(p: SparkPlan, name: String): Double =
      p.metrics.get(name).map { m =>
        val v = math.max(0L, m.value).toDouble
        m.metricType match {
          case "nsTiming" => v / 1e9
          case "timing" => v / 1e3
          case _ => v
        }
      }.getOrElse(0.0)
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ReusedExchangeExec => return
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case q: QueryStageExec => walk(q.plan); return
        case _: ShuffleExchangeLike => c("exchanges") += 1
        case b: BroadcastExchangeLike =>
          c("exchanges") += 1
          c("join_build_s") += metric(b, "buildTime")
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
          c("join_broadcast") += 1
        case j: ShuffledHashJoinExec =>
          c("join_shuffled") += 1
          c("join_build_s") += metric(j, "buildTime")
        case _: SortMergeJoinExec | _: CartesianProductExec =>
          c("join_shuffled") += 1
        case g: GenerateExec => c("generate_rows") += metric(g, "numOutputRows")
        case s: SortExec => c("sort_time_s") += metric(s, "sortTime")
        case pr: ProjectExec =>
          if (pr.projectList.exists(_.exists(_.isInstanceOf[CodegenFallback])))
            c("codegen_fallback_nodes") += 1
        case _ =>
      }
      if (p.getClass.getSimpleName.endsWith("AggregateExec"))
        c("agg_time_s") += metric(p, "aggTime")
      if (p.getClass.getSimpleName.contains("ScanExec"))
        c("scan_time_s") += metric(p, "scanTime")
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    c.toMap
  }
}
