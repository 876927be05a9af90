package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory event recorder for the traced run. It listens through
  * Spark's public listener APIs only and keeps raw records (jobs,
  * stages, SQL executions with their planning phases, streaming
  * micro-batches); run.py turns them into spans and per-layer metrics
  * once the run ends. Jobs, stages and executions are attributed to
  * rows by the job tags the harness sets around each row, never by
  * time windows; a micro-batch belongs to the row whose tagged jobs
  * name its run id. */
final class Trace {
  import Trace._

  private val jobs = new ConcurrentLinkedQueue[Rec]()
  private val jobsOpen = new AtomicLong()
  private val stages = new ConcurrentLinkedQueue[Rec]()
  private val failedTasks = new ConcurrentHashMap[(Int, Int), AtomicLong]()
  private val execStarts = new ConcurrentLinkedQueue[Rec]()
  private val execsOpen = new AtomicLong()
  private val plans = new ConcurrentLinkedQueue[Rec]()
  private val streamsOpen = new AtomicLong()
  private val batches = new ConcurrentLinkedQueue[Rec]()
  /** Planning phases of the execution whose end event is in flight:
    * the session's ExecutionListenerBus shares the listener queue with
    * [[spark]] and was registered first, so for each SQL execution end
    * it calls [[queries]] just before [[spark]] sees the same event. */
  private var pendingPlan: Rec = null

  private def tags(props: java.util.Properties): java.util.List[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil).asJava

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsOpen.incrementAndGet()
      val p = e.properties
      jobs.add(obj(
        "event" -> "start", "job" -> e.jobId, "time_ms" -> e.time,
        "stage_ids" -> e.stageIds.map(Int.box).asJava, "tags" -> tags(p),
        "description" -> Option(p).map(_.getProperty("spark.job.description")).orNull))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.add(obj("event" -> "end", "job" -> e.jobId, "time_ms" -> e.time))
      jobsOpen.decrementAndGet(): Unit
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.add(obj("event" -> "submit", "stage" -> e.stageInfo.stageId,
        "attempt" -> e.stageInfo.attemptNumber(), "tags" -> tags(e.properties),
        "time_ms" -> e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != Success) failedTasks
        .computeIfAbsent((e.stageId, e.stageAttemptId), _ => new AtomicLong())
        .incrementAndGet(): Unit
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = Option(s.taskMetrics)
      def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long =
        m.map(f).getOrElse(0L)
      stages.add(obj("event" -> "complete", "stage" -> s.stageId,
        "attempt" -> s.attemptNumber(),
        "time_ms" -> s.completionTime.getOrElse(System.currentTimeMillis()),
        "ok" -> s.failureReason.isEmpty, "tasks" -> s.numTasks,
        "run_ms" -> metric(_.executorRunTime),
        "cpu_ns" -> metric(_.executorCpuTime),
        "gc_ms" -> metric(_.jvmGCTime),
        "shuffle_read_b" -> metric(_.shuffleReadMetrics.totalBytesRead),
        "shuffle_write_b" -> metric(_.shuffleWriteMetrics.bytesWritten),
        "spill_disk_b" -> metric(_.diskBytesSpilled),
        "input_b" -> metric(_.inputMetrics.bytesRead),
        "output_b" -> metric(_.outputMetrics.bytesWritten),
        "output_rows" -> metric(_.outputMetrics.recordsWritten)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execsOpen.incrementAndGet()
        execStarts.add(obj("execution_id" -> s.executionId,
          "tags" -> s.jobTags.toSeq.asJava))
      case s: SparkListenerSQLExecutionEnd =>
        if (pendingPlan != null) pendingPlan.put("execution_id", s.executionId)
        pendingPlan = null
        execsOpen.decrementAndGet(): Unit
      // streaming events of every session (the session-scoped
      // StreamingQueryListener would miss queries started on clones)
      case _: StreamingQueryListener.QueryStartedEvent => streamsOpen.incrementAndGet(): Unit
      case p: StreamingQueryListener.QueryProgressEvent => batch(p.progress)
      case _: StreamingQueryListener.QueryTerminatedEvent => streamsOpen.decrementAndGet(): Unit
      case _ => ()
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    private def note(func: String, qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      def ms(phase: String): Long = phases.get(phase).map(_.durationMs).getOrElse(0L)
      pendingPlan = obj("execution_id" -> null, "func" -> func, "ok" -> ok,
        "analysis_ms" -> ms(QueryPlanningTracker.ANALYSIS),
        "optimization_ms" -> ms(QueryPlanningTracker.OPTIMIZATION),
        "planning_ms" -> ms(QueryPlanningTracker.PLANNING))
      plans.add(pendingPlan): Unit
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      note(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, error: Exception): Unit =
      note(func, qe, ok = false)
  }

  private def batch(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    batches.add(obj("run_id" -> p.runId.toString, "batch" -> p.batchId,
      "timestamp" -> p.timestamp, "input_rows" -> p.numInputRows,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "duration_ms" -> p.durationMs)): Unit

  /** Register [[queries]] before [[spark]]: see [[pendingPlan]]. */
  def register(session: SparkSession): Unit = {
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(queries)
    session.sparkContext.addSparkListener(spark)
  }

  /** Listener delivery is asynchronous: wait until every job, SQL
    * execution and streaming query seen so far has also been seen to
    * finish (bounded, so a lost event cannot hang the run). */
  def awaitQuiet(timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var quietPolls = 0
    while (quietPolls < 2 && System.currentTimeMillis() < deadline) {
      val quiet = jobsOpen.get() == 0 && execsOpen.get() == 0 && streamsOpen.get() == 0
      quietPolls = if (quiet) quietPolls + 1 else 0
      Thread.sleep(20)
    }
    quietPolls >= 2
  }

  def toJava: java.util.Map[String, Any] = obj(
    "jobs" -> jobs.asScala.toSeq.asJava,
    "stages" -> stages.asScala.toSeq.asJava,
    "failed_tasks" -> failedTasks.asScala.toSeq.map { case ((s, a), n) =>
      obj("stage" -> s, "attempt" -> a, "count" -> n.get())
    }.asJava,
    "executions" -> execStarts.asScala.toSeq.asJava,
    "plans" -> plans.asScala.toSeq.asJava,
    "batches" -> batches.asScala.toSeq.asJava)
}

object Trace {
  type Rec = java.util.Map[String, Any]

  /** An insertion-ordered JSON object for Jackson. */
  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
}
