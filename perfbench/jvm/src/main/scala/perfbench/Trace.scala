package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side work, summed over every task and job seen so far. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
    taskRunMs: Long = 0, taskCpuMs: Double = 0, gcMs: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    inputRows: Long = 0, inputBytes: Long = 0,
    analysisMs: Long = 0, optimizationMs: Long = 0, planningMs: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, failedTasks - o.failedTasks,
    taskRunMs - o.taskRunMs, taskCpuMs - o.taskCpuMs, gcMs - o.gcMs,
    shuffleReadBytes - o.shuffleReadBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, inputRows - o.inputRows, inputBytes - o.inputBytes,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs, planningMs - o.planningMs)
  def +(o: Counters): Counters = this - (Counters() - o)
  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuMs, "jvm_gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "input_rows" -> inputRows, "input_bytes" -> inputBytes,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs)
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      attrs: Map[String, Any])

/** The benchmark's tracer: spans around each call into a layer, plus a
  * SparkListener, a QueryExecutionListener and a StreamingQueryListener
  * registered from outside the program. Everything stays in memory until
  * [[dump]]. With `enabled = false` nothing is registered and spans are
  * not kept, which is the untraced configuration the end-to-end metrics
  * are measured in.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val lock = new Object
  private var c = Counters()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  /** (query name, batch id) -> jobs started for that micro-batch */
  val streamJobs = mutable.Map.empty[(String, Long), Int].withDefaultValue(0)
  val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var queryNames = Map.empty[String, String]
  private var spark: SparkSession = _

  def nameQuery(id: java.util.UUID, name: String): Unit = lock.synchronized {
    queryNames += id.toString -> name
  }

  /** Counters after every event posted so far has been delivered. */
  def counters(): Counters = {
    if (enabled && spark != null) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    lock.synchronized(c)
  }

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    if (!enabled) return body
    val id = lock.synchronized { nextId += 1; nextId }
    val parent = open.headOption.getOrElse(0)
    open.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.pop()
      lock.synchronized(spans += Span(id, parent, name, t0, t1, attrs))
    }
  }

  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(sparkListener)
    s.listenerManager.register(qeListener)
    s.streams.addListener(streamListener)
  }

  def detach(): Unit = if (enabled && spark != null) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    spark = null
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      c = c.copy(jobs = c.jobs + 1)
      val p = e.properties
      if (p != null) {
        val q = p.getProperty("sql.streaming.queryId")
        val b = p.getProperty("streaming.sql.batchId")
        if (q != null && b != null)
          streamJobs((queryNames.getOrElse(q, q), b.toLong)) += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized { c = c.copy(stages = c.stages + 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      val failed = e.reason != org.apache.spark.Success
      c = if (m == null) c.copy(tasks = c.tasks + 1, failedTasks = c.failedTasks + (if (failed) 1 else 0))
      else c.copy(
        tasks = c.tasks + 1,
        failedTasks = c.failedTasks + (if (failed) 1 else 0),
        taskRunMs = c.taskRunMs + m.executorRunTime,
        taskCpuMs = c.taskCpuMs + m.executorCpuTime / 1e6,
        gcMs = c.gcMs + m.jvmGCTime,
        shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        inputRows = c.inputRows + m.inputMetrics.recordsRead,
        inputBytes = c.inputBytes + m.inputMetrics.bytesRead)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      lock.synchronized {
        c = c.copy(analysisMs = c.analysisMs + ms("analysis"),
          optimizationMs = c.optimizationMs + ms("optimization"),
          planningMs = c.planningMs + ms("planning"))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      val rec = Map[String, Any](
        "query" -> lock.synchronized(queryNames.getOrElse(p.id.toString, p.id.toString)),
        "batch_id" -> p.batchId,
        "timestamp" -> p.timestamp,
        "num_input_rows" -> p.numInputRows,
        "input_rows_per_s" -> p.inputRowsPerSecond,
        "processed_rows_per_s" -> p.processedRowsPerSecond,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows_total" -> ops.map(_.numRowsTotal).sum,
        "state_rows_updated" -> ops.map(_.numRowsUpdated).sum,
        "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "watermark" -> Option(p.eventTime.get("watermark")).orNull)
      lock.synchronized(progress += rec)
    }
  }

  def dump(path: String): Unit = lock.synchronized {
    Json.writeLines(path, spans.sortBy(_.id).map(s => Map(
      "run_id" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "dur_ms" -> (s.endNs - s.startNs) / 1e6) ++ s.attrs))
  }
}
