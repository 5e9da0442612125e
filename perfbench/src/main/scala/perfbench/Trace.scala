package perfbench

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters of a traced run, filled from Spark's public
  * listener interfaces only. Spark instantiates the Catalyst and
  * streaming listeners itself (static confs, so `newSession()`
  * sub-sessions get them too); all instances feed this one object.
  * While `enabled` is false every callback returns at once, which is how
  * the traced run times an untraced pass to price the tracing. */
object Trace {
  @volatile var enabled = false

  /** Job property naming the harness phase a job was launched in: set on
    * the client thread, inherited by the threads it starts. */
  val PhaseProperty = "perfbench.phase"

  private val counters = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private val peaks = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val busy = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(key: String, v: Long): Unit =
    if (enabled) counters.computeIfAbsent(key, _ => new LongAdder).add(v)

  private def peak(key: String, v: Long): Unit =
    if (enabled) peaks.computeIfAbsent(key, _ => new AtomicLong).accumulateAndGet(v, math.max)

  private[perfbench] def taskSpan(launch: Long, finish: Long): Unit =
    if (enabled) busy.synchronized { busy += (launch -> finish) }

  def reset(): Unit = {
    counters.clear(); peaks.clear(); busy.synchronized { busy.clear() }
  }

  private def count(key: String): Long =
    Option(counters.get(key)).map(_.sum()).getOrElse(0L)

  private def peakOf(key: String): Long =
    Option(peaks.get(key)).map(_.get()).getOrElse(0L)

  /** Wall milliseconds inside [from, to] covered by at least one task. */
  private def coveredMs(from: Long, to: Long): Long = {
    val spans = busy.synchronized(busy.toVector)
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = from
    spans.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered
  }

  /** The per-layer metrics of the window [fromMs, toMs] (wall clock). */
  def metrics(fromMs: Long, toMs: Long, cores: Int): Map[String, Double] = {
    val wallMs = math.max(1L, toMs - fromMs)
    val s = (k: String) => count(k) / 1e3
    Map(
      "catalyst.analysis_s" -> s("catalyst.analysis_ms"),
      "catalyst.optimization_s" -> s("catalyst.optimization_ms"),
      "catalyst.planning_s" -> s("catalyst.planning_ms"),
      "catalyst.executions" -> count("catalyst.executions").toDouble,
      "driver.only_s" -> (wallMs - coveredMs(fromMs, toMs)) / 1e3,
      "exec.busy_frac" -> count("exec.task_ms").toDouble / (wallMs * cores),
      "exec.jobs" -> count("exec.jobs").toDouble,
      "exec.stages" -> count("exec.stages").toDouble,
      "exec.tasks" -> count("exec.tasks").toDouble,
      "exec.tasks_failed" -> count("exec.tasks_failed").toDouble,
      "exec.run_s" -> s("exec.run_ms"),
      "exec.cpu_s" -> count("exec.cpu_ns") / 1e9,
      "exec.gc_s" -> s("exec.gc_ms"),
      "exec.input_bytes" -> count("exec.input_bytes").toDouble,
      "exec.output_bytes" -> count("exec.output_bytes").toDouble,
      "shuffle.write_bytes" -> count("shuffle.write_bytes").toDouble,
      "shuffle.read_bytes" -> count("shuffle.read_bytes").toDouble,
      "shuffle.fetch_wait_s" -> s("shuffle.fetch_wait_ms"),
      "spill.disk_bytes" -> count("spill.disk_bytes").toDouble,
      "spill.memory_bytes" -> count("spill.memory_bytes").toDouble,
      "queries.build_jobs" -> count("queries.build_jobs").toDouble,
      "stream.queries" -> count("stream.queries").toDouble,
      "stream.triggers" -> count("stream.triggers").toDouble,
      "stream.input_rows" -> count("stream.input_rows").toDouble,
      "stream.add_batch_s" -> s("stream.addBatch_ms"),
      "stream.query_planning_s" -> s("stream.queryPlanning_ms"),
      "stream.wal_commit_s" -> s("stream.walCommit_ms"),
      "stream.latest_offset_s" -> s("stream.latestOffset_ms"),
      "stream.commit_offsets_s" -> s("stream.commitOffsets_ms"),
      "stream.state_rows" -> peakOf("stream.state_rows").toDouble,
      "stream.state_bytes" -> peakOf("stream.state_bytes").toDouble)
  }

  private[perfbench] def onProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    add("stream.triggers", 1)
    add("stream.input_rows", p.numInputRows)
    Seq("addBatch", "queryPlanning", "walCommit", "latestOffset", "commitOffsets")
      .foreach(k => Option(p.durationMs.get(k)).foreach(v => add(s"stream.${k}_ms", v.longValue)))
    peak("stream.state_rows", p.stateOperators.map(_.numRowsTotal).sum)
    peak("stream.state_bytes", p.stateOperators.map(_.memoryUsedBytes).sum)
  }
}

/** Catalyst phase times, read from each execution's planning tracker. */
class CatalystTrace extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = if (Trace.enabled) {
    Trace.add("catalyst.executions", 1)
    qe.tracker.phases.foreach { case (phase, summary) =>
      Trace.add(s"catalyst.${phase}_ms", summary.durationMs)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Structured Streaming progress events: one per trigger. */
class StreamTrace extends StreamingQueryListener {
  override def onQueryStarted(event: QueryStartedEvent): Unit = Trace.add("stream.queries", 1)
  override def onQueryProgress(event: QueryProgressEvent): Unit =
    if (Trace.enabled) Trace.onProgress(event.progress)
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
}

/** Scheduler events: jobs, stages, and task metrics. */
class ExecTrace extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Trace.add("exec.jobs", 1)
    val phase = Option(e.properties).map(_.getProperty(Trace.PhaseProperty)).orNull
    if (phase == "build") Trace.add("queries.build_jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Trace.add("exec.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Trace.enabled) {
    Trace.add("exec.tasks", 1)
    if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) Trace.add("exec.tasks_failed", 1)
    val info = e.taskInfo
    Trace.add("exec.task_ms", info.finishTime - info.launchTime)
    Trace.taskSpan(info.launchTime, info.finishTime)
    Option(e.taskMetrics).foreach { m =>
      Trace.add("exec.run_ms", m.executorRunTime)
      Trace.add("exec.cpu_ns", m.executorCpuTime)
      Trace.add("exec.gc_ms", m.jvmGCTime)
      Trace.add("exec.input_bytes", m.inputMetrics.bytesRead)
      Trace.add("exec.output_bytes", m.outputMetrics.bytesWritten)
      Trace.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      Trace.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
      Trace.add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      Trace.add("spill.disk_bytes", m.diskBytesSpilled)
      Trace.add("spill.memory_bytes", m.memoryBytesSpilled)
    }
  }
}

object TraceConfs {
  /** Static confs that make every session, sub-sessions included,
    * register the Catalyst and streaming listeners. */
  val confs: Seq[(String, String)] = Seq(
    "spark.sql.queryExecutionListeners" -> classOf[CatalystTrace].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[StreamTrace].getName)
}
