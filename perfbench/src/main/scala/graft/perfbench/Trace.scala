package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchListenerBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import Stats.Span

/** Wall clock in epoch milliseconds with nanosecond steps, so spans
  * timed here line up with the millisecond times Spark stamps on its
  * listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs: Double = baseMs + System.nanoTime() / 1e6
}

/** Nesting depth of each layer: where spans overlap, the deeper one
  * owns the time (see [[Stats.selfTimes]]). */
object Depth {
  val Top = 1      // spec, runner, build, materialize, stream drain/readback
  val Plugin = 2
  val Sink = 3
  val Catalyst = 4
  val Exec = 5
}

/** What one traced op recorded. */
final case class OpTrace(spans: Seq[Span], counters: Map[String, Double])

/** Records spans and counters for one op at a time, from outside the
  * program: around calls into its public functions, and from Spark's
  * public listener interfaces. Only ops run between [[begin]] and
  * [[end]] are recorded. */
final class Tracer(spark: SparkSession) {
  @volatile private var active = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, java.lang.Double]()
  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
  private val writeStarts = new ConcurrentHashMap[Long, java.lang.Long]()
  private val stateByRun = new ConcurrentHashMap[String, (Long, Long)]()

  def add(name: String, v: Double): Unit =
    if (active) counters.merge(name, v, (a, b) => a + b)

  def record(s: Span): Unit = if (active) spans.add(s)

  def span[T](layer: String, depth: Int)(body: => T): T = {
    val t0 = Clock.nowMs
    try body finally record(Span(layer, t0, Clock.nowMs, depth))
  }

  def begin(): Unit = {
    BenchListenerBus.drain(spark.sparkContext)
    spans.clear(); counters.clear(); jobStarts.clear()
    writeStarts.clear(); stateByRun.clear()
    active = true
  }

  def end(): OpTrace = {
    BenchListenerBus.drain(spark.sparkContext)
    stateByRun.values.asScala.foreach { case (rows, bytes) =>
      add("stream.state_rows", rows.toDouble)
      add("stream.state_bytes", bytes.toDouble)
    }
    active = false
    OpTrace(spans.asScala.toSeq,
      counters.asScala.map { case (k, v) => k -> v.doubleValue }.toMap)
  }

  /** Catalyst phases a QueryExecution has run so far (read, never
    * forced). */
  def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      val layer = phase match {
        case "optimization" => "catalyst.optimizer"
        case other => s"catalyst.$other"
      }
      record(Span(layer, p.startTimeMs.toDouble, p.endTimeMs.toDouble,
        Depth.Catalyst))
      add(s"${layer}_ms", (p.endTimeMs - p.startTimeMs).toDouble)
    }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) {
        phases(qe)
        // a write runs under an adaptive plan, or, run eagerly, in a
        // CommandResult node
        val plans = qe.executedPlan +: qe.commandExecuted.collect {
          case c: CommandResult => c.commandPhysicalPlan
        }
        plans.flatMap(PlanWalk.collect(_) { case w: DataWritingCommandExec => w })
          .foreach { w =>
            add("sink.write_ms", durationNs / 1e6)
            w.cmd.metrics.get("numFiles").foreach(m => add("sink.files", m.value.toDouble))
            w.cmd.metrics.get("numOutputBytes").foreach(m => add("sink.bytes", m.value.toDouble))
          }
      }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      if (active) phases(qe)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (active) jobStarts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { t0 =>
        record(Span("exec", t0.toDouble, e.time.toDouble, Depth.Exec))
        add("exec.jobs", 1)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
      add("exec.tasks", 1)
      if (e.reason != Success) add("exec.failed_tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add("exec.task_run_ms", m.executorRunTime.toDouble)
        add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        add("exec.gc_ms", m.jvmGCTime.toDouble)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    }
    // file-write commands: their SQL execution is the sink span
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if active &&
          s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
        writeStarts.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        Option(writeStarts.remove(s.executionId)).foreach(t0 =>
          record(Span("sink", t0.toDouble, s.time.toDouble, Depth.Sink)))
      case _ => ()
    }
  }

  def onProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    if (active) {
      add("stream.triggers", 1)
      val d = p.durationMs.asScala
      Seq("addBatch" -> "stream.add_batch_ms",
        "queryPlanning" -> "stream.query_planning_ms",
        "walCommit" -> "stream.wal_commit_ms",
        "latestOffset" -> "stream.latest_offset_ms").foreach { case (k, name) =>
        d.get(k).foreach(v => add(name, v.doubleValue))
      }
      stateByRun.put(p.runId.toString, (
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }

  def install(): Unit = {
    Tracer.current = this
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }
}

/** Plan traversal that descends into adaptive query stages. */
object PlanWalk extends AdaptiveSparkPlanHelper

object Tracer {
  @volatile private[perfbench] var current: Tracer = _
}

/** Spark instantiates this by class name for every session it creates
  * (`spark.sql.streaming.streamingQueryListeners`), which reaches the
  * sub-session the stream drains run on. */
final class StreamProgressListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Option(Tracer.current).foreach(_.onProgress(e.progress))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
