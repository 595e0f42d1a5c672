package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfBenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Layer spans are children of an op span; every
  * Spark job started inside a layer span becomes its child. */
final class Span(val id: Int, val name: String, val opId: Int,
    val parent: Int, val startMs: Long) {
  var endMs: Long = startMs
  def close(): Unit = endMs = System.currentTimeMillis()
  /** Layer counters, filled from listener events; see [[Tracer.layer]]. */
  val counters: mutable.Map[String, Double] =
    mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
}

/** Span recorder owned by the benchmark: a SparkListener for jobs, stages
  * and tasks plus a QueryExecutionListener for SQL executions, both keyed to
  * the layer span the client thread is in through a local property. Spans
  * stay in memory until [[spans]] is read at the end of the run. */
final class Tracer(spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val all = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, Span]
  @volatile private var open: Span = _

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    PerfBenchBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def newSpan(name: String, opId: Int, parent: Int,
      startMs: Long): Span = synchronized {
    val s = new Span(all.size + 1, name, opId, parent, startMs)
    all += s
    byId(s.id) = s
    s
  }

  def opSpan(opId: Int, name: String): Span =
    newSpan(name, opId, 0, System.currentTimeMillis())

  /** Runs `body` inside a layer span under `op`. Jobs the body starts are
    * attributed to the span; after the body the bus is drained so the
    * span's counters are complete when this returns. */
  def layer[T](op: Span, name: String)(body: => T): (T, Span) = {
    val s = newSpan(name, op.opId, op.id, System.currentTimeMillis())
    sc.setLocalProperty(SpanKey, s.id.toString)
    open = s
    try {
      val out = body
      (out, s)
    } finally {
      s.close()
      sc.setLocalProperty(SpanKey, null)
      PerfBenchBus.drain(sc)
      open = null
      synchronized(finish(s))
    }
  }

  /** Wall time of `s` not covered by any of its jobs. */
  private def finish(s: Span): Unit = {
    val jobs = all.iterator.filter(j => j.parent == s.id && j.name.startsWith("job "))
      .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    jobs.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) covered += hi - lo
    val wall = s.endMs - s.startMs
    s.counters("wall_s") = wall / 1e3
    s.counters("driver_s") = math.max(0L, wall - covered) / 1e3
  }

  def spans: Seq[Span] = synchronized(all.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val owner = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .flatMap(id => byId.get(id.toInt))
    owner.foreach { s =>
      jobSpan(e.jobId) = newSpan(s"job ${e.jobId}", s.opId, s.id, e.time)
      e.stageIds.foreach(stageSpan(_) = s)
      s.counters("jobs") += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val c = s.counters
      c("tasks") += 1
      c("task_s") += e.taskInfo.duration / 1e3
      if (e.reason != Success) c("failed_tasks") += 1
      Option(e.taskMetrics).foreach { m =>
        c("cpu_s") += m.executorCpuTime / 1e9
        c("write_bytes") += m.outputMetrics.bytesWritten
        c("rows_written") += m.outputMetrics.recordsWritten
        c("shuffle_bytes") += m.shuffleWriteMetrics.bytesWritten
        c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    Option(open).foreach { s =>
      val c = s.counters
      val phases = qe.tracker.phases
      c("plan_s") += PlanPhases.flatMap(phases.get).map(_.durationMs).sum / 1e3
      val kind = if (isWrite(qe)) "write_exec_s" else "other_exec_s"
      c(kind) += durationNs / 1e9
      c("read_bytes") += scanBytes(qe)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object Tracer extends AdaptiveSparkPlanHelper {
  val SpanKey = "perfbench.span"
  private val PlanPhases = Seq("analysis", "optimization", "planning")

  /** Bytes of the files an execution's scans read, from the scans' "size
    * of files read" metric. Task input metrics are not used for this: they
    * miss parquet's vectored reads and count only footers. */
  private def scanBytes(qe: QueryExecution): Long =
    collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum

  private def isWrite(qe: QueryExecution): Boolean =
    qe.logical.isInstanceOf[DataWritingCommand] ||
      qe.logical.nodeName.startsWith("InsertInto")
}
