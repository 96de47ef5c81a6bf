package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.RestClient

/** Calls into `graft.sources` from executor threads. In `local[n]` the
  * executors share the driver's JVM, so these process-wide counters see
  * every `RestClient.get` the benchmark's client wrapper makes. */
object FetchStats {
  val calls = new AtomicLong()
  val nanos = new AtomicLong()
}

/** RestClient wrapper that times every `get` into [[FetchStats]]. */
final class TimedClient(inner: RestClient) extends RestClient {
  override def get(path: String): String = {
    val t0 = System.nanoTime()
    try inner.get(path)
    finally {
      FetchStats.calls.incrementAndGet()
      FetchStats.nanos.addAndGet(System.nanoTime() - t0)
    }
  }
}

/** The traced run's instrumentation, all of it outside `src/`:
  *  - spans around the benchmark's calls into each module (name, start,
  *    end, parent span, query or session id), kept in memory and written
  *    out once at the end of the run;
  *  - a SparkListener counting jobs, stages, tasks and task metrics;
  *  - a QueryExecutionListener summing the QueryPlanningTracker phases;
  *  - whole-stage codegen compile count and time.
  *
  * Counting happens per unit (a warm pass, or a coach session). A unit
  * run with `traced = false` records nothing, so one run can time the
  * same unit with and without tracing and report the difference. */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  @volatile private var on = false
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var counts = new Counts
  private val calls = mutable.ArrayBuffer.empty[(Long, Long)]
  private val spanMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val spanN = mutable.Map.empty[String, Int].withDefaultValue(0)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (on) counts.synchronized(counts.jobs += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (on) counts.synchronized(counts.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) counts.synchronized {
      counts.tasks += 1
      counts.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        counts.taskRunMs += m.executorRunTime
        counts.taskCpuMs += m.executorCpuTime / 1e6
        counts.gcMs += m.jvmGCTime
        counts.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        counts.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        counts.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        counts.peakTaskMemB = math.max(counts.peakTaskMemB, m.peakExecutionMemory)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) counts.synchronized {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        counts.analysisMs += ms("analysis")
        counts.optimizationMs += ms("optimization")
        counts.planningMs += ms("planning")
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(planListener)

  /** Time `body` inside a span when the current unit is traced. */
  def span[T](name: String, key: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, parent, key, System.nanoTime() - t0, -1L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        val s = spans(id).copy(endNs = System.nanoTime() - t0)
        spans(id) = s
        spanMs(name) += (s.endNs - s.startNs) / 1e6
        spanN(name) += 1
      }
    }

  /** A timed operation: a span that also bounds the driver-only time
    * (wall time with no task running). */
  def call[T](name: String, key: String)(body: => T): T =
    if (!on) body
    else {
      val start = System.currentTimeMillis()
      try span(name, key)(body)
      finally calls += ((start, System.currentTimeMillis()))
    }

  /** Run one unit; when `traced`, return its per-layer counters. */
  def unit[T](traced: Boolean)(body: => T): (T, Map[String, Double]) = {
    Bus.drain(spark.sparkContext)
    counts = new Counts
    calls.clear(); spanMs.clear(); spanN.clear()
    val fetch0 = (FetchStats.calls.get, FetchStats.nanos.get)
    val cg0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    val w0 = System.nanoTime()
    on = traced
    val out =
      try body
      finally {
        Bus.drain(spark.sparkContext)
        on = false
      }
    val wallMs = (System.nanoTime() - w0) / 1e6
    if (!traced) (out, Map.empty)
    else {
      val c = counts
      val mb = 1024.0 * 1024.0
      val layers = Map(
        "plans.analysis_ms" -> c.analysisMs,
        "plans.optimization_ms" -> c.optimizationMs,
        "plans.planning_ms" -> c.planningMs,
        "exec.jobs" -> c.jobs.toDouble,
        "exec.stages" -> c.stages.toDouble,
        "exec.tasks" -> c.tasks.toDouble,
        "exec.driver_only_ms" -> calls.map { case (s, e) => driverOnly(s, e, c.intervals) }.sum,
        "exec.codegen_compiles" ->
          (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0._1).toDouble,
        "exec.codegen_ms" -> (CodeGenerator.compileTime - cg0._2) / 1e6,
        "exec.task_run_ms" -> c.taskRunMs,
        "exec.task_cpu_ms" -> c.taskCpuMs,
        "exec.gc_ms" -> c.gcMs,
        "exec.slot_busy_frac" -> c.taskRunMs / (wallMs * cores),
        "exec.shuffle_read_mb" -> c.shuffleReadB / mb,
        "exec.shuffle_write_mb" -> c.shuffleWriteB / mb,
        "exec.spill_mb" -> c.spillB / mb,
        "exec.peak_task_mem_mb" -> c.peakTaskMemB / mb,
        "sources.fetch_calls" -> (FetchStats.calls.get - fetch0._1).toDouble,
        "sources.fetch_ms" -> (FetchStats.nanos.get - fetch0._2) / 1e6,
      ) ++ spanMs.map { case (k, v) => s"span.$k.ms" -> v } ++
        spanN.map { case (k, v) => s"span.$k.n" -> v.toDouble }
      (out, layers)
    }
  }

  def spanCount: Int = spans.size

  /** Spans as JSON lines, times in µs from tracer start. */
  def spansJson: Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""key":${Json.str(s.key)},"start_us":${s.startNs / 1000},"end_us":${s.endNs / 1000}}"""
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, key: String, startNs: Long, endNs: Long)

  private final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskRunMs = 0.0; var taskCpuMs = 0.0; var gcMs = 0.0
    var shuffleReadB = 0.0; var shuffleWriteB = 0.0; var spillB = 0.0; var peakTaskMemB = 0.0
    var analysisMs = 0.0; var optimizationMs = 0.0; var planningMs = 0.0
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  /** Wall ms of [start, end] not covered by any task interval. */
  private[perfbench] def driverOnly(start: Long, end: Long, tasks: Iterable[(Long, Long)]): Double = {
    val clipped = tasks.iterator
      .map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (end - start - covered).toDouble
  }
}
