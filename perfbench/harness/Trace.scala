package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the benchmark's own code at a layer call. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, op: Int)

/** Records spans in memory; they are written once, when the run ends.
  * Disabled, it only runs the body. */
final class Tracer(val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var opId = -1

  def op[T](id: Int)(body: => T): T = {
    val prev = opId; opId = id
    try body finally opId = prev
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = buf.size
      val parent = stack.headOption.getOrElse(-1)
      buf += Span(id, name, System.nanoTime(), 0L, parent, opId)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        buf(id) = buf(id).copy(endNs = System.nanoTime())
      }
    }

  /** Durations in seconds of the spans with this name. */
  def seconds(name: String): Seq[Double] =
    buf.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).toSeq

  def toJson: String = buf.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Cumulative runtime counters; per-region figures are differences of two
  * snapshots. */
final case class Counters(jobs: Long, stages: Long, tasks: Long,
    runMs: Long, cpuNs: Long, shuffleWriteBytes: Long, spillBytes: Long,
    gcMs: Long, inputScans: Long) {
  private def zip(o: Counters, f: (Long, Long) => Long) = Counters(
    f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks), f(runMs, o.runMs),
    f(cpuNs, o.cpuNs), f(shuffleWriteBytes, o.shuffleWriteBytes),
    f(spillBytes, o.spillBytes), f(gcMs, o.gcMs), f(inputScans, o.inputScans))
  def -(o: Counters): Counters = zip(o, _ - _)
  def +(o: Counters): Counters = zip(o, _ + _)
}

object Counters {
  val zero = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** The benchmark's SparkListener and QueryExecutionListener: counts jobs,
  * stages, tasks and task metrics, and the file scans of one input path. */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val jobs, stages, tasks, runMs, cpuNs, shuffleW, spill, gc, scans =
    new AtomicLong
  /** The input whose file scans are counted. */
  @volatile var scanPath: Option[String] = None

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gc.addAndGet(m.jvmGCTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val n = Probe.Plans.collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec
          if scanPath.exists(p => s.relation.location.rootPaths.exists(_.toString.contains(p))) => 1
    }.size
    scans.addAndGet(n)
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Counters after every event queued so far has been delivered. */
  def snapshot(): Counters = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Counters(jobs.get, stages.get, tasks.get, runMs.get, cpuNs.get,
      shuffleW.get, spill.get, gc.get, scans.get)
  }

  def register(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }
  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Probe {
  object Plans extends AdaptiveSparkPlanHelper
}
