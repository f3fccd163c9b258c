package kbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** One traced call: `layer` is the module whose public function was called.
  * Times are `System.nanoTime`; `attrs` are counts measured at the same
  * boundary, named as the metric they feed. */
final case class Span(id: Int, parent: Int, pass: Int, op: String, layer: String,
    t0: Long, t1: Long, attrs: Map[String, Double])

/** In-memory span buffer of the traced passes, written out when the run ends. */
final class Tracer {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 1
  var pass = 0
  var op = ""

  /** Run `f` inside a span; `attrs` sees its result and adds counts. */
  def span[A](layer: String)(f: => A)(attrs: A => Map[String, Double] = (_: A) => Map.empty[String, Double]): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    val r = try f finally stack = stack.tail
    val t1 = System.nanoTime()
    spans += Span(id, parent, pass, op, layer, t0, t1, attrs(r))
    r
  }

  /** A span whose interval was measured elsewhere (Catalyst's own phase
    * tracker): attached to the innermost recorded span that contains it. */
  def addMeasured(layer: String, t0: Long, t1: Long, within: Seq[Span]): Unit = {
    val holders = within.filter(s => s.t0 <= t0 && t1 <= s.t1)
    val parent = if (holders.isEmpty) 0 else holders.minBy(s => s.t1 - s.t0).id
    spans += Span(nextId, parent, pass, op, layer, t0, t1, Map.empty)
    nextId += 1
  }
}

/** Task, stage and job counters for the `exec.*` metrics. */
final class ExecListener extends SparkListener {
  val jobs, stages, tasks, runMs, cpuNs, gcMs, bytesRead, rowsRead, shuffleRead,
    shuffleWrite, spill = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
      rowsRead.addAndGet(m.inputMetrics.recordsRead)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot: Map[String, Double] = Map(
    "exec.jobs" -> jobs.get.toDouble, "exec.stages" -> stages.get.toDouble,
    "exec.tasks" -> tasks.get.toDouble, "exec.task_run_ms" -> runMs.get.toDouble,
    "exec.task_cpu_ms" -> cpuNs.get / 1e6, "exec.gc_ms" -> gcMs.get.toDouble,
    "exec.bytes_read" -> bytesRead.get.toDouble, "exec.rows_read" -> rowsRead.get.toDouble,
    "exec.shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "exec.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "exec.spill_bytes" -> spill.get.toDouble)
}

object ExecListener {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
