package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed interval at a layer boundary. `parent` is the id of the
  * enclosing span (-1 for a cell's root span); `cell` ties every span of
  * one cell together. Times are `System.nanoTime` readings. */
final case class Span(
    id: Int,
    parent: Int,
    cell: Int,
    name: String,
    t0: Long,
    t1: Long,
    attrs: Seq[(String, Double)])

/** In-memory span recorder. `enabled` is set for a traced run; within it
  * `active` is switched per cell, so a traced run can also time untraced
  * cells to measure the tracing overhead. Inactive, `span` runs its body
  * and records nothing. Spans are kept in memory and written out once,
  * when the run ends. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  var cell: Int = -1
  var active: Boolean = false

  def span[T](name: String)(body: => T): T = span[T](name, null: T => Seq[(String, Double)])(body)

  /** A span whose attributes are read off the body's result. */
  def span[T](name: String, attrs: T => Seq[(String, Double)])(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      val out =
        try body
        finally open = open.tail
      val t1 = System.nanoTime()
      spans += Span(id, parent, cell, name, t0, t1,
        if (attrs == null) Nil else attrs(out))
      out
    }

  /** Adds attributes to the span recorded most recently under `name` in
    * the current cell (used for counts measured after the span closed). */
  def annotate(name: String, attrs: Seq[(String, Double)]): Unit =
    if (active) {
      val i = spans.lastIndexWhere(s => s.cell == cell && s.name == name)
      if (i >= 0) spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
    }
}

/** Spark-side counters from a listener in the benchmark's own code. */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Counter values once every posted event has been delivered. */
  def snapshot(sc: SparkContext): Array[Long] = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    Array(jobs.get, cpuNs.get, shuffleBytes.get, spillBytes.get)
  }

  /** Span attributes for the Spark work done between two snapshots. */
  def delta(before: Array[Long], after: Array[Long]): Seq[(String, Double)] = Seq(
    "jobs" -> (after(0) - before(0)).toDouble,
    "task_cpu_s" -> (after(1) - before(1)) / 1e9,
    "shuffle_mb" -> (after(2) - before(2)) / 1048576.0,
    "spill_mb" -> (after(3) - before(3)) / 1048576.0)
}
