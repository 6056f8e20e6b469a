package bench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Whole-session Spark work counters, fed by a listener the benchmark
  * registers: jobs, stages, tasks, shuffle and input bytes, bytes written
  * and executor run time. Reads are only attributable to one call when no
  * other call runs concurrently, so spans that carry counts are taken from
  * a single thread. */
final class Counters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val inputBytes = new AtomicLong
  val outputBytes = new AtomicLong
  val runTimeMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      runTimeMs.addAndGet(m.executorRunTime)
    }
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "shuffle_bytes" -> (shuffleReadBytes.get + shuffleWriteBytes.get),
    "shuffle_write_bytes" -> shuffleWriteBytes.get,
    "input_bytes" -> inputBytes.get, "output_bytes" -> outputBytes.get,
    "run_time_ms" -> runTimeMs.get)
}

/** One timed call into a layer: name, start and end (ns, monotonic), the
  * span that caused it, the request it belongs to, and the Spark work the
  * listener counted while it ran. */
final case class Span(id: Int, parent: Int, request: Int, name: String,
                      startNs: Long, endNs: Long, counts: Map[String, Long]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. With `enabled` false a span is a bare timer:
  * no listener drain, nothing kept — the end-to-end runs measure with
  * tracing off. Spans are written out once, at the end of the run. */
final class Tracer(val enabled: Boolean, sc: SparkContext, counters: Counters) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private val requestId = new ThreadLocal[Int] { override def initialValue = 0 }
  private var nextId = 0

  /** Runs `f` with every span it records tagged with request `id`: the
    * spans of one served request, or of one mutation cycle, share it. */
  def inRequest[A](id: Int)(f: => A): A = {
    val prev = requestId.get
    requestId.set(id)
    try f finally requestId.set(prev)
  }

  /** Times `f`; when tracing, records a span with the listener deltas.
    * Returns the result and the wall time in ms. */
  def span[A](name: String)(f: => A): (A, Double) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = f
      return (r, (System.nanoTime() - t0) / 1e6)
    }
    org.apache.spark.BenchBus.drain(sc)
    val before = counters.snapshot
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    val r = try f finally stack.set(stack.get.tail)
    val t1 = System.nanoTime()
    org.apache.spark.BenchBus.drain(sc)
    val after = counters.snapshot
    val s = Span(id, parent, requestId.get, name, t0, t1,
      after.map { case (k, v) => k -> (v - before(k)) })
    synchronized { spans += s }
    (r, s.ms)
  }

  def all: Seq[Span] = synchronized(spans.toList)
  def named(name: String): Seq[Span] = all.filter(_.name == name)
}
