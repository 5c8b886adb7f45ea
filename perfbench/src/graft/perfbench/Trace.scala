package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters for one span: what its Spark jobs did. */
final class Counters {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val shuffleWriteRecords = new AtomicLong
  val spillBytes = new AtomicLong
}

/** One traced span: a rate phase, a micro-batch within one, or a layer
  * call of the staged nightly plane. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, c: Counters)

/** Attributes Spark jobs and their tasks to spans by a local property of
  * the submitting thread: the batch id Spark sets on every job of a
  * streaming micro-batch, or the span name [[span]] sets around a layer
  * call. Read counters only after the listener bus drained: task events
  * arrive asynchronously. Spans are kept in memory. */
final class Trace extends SparkListener {
  import Trace._

  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val byKey = new ConcurrentHashMap[String, Counters]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicInteger(0)

  def counters(key: String): Counters = byKey.computeIfAbsent(key, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap { p =>
      Option(p.getProperty(BatchKey)).map(b => s"batch:$b")
        .orElse(Option(p.getProperty(SpanKey)).map(n => s"span:$n"))
    }.foreach { key =>
      counters(key).jobs.incrementAndGet()
      e.stageIds.foreach(s => stageKey.put(s, key))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val key = stageKey.get(e.stageId)
    val m = e.taskMetrics
    if (key != null && m != null) {
      val c = counters(key)
      c.tasks.incrementAndGet()
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleWriteRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def record(name: String, startNs: Long, endNs: Long, c: Counters,
             parent: Int = -1): Span = {
    val s = Span(nextId.getAndIncrement(), parent, name, startNs, endNs, c)
    spans.synchronized(spans += s)
    s
  }

  /** Run `body` on this thread with every job it submits attributed to
    * span `name`, and record the span. `body` persists and counts what it
    * builds, so its work happens inside the span and spans never overlap.
    * Spans of one name share their counters. */
  def span[T](sc: SparkContext, name: String)(body: => T): T = {
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      record(name, t0, System.nanoTime(), counters(s"span:$name"))
      sc.setLocalProperty(SpanKey, null)
    }
  }

  /** Summed wall of every span named `name`. */
  def wallS(name: String): Double =
    spans.synchronized(spans.toList).filter(_.name == name)
      .map(s => (s.endNs - s.startNs) / 1e9).sum

  /** Every span as one JSON document. */
  def json: String = spans.synchronized(spans.toList).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${s.c.jobs.get},""" +
      s""""tasks":${s.c.tasks.get},"cpu_ns":${s.c.cpuNs.get},""" +
      s""""shuffle_write_bytes":${s.c.shuffleWriteBytes.get},""" +
      s""""shuffle_write_records":${s.c.shuffleWriteRecords.get},""" +
      s""""spill_bytes":${s.c.spillBytes.get}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  // set by MicroBatchExecution on every job of a streaming micro-batch
  val BatchKey = "streaming.sql.batchId"
  // set by [[Trace.span]]
  val SpanKey = "perfbench.span"

  def attach(sc: SparkContext): Trace = {
    val t = new Trace
    sc.addSparkListener(t)
    t
  }
}

/** Metric set: name → (value, unit), kept in insertion order. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
  def json: String = m.map { case (k, (v, u)) =>
    s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}"""
  }.mkString("{", ", ", "}")
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Peak heap in use after a full collection, sampled at checkpoints. */
object Heap {
  @volatile private var peak = 0L

  /** Heap in use once pending listener events (a stopped stream releases
    * its serve index from one) and Spark's cleaner have run. */
  def checkpoint(sc: SparkContext): Long = {
    org.apache.spark.graftbridge.ListenerBridge.drain(sc, 30000L)
    System.gc()
    Thread.sleep(100)  // the ContextCleaner frees what the first GC queued
    System.gc()
    val rt = Runtime.getRuntime
    val used = rt.totalMemory() - rt.freeMemory()
    if (used > peak) peak = used
    used
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
