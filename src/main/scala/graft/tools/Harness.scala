package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one dev-tool harness: every main under `graft.tools` builds its
  * session with [[Harness.session]] and reads executor task counters
  * through a [[Harness.Meter]], so all tools run the same profile and
  * count the same things the same way. */
object Harness {

  /** The dev-tool session profile — `graft.Bench`'s conf set:
    * `local[cores]`, shuffle partitions = cores, AQE on, parquet NANOS
    * timestamps read as longs, UTC session time zone, no UI, log level
    * ERROR. `conf` entries override or extend it; pass one only where a
    * tool needs a different value (e.g. a shuffle-partition sweep). */
  def session(cores: Int = 32,
              conf: Map[String, String] = Map.empty): SparkSession = {
    val base = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Summed executor task metrics. Spill is memory + disk bytes spilled,
    * the convention the SCALING.md/NOTES.md triage columns use. */
  final case class Tasks(tasks: Long, runMs: Long, cpuMs: Long, gcMs: Long,
                         spillBytes: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long) {
    def -(o: Tasks): Tasks = Tasks(tasks - o.tasks, runMs - o.runMs,
      cpuMs - o.cpuMs, gcMs - o.gcMs, spillBytes - o.spillBytes,
      shuffleReadBytes - o.shuffleReadBytes,
      shuffleWriteBytes - o.shuffleWriteBytes)

    /** The triage columns: same bytes with a swinging task time means the
      * box; changed bytes mean the plan. */
    def columns: String =
      f"[tasks $tasks task ${runMs / 1e3}%.1f s cpu ${cpuMs / 1e3}%.1f s " +
        f"gc ${gcMs / 1e3}%.1f s spill ${spillBytes / 1e6}%.1f MB " +
        f"shufRead ${shuffleReadBytes / 1e6}%.1f MB " +
        f"shufWrite ${shuffleWriteBytes / 1e6}%.1f MB]"
  }

  /** One measured body: its result, its wall seconds (the body alone, not
    * the bus drains around it) and the tasks that ran while it did. */
  final case class Metered[T](result: T, wallS: Double, tasks: Tasks)

  /** Sums the task metrics of every task that ends in the session's
    * process. Task-end events reach listeners asynchronously, so every
    * read drains the listener bus first; without that, events that arrive
    * late would be counted in the next measurement's columns. */
  final class Meter(spark: SparkSession) extends SparkListener {
    private val tasks, runMs, cpuNs, gcMs, spill, shufRead, shufWrite =
      new AtomicLong
    spark.sparkContext.addSparkListener(this)

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        tasks.incrementAndGet()
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }

    /** Totals since the meter was registered, read after a bus drain. A
      * drain that times out prints a warning and reads anyway: a stuck
      * bus should not hang a tool. */
    def snapshot(): Tasks = {
      if (!ListenerBridge.drain(spark.sparkContext, 10000L))
        println("HARNESS_WARN listener bus drain timed out — task " +
          "columns may lag one measurement")
      Tasks(tasks.get, runMs.get, cpuNs.get / 1000000L, gcMs.get,
        spill.get, shufRead.get, shufWrite.get)
    }

    def delta[T](body: => T): Metered[T] = {
      val before = snapshot()
      val t0 = System.nanoTime()
      val result = body
      val wallS = (System.nanoTime() - t0) / 1e9
      Metered(result, wallS, snapshot() - before)
    }
  }
}
