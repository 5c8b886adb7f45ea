package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one dev-tool harness: every main under `graft.tools` builds its
  * session with [[Harness.session]], reads executor task counters
  * through a [[Harness.Meter]], runs its serve-under-load readers as
  * [[Harness.Readers]] and measures index dirs with the disk meter below,
  * so all tools run the same profile and count the same things the same
  * way. */
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

  /** `n` daemon reader threads, each running `body` in a loop until
    * [[stop]] — the serving side of a serve-under-load rehearsal. Every
    * finished call is logged with its wall seconds and the `phase` the
    * main had set when the call started; a value `body` returns (a
    * generation, a shard count) is kept as the call's label, `()` means
    * none. A throwing call is counted, the first error kept, and the
    * loop goes on: the rehearsal's gate is `reader_errors = 0`, checked
    * by [[requireClean]] after [[report]] has printed it. */
  final class Readers(n: Int, name: String, phase0: String,
                      clock: () => Long)(body: => Any) {
    @volatile private var current = phase0
    private val phases = new ConcurrentLinkedQueue[String]()
    phases.add(phase0)
    private val log = new ConcurrentLinkedQueue[(String, Double, Any)]()
    private val errorCount = new AtomicLong
    private val first = new AtomicReference[String]()
    private val stopped = new AtomicBoolean(false)
    private val finished = new AtomicLong

    def phase: String = current
    /** Sets the phase later calls are tagged with. */
    def phase_=(p: String): Unit = {
      if (!phases.contains(p)) phases.add(p)
      current = p
    }

    /** One reader call: time `body`, log it, count it. */
    private[graft] def once(): Unit = {
      val p = current
      val t0 = clock()
      try {
        val label = body
        log.add((p, (clock() - t0) / 1e9, label))
      } catch {
        case e: Throwable =>
          errorCount.incrementAndGet()
          first.compareAndSet(null, s"$p: $e")
      } finally finished.incrementAndGet()
    }

    private val threads = (0 until n).map { r =>
      val t = new Thread(() => while (!stopped.get()) once(), s"$name-$r")
      t.setDaemon(true); t.start(); t
    }

    /** Finished calls, failed ones included: a main that must wait for a
      * reader to plan after some event waits for this to move. */
    def completed: Long = finished.get()
    def errors: Long = errorCount.get()
    def firstError: Option[String] = Option(first.get())

    /** Ends the loops and waits for the calls in flight to finish. */
    def stop(): Unit = {
      stopped.set(true)
      threads.foreach(_.join(120000))
    }

    /** Prints, and returns, one line per phase in the order the main set
      * them — `n`, nearest-rank `p50`/`p95`, `max` wall seconds and the
      * distinct labels — then the `reader_errors=N first=…` line. Phase
      * lines are left out only when no reader ever ran. */
    def report(prefix: String): Seq[String] = {
      val byPhase = log.toArray(Array.empty[(String, Double, Any)])
        .toSeq.groupBy(_._1)
      val phaseLines =
        if (threads.isEmpty && completed == 0) Seq.empty
        else phases.toArray(Array.empty[String]).toSeq.map { p =>
          val calls = byPhase.getOrElse(p, Seq.empty)
          val s = calls.map(_._2).sorted
          def pct(q: Double) = s(math.min(s.size - 1, (q * s.size).toInt))
          val labels = calls.map(_._3).filter(_ != (())).distinct
          if (s.isEmpty) s"$prefix phase=$p n=0"
          else f"$prefix phase=$p n=${s.size} p50=${pct(0.5)}%.2f " +
            f"p95=${pct(0.95)}%.2f max=${s.last}%.2f s" +
            (if (labels.isEmpty) "" else s" labels=${labels.mkString(",")}")
        }
      val lines = phaseLines :+ (s"$prefix reader_errors=$errors " +
        s"first=${firstError.getOrElse("none")}")
      lines.foreach(println)
      lines
    }

    /** The rehearsal gate: fails the main when any reader call threw. */
    def requireClean(): Unit =
      require(errors == 0, s"$name: $errors reader errors, first: " +
        firstError.getOrElse("none"))
  }

  object Readers {
    def apply(n: Int, name: String, phase: String = "steady",
              clock: () => Long = () => System.nanoTime())
             (body: => Any): Readers =
      new Readers(n, name, phase, clock)(body)
  }

  /** Bytes of every regular file under `dir`; 0 when it does not exist. */
  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return 0L
    val walk = Files.walk(p)
    try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally walk.close() // Files.walk holds open directory handles
  }

  /** Bytes per generation directory (names starting with `prefix`) under
    * `root`. The before/after diff, [[createdBytes]], is a maintenance
    * fire's WRITE VOLUME — a number task-time noise cannot touch. */
  def genSizes(root: String, prefix: String): Map[String, Long] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(f => f.getName -> dirBytes(f.getPath)).toMap

  /** Bytes of the generations in `after` that `before` did not have. */
  def createdBytes(before: Map[String, Long],
                   after: Map[String, Long]): Long =
    after.collect { case (n, b) if !before.contains(n) => b }.sum

  /** Number of `.parquet` files under `dir` — the listing cost every
    * query or probe over that dir pays. */
  def parquetFiles(dir: Path): Long = {
    val walk = Files.walk(dir)
    try walk.filter(_.toString.endsWith(".parquet")).count()
    finally walk.close()
  }
}
