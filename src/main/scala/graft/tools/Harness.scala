package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}
import org.apache.commons.io.FileUtils
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one dev-tool harness: every main under `graft.tools` builds its
  * session with [[Harness.session]], resolves its command-line targets
  * through [[Harness.targets]], reads executor task counters through a
  * [[Harness.Meter]], times cold-cache runs with [[Harness.runs]] (which
  * stamps each block of runs with its [[Harness.phaseStamp]]), runs its
  * serve-under-load readers as [[Harness.Readers]], writes its indexes
  * under a [[Harness.scratchDir]] and measures them with the disk meter
  * below, so all tools run the same profile and count the same things
  * the same way. */
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

  /** Summed executor task metrics, plus the jobs started and the stages
    * completed (skipped stages never run, so they are not counted). Spill
    * is memory + disk bytes spilled, the convention the SCALING.md/NOTES.md
    * triage columns use. */
  final case class Tasks(tasks: Long, runMs: Long, cpuMs: Long, gcMs: Long,
                         spillBytes: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, jobs: Long = 0,
                         stages: Long = 0) {
    def -(o: Tasks): Tasks = Tasks(tasks - o.tasks, runMs - o.runMs,
      cpuMs - o.cpuMs, gcMs - o.gcMs, spillBytes - o.spillBytes,
      shuffleReadBytes - o.shuffleReadBytes,
      shuffleWriteBytes - o.shuffleWriteBytes, jobs - o.jobs,
      stages - o.stages)

    /** The triage columns: same bytes with a swinging task time means the
      * box; changed bytes mean the plan; jobs and stages price the fixed
      * per-job cost a wall pays outside its tasks. */
    def columns: String =
      f"[jobs $jobs stages $stages " +
        f"tasks $tasks task ${runMs / 1e3}%.1f s cpu ${cpuMs / 1e3}%.1f s " +
        f"gc ${gcMs / 1e3}%.1f s spill ${spillBytes / 1e6}%.1f MB " +
        f"shufRead ${shuffleReadBytes / 1e6}%.1f MB " +
        f"shufWrite ${shuffleWriteBytes / 1e6}%.1f MB]"
  }

  /** One measured body: its result, its wall seconds (the body alone, not
    * the bus drains around it) and the tasks that ran while it did. */
  final case class Metered[T](result: T, wallS: Double, tasks: Tasks)

  /** Sums the task metrics of every task that ends in the session's
    * process, and counts its job starts and stage completions. Listener
    * events arrive asynchronously, so every read drains the listener bus
    * first; without that, events that arrive late would be counted in the
    * next measurement's columns. */
  final class Meter(val spark: SparkSession) extends SparkListener {
    private val tasks, runMs, cpuNs, gcMs, spill, shufRead, shufWrite, jobs,
      stages = new AtomicLong
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()

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
        spill.get, shufRead.get, shufWrite.get, jobs.get, stages.get)
    }

    def delta[T](body: => T): Metered[T] = {
      val before = snapshot()
      val t0 = System.nanoTime()
      val result = body
      val wallS = (System.nanoTime() - t0) / 1e9
      Metered(result, wallS, snapshot() - before)
    }
  }

  /** `n` cold-cache runs of `body` in a warm JVM — `graft.Bench`'s timing
    * protocol, and the only place a tool clears the cache. Before each run
    * the session's cache is cleared and a GC lets the ContextCleaner drop
    * the blocks earlier runs persisted, so no run reads another's cache.
    * Each run is metered on its own and prints
    * `TIMING <label> run<i> <wall> s <note> [tasks …]`; `note` renders the
    * run's result after its wall is taken.
    * Read the median of runs 2..n as the steady state. Runs 2..n are one
    * family of identical work, so after the `TIMING` lines one
    * `PHASE <label> clean|degraded task_inflation=<x>` line stamps the
    * block with its [[phaseStamp]]: a degraded block's walls measure the
    * box, not the code. */
  def runs[T](meter: Meter, label: String, n: Int)(body: => T)
             (note: T => String): Seq[Metered[T]] = {
    val all = (1 to n).map { i =>
      meter.spark.catalog.clearCache()
      System.gc()
      val run = meter.delta(body)
      println(f"TIMING $label run$i ${run.wallS}%.2f s " +
        s"${note(run.result)} ${run.tasks.columns}")
      run
    }
    val stamp = phaseStamp(Seq(all.drop(1).map(_.tasks.runMs / 1e3)))
    println(f"PHASE $label ${stamp.phase} " +
      f"task_inflation=${stamp.taskInflation}%.2f")
    all
  }

  /** Phase evidence for one block of measurements: the box's documented
    * degraded phase shows summed TASK time inflating 10-30× on identical
    * work with GC flat (r10/r11 NOTES) — so the self-qualifying signal is
    * max/median task seconds across runs of identical work, maxed over
    * the families measured. Clean blocks land well under
    * [[PhaseThreshold]]; the degraded phase lands far above it. */
  final case class PhaseStamp(phase: String, taskInflation: Double)

  /** Max tolerated per-family max/median task-time ratio before a block
    * is stamped degraded. Clean-phase identical runs vary by tens of
    * percent; the degraded phase inflates 10-30× — the threshold sits an
    * order of magnitude under the failure signature and well above
    * honest jitter. */
  val PhaseThreshold = 4.0

  /** Stamp a block from its per-family per-run summed task seconds (a
    * family = runs of identical work). Families with fewer than 2
    * samples carry no ratio and are skipped. The median is the LOWER
    * middle element (r12 ADVICE): with the upper middle, a 2-sample
    * family's median IS its max, so max/median is structurally 1.0 and
    * the family can never vote degraded even when one run inflated 30× —
    * the lower middle keeps every admitted family able to detect
    * inflation (for n=2 the ratio degrades to max/min, strictly more
    * sensitive, never less). */
  def phaseStamp(families: Seq[Seq[Double]]): PhaseStamp = {
    val ratios = families.filter(_.size >= 2).map { f =>
      val s = f.sorted
      val med = s((s.size - 1) / 2)
      if (med > 0) s.last / med else 1.0
    }
    val worst = if (ratios.isEmpty) 1.0 else ratios.max
    PhaseStamp(if (worst <= PhaseThreshold) "clean" else "degraded", worst)
  }

  /** A command-line target: `name`, or `name=p1,p2,…` with parameters. */
  final case class Target(name: String, params: Seq[String])

  /** Parses a tool's target arguments. A name must be one of the tool's
    * `own` targets or a [[graft.SparkEntry]] query; any other fails here,
    * before the tool builds a session or runs a job, with the valid names
    * listed. */
  def targets(args: Seq[String], own: Seq[String]): Seq[Target] = {
    val queries = graft.SparkEntry.queries.keySet
    val parsed = args.map(_.split("=", 2) match {
      case Array(n, p) => Target(n, p.split(",").toSeq)
      case Array(n) => Target(n, Nil)
    })
    val unknown =
      parsed.map(_.name).filterNot(n => own.contains(n) || queries(n))
    require(unknown.isEmpty, s"unknown target(s) ${unknown.mkString(", ")}; " +
      s"valid: ${own.mkString(", ")} or a SparkEntry query " +
      s"(${queries.toSeq.sorted.mkString(", ")})")
    parsed
  }

  /** The IVF cell count the tools size an index of `n` vectors with:
    * ~√n, at least 16. */
  def sqrtCells(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)

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
    * query or probe over that dir pays. Directories are not counted,
    * `dir` itself included (a postings root is named `postings.parquet`). */
  def parquetFiles(dir: Path): Long = {
    val walk = Files.walk(dir)
    try walk.filter(p => Files.isRegularFile(p) &&
      p.toString.endsWith(".parquet")).count()
    finally walk.close()
  }

  /** A fresh temp dir under `java.io.tmpdir`, deleted when the JVM exits —
    * the one place a tool makes one, so no run leaves its indexes on
    * disk. A tool that builds one per run may delete it sooner. */
  def scratchDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toFile
    sys.addShutdownHook(FileUtils.deleteQuietly(dir))
    dir.toString
  }
}
