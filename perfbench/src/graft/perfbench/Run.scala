package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.jobs.RecommenderModel

/** One benchmark run: generate and self-check the inputs, start the serve
  * job twice (set-up) from the model [[prepare]] saved, score the check
  * batch through the second deployment, then drive the open-loop phase and
  * the backlog through it, check every output, and render the result.
  * A traced run traces the phase instead of running the backlog, and then
  * runs the staged nightly plane ([[Nightly]]). */
final case class Run(spark: SparkSession, name: String, seed: Long,
                     seconds: Double, trace: Boolean, work: String,
                     savedModel: String, w: Main.Workload) {
  import spark.implicits._

  private val t0 = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s: $msg")

  private var attempted = 0L
  private var failed = 0L
  private def fail(n: Long, why: String): Unit =
    if (n > 0) { failed += n; System.err.println(s"perfbench: $n failed: $why") }

  /** `df` written to parquet under the run's input directory and read back. */
  private def frame(df: DataFrame, table: String): DataFrame = {
    val path = s"$work/inputs/$table"
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private def frames(t: Gen.Tables): Serve.Frames =
    Serve.Frames(
      frame(t.books.toSeq.toDF("id", "title", "author", "rating"), "book"),
      frame(t.tags.toSeq.toDF("id", "tag"), "tag"),
      frame(t.bookTags.toSeq.toDF("bookId", "tagId", "num"), "book_tag"),
      frame(t.collects.toSeq.toDF("userId", "bookId", "isCollect", "time"), "collect"))

  /** Fit and save the model of the fixed tables into `savedModel`, in a
    * process of its own, so every measured process starts the same way:
    * cold, from the saved model. */
  def prepare(): Unit = {
    val dir = Paths.get(work, "model")
    val f = frames(Gen.tables(Gen.TableSeed))
    val t0 = System.nanoTime()
    val fitted = RecommenderModel.fit(f.book, f.tag, f.bookTag, f.collect)
    val fitS = (System.nanoTime() - t0) / 1e9
    val saveS = Serve.save(fitted, f.collect, dir.toString)
    log(f"fit $fitS%.2f s, save $saveS%.2f s")
    Files.createFile(dir.resolve("_DONE"))
    Files.createDirectories(Paths.get(savedModel).getParent)
    // another run may have published first: keep theirs
    try Files.move(dir, Paths.get(savedModel), StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.io.IOException => () }
  }

  def go(): Seq[String] = {
    val tables = Gen.tables(Gen.TableSeed)
    if (Gen.tables(Gen.TableSeed).digest != tables.digest)
      fail(1, "the input generator is not deterministic")
    val info = mutable.LinkedHashMap.empty[String, String]
    info("workload") = Json.str(name)
    info("seed") = seed.toString
    info("inputs") = Json.obj(Seq(
      "books" -> Gen.Books.toString, "tags" -> Gen.Tags.toString,
      "book_tags" -> tables.bookTags.length.toString,
      "users" -> Gen.Users.toString,
      "collects" -> tables.collects.length.toString,
      "views" -> tables.views.length.toString,
      "tag_zipf" -> Json.num(Gen.TagZipf), "book_zipf" -> Json.num(Gen.BookZipf),
      "event_user_zipf" -> Json.num(Gen.EventUserZipf),
      "payload_share" -> Json.num(if (w.firstSelect) 1.0 else Gen.PayloadShare),
      "event_new_users" -> w.firstSelect.toString,
      "digest" -> Json.str(tables.digest)))

    require(Files.exists(Paths.get(savedModel, "_DONE")), s"no prepared model in $savedModel")
    val sc = spark.sparkContext

    def answered(store: Map[String, String], u: Long): Boolean =
      store.contains(s"b_like:$u") && store.contains(s"u_similar:$u")

    // ---- set-up, twice: `RecommenderModel.load` + `startSwappable`; the
    // first deployment is stopped, the second serves
    val first = Serve.deploy(spark, savedModel, s"$work/serve-0", !w.firstSelect)
    first.stop()
    val d = Serve.deploy(spark, savedModel, s"$work/serve-1", !w.firstSelect)
    val deps = Seq(first, d)
    val heapAfterStart = Heap.checkpoint(sc) / (1024.0 * 1024.0)
    log(s"set-ups: ${deps.map(_.walls)}")

    // ---- the check batch, distinct users into an empty store: it also
    // runs the deployment's first micro-batches, which run cold
    val checkGen = new Gen.Events(seed + 1, w.firstSelect, Gen.Users * 1000L)
    val checkEvents = Iterator.continually(checkGen.next())
      .distinctBy(_.userId).take(Main.CheckEvents).toSeq
    val before = TimingKV.snapshot
    fail(checkEvents.count(e => answered(before, e.userId)),
      "check users answered before their batch")
    d.send(checkEvents, System.nanoTime(), "check")
    d.drain()
    val checked = TimingKV.snapshot
    info("serve_check_digest") = Json.str(Digest.of(checkEvents.map { e =>
      s"${e.userId} ${checked.getOrElse(s"b_like:${e.userId}", "-")} " +
        checked.getOrElse(s"u_similar:${e.userId}", "-")
    }))
    TimingKV.clear()

    // ---- warm-up: a few more drained batches, untimed. A fresh JVM's
    // batches keep getting faster for several batches as the JIT compiles
    // the batch path, and how far it got varied from run to run
    val gen = new Gen.Events(seed, w.firstSelect, Gen.Users * 10L)
    (0 until Main.WarmupBatches).foreach(_ => Serve.backlog(d, Main.WarmupEvents, gen, "warmup"))

    // ---- one open-loop phase at the workload's rate, then a standing
    // backlog. A traced run traces the phase instead of running the
    // backlog: untraced phases of half its length before and after it
    // give the tracing overhead. Every phase starts from a drained stream
    val tracer = if (!trace) {
      Serve.phase(d, "load", w.rate, seconds, gen)
      Heap.checkpoint(sc)
      Serve.backlog(d, Main.Backlog, gen, "sat")
      Heap.checkpoint(sc)
      None
    } else {
      Serve.phase(d, "untraced", w.rate, seconds / 2, gen)
      val tr = Trace.attach(sc)
      Serve.phase(d, "load", w.rate, seconds, gen)
      org.apache.spark.graftbridge.ListenerBridge.drain(sc, 30000L)
      sc.removeSparkListener(tr)
      Serve.phase(d, "untraced", w.rate, seconds / 2, gen)
      Some(tr)
    }
    log("phase done")
    d.drain()
    org.apache.spark.graftbridge.ListenerBridge.drain(sc, 30000L)
    val kv = TimingKV.snapshot
    val batches = d.batches()
    val sent = d.sentEvents
    d.stop()

    // ---- every sent event must be answered by the batch that consumed
    // it: that batch put exactly one b_like and one u_similar value per
    // event, and both keys of the event's user are in the store (read
    // right after the check batch for its events, at the end for the rest)
    val batchOf = Serve.batchOf(batches, sent)
    val wrongPuts = Serve.consumed(batches, sent)
      .collect { case (b, evs) if b.rec.puts != 2L * evs.map(_.users.size).sum => b.p.batchId }
      .toSet
    var unanswered = 0L
    sent.foreach { ev =>
      attempted += ev.users.size
      val store = if (ev.phase == "check") checked else kv
      batchOf.get(ev.offset) match {
        case None => unanswered += ev.users.size
        case Some(b) if wrongPuts(b.p.batchId) => unanswered += ev.users.size
        case Some(_) => unanswered += ev.users.count(u => !answered(store, u))
      }
    }
    fail(unanswered, "events without a KV answer from their batch")

    // ---- end-to-end metrics
    def latencies(phase: String): Seq[Double] = sent.filter(_.phase == phase)
      .flatMap(ev => batchOf.get(ev.offset)
        .map(b => (b.rec.lastPutNs - ev.dueNs) / 1e9))
    val e2e = new Metrics
    if (!trace) {
      val lat = latencies("load")
      e2e.put("setup_s", Stats.median(deps.map(_.walls.total)), "s")
      e2e.put("heap_peak_mb", Heap.peakMb, "MB")
      e2e.put("serve_p50_s", Stats.quantile(lat, 0.5), "s")
      e2e.put("serve_p99_s", Stats.quantile(lat, 0.99), "s")
      val sat = sent.filter(_.phase == "sat").flatMap { ev =>
        batchOf.get(ev.offset)
          .map(b => ev.users.size / ((b.rec.lastPutNs - ev.dueNs) / 1e9))
      }
      e2e.put("serve_sat_eps", Stats.median(sat), "events/s")
    }
    val late = sent.filter(_.phase == "load").map(ev => (ev.sentNs - ev.dueNs) / 1e9)
    info("gen_late_p99_s") = Json.num(Stats.quantile(late, 0.99))
    // the sample count behind the percentiles, and the batches they span
    info("load_events") = late.size.toString
    // a batch belongs to the phase of its first event
    val loadBatches = Serve.consumed(batches, sent)
      .collect { case (b, evs) if evs.headOption.exists(_.phase == "load") => b }
    info("load_batches") = loadBatches.size.toString

    // ---- per-layer metrics from the traced phase
    val layers = new Metrics
    tracer.foreach { tr =>
      def counters(b: Serve.Batch): Counters = tr.counters(s"batch:${b.p.batchId}")
      def p50(v: Serve.Batch => Double): Double = Stats.median(loadBatches.map(v))
      layers.put("serve.jobs.ServeJob.localize_batch.wall_s", p50(_.rec.localizeS), "s")
      layers.put("serve.jobs.ServeJob.recommend.wall_s", p50(_.rec.recommendS), "s")
      layers.put("serve.jobs.ServeJob.kv_write.wall_s", p50(_.rec.kvWriteS), "s")
      layers.put("serve.queryPlanning_s", p50(_.p.planningS), "s")
      layers.put("serve.offsets_commit_s", p50(_.p.commitS), "s")
      layers.put("serve.events_per_batch", p50(_.p.rows.toDouble), "count")
      layers.put("serve.tasks_per_batch", p50(counters(_).tasks.get.toDouble), "count")
      layers.put("serve.exec_cpu_ms_per_event",
        p50(b => counters(b).cpuNs.get / 1e6 / b.p.rows), "ms")
      val phaseSpan = tr.record("phase.load", loadBatches.map(_.rec.startNs).min,
        loadBatches.map(_.rec.endNs).max, new Counters)
      loadBatches.foreach { b =>
        tr.record(s"batch.${b.p.batchId}", b.rec.startNs, b.rec.endNs,
          counters(b), parent = phaseSpan.id)
      }
      layers.put("serve.heap_after_start_mb", heapAfterStart, "MB")
      layers.put("serve.io.KVSink.put_calls_per_event",
        loadBatches.map(_.rec.puts).sum.toDouble / math.max(1L, loadBatches.map(_.p.rows).sum),
        "ratio")
      layers.put("serve.trace_overhead_s",
        Stats.median(latencies("load")) - Stats.median(latencies("untraced")), "s")
      layers.put("serve.jobs.RecommenderModel.load.wall_s",
        Stats.median(deps.map(_.walls.loadS)), "s")
      layers.put("serve.jobs.ServeJob.startSwappable.wall_s",
        Stats.median(deps.map(_.walls.startS)), "s")

      // the nightly plane, staged layer by layer with the listener back on,
      // its daily-log part served by the deployed model
      sc.addSparkListener(tr)
      val views = frame(tables.views.toSeq.toDF("userId", "bookId"), "views")
      val nightly = Nightly.run(spark, tr, frames(tables), views, d.fitted, layers)
      sc.removeSparkListener(tr)
      attempted += nightly.attempted
      fail(nightly.failed, "nightly outputs")
      info("nightly_kv_digest") = Json.str(nightly.digest)
      log("nightly done")
      Files.write(Paths.get(work, "spans.json"), tr.json.getBytes("UTF-8"))
    }

    info("failed") = failed.toString
    Seq(
      Json.obj(info.toSeq),
      Json.obj(Seq(
        "correct" -> (failed == 0).toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> (if (trace) layers else e2e).json)))
  }
}
