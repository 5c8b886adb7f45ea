package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import graft.tools.Harness

/** The dev-tool harness: the meter's counting and drain contract, the
  * timing loop and its phase stamp, the reader loop's per-phase report
  * and error gate, the disk meter, and guards that keep session builders,
  * task listeners, hand-rolled reader logs and temp dirs out of the
  * individual tools. */
class HarnessSpec extends SparkSuite {

  test("Meter.delta counts one task per partition, and an empty delta reads zero") {
    // a slow listener registered first on the same queue holds back the
    // meter's task-end events, so only drained reads see all of them
    val slow = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Thread.sleep(50)
    }
    spark.sparkContext.addSparkListener(slow)
    val meter = new Harness.Meter(spark)
    try {
      val parts = 5
      val run = meter.delta {
        spark.sparkContext.parallelize(1 to parts, parts)
          .map { x => Thread.sleep(20); x }.collect().length
      }
      assert(run.result == parts)
      assert(run.tasks.tasks == parts, run.tasks.toString)
      assert(run.tasks.runMs > 0, run.tasks.toString)
      // every task-end event of the job above was drained into the first
      // delta, so none can leak into the next one
      val empty = meter.delta(())
      assert(empty.tasks == Harness.Tasks(0, 0, 0, 0, 0, 0, 0),
        empty.tasks.toString)
    } finally {
      spark.sparkContext.removeSparkListener(meter)
      spark.sparkContext.removeSparkListener(slow)
    }
  }

  test("Harness.runs recomputes what an earlier run persisted and meters each run alone") {
    val meter = new Harness.Meter(spark)
    try {
      // a shuffled frame the body persists: a cache hit would skip the
      // map stage, so run 2 would read fewer tasks than run 1
      val df = spark.range(0, 1000, 1, 5).repartition(3).toDF("id")
      val total = meter.delta {
        Harness.runs(meter, "spec", 2) {
          df.persist()
          df.count()
        }(n => s"rows=$n")
      }
      val Seq(r1, r2) = total.result
      assert(r1.result == 1000L && r2.result == 1000L)
      assert(r1.tasks.tasks > 0, r1.tasks.toString)
      assert(r2.tasks == r1.tasks.copy(runMs = r2.tasks.runMs,
        cpuMs = r2.tasks.cpuMs, gcMs = r2.tasks.gcMs),
        s"run 2 ${r2.tasks} vs run 1 ${r1.tasks}")
      assert(r1.tasks.tasks + r2.tasks.tasks == total.tasks.tasks)
    } finally {
      spark.catalog.clearCache()
      spark.sparkContext.removeSparkListener(meter)
    }
  }

  test("Harness.runs stamps runs 2..n with one PHASE line after the TIMING lines") {
    val meter = new Harness.Meter(spark)
    try {
      val out = new java.io.ByteArrayOutputStream
      Console.withOut(out) {
        // identical work: four tasks of a fixed sleep each
        Harness.runs(meter, "spec_phase", 3) {
          spark.sparkContext.parallelize(1 to 4, 4)
            .map { x => Thread.sleep(50); x }.count()
        }(n => s"rows=$n")
      }
      val lines = out.toString.linesIterator.toSeq
      assert(lines.count(_.startsWith("TIMING spec_phase run")) == 3,
        lines.mkString("\n"))
      val phase = lines.filter(_.startsWith("PHASE "))
      assert(phase.size == 1, lines.mkString("\n"))
      assert(phase.head.startsWith("PHASE spec_phase clean task_inflation="),
        phase.head)
      assert(lines.last == phase.head, lines.mkString("\n"))
    } finally spark.sparkContext.removeSparkListener(meter)
  }

  // the phase stamp's contract: every committed timing carries its own
  // phase evidence (per-family task-time inflation across identical
  // work, the documented signature of the box's degraded phase: task
  // 10-30× with GC flat)

  test("uniform task times across identical batches stamp clean") {
    val s = Harness.phaseStamp(Seq(
      Seq(10.0, 11.2, 10.5, 9.8, 10.9, 11.0, 10.1, 10.4, 10.2, 10.7,
        10.3, 10.6),
      Seq(101.0, 98.0, 104.0, 99.5),
      Seq(1.1, 0.9, 1.0, 1.05, 0.95, 1.0, 1.02, 0.98)))
    assert(s.phase == "clean", s.toString)
    assert(s.taskInflation < 1.5, s.toString)
  }

  test("one batch in the documented 10-30x inflation signature stamps degraded") {
    val s = Harness.phaseStamp(Seq(
      Seq(10.0, 10.5, 10.2, 9.8, 10.9, 143.0, 10.1, 10.4, 10.2, 10.7,
        10.3, 10.6)))
    assert(s.phase == "degraded", s.toString)
    assert(s.taskInflation > 10.0, s.toString)
  }

  test("inflation is judged per identical-work family, not across families") {
    // burst batches legitimately cost ~10x a steady batch — mixed into
    // one population that would false-positive every run
    val s = Harness.phaseStamp(Seq(
      Seq(10.0, 10.5, 10.2, 10.4),
      Seq(100.0, 105.0, 98.0, 102.0)))
    assert(s.phase == "clean", s.toString)
  }

  test("a 2-sample family CAN vote degraded (lower-middle median, r12 advice)") {
    // with the upper-middle median a 2-sample family's median IS its max,
    // so max/median was structurally 1.0 — a 30x-inflated batch hid
    assert(Harness.phaseStamp(Seq(Seq(10.0, 300.0))).phase == "degraded")
    // honest 2-sample jitter still stamps clean (ratio = max/min there)
    assert(Harness.phaseStamp(Seq(Seq(10.0, 12.5))).phase == "clean")
  }

  test("degenerate families (singleton, empty, zero-median) do not crash or false-positive") {
    assert(Harness.phaseStamp(Seq(Seq(5.0), Seq.empty)).phase == "clean")
    assert(Harness.phaseStamp(Seq(Seq(0.0, 0.0, 0.0))).phase == "clean")
    assert(Harness.phaseStamp(Seq.empty).phase == "clean")
  }

  test("parquetFiles counts part files, not a dir named *.parquet") {
    val root = Files.createTempDirectory("harness-pq")
    try {
      val p = Files.createDirectory(root.resolve("p.parquet"))
      Files.write(p.resolve("part-0.parquet"), Array[Byte](1))
      Files.write(p.resolve("part-1.parquet"), Array[Byte](1))
      Files.write(p.resolve("_SUCCESS"), Array.emptyByteArray)
      assert(Harness.parquetFiles(p) == 2)
      assert(Harness.parquetFiles(root) == 2)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("Explain and Time reject an unknown target before any Spark job, listing the valid ones") {
    val meter = new Harness.Meter(spark)
    try {
      for (main <- Seq[Array[String] => Unit](graft.tools.Explain.main,
          graft.tools.Time.main)) {
        val run = meter.delta(intercept[IllegalArgumentException] {
          main(Array("/nonexistent", "j1_broadcast_join_agg", "no_such_target"))
        })
        val msg = run.result.getMessage
        assert(msg.contains("unknown target(s) no_such_target"), msg)
        assert(msg.contains("j1_broadcast_join_agg"), msg)
        assert(run.tasks.tasks == 0, run.tasks.toString)
      }
      val msg = intercept[IllegalArgumentException](
        Harness.targets(Seq("lsh_pairs", "x"), Seq("lsh_pairs"))).getMessage
      assert(msg.contains("valid: lsh_pairs or a SparkEntry query"), msg)
      assert(Harness.targets(Seq("lex_serve=a,b", "j1_broadcast_join_agg"),
          Seq("lex_serve")) == Seq(Harness.Target("lex_serve", Seq("a", "b")),
        Harness.Target("j1_broadcast_join_agg", Nil)))
    } finally spark.sparkContext.removeSparkListener(meter)
  }

  test("Readers.report gives per-phase n and nearest-rank p50/p95 walls") {
    // no threads: the test drives the reader call itself, and the body
    // advances a fake clock, so every wall is known exactly
    var now = 0L
    var calls = 0
    val readers = Harness.Readers(0, "spec", phase = "a", clock = () => now) {
      calls += 1
      now += calls * 1000000000L // call k takes k seconds
      calls % 2 // label
    }
    (1 to 20).foreach(_ => readers.once()) // phase a: walls 1..20 s
    readers.phase = "b"
    (1 to 10).foreach(_ => readers.once()) // phase b: walls 21..30 s
    readers.stop()
    assert(readers.completed == 30)
    // nearest rank s(min(n-1, q*n)): a → s(10), s(19); b → s(5), s(9)
    assert(readers.report("SPEC") == Seq(
      "SPEC phase=a n=20 p50=11.00 p95=20.00 max=20.00 s labels=1,0",
      "SPEC phase=b n=10 p50=26.00 p95=30.00 max=30.00 s labels=1,0",
      "SPEC reader_errors=0 first=none"))
    readers.requireClean()
  }

  test("Readers count every failing call, keep the first error, and fail the gate") {
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val readers = Harness.Readers(1, "spec-reader") {
      val c = calls.incrementAndGet()
      if (c % 3 == 0) throw new IllegalStateException(s"call $c")
      Thread.sleep(1)
    }
    while (readers.completed < 30) Thread.sleep(5)
    readers.stop()
    val done = readers.completed
    assert(calls.get == done)
    assert(readers.errors == done / 3)
    assert(readers.firstError.contains(
      "steady: java.lang.IllegalStateException: call 3"))
    val lines = readers.report("SPEC")
    assert(lines.head.startsWith(s"SPEC phase=steady n=${done - done / 3} "))
    assert(lines.last.startsWith(s"SPEC reader_errors=${done / 3} first=steady:"))
    val gate = intercept[IllegalArgumentException](readers.requireClean())
    assert(gate.getMessage.contains("call 3"), gate.getMessage)
  }

  private def sources(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("only Harness builds a session or registers a listener in the tools") {
    val tools = sources("src/main/scala/graft/tools")
    assert(tools.exists(_.getFileName.toString == "Harness.scala"))
    val offenders = tools
      .filterNot(_.getFileName.toString == "Harness.scala")
      .filter { p =>
        val src = Files.readString(p)
        src.contains("SparkSession.builder") || src.contains("addSparkListener")
      }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("only Harness keeps a reader log in the tools") {
    val offenders = sources("src/main/scala/graft/tools")
      .filterNot(_.getFileName.toString == "Harness.scala")
      .filter(p => Files.readString(p).contains("ConcurrentLinkedQueue"))
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("the settled suffix-pairing A/B switch stays out of the sources") {
    val switch = "graft.suffix." + "pairing" + "Cache"
    val hits = sources("src").filter(p => Files.readString(p).contains(switch))
    assert(hits.isEmpty, hits.mkString(", "))
  }

  test("only Harness clears the cache or forces a GC in the tools") {
    val offenders = sources("src/main/scala/graft/tools")
      .filterNot(_.getFileName.toString == "Harness.scala")
      .filter { p =>
        val src = Files.readString(p)
        src.contains("catalog.clearCache") || src.contains("System.gc()")
      }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("the settled suffix and ANN-rehearsal env switches stay out of the sources") {
    val switches = Seq("SUFFIX_" + "DIAG", "SUFFIX_" + "SHUFFLE_PARTITIONS",
      "ANNSCALE_" + "RUNS", "ANNSCALE_" + "PATHS")
    val hits = sources("src").filter { p =>
      val src = Files.readString(p)
      switches.exists(src.contains)
    }
    assert(hits.isEmpty, hits.mkString(", "))
  }

  test("the retired serve-bench switches stay out of the sources, and only Harness makes a temp dir in the tools") {
    val switch = "SPARK_GRAFT_" + "SERVE_"
    val hits = sources("src").filter(p => Files.readString(p).contains(switch))
    assert(hits.isEmpty, hits.mkString(", "))
    val offenders = sources("src/main/scala/graft/tools")
      .filterNot(_.getFileName.toString == "Harness.scala")
      .filter(p => Files.readString(p).contains("createTempDirectory"))
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
