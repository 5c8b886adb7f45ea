package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import graft.tools.Harness

/** The dev-tool harness: the meter's counting and drain contract, the
  * reader loop's per-phase report and error gate, and a guard that keeps
  * session builders, task listeners and hand-rolled reader logs out of
  * the individual tools. */
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
}
