package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import graft.tools.Harness

/** The dev-tool harness: the meter's counting and drain contract, and a
  * guard that keeps session builders and task listeners out of the
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

  test("the settled suffix-pairing A/B switch stays out of the sources") {
    val switch = "graft.suffix." + "pairing" + "Cache"
    val hits = sources("src").filter(p => Files.readString(p).contains(switch))
    assert(hits.isEmpty, hits.mkString(", "))
  }
}
