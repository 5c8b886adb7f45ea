package graft.tools

import graft.operators.Ann

/** Scratch diagnostic for the bimodal ivfTopK timing observed in the r8
  * AnnScale reruns (~4 s fast mode vs ~34 s slow mode on the SAME seeded
  * computation): per-run wall time vs summed task metrics (run time, GC,
  * spill, shuffle) to localize the slow mode (executor compute? GC?
  * spill? or driver/scheduler gap = wall − task/32).
  */
object AnnVariance {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/scale10x")
    val spark = Harness.session()

    val meter = new Harness.Meter(spark)

    // watchdog: when a run stalls past 12 s, dump driver thread stacks —
    // the task-metrics runs showed the slow mode is a no-tasks-running
    // driver gap, so the answer is in whatever thread is (or isn't) busy
    @volatile var runStart = 0L
    @volatile var dumped = false
    val watchdog = new Thread(() => {
      while (true) {
        Thread.sleep(500)
        val rs = runStart
        if (rs > 0 && !dumped && (System.nanoTime() - rs) / 1e9 > 12) {
          dumped = true
          println("==== WATCHDOG DUMP (run > 12 s) ====")
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
            if (st.nonEmpty && t.getState != Thread.State.WAITING ||
                t.getName.contains("main") || t.getName.contains("cleaner") ||
                t.getName.contains("dag")) {
              println(s"-- ${t.getName} [${t.getState}]")
              st.take(12).foreach(f => println(s"     $f"))
            }
          }
          println("==== END DUMP ====")
        }
      }
    })
    watchdog.setDaemon(true); watchdog.start()

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val cents = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    println(s"== $n vectors, $cents centroids ==")
    (1 to 6).foreach { i =>
      spark.catalog.clearCache(); System.gc()
      dumped = false
      val run = meter.delta {
        runStart = System.nanoTime()
        val out = Ann.ivfTopK(emb, "vec_id", "embedding", k = 5,
          nCentroids = cents, nProbe = 4)
        val rows = out.count(); out.unpersist(true)
        runStart = 0L
        rows
      }
      println(f"run$i wall=${run.wallS}%.2f s rows=${run.result} " +
        run.tasks.columns)
    }
    spark.stop()
  }
}
