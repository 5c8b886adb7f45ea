package graft.tools

/** Cold-cache/warm-JVM 3-run timer for any declared query (the
  * SCALING.md rehearsal workhorse). r8: each run also prints its summed
  * task metrics — the ANN rehearsal showed this box produces bimodal
  * walls on identical seeded runs, and wall-vs-taskTime is the 10-second
  * triage that separates "executed more work" (task time up: plan flip,
  * e.g. broadcast→shuffle at a threshold straddle) from "same work,
  * driver stalled" (task time flat: e.g. AQE fusing a skinny exchange
  * into a single-task stage). */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val meter = new Harness.Meter(spark)
    args.tail.foreach { n =>
      (1 to 3).foreach { i =>
        spark.catalog.clearCache() // mirror Bench: cold cache, warm JVM
        System.gc() // let ContextCleaner drop prior runs' cached blocks
        val run = meter.delta(graft.SparkEntry.queries(n)(spark, args.head).count())
        println(f"TIMING $n run$i ${run.wallS}%.2f s ${run.tasks.columns}")
      }
    }
    spark.stop()
  }
}
