package graft.tools

/** Scale-rehearsal timer for the suffix-array pass over the FULL corpus
  * (the d14 gate query pins a fixed doc_id slice, so it cannot measure
  * corpus scaling — this times `duplicatedRegionsStaged` end to end at
  * whatever corpus the dir holds). Mirrors TimeOne's protocol: cold
  * cache, warm JVM, 3 timed runs — and (r8) TimeOne's task-metrics
  * line, so a surprising wall can be triaged as box noise (same bytes,
  * swinging task time) vs a real plan change (SCALING.md §25×). */
object SuffixScale {
  def main(args: Array[String]): Unit = {
    // SUFFIX_SHUFFLE_PARTITIONS: the r8 25× triage showed the pass
    // spills once per-partition sort working sets outgrow execution
    // memory at a FIXED 32 partitions — the knob proves the documented
    // rule (partitions ∝ data keeps working sets constant, spill gone).
    val spark = Harness.session(conf = sys.env.get("SUFFIX_SHUFFLE_PARTITIONS")
      .map("spark.sql.shuffle.partitions" -> _).toMap)
    val meter = new Harness.Meter(spark)
    val docs = graft.Tables.documents(spark, args.head)
    // SUFFIX_DIAG=1 (r11, the run3-OOM investigation): after each run —
    // post release()/clearCache()/System.gc(), i.e. at the point where a
    // warm JVM SHOULD be back to baseline — print what actually survives:
    // a jcmd class histogram (top classes by retained bytes), the
    // retained-persist count, and heap occupancy. Cross-run growth in
    // these columns names the accumulator the r10 OOM verdict needs.
    val diag = sys.env.contains("SUFFIX_DIAG")
    def heapDiag(tag: String): Unit = if (diag) {
      System.gc(); Thread.sleep(2000); System.gc() // let ContextCleaner drain
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      val persisted = spark.sparkContext.getPersistentRDDs.size
      println(f"DIAG $tag heapUsed=${mem.getUsed / 1e9}%.2f GB " +
        f"persistedRDDs=$persisted")
      try {
        val pid = ProcessHandle.current().pid()
        val p = new ProcessBuilder("jcmd", pid.toString,
          "GC.class_histogram").redirectErrorStream(true).start()
        val out = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8")
          .getLines().toList
        p.waitFor()
        out.take(32).foreach(l => println(s"DIAG $tag | $l"))
      } catch { case e: Exception =>
        println(s"DIAG $tag histogram unavailable: $e") }
    }
    heapDiag("baseline")
    (1 to 3).foreach { i =>
      spark.catalog.clearCache()
      System.gc()
      val run = meter.delta {
        val staged = graft.operators.SuffixDedup.duplicatedRegionsStaged(
          docs, "doc_id", "text", minLength = 64)
        val n = staged.df.count()
        staged.release()
        n
      }
      println(f"TIMING d14full_suffix run$i ${run.wallS}%.2f s " +
        f"regions=${run.result} ${run.tasks.columns}")
      heapDiag(s"after-run$i")
    }
    spark.stop()
  }
}
