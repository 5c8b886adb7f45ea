package graft.tools

/** A/B harness for the r11 IVF assignment-shuffle sizing: times
  * `Ann.buildIvfIndex` (the posting build whose window shuffle is
  * ∝ vectors × centroids) on an N× embeddings replica, printing the
  * harness's task/GC/spill/shuffle columns per run. The knob under
  * test is in-plan (`assignCells` repartition from plan-stats × centroid
  * count, floor = session setting); force the OFF arm with
  *   set run/javaOptions += "-Dgraft.tuning.targetPartitionBytes=1152921504606846976"
  * (estimate never clears the floor) and the ON arm with the default.
  *
  * Usage: IvfBuildScale <embDir> [nCentroids=sqrt(n)] [runs=3]
  * Protocol: fresh index dir per run, cold cache, warm JVM — one JVM per
  * arm (run the two arms as separate sbt invocations). */
object IvfBuildScale {
  def main(args: Array[String]): Unit = {
    val embDir = args.head
    val spark = Harness.session()
    val meter = new Harness.Meter(spark)
    val emb = spark.read.parquet(s"$embDir/embeddings.parquet")
    val n = emb.count()
    val nCents = if (args.length > 1) args(1).toInt
      else math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    val runs = if (args.length > 2) args(2).toInt else 3
    val target = sys.props.getOrElse("graft.tuning.targetPartitionBytes",
      "default(64MB)")
    println(s"== $n vectors, nCentroids=$nCents, targetPartitionBytes=$target ==")
    (1 to runs).foreach { i =>
      spark.catalog.clearCache(); System.gc()
      val dir = java.nio.file.Files.createTempDirectory("ivfbuild").toString
      val run = meter.delta(graft.operators.Ann.buildIvfIndex(emb, "vec_id",
        "embedding", dir, nCentroids = nCents, seed = 42L, distributedFit = true))
      println(f"TIMING ivf_build run$i ${run.wallS}%.2f s ${run.tasks.columns}")
      // the A/B must compare identical results, not just walls — and the
      // FILE count is the write-cost driver (a dynamic-partition write
      // opens a parquet file per (task, cell) pair it sees)
      val gdir = graft.operators.Ann.resolveIvfDir(spark, dir)
      val cells = spark.read.parquet(s"$gdir/postings.parquet")
        .groupBy("cell").count().count()
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(gdir, "postings.parquet"))
      val files = try walk.filter(p => p.toString.endsWith(".parquet")).count()
        finally walk.close() // Files.walk holds open directory handles
      println(s"  cells=$cells files=$files")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    spark.stop()
  }
}
