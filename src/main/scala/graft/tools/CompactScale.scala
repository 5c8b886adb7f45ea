package graft.tools

import org.apache.spark.sql.functions._

/** Measures [[graft.operators.Ann.compactIvfIndex]] at the N× fixture:
  * build a base index, append D daily shards, time queries against the
  * fragmented index, compact, time the same queries against the folded
  * one — the row SCALING.md wants for "append history is not free at
  * read time, and compaction resets it".
  *
  * Usage: CompactScale <embDir> [days=8] [nCentroids=sqrt(n)] */
object CompactScale {
  def main(args: Array[String]): Unit = {
    val embDir = args.head
    val days = if (args.length > 1) args(1).toInt else 8
    val spark = Harness.session()
    val emb = spark.read.parquet(s"$embDir/embeddings.parquet")
    val n = emb.count()
    val nCents = if (args.length > 2) args(2).toInt
      else math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    // base = first half; each "day" appends an equal slice of the rest
    val ids = emb.select(min("vec_id"), max("vec_id")).head()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val mid = lo + (hi - lo) / 2
    val dir = java.nio.file.Files.createTempDirectory("compactscale").toString
    val t0 = System.nanoTime()
    graft.operators.Ann.buildIvfIndex(emb.where(col("vec_id") <= mid),
      "vec_id", "embedding", dir, nCentroids = nCents, seed = 42L,
      distributedFit = true)
    println(f"COMPACT base_build ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val step = math.max(1L, (hi - mid) / days)
    (0 until days).foreach { d =>
      val a = mid + 1 + d * step
      val b = if (d == days - 1) hi + 1 else a + step
      val td = System.nanoTime()
      graft.operators.Ann.appendIvfShard(
        emb.where(col("vec_id") >= a && col("vec_id") < b),
        "vec_id", "embedding", dir)
      println(f"COMPACT append_day${d + 1} ${(System.nanoTime() - td) / 1e9}%.1f s")
    }
    val queries = emb.orderBy("vec_id").limit(64)
    def probe(tag: String): Unit = (1 to 3).foreach { i =>
      spark.catalog.clearCache(); System.gc()
      val tq = System.nanoTime()
      val rows = graft.operators.Ann.queryIvfIndex(
        queries, "vec_id", "embedding", dir, k = 5, nProbe = 4).count()
      println(f"COMPACT query_$tag run$i ${(System.nanoTime() - tq) / 1e9}%.2f s ($rows rows)")
    }
    def files(): Long = {
      // resolve per call: the compact flips CURRENT to a new generation
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(
        graft.operators.Ann.resolveIvfDir(spark, dir), "postings.parquet"))
      try walk.filter(p => p.toString.endsWith(".parquet")).count()
      finally walk.close() // Files.walk holds open directory handles
    }
    println(s"COMPACT files_before ${files()}")
    probe("fragmented")
    val tc = System.nanoTime()
    val rows = graft.operators.Ann.compactIvfIndex(spark, dir)
    println(f"COMPACT compact ${(System.nanoTime() - tc) / 1e9}%.1f s ($rows rows)")
    println(s"COMPACT files_after ${files()}")
    probe("compacted")
    spark.stop()
  }
}
