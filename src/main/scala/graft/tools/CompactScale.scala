package graft.tools

import org.apache.spark.sql.functions._

/** Measures [[graft.operators.Ann.compactIvfIndex]] at the N× fixture:
  * build a base index, append D daily shards, time queries against the
  * fragmented index, compact, time the same queries against the folded
  * one — the row SCALING.md wants for "append history is not free at
  * read time, and compaction resets it". Ends by timing a full rebuild
  * over the whole corpus: `rebuild_s` against the median daily append
  * wall is the operational saving the append path buys (the 100 TB
  * shape grows the index by O(delta), never O(corpus)).
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
    val appendWalls = (0 until days).map { d =>
      val a = mid + 1 + d * step
      val b = if (d == days - 1) hi + 1 else a + step
      val td = System.nanoTime()
      graft.operators.Ann.appendIvfShard(
        emb.where(col("vec_id") >= a && col("vec_id") < b),
        "vec_id", "embedding", dir)
      val wall = (System.nanoTime() - td) / 1e9
      println(f"COMPACT append_day${d + 1} $wall%.1f s")
      wall
    }
    val queries = emb.orderBy("vec_id").limit(64)
    def probe(tag: String): Unit = (1 to 3).foreach { i =>
      spark.catalog.clearCache(); System.gc()
      val tq = System.nanoTime()
      val rows = graft.operators.Ann.queryIvfIndex(
        queries, "vec_id", "embedding", dir, k = 5, nProbe = 4).count()
      println(f"COMPACT query_$tag run$i ${(System.nanoTime() - tq) / 1e9}%.2f s ($rows rows)")
    }
    // resolve per call: the compact flips CURRENT to a new generation
    def files(): Long = Harness.parquetFiles(java.nio.file.Paths.get(
      graft.operators.Ann.resolveIvfDir(spark, dir), "postings.parquet"))
    println(s"COMPACT files_before ${files()}")
    probe("fragmented")
    val tc = System.nanoTime()
    val rows = graft.operators.Ann.compactIvfIndex(spark, dir)
    println(f"COMPACT compact ${(System.nanoTime() - tc) / 1e9}%.1f s ($rows rows)")
    println(s"COMPACT files_after ${files()}")
    probe("compacted")
    val rebuildDir =
      java.nio.file.Files.createTempDirectory("compactscale-rebuild").toString
    val tr = System.nanoTime()
    graft.operators.Ann.buildIvfIndex(emb, "vec_id", "embedding", rebuildDir,
      nCentroids = nCents, seed = 42L, distributedFit = true)
    val rebuildS = (System.nanoTime() - tr) / 1e9
    val appendMed = appendWalls.sorted.apply(appendWalls.length / 2)
    println(f"COMPACT rebuild_s=$rebuildS%.1f append_day_med=$appendMed%.1f s " +
      f"saving=${rebuildS / appendMed}%.1fx (n=$n)")
    spark.stop()
  }
}
