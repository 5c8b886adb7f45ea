package graft.tools

import org.apache.spark.sql.functions._

/** Maintenance-UNDER-SERVE rehearsal (round 11): the zero-downtime cycle
  * the pointer-commit layout exists for. A serve loop runs continuous
  * queries against a live IVF index while (a) a COMPACT and (b) a full
  * REBUILD flip `CURRENT` with `retainSuperseded = true`, and
  * [[graft.operators.Ann.sweepIvfIndex]] deletes the old generation only
  * after the in-flight reader drains. The claim under measurement: ZERO
  * reader errors across both flips and both sweeps (planning resolves
  * the pointer, execution finishes on the retained generation), with
  * query walls staying in band. The pre-r11 in-place swap fails this
  * harness by construction — its no-manifest window is several metadata
  * ops wide and the hammer loop resolves continuously.
  *
  * Usage: runMain graft.tools.MaintainServeScale <sfDir-or-scaled-dir>
  *        [nCentroids=sqrt(n)]
  */
object MaintainServeScale {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()

    val emb = graft.Tables.embeddings(spark, args.head)
    val n = emb.count()
    val nCents = if (args.length > 1) args(1).toInt
      else math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    val ids = emb.select(min("vec_id"), max("vec_id")).head()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val mid = lo + (hi - lo) / 2
    val queries = emb.select(col("vec_id"), col("embedding")).limit(32)
      .persist(); queries.count()

    val dir = java.nio.file.Files.createTempDirectory("maintainserve").toString
    val t0 = System.nanoTime()
    graft.operators.Ann.buildIvfIndex(emb.where(col("vec_id") <= mid),
      "vec_id", "embedding", dir, nCentroids = nCents, seed = 42L,
      distributedFit = true)
    // a few appended shards so the compact has history to fold
    (0 until 3).foreach { d =>
      val step = math.max(1L, (hi - mid) / 3)
      val a = mid + 1 + d * step
      val b = if (d == 2) hi + 1 else a + step
      graft.operators.Ann.appendIvfShard(
        emb.where(col("vec_id") >= a && col("vec_id") < b),
        "vec_id", "embedding", dir)
    }
    println(f"MAINTAIN setup ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      s"(rows=$n cents=$nCents shards=base+3)")

    // serve loop: every iteration resolves the pointer (plan) and scans
    // the probed cells (execute); phase is stamped by the maintenance side.
    // The label is the generation live at query END (probed after the
    // query, one manifest read inside the wall — approximate within one
    // concurrent flip, which is all the distinct-label column needs)
    def query(): Unit = graft.operators.Ann.queryIvfIndex(
      queries, "vec_id", "embedding", dir, k = 10, nProbe = 4).count()
    query() // warm (codegen + first resolve)
    val readers = Harness.Readers(1, "serve", phase = "before") {
      query()
      graft.operators.Ann.liveIvfGeneration(spark, dir)
    }
    // drain rule: after a flip, wait for two more query COMPLETIONS — the
    // first may be the in-flight pre-flip plan finishing, the second
    // necessarily planned after the flip — then the old gen is unread
    def drainThen(tag: String)(sweep: => Unit): Unit = {
      val mark = readers.completed
      while (readers.completed < mark + 2) Thread.sleep(50)
      val ts = System.nanoTime()
      sweep
      println(f"MAINTAIN sweep_$tag ${(System.nanoTime() - ts) / 1e9}%.2f s")
    }

    Thread.sleep(3000) // a "before" band
    readers.phase = "compact"
    val tc = System.nanoTime()
    val rows = graft.operators.Ann.compactIvfIndex(
      spark, dir, retainSuperseded = true)
    println(f"MAINTAIN compact ${(System.nanoTime() - tc) / 1e9}%.1f s ($rows rows)")
    readers.phase = "post-compact"
    drainThen("compact") {
      val swept = graft.operators.Ann.sweepIvfIndex(spark, dir)
      require(swept.nonEmpty, "compact sweep found nothing to delete")
    }
    Thread.sleep(2000)
    readers.phase = "rebuild"
    val tr = System.nanoTime()
    graft.operators.Ann.buildIvfIndex(emb, "vec_id", "embedding", dir,
      nCentroids = nCents, seed = 43L, distributedFit = true,
      retainSuperseded = true)
    println(f"MAINTAIN rebuild ${(System.nanoTime() - tr) / 1e9}%.1f s")
    readers.phase = "post-rebuild"
    drainThen("rebuild") {
      val swept = graft.operators.Ann.sweepIvfIndex(spark, dir)
      require(swept.nonEmpty, "rebuild sweep found nothing to delete")
    }
    Thread.sleep(3000) // an "after" band
    readers.stop()
    readers.report("MAINTAIN")
    readers.requireClean()
    spark.stop()
  }
}
