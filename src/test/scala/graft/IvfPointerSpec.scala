package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

/** r11 zero-blip maintenance pins: the persisted IVF index commits
  * rebuilds/compactions by atomically repointing `dir/CURRENT` at a fresh
  * generation directory, so there is NO reader-visible window — the
  * pre-r11 in-place swap exposed a no-manifest gap of a few metadata ops
  * that a continuously-resolving reader WILL hit. Also pins that every
  * reader and writer refuses the root layout (components and manifest at
  * the root, no CURRENT) without touching it, and orphan-generation
  * cleanup after a crashed build. */
class IvfPointerSpec extends SparkSuite {

  private def emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

  private def served(dir: String) = graft.operators.Ann.queryIvfIndex(
      emb.where(col("vec_id") < 10), "vec_id", "embedding", dir,
      k = 5, nProbe = 8)
    .select(col("query_id"), col("neighbor_id"),
      round(col("cosine"), 6).as("c"), col("rank"))
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getInt(3))).toSet

  test("rebuild flips CURRENT with no reader-visible window; superseded generation is cleaned") {
    val dir = java.nio.file.Files.createTempDirectory("ivfptr").toString
    graft.operators.Ann.buildIvfIndex(emb.where(col("vec_id") < 400),
      "vec_id", "embedding", dir, nCentroids = 8, seed = 42L)
    val gen1 = graft.operators.Ann.liveIvfGeneration(spark, dir)
    // a reader loop hammering the resolve+manifest+marker path for the
    // whole duration of a rebuild: every observation must be a fully
    // committed generation — never a torn/missing manifest (the blip the
    // pointer flip exists to remove)
    val observed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val readerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get() && readerErr.get() == null) {
        try observed.add(graft.operators.Ann.liveIvfGeneration(spark, dir))
        catch { case t: Throwable => readerErr.set(t) }
      }
    })
    reader.setDaemon(true)
    reader.start()
    try {
      // full rebuild over a grown corpus, same root — the maintenance op
      graft.operators.Ann.buildIvfIndex(emb, "vec_id", "embedding", dir,
        nCentroids = 8, seed = 43L)
    } finally {
      stop.set(true)
      reader.join(10000)
    }
    assert(readerErr.get() == null,
      s"reader observed a torn window during rebuild: ${readerErr.get()}")
    val gen2 = graft.operators.Ann.liveIvfGeneration(spark, dir)
    assert(gen2 != gen1, "rebuild must produce a fresh generation")
    assert(observed.size() <= 2 && observed.contains(gen1),
      s"readers must only ever see committed generations: $observed")
    // superseded generation dir is gone; exactly one gen-* remains
    val gens = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
      .map(_.getName).toSeq
    assert(gens == Seq(s"gen-$gen2"),
      s"old generation must be cleaned after the flip: $gens")
    // and the rebuilt index serves (full probe == brute force over corpus)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(graft.operators.Ann.queryIvfIndex(
        emb.where(col("vec_id") < 5), "vec_id", "embedding", dir,
        k = 3, nProbe = 8)) ==
      rows(graft.operators.Ann.bruteForceTopK(
        emb.where(col("vec_id") < 5), emb, "vec_id", "embedding", k = 3)))
  }

  test("a root-layout index (components at the root, no CURRENT) is refused by query, append, compact and sweep, and left as it was") {
    val dir = java.nio.file.Files.createTempDirectory("ivfroot").toString
    graft.operators.Ann.buildIvfIndex(emb.where(col("vec_id") < 400),
      "vec_id", "embedding", dir, nCentroids = 8, seed = 42L)
    // demote to the root layout: move the generation's contents to the
    // root and drop the pointer
    val gdir = new java.io.File(
      graft.operators.Ann.resolveIvfDir(spark, dir))
    gdir.listFiles().foreach { f =>
      assert(f.renameTo(new java.io.File(dir, f.getName)))
    }
    assert(gdir.delete())
    new java.io.File(dir, "CURRENT").delete()
    new java.io.File(dir, ".CURRENT.crc").delete()
    def listing(): Seq[(String, Long)] = {
      val root = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.map(p =>
          (root.relativize(p).toString, p.toFile.length())).toList.sorted
      finally walk.close()
    }
    val before = listing()
    val calls = Seq[(String, () => Any)](
      "queryIvfIndex" -> (() => served(dir)),
      "appendIvfShard" -> (() => graft.operators.Ann.appendIvfShard(
        emb.where(col("vec_id") >= 400 && col("vec_id") < 450),
        "vec_id", "embedding", dir)),
      "compactIvfIndex" ->
        (() => graft.operators.Ann.compactIvfIndex(spark, dir)),
      "sweepIvfIndex" -> (() => graft.operators.Ann.sweepIvfIndex(spark, dir)))
    calls.foreach { case (name, call) =>
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains("buildIvfIndex"), s"$name: ${e.getMessage}")
    }
    assert(listing() == before,
      "a refused index must be neither written nor deleted")
  }

  test("retainSuperseded + sweep: queries planned before the flip finish on the old generation") {
    val dir = java.nio.file.Files.createTempDirectory("ivfretain").toString
    graft.operators.Ann.buildIvfIndex(emb.where(col("vec_id") < 400),
      "vec_id", "embedding", dir, nCentroids = 8, seed = 42L)
    val gen1 = graft.operators.Ann.liveIvfGeneration(spark, dir)
    // an in-flight reader: planned (and file-listed) against gen1, but
    // not yet executed — the serving loop's shape at a batch boundary
    val inFlight = graft.operators.Ann.queryIvfIndex(
      emb.where(col("vec_id") < 10), "vec_id", "embedding", dir,
      k = 5, nProbe = 8)
    val expect = served(dir)
    assert(graft.operators.Ann.compactIvfIndex(
      spark, dir, retainSuperseded = true) == 400L)
    val gen2 = graft.operators.Ann.liveIvfGeneration(spark, dir)
    assert(gen2 != gen1)
    // the pre-flip plan executes to completion on the retained generation
    assert(inFlight
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("c"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet == expect,
      "in-flight query must finish on the retained old generation")
    // both generations are on disk until the sweep
    def gens() = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
      .map(_.getName).toSet
    assert(gens() == Set(s"gen-$gen1", s"gen-$gen2"),
      s"retainSuperseded must keep the old generation: ${gens()}")
    val swept = graft.operators.Ann.sweepIvfIndex(spark, dir)
    assert(swept.contains(s"gen-$gen1"), s"sweep must report the old gen: $swept")
    assert(gens() == Set(s"gen-$gen2"), s"sweep must delete it: ${gens()}")
    assert(served(dir) == expect, "results changed across retain+sweep")
    // idempotent: a second sweep deletes nothing
    assert(graft.operators.Ann.sweepIvfIndex(spark, dir).isEmpty)
  }

  test("a crashed fallback flip leaves .CURRENT.old as the sole pointer: still resolves, healed by the next maintenance") {
    val dir = java.nio.file.Files.createTempDirectory("ivfaside").toString
    graft.operators.Ann.buildIvfIndex(emb.where(col("vec_id") < 400),
      "vec_id", "embedding", dir, nCentroids = 4, seed = 42L)
    val gen1 = graft.operators.Ann.liveIvfGeneration(spark, dir)
    val expect = served(dir)
    // simulate the non-atomic fallback dying between its aside-rename and
    // the new pointer landing: the previous pointer sits at .CURRENT.old,
    // CURRENT is gone, the generation itself is untouched
    assert(new java.io.File(dir, "CURRENT").renameTo(
      new java.io.File(dir, ".CURRENT.old")))
    assert(graft.operators.Ann.liveIvfGeneration(spark, dir) == gen1,
      "readers must fall back to the aside pointer after a torn flip")
    assert(served(dir) == expect)
    // the next maintenance heals: a fresh CURRENT lands and the aside
    // pointer is swept (it is only garbage once CURRENT exists again)
    graft.operators.Ann.compactIvfIndex(spark, dir)
    assert(new java.io.File(dir, "CURRENT").isFile)
    assert(!new java.io.File(dir, ".CURRENT.old").exists(),
      "stale aside pointer must be swept once CURRENT exists")
    assert(served(dir) == expect, "recovery changed query results")
  }

  test("a crashed build's orphan generation is invisible and swept by the next successful maintenance") {
    val dir = java.nio.file.Files.createTempDirectory("ivforphan").toString
    graft.operators.Ann.buildIvfIndex(emb.where(col("vec_id") < 400),
      "vec_id", "embedding", dir, nCentroids = 4, seed = 42L)
    val gen1 = graft.operators.Ann.liveIvfGeneration(spark, dir)
    val expect = served(dir)
    // a build that died mid-write: a generation dir with no manifest,
    // CURRENT untouched
    val orphan = new java.io.File(dir, "gen-00000000-dead-beef-0000-0000crash")
    assert(orphan.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(orphan, "partial.bin").toPath, Array[Byte](1, 2, 3))
    // invisible: the pointer still names the committed generation
    assert(graft.operators.Ann.liveIvfGeneration(spark, dir) == gen1)
    assert(served(dir) == expect)
    // the next maintenance sweeps it
    graft.operators.Ann.compactIvfIndex(spark, dir)
    assert(!orphan.exists(),
      "orphan generation must be swept by post-flip cleanup")
    assert(served(dir) == expect, "compact changed query results")
  }
}
