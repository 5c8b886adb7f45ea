package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.io.{AtomicPointer, GenerationPointer}

/** Pins for the generation-pointer protocol the IVF index and the
  * generation-log families share: the pointer read under a racing
  * non-atomic flip, the codec, the tier rule each family folds by, the
  * superseded-generation sweep (and IVF's refusal of a manifest in the
  * older single-source provenance form), and the rules that only `io/`
  * touches the pointer primitive and only Ann names the IVF pointer and
  * shard markers. */
class GenerationPointerSpec extends SparkSuite {

  private val Folded = GenerationPointer("FOLDED", "base-", watermarked = true)
  private val Current = GenerationPointer("CURRENT", "gen-", watermarked = false)

  private def hadoopPath(s: String) = new org.apache.hadoop.fs.Path(s)

  test("read returns the new pointer when a non-atomic flip completes between the primary and aside probes") {
    val dir = Files.createTempDirectory("ptrskew").toString
    val primary = hadoopPath(s"$dir/PTR")
    val aside = hadoopPath(s"$dir/.PTR.old")
    val tmp = hadoopPath(s"$dir/.PTR.tmp.pending")
    // RawLocalFileSystem under a scheme with no AbstractFileSystem
    // binding: the flip's non-atomic fallback. The fixture stops a flip
    // after its first rename (primary moved aside, new content in tmp);
    // the reader's aside probe is what lets the flip finish (tmp ->
    // primary, aside deleted), so that probe misses although a pointer
    // existed the whole time.
    var pending = false
    val fs = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def getUri: java.net.URI = java.net.URI.create("graftnoafs:///")
      override def exists(p: org.apache.hadoop.fs.Path): Boolean = {
        if (pending && p.toUri.getPath == aside.toUri.getPath) {
          pending = false
          assert(rename(tmp, primary) && delete(aside, false))
        }
        super.exists(p)
      }
    }
    fs.initialize(java.net.URI.create("graftnoafs:///"),
      spark.sparkContext.hadoopConfiguration)
    AtomicPointer.writeSmall(fs, aside, "gen-old")
    AtomicPointer.writeSmall(fs, tmp, "gen-new")
    pending = true
    assert(AtomicPointer.read(fs, dir, "PTR").contains("gen-new"))
    assert(!pending, "the fixture's flip must have run mid-read")
    // and a dir that never had a pointer still reads None
    assert(AtomicPointer.read(fs, Files.createTempDirectory("noptr").toString,
      "PTR").isEmpty)
  }

  test("codec: both pointer formats round-trip; malformed content is refused") {
    val gens = Seq("base-a", "base-b")
    assert(Folded.encode(Some(7L), gens) == "7 base-a,base-b")
    assert(Folded.decode("/i", "7 base-a,,base-b") == ((Some(7L), gens)))
    assert(Current.encode(None, Seq("gen-x")) == "gen-x")
    assert(Current.decode("/i", "gen-x,gen-y,") ==
      ((None, Seq("gen-x", "gen-y"))))
    Seq("base-a", "x base-a", "99999999999999999999 base-a", "7 gen-a",
        "7 base-a/../b", "7 ,").foreach { bad =>
      val e = intercept[IllegalArgumentException](Folded.decode("/i", bad))
      assert(e.getMessage.contains(s"corrupt FOLDED pointer at /i: '$bad'"),
        e.getMessage)
    }
    Seq("", "base-a", "gen-a,../x", "gen-..").foreach { bad =>
      val e = intercept[IllegalArgumentException](Current.decode("/i", bad))
      assert(e.getMessage.contains("corrupt CURRENT pointer"), e.getMessage)
    }
  }

  /** The two families' tier decisions as the generation log and the IVF
    * compaction each made them before sharing the rule. */
  private def logRule(gens: Seq[Long], pending: Long, ratio: Double,
                      maxGens: Int): Boolean =
    gens.isEmpty || ratio <= 0.0 || gens.size >= maxGens ||
      gens.tail.sum + pending >= ratio * gens.head
  private def ivfRule(gms: Seq[Long], ratio: Double, maxGens: Int): Boolean =
    gms.size <= 1 || ratio <= 0.0 || gms.size >= maxGens ||
      gms.tail.sum.toDouble >= ratio * gms.head

  private def shared(gens: Seq[Long], liveCount: Int, pending: Long,
                     ratio: Double, maxGens: Int): Boolean = {
    val names = gens.indices.map(i => s"g$i")
    GenerationPointer.majorFold(names, liveCount, maxGens, ratio,
      names.zip(gens).toMap, pending)
  }

  test("tier rule: the shared rule makes each family's own decision, edges included") {
    // generation log: (folded generation bytes, pending batch bytes,
    // baseRatio, maxGens) -> major?
    val log = Seq(
      (Seq.empty[Long], 10L, 0.3, 8, true),       // nothing folded yet
      (Seq(100L), 10L, 0.3, 8, false),            // a single generation
      (Seq(100L), 30L, 0.3, 8, true),             // ratio reached exactly
      (Seq(100L), 1L, 0.0, 8, true),              // baseRatio <= 0
      (Seq(100L), 1L, -1.0, 8, true),
      (Seq(100L, 10L, 10L), 5L, 0.3, 8, false),   // 25 < 30
      (Seq(100L, 10L, 10L), 10L, 0.3, 8, true),   // 30 >= 30
      (Seq(100L, 1L, 1L), 0L, 0.3, 4, false),     // 3 gens < maxGens 4
      (Seq(100L, 1L, 1L, 1L), 0L, 0.3, 4, true),  // 4 gens hit maxGens 4
      (Seq(100L, 1L), 1L, 0.3, 3, false))         // pending is no generation
    log.foreach { case (gens, pending, ratio, maxGens, major) =>
      assert(logRule(gens, pending, ratio, maxGens) == major)
      assert(shared(gens, gens.size, pending, ratio, maxGens) == major,
        s"generation log $gens pending=$pending ratio=$ratio maxGens=$maxGens")
    }
    // IVF: live generation bytes base -> tail, the tail holding the
    // pending appends and counted against maxGens
    val ivf = Seq(
      (Seq(100L), 0.3, 8, true),                  // a single generation
      (Seq(100L, 0L), 0.3, 8, false),             // base + empty tail
      (Seq(100L, 29L), 0.3, 8, false),
      (Seq(100L, 30L), 0.3, 8, true),
      (Seq(100L, 1L), 0.0, 8, true),              // baseRatio <= 0
      (Seq(100L, 1L, 1L), 0.3, 4, false),         // 3 live < maxGens 4
      (Seq(100L, 1L, 1L, 1L), 0.3, 4, true),      // 4 live hit maxGens 4
      (Seq(100L, 1L, 1L), 0.3, 3, true))          // the tail counts
    ivf.foreach { case (gms, ratio, maxGens, major) =>
      assert(ivfRule(gms, ratio, maxGens) == major)
      assert(shared(gms.init, gms.size, gms.last, ratio, maxGens) == major,
        s"IVF $gms ratio=$ratio maxGens=$maxGens")
    }
  }

  test("sweep deletes released superseded generations, flip tmps and the stale aside; keeps the rest") {
    val dir = Files.createTempDirectory("ptrsweep")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = hadoopPath(dir.toString).getFileSystem(conf)
    Seq("base-live", "base-old", "base-young", "gen-foreign", "batch=1")
      .foreach(n => Files.createDirectories(dir.resolve(n)))
    Folded.flip(fs, conf, dir.toString, "3 base-live")
    Seq(".FOLDED.tmp.dead", ".FOLDED.old", "notes.txt")
      .foreach(n => Files.write(dir.resolve(n), Array[Byte](1)))
    val deleted = Folded.sweep(fs, dir.toString, Set("base-live"),
      release = _ != "base-young")
    assert(deleted.toSet == Set("base-old", ".FOLDED.tmp.dead", ".FOLDED.old"),
      deleted.toString)
    val left = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(left == Set("base-live", "base-young", "gen-foreign", "batch=1",
      "FOLDED", "notes.txt"), left.toString)
    // the self-check passes on the intact live list and reports a gutted
    // one through the family's completeness test
    Folded.verifyLive(fs, dir.toString, "3 base-live", g =>
      assert(Files.isDirectory(dir.resolve(g))))
    val e = intercept[IllegalStateException] {
      Folded.verifyLive(fs, dir.toString, "3 base-live", g =>
        throw new IllegalStateException(s"$g incomplete"))
    }
    assert(e.getMessage == "base-live incomplete")
  }

  test("an IVF manifest carrying single-source srcBuildId/srcShards provenance is refused by query and sweep, and nothing is deleted") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val emb = (0 until 220)
      .map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("ivfoldprov").toString
    graft.operators.Ann.buildIvfIndex(emb.where(col("vec_id") < 200),
      "vec_id", "embedding", dir, nCentroids = 4, seed = 42L)
    assert(graft.operators.Ann.appendIvfShard(
      emb.where(col("vec_id") >= 200 && col("vec_id") < 220),
      "vec_id", "embedding", dir) == 1)
    val oldGen = Paths.get(graft.operators.Ann.resolveIvfDir(spark, dir))
    val oldBuildId = oldGen.getFileName.toString.stripPrefix("gen-")
    assert(graft.operators.Ann.compactIvfIndex(
      spark, dir, retainSuperseded = true) == 220L)
    // rewrite the live manifest's provenance in the single-source form
    val manifest =
      Paths.get(graft.operators.Ann.resolveIvfDir(spark, dir), "manifest.json")
    val text = Files.readString(manifest)
    val srcs = s""","srcs":"$oldBuildId:0|1""""
    assert(text.contains(srcs), text)
    Files.writeString(manifest, text.replace(srcs,
      s""","srcBuildId":"$oldBuildId","srcShards":[0,1]"""))
    Files.deleteIfExists(manifest.resolveSibling(".manifest.json.crc"))
    def refused(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains("srcBuildId") &&
        e.getMessage.contains("buildIvfIndex"), e.getMessage)
    }
    refused(graft.operators.Ann.queryIvfIndex(emb.where(col("vec_id") < 5),
      "vec_id", "embedding", dir, k = 3))
    refused(graft.operators.Ann.sweepIvfIndex(spark, dir))
    assert(Files.isDirectory(oldGen),
      "a refused sweep must leave the superseded generation on disk")
  }

  private def sources(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("only io/ calls the pointer primitive, and only Ann names the IVF pointer") {
    val main = sources("src/main/scala")
    val primitive = main.filter(p =>
      Files.readString(p).contains("AtomicPointer" + "."))
    assert(primitive.nonEmpty &&
      primitive.forall(_.getParent.getFileName.toString == "io"),
      primitive.mkString(", "))
    val current = main.filter(p =>
      Files.readString(p).contains("\"" + "CURRENT" + "\""))
      .map(_.getFileName.toString)
    assert(current == Seq("Ann.scala"), current.mkString(", "))
    val markers = main.filter { p =>
      val text = Files.readString(p)
      text.contains("_SHARD_" + "COMMIT_") ||
        text.contains("_SHARD_" + "CLAIM_")
    }.map(_.getFileName.toString)
    assert(markers == Seq("Ann.scala"), markers.mkString(", "))
  }
}
