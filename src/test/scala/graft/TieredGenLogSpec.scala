package graft

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import graft.io.TieredGenLog

/** The local filesystem under a `countfs` scheme, logging the metadata
  * calls an object store bills one by one: file opens, existence probes
  * and renames, in call order. */
class CountingFs extends RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.calls.add(s"open ${f.toUri.getPath}")
    super.open(f, bufferSize)
  }
  override def exists(f: Path): Boolean = {
    CountingFs.calls.add(s"exists ${f.toUri.getPath}")
    super.exists(f)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingFs.calls.add(s"rename ${src.toUri.getPath}")
    super.rename(src, dst)
  }
}

object CountingFs {
  val calls = new ConcurrentLinkedQueue[String]()
}

/** Direct unit pins for the shared generation-log primitive — the two
  * index families exercise it end-to-end (LexStreamSpec,
  * DedupStreamSpec, TieredMaintenanceSpec); this spec pins the
  * protocol's own contract surface with a neutral 3-component index, so
  * a future family gets the guarantees without inheriting a sibling's
  * test fixture assumptions. */
class TieredGenLogSpec extends SparkSuite {
  import spark.implicits._

  private def mk(dir: String) =
    new TieredGenLog(s"$dir/index", Seq("alpha", "beta", "gamma"), "unit index")

  private def frames(ids: Range) = Seq(
    ids.map(i => (i.toLong, s"a$i")).toDF("id", "va"),
    ids.map(i => (i.toLong, i.toDouble)).toDF("id", "vb"),
    ids.map(i => (i.toLong, i % 7)).toDF("id", "vc"))

  private def idsOf(log: TieredGenLog, comp: Int): Set[Long] =
    log.effective(spark).get(comp).select("id").as[Long].collect().toSet

  test("writeShard arity and component alignment are enforced") {
    val dir = java.nio.file.Files.createTempDirectory("glarity").toString
    val log = mk(dir)
    intercept[IllegalArgumentException] {
      log.writeShard(frames(0 until 3).take(2), 0L)
    }
    log.writeShard(frames(0 until 3), 0L)
    assert(idsOf(log, 0) == Set(0L, 1L, 2L))
    assert(idsOf(log, 2) == Set(0L, 1L, 2L))
  }

  test("three-component fold: tier decision by bytes, generation list growth, effective view stable") {
    val dir = java.nio.file.Files.createTempDirectory("gl3c").toString
    val log = mk(dir)
    log.writeShard(frames(0 until 50), 0L)
    log.writeShard(frames(50 until 60), 1L)
    // first fold is always major (no generations yet)
    log.fold(spark, 1L, baseRatio = 1e6, maxGens = 4)
    assert(log.readState(spark).get.gens.size == 1)
    assert(idsOf(log, 1) == (0L until 60L).toSet)
    // small appends + huge ratio → minor sibling; base untouched
    val base = log.readState(spark).get.gens.head
    val baseM = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/index/$base/alpha"))
    log.writeShard(frames(60 until 62), 2L)
    log.writeShard(frames(62 until 64), 3L)
    log.fold(spark, 3L, baseRatio = 1e6, maxGens = 4)
    val s2 = log.readState(spark).get
    assert(s2.gens.size == 2 && s2.gens.head == base,
      s"minor must append a sibling: ${s2.gens}")
    assert(java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths
      .get(s"$dir/index/$base/alpha")) == baseM)
    // tiny ratio → byte test trips → major collapse to one generation
    log.writeShard(frames(64 until 66), 4L)
    log.fold(spark, 4L, baseRatio = 1e-9, maxGens = 4)
    val s3 = log.readState(spark).get
    assert(s3.gens.size == 1 && s3.gens.head != base,
      s"byte-ratio major must collapse: ${s3.gens}")
    assert(idsOf(log, 0) == (0L until 66L).toSet)
    assert(idsOf(log, 2) == (0L until 66L).toSet)
  }

  test("foldWriteLayout hook reshapes exactly its component at fold time") {
    val dir = java.nio.file.Files.createTempDirectory("gllayout").toString
    val log = new TieredGenLog(s"$dir/index", Seq("alpha", "beta"),
      "unit index",
      foldWriteLayout = Map("alpha" -> (df => df.repartition(1))))
    log.writeShard(Seq(
      (0 until 40).map(i => (i.toLong, s"a$i")).toDF("id", "va")
        .repartition(4),
      (0 until 40).map(i => (i.toLong, i.toDouble)).toDF("id", "vb")
        .repartition(4)), 0L)
    log.fold(spark, 0L)
    val gen = log.readState(spark).get.gens.head
    def nFiles(comp: String): Int =
      Option(new java.io.File(s"$dir/index/$gen/$comp").listFiles())
        .map(_.count(f => f.getName.endsWith(".parquet"))).getOrElse(-1)
    assert(nFiles("alpha") == 1, s"layout hook must apply: ${nFiles("alpha")}")
    assert(nFiles("beta") > 1, s"other components untouched: ${nFiles("beta")}")
    // layout is relayout only: content identical
    assert(log.effective(spark).get(0).select("id").as[Long]
      .collect().toSet == (0L until 40L).toSet)
  }

  test("a component named outside the list is rejected at construction") {
    intercept[IllegalArgumentException] {
      new TieredGenLog("/tmp/x", Seq("alpha"), "unit index",
        foldWriteLayout = Map("nope" -> identity))
    }
  }

  test("torn shard with THREE components: missing middle or last component hides the whole batch") {
    val dir = java.nio.file.Files.createTempDirectory("gltorn").toString
    val log = mk(dir)
    log.writeShard(frames(0 until 5), 0L)
    // torn batch 1: alpha + beta written, gamma missing
    val f = frames(5 until 8)
    f(0).write.parquet(s"$dir/index/alpha/batch=1")
    f(1).write.parquet(s"$dir/index/beta/batch=1")
    assert(idsOf(log, 0) == (0L until 5L).toSet,
      "a batch missing ANY component must be invisible")
    // the replay completes it
    log.writeShard(frames(5 until 8), 1L)
    assert(idsOf(log, 0) == (0L until 8L).toSet)
  }

  test("fold fails loudly on an incomplete batch at/below the boundary instead of deleting it (r14)") {
    val dir = java.nio.file.Files.createTempDirectory("glinc").toString
    val log = mk(dir)
    log.writeShard(frames(0 until 5), 0L)
    // incomplete batch 1 (head component only, no later components):
    // under the single-writer replay-before-fold contract this never
    // exists at fold time — if it does (foreign writer, marker-eating
    // config), cleanup would silently delete it
    frames(5 until 8)(0).write.parquet(s"$dir/index/alpha/batch=1")
    val e = intercept[IllegalArgumentException] { log.fold(spark, 1L) }
    assert(e.getMessage.contains("incomplete"), e.getMessage)
    assert(spark.read.parquet(s"$dir/index/alpha/batch=1").count() == 3L,
      "the incomplete batch dir must survive the refused fold")
    // completing the batch unblocks the same fold
    log.writeShard(frames(5 until 8), 1L)
    log.fold(spark, 1L)
    assert(idsOf(log, 0) == (0L until 8L).toSet)
  }

  test("writeShard refuses a session whose committer has _SUCCESS markers disabled (r14)") {
    val dir = java.nio.file.Files.createTempDirectory("glmark").toString
    val log = mk(dir)
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setBoolean(key, false)
    try {
      val e = intercept[IllegalArgumentException] {
        log.writeShard(frames(0 until 3), 0L)
      }
      assert(e.getMessage.contains("marksuccessfuljobs"), e.getMessage)
    } finally hconf.setBoolean(key, true)
    log.writeShard(frames(0 until 3), 0L)   // markers back on: accepted
    assert(idsOf(log, 0) == Set(0L, 1L, 2L))
  }

  test("a fold reads FOLDED once and probes each unfolded batch's _SUCCESS markers once") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("glcount").toString
    val log = new TieredGenLog(s"countfs://$dir/index",
      Seq("alpha", "beta", "gamma"), "unit index")
    // the pointer reads and marker probes of one fold, up to its first
    // write (a rename: the component commits, then the pointer flip) —
    // the flip's own read-backs are the fence, not the fold's source view
    def foldCalls(upTo: Long, baseRatio: Double): Seq[String] = {
      CountingFs.calls.clear()
      log.fold(spark, upTo, baseRatio = baseRatio)
      CountingFs.calls.asScala.toSeq.takeWhile(!_.startsWith("rename "))
    }
    def successProbes(calls: Seq[String], batches: Seq[Long]): Unit =
      for (c <- Seq("alpha", "beta", "gamma"); b <- batches) {
        val probe = s"exists $dir/index/$c/batch=$b/_SUCCESS"
        assert(calls.count(_ == probe) == 1, s"$probe in $calls")
      }
    def pointerReads(calls: Seq[String]): Int =
      calls.count(_ == s"open $dir/index/FOLDED")
    log.writeShard(frames(0 until 20), 0L)
    log.writeShard(frames(20 until 40), 1L)
    // first fold: major, and no pointer yet
    val first = foldCalls(1L, baseRatio = 1e6)
    successProbes(first, Seq(0L, 1L))
    assert(pointerReads(first) == 0)
    log.writeShard(frames(40 until 42), 2L)
    log.writeShard(frames(42 until 44), 3L)
    val minor = foldCalls(3L, baseRatio = 1e6)
    assert(log.readState(spark).get.gens.size == 2, "expected a minor fold")
    successProbes(minor, Seq(2L, 3L))
    assert(pointerReads(minor) == 1, minor.toString)
    log.writeShard(frames(44 until 46), 4L)
    log.writeShard(frames(46 until 48), 5L)
    val major = foldCalls(5L, baseRatio = 1e-9)
    assert(log.readState(spark).get.gens.size == 1, "expected a major fold")
    successProbes(major, Seq(4L, 5L))
    assert(pointerReads(major) == 1, major.toString)
    assert(idsOf(log, 1) == (0L until 48L).toSet)
  }
}
