package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Maintenance-economics harness for the base ≫ batch regime (r12 verdict
  * 1): both index-maintenance ops — the dedup ingest fold
  * ([[graft.jobs.DedupIngestJob]]) and the IVF compaction
  * ([[graft.operators.Ann.compactIvfIndex]]) — historically rewrote the
  * ENTIRE base generation per fire, so per-fire cost is O(corpus) and
  * lifetime maintenance write volume is quadratic in corpus over an
  * ingest's life. That is invisible at gate scale (base ≈ batches) and
  * exactly the regime a year of 100 TB ingest produces.
  *
  * The harness measures the per-fire cost CURVE directly: for each base
  * multiplier m, seed/build an index of m × batchSize documents/vectors,
  * stream enough batch-sized increments to trip THREE maintenance fires
  * (median over fires — this box's documented wall variance swamps a
  * single sample), and record per fire the wall seconds, the summed
  * executor TASK seconds (the r8 triage column: flat task + swinging
  * wall = box noise, growing task = real work), and on-disk pre-fire
  * bytes. A linear-in-base curve confirms the rewrite economics; a
  * flat curve (with tiering enabled) confirms the minor-fold fix.
  *
  * Usage: FoldEconScale <srcDir> <dedup|ivf> [multipliers=2,5,10,20]
  *        [batchDocs=5000] [tiered=0|1]
  * Prints one `FOLDECON` line per fire. */
object FoldEconScale {

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val which = args(1)
    val mults = (if (args.length > 2) args(2) else "2,5,10,20")
      .split(",").map(_.trim.toInt).toSeq
    val batchN = if (args.length > 3) args(3).toInt else 5000
    val tiered = args.length > 4 && args(4) == "1"
    val spark = Harness.session()
    which match {
      case "dedup" => dedup(spark, srcDir, mults, batchN, tiered)
      case "ivf" => ivf(spark, srcDir, mults, batchN, tiered)
      case other => sys.error(s"unknown mode $other (dedup|ivf)")
    }
    spark.stop()
  }

  /** Dedup-fold curve: seed m×batchN docs, stream 6 batches of batchN
    * with foldAfterBatches=1 (the budget trips on every other batch —
    * the seed leaves one unfolded shard, so fires land on batches
    * 0/2/4: THREE fires per mult), record each fire's wall, summed
    * task seconds, and the pre-fire index bytes. */
  private def dedup(spark: SparkSession, srcDir: String, mults: Seq[Int],
                    batchN: Int, tiered: Boolean): Unit = {
    import spark.implicits._
    val meter = new Harness.Meter(spark)
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    mults.foreach { m =>
      val dir = Harness.scratchDir(s"foldecon$m")
      val seed = docs.orderBy("doc_id").limit(m * batchN)
      graft.jobs.DedupIngestJob.seed(seed, "doc_id", "text", dir)
      val batchRows = docs.orderBy(org.apache.spark.sql.functions.desc("doc_id"))
        .limit(6 * batchN).as[(Long, String)].collect().toSeq
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[(Long, String)]
      @volatile var foldMark = 0L
      @volatile var foldMarkTask = 0L
      val folds = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      val q = graft.jobs.DedupIngestJob.start(
        stream.toDF().toDF("doc_id", "text"), "doc_id", "text", dir,
        trigger = Trigger.ProcessingTime(0L),
        onBatch = (_, _) => {
          foldMarkTask = meter.snapshot().runMs; foldMark = System.nanoTime() },
        foldAfterBatches = 1,
        foldBaseRatio = if (tiered) 0.3 else 0.0,
        onFold = _ => folds.synchronized {
          folds += (((System.nanoTime() - foldMark) / 1e9,
            (meter.snapshot().runMs - foldMarkTask) / 1e3)); () })
      try {
        var fire = 0
        batchRows.grouped(batchN).foreach { rows =>
          val preBytes = Harness.dirBytes(s"$dir/index")
          val preGens = Harness.genSizes(s"$dir/index", "base-")
          stream.addData(rows: _*)
          q.processAllAvailable()
          val walls = folds.synchronized {
            val w = folds.toSeq; folds.clear(); w }
          val written = Harness.createdBytes(preGens,
            Harness.genSizes(s"$dir/index", "base-"))
          // live generation count after the fire: 1 = the fire was a
          // major collapse, >1 = it was a minor sibling fold
          val gens = graft.jobs.DedupIngestJob.genLog(dir).readState(spark)
            .map(_.gens.size).getOrElse(0)
          walls.foreach { case (w, taskS) =>
            fire += 1
            println(f"FOLDECON dedup mult=$m fire=$fire " +
              f"base_docs=${m * batchN} batch_docs=$batchN " +
              f"pre_bytes=$preBytes written=$written wall=$w%.2f " +
              f"task_s=$taskS%.2f tiered=$tiered gens=$gens")
          }
        }
      } finally q.stop()
      deleteRec(dir)
    }
  }

  /** IVF-compact curve: build an index of m×batchN vectors, then THREE
    * trials of (append 2 half-batch shards, compact), recording each
    * fire's wall, summed task seconds, and pre-compact bytes. Untiered,
    * each fire folds appends into the full base (the O(corpus) shape);
    * tiered, the timed fires are steady minors (the first fire after
    * build is the untimed major split to base+tail). */
  private def ivf(spark: SparkSession, srcDir: String, mults: Seq[Int],
                  batchN: Int, tiered: Boolean): Unit = {
    val meter = new Harness.Meter(spark)
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    mults.foreach { m =>
      val dir = Harness.scratchDir(s"compecon$m")
      val base = emb.orderBy("vec_id").limit(m * batchN)
      val nCents = math.max(4, math.sqrt((m * batchN).toDouble).toInt)
      graft.operators.Ann.buildIvfIndex(base, "vec_id", "embedding", dir,
        nCentroids = nCents, distributedFit = true)
      if (tiered)
        graft.operators.Ann.compactIvfIndexTiered(spark, dir,
          baseRatio = 0.3)
      // a DISJOINT vec_id window per fire (r13 ADVICE): re-appending the
      // same fixed frame every fire accumulated duplicate ids across
      // trials — the "steady minor" fires were measured against a base
      // whose composition drifted from the claimed shape, and leftovers
      // would skew any exactness probe on the index
      val pool = emb.orderBy(org.apache.spark.sql.functions.desc("vec_id"))
        .limit(3 * batchN).orderBy("vec_id")
      (1 to 3).foreach { fire =>
        val appends = pool.offset((fire - 1) * batchN).limit(batchN)
        val half = (appends.count() / 2).toInt
        graft.operators.Ann.appendIvfShard(
          appends.orderBy(org.apache.spark.sql.functions.desc("vec_id"))
            .limit(half),
          "vec_id", "embedding", dir)
        graft.operators.Ann.appendIvfShard(
          appends.orderBy("vec_id").limit(half),
          "vec_id", "embedding", dir)
        val preBytes = Harness.dirBytes(dir)
        val preGens = Harness.genSizes(dir, "gen-")
        val fold = meter.delta {
          if (tiered)
            graft.operators.Ann.compactIvfIndexTiered(spark, dir,
              baseRatio = 0.3)
          else
            graft.operators.Ann.compactIvfIndex(spark, dir)
        }
        val written =
          Harness.createdBytes(preGens, Harness.genSizes(dir, "gen-"))
        println(f"FOLDECON ivf mult=$m fire=$fire " +
          f"base_vecs=${m * batchN} shard_vecs=$batchN " +
          f"pre_bytes=$preBytes written=$written wall=${fold.wallS}%.2f " +
          f"task_s=${fold.tasks.runMs / 1e3}%.2f tiered=$tiered")
      }
      deleteRec(dir)
    }
  }

  private def deleteRec(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally walk.close()
    }
  }
}
