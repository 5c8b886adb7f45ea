package graft.tools

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** The full tri-tenant envelope (r12 verdict 4): SERVING + COMPOSED
  * INGEST + LIVE MAINTENANCE on one scheduler. MaintainServeScale proves
  * IVF maintenance under a reader hammer; this harness runs the dedup →
  * embed → index chain with continuous reader threads querying the SAME
  * IVF index the chain is appending into and compacting, with the dedup
  * fold firing in the other loop — and records reader_errors (must be
  * 0), per-phase reader walls (p50/p95), and chain walls per batch with
  * each batch's survivors and fold fire walls.
  *
  * With `readers=0` it is the composed chain alone (the deployment shape
  * without live readers): `TriTenantScale <dir> 5 4 4 0 0`. Embeddings
  * are the deterministic hash-fake the spec twin (ComposedIngestSpec)
  * pins: the chain's cost structure — probe joins, shard appends,
  * maintenance — is what scales, not the embedding model.
  *
  * With `tiered=1` the maintenance budgets run the r13 TIERED paths
  * (`foldBaseRatio`/`compactBaseRatio` = 0.3) — the base ≫ batch
  * deployment shape — re-proving zero-blip over the multi-generation
  * pointer protocol.
  *
  * With `lex=1` (r13) the envelope grows a FOURTH tenant: the lexical
  * postings index ([[graft.jobs.LexIngestJob]]) ingesting the same
  * survivors handoff, with its tiered folds firing in-loop — and the
  * reader pool gains HYBRID threads running
  * [[graft.operators.Retrieval.hybridRrf]], so every hybrid query
  * spans BOTH serving families while all three maintenance surfaces
  * (dedup fold, IVF compact, lex fold) flip pointers under it. End
  * gates: reader_errors = 0 (plain + hybrid), IVF full-probe == brute,
  * and served BM25 == batch BM25 over seed + survivors. Every gate fails
  * the run.
  *
  * Usage: TriTenantScale <srcDir> [batches=5] [foldAfter=2]
  *        [compactAfter=2] [tiered=0|1] [readers=2] [lex=0|1] */
object TriTenantScale {
  private val Dims = 8
  /** Same per-dimension hash values as the spec twin's lambda form, but
    * built as an explicit `array(...)` — a higher-order `transform`
    * whose lambda captures an outer column trips an optimizer
    * attribute-rewrite failure ("key not found: text#N") once the plan
    * grows a union around it (Spark 4.1). */
  private def fakeEmb(c: Column): Column =
    array((0 until Dims).map { i =>
      (pmod(xxhash64(c, lit(i)), lit(1000L)).cast("float") / lit(100.0f))
        - lit(5.0f)
    }: _*)

  def main(args: Array[String]): Unit = {
    val srcDir = args.head
    val nBatches = if (args.length > 1) args(1).toInt else 5
    val foldAfter = if (args.length > 2) args(2).toInt else 2
    val compactAfter = if (args.length > 3) args(3).toInt else 2
    val tiered = args.length > 4 && args(4) == "1"
    val nReaders = if (args.length > 5) args(5).toInt else 2
    val withLex = args.length > 6 && args(6) == "1"
    val spark = Harness.session()
    import spark.implicits._
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val ids = docs.select(min("doc_id"), max("doc_id")).head()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val mid = lo + (hi - lo) / 2
    val root = java.nio.file.Files.createTempDirectory("tritenant").toString
    val dedupDir = s"$root/dedup"; val ivfDir = s"$root/ivf"
    val lexDir = s"$root/lex"
    // the engine's canonical whitespace tokenizer — the harness must
    // tokenize exactly like the product paths it measures
    def tokCol(c: Column) = graft.functions.TextFunctions.tokenize(c)
    val seed = docs.where(col("doc_id") <= mid)
    val nSeed = seed.count()
    val nCents = math.max(4, math.sqrt(nSeed.toDouble).toInt)
    graft.jobs.DedupIngestJob.seed(seed, "doc_id", "text", dedupDir)
    graft.operators.Ann.buildIvfIndex(
      seed.withColumn("embedding", fakeEmb(col("text"))),
      "doc_id", "embedding", ivfDir, nCentroids = nCents,
      distributedFit = true)
    if (withLex) graft.jobs.LexIngestJob.seed(
      seed.select(col("doc_id"), tokCol(col("text")).as("toks")),
      "doc_id", "toks", lexDir)
    println(s"TRITENANT seeded docs=$nSeed cells=$nCents tiered=$tiered " +
      s"lex=$withLex")

    // ---- the serving tenant: reader threads hammering the live index.
    // Walls are tagged with the driver's current phase label so the
    // percentiles can be split steady-vs-maintenance.
    val queryVecs = seed.where(col("doc_id") <= lo + 9)
      .withColumn("embedding", fakeEmb(col("text")))
      .select("doc_id", "embedding").cache()
    queryVecs.count()
    val readers = Harness.Readers(nReaders, "tritenant-reader") {
      graft.operators.Ann.queryIvfIndex(queryVecs, "doc_id",
        "embedding", ivfDir, k = 5, nProbe = 4).count()
      ()
    }
    // the shared term set: hybrid readers query it, the end gate
    // verifies it — one computation so the two can never diverge
    val lexTerms = if (!withLex) Seq.empty[String] else
      seed.select(explode(tokCol(col("text"))).as("term"))
        .groupBy("term").count().orderBy(desc("count"), col("term"))
        .limit(3).select("term").as[String].collect().toSeq
    // the hybrid tenant's readers: one query spanning BOTH serving
    // families per call, through every pointer flip of all three
    // maintenance surfaces
    val hybrid = if (!withLex) None else {
      val qVec = seed.where(col("doc_id") === lo)
        .withColumn("embedding", fakeEmb(col("text")))
        .select("embedding").as[Array[Float]].head()
      Some(Harness.Readers(nReaders, "tritenant-hybrid") {
        graft.operators.Retrieval.hybridRrf(spark, lexDir, ivfDir,
          lexTerms, qVec, k = 10, nProbe = 4)
          .orderBy(desc("rrf"), col("doc_id")).limit(10).collect()
        ()
      })
    }
    val allReaders = readers +: hybrid.toSeq
    def phase(p: String): Unit = allReaders.foreach(_.phase = p)

    // ---- the ingest tenants: dedup loop → survivors handoff → index loop
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    @volatile var lastN = -1L
    @volatile var foldMark = 0L
    val foldWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val foldFires = new java.util.concurrent.atomic.AtomicInteger
    val compactFires = new java.util.concurrent.atomic.AtomicInteger
    val q1 = graft.jobs.DedupIngestJob.start(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", dedupDir,
      trigger = Trigger.ProcessingTime(0L),
      // onBatch fires right before the fold check, so mark-to-onFold is
      // (to a few ms of budget probing) the fold's own wall
      onBatch = (_, n) => { lastN = n; foldMark = System.nanoTime() },
      foldAfterBatches = foldAfter,
      foldBaseRatio = if (tiered) 0.3 else 0.0,
      onFold = _ => foldWalls.synchronized {
        foldFires.incrementAndGet()
        foldWalls += (System.nanoTime() - foldMark) / 1e9; () })
    val survivorSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("batch", LongType)))
    // the handoff dir must exist before the file-source stream lists it
    // (the seed writes only the index, not survivors)
    new java.io.File(s"$dedupDir/survivors").mkdirs()
    val q2 = graft.jobs.IndexIngestJob.start(
      spark.readStream.schema(survivorSchema)
        .parquet(s"$dedupDir/survivors")
        .withColumn("embedding", fakeEmb(col("text")))
        .select("doc_id", "embedding"),
      "doc_id", "embedding", ivfDir,
      // deployment-realistic cadence: at ProcessingTime(0) this stage
      // free-runs thousands of empty probe triggers (each a tiny Spark
      // job) while stage 1's dedup batch runs — pure churn
      trigger = Trigger.ProcessingTime(500L),
      compactAfterShards = compactAfter,
      compactBaseRatio = if (tiered) 0.3 else 0.0,
      onCompact = _ => { compactFires.incrementAndGet(); () })
    val lexFires = new java.util.concurrent.atomic.AtomicInteger
    val q3 = if (!withLex) None else Some(graft.jobs.LexIngestJob.start(
      spark.readStream.schema(survivorSchema)
        .parquet(s"$dedupDir/survivors")
        .select(col("doc_id"), tokCol(col("text")).as("toks")),
      "doc_id", "toks", lexDir,
      trigger = Trigger.ProcessingTime(500L),
      foldAfterBatches = foldAfter,
      foldBaseRatio = if (tiered) 0.3 else 0.0,
      // drain window sized to the WORST hybrid reader tail this harness
      // has measured (p95 up to ~12 s under co-tenant contention), not
      // the 10 s default — the age gate is only a guarantee when it
      // covers the readers actually running (review finding)
      sweepMinAgeMs = 30000L,
      onFold = _ => { lexFires.incrementAndGet(); () }))
    try {
      val step = math.max(1L, (hi - mid) / nBatches)
      (0 until nBatches).foreach { d =>
        val a = mid + 1 + d * step
        val b = if (d == nBatches - 1) hi + 1 else a + step
        val rows = docs.where(col("doc_id") >= a && col("doc_id") < b)
          .as[(Long, String)].collect().toSeq
        val td = System.nanoTime()
        phase(s"batch${d + 1}")
        stream.addData(rows: _*)
        q1.processAllAvailable()
        val t1 = System.nanoTime()
        q2.processAllAvailable()
        q3.foreach(_.processAllAvailable())
        val t2 = System.nanoTime()
        val folded = foldWalls.synchronized {
          val w = foldWalls.toSeq; foldWalls.clear(); w }
        println(f"TRITENANT batch${d + 1} chain=${(t2 - td) / 1e9}%.1f s " +
          f"(dedup=${(t1 - td) / 1e9}%.1f index=${(t2 - t1) / 1e9}%.1f " +
          s"in=${rows.size} survivors=$lastN" +
          folded.map(w => f" fold=$w%.1f s").mkString +
          s" folds=${foldFires.get} " +
          s"compacts=${compactFires.get} lexfolds=${lexFires.get} " +
          s"reader_errors=${allReaders.map(_.errors).sum})")
      }
      // drain the handoff: the file source's discovery of a survivors dir
      // can lag a trigger or two under a busy scheduler — data is never
      // lost, just late; the exactness gate below needs the index COMPLETE
      phase("drain")
      var stable = 0; var lastShards = -1; var drains = 0
      while (stable < 3 && drains < 30) {
        q2.processAllAvailable()
        q3.foreach(_.processAllAvailable())
        val n = graft.operators.Ann.committedIvfShardCount(spark, ivfDir)
        if (n == lastShards) stable += 1 else { stable = 0; lastShards = n }
        drains += 1
        Thread.sleep(1000)
      }
      if (nReaders > 0) {
        phase("steady2")
        Thread.sleep(8000) // post-ingest steady window for the baseline band
      }
      allReaders.foreach(_.stop())
      readers.report("TRITENANT")
      hybrid.foreach(_.report("TRITENANT hybrid"))
      // completeness + exactness: all generations' postings hold every
      // seed + survivor vector; full-probe equals brute force
      val total = graft.jobs.DedupIngestJob.survivors(spark, dedupDir).count()
      val indexed = graft.operators.Ann.resolveIvfDirs(spark, ivfDir)
        .flatMap { g =>
          val pq = s"$g/postings.parquet"
          if (new java.io.File(pq).listFiles() != null &&
              new java.io.File(pq).listFiles().exists(
                _.getName.startsWith("cell=")))
            Some(spark.read.parquet(pq).count())
          else None
        }.sum
      println(s"TRITENANT total_survivors $total indexed $indexed " +
        s"expected ${nSeed + total} gens ${
          graft.operators.Ann.resolveIvfDirs(spark, ivfDir).size}")
      val corpus = seed.withColumn("embedding", fakeEmb(col("text")))
        .select("doc_id", "embedding")
        .unionByName(graft.jobs.DedupIngestJob.survivors(spark, dedupDir)
          .withColumn("embedding", fakeEmb(col("text")))
          .select("doc_id", "embedding"))
        // materialized first: truncating the lineage keeps the union
        // out of the query's optimizer passes (see fakeEmb)
        .localCheckpoint(true)
      val queries = corpus.where(col("doc_id") <= lo + 9)
      val ivf = graft.operators.Ann.queryIvfIndex(queries, "doc_id",
          "embedding", ivfDir, k = 5, nProbe = nCents)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = graft.operators.Ann.bruteForceTopK(queries, corpus,
          "doc_id", "embedding", k = 5)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(s"TRITENANT exactness ${if (ivf == brute) "OK"
        else s"MISMATCH ${ivf.diff(brute).size}/${brute.diff(ivf).size}"}")
      val lexOk = !withLex || {
        val lexCorpus = seed
          .unionByName(graft.jobs.DedupIngestJob.survivors(spark, dedupDir))
          .select(col("doc_id"), tokCol(col("text")).as("toks"))
        val want = graft.operators.TfIdf.bm25(lexCorpus, "doc_id", "toks",
          lexTerms).as[(Long, Double)].collect().toMap
        val got = graft.jobs.LexIngestJob.query(spark, lexDir, lexTerms)
          .as[(Long, Double)].collect().toMap
        val ok = got.keySet == want.keySet &&
          want.forall { case (id, w) => math.abs(got(id) - w) < 1e-6 }
        println(s"TRITENANT lex_exactness ${if (ok) "OK"
          else s"MISMATCH got=${got.size} want=${want.size}"} " +
          s"matched=${got.size}")
        ok
      }
      allReaders.foreach(_.requireClean())
      require(ivf == brute,
        "TriTenantScale: IVF full probe differs from brute force")
      require(lexOk, "TriTenantScale: served BM25 differs from batch BM25")
    } finally {
      allReaders.foreach(_.stop()); q1.stop(); q2.stop(); q3.foreach(_.stop())
    }
    spark.stop()
  }
}
