package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.jobs.LexIngestJob

/** Round-13: the streaming lexical (BM25 postings) index — the third
  * index family on the shared maintenance seam, and the first consumer
  * of the extracted [[graft.io.TieredGenLog]] protocol beyond the dedup
  * index it was extracted from. The load-bearing invariant at every
  * lifecycle step (append, minor fold, major collapse, crash replay):
  * the served scores are EXACTLY the batch [[graft.operators.TfIdf.bm25]]
  * over the ingested corpus — folds are pure relayout because corpus
  * statistics (df/N/avgdl) live in the query plan, not the shards. */
class LexStreamSpec extends SparkSuite {
  import spark.implicits._

  private val terms = Seq("fox", "parquet", "shuffle")

  private val corpusA = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the harbor"),
    (2L, "parquet partition pruning makes the scan skip entire row groups"),
    (3L, "shuffle partitioning strategies for massive skewed corpora"))
  private val corpusB = Seq(
    (10L, "a second fox appears and the first fox objects loudly"),
    (11L, "adaptive query execution resizes shuffle partitions at runtime"))
  private val corpusC = Seq(
    (20L, "columnar parquet files compress runs of similar values well"),
    (21L, "the dog ignores both foxes and sleeps through the shuffle"))
  private val corpusD = Seq(
    (30L, "broadcast joins avoid the shuffle when one side is small"))

  /** Reference scores: the batch scorer straight off the documents. */
  private def oracle(docs: Seq[(Long, String)]): Map[Long, Double] = {
    val df = docs.toDF("doc_id", "text")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
    graft.operators.TfIdf.bm25(df, "doc_id", "toks", terms)
      .as[(Long, Double)].collect().toMap
  }

  private def served(dir: String): Map[Long, Double] =
    LexIngestJob.query(spark, dir, terms)
      .as[(Long, Double)].collect().toMap

  private def assertScoresMatch(dir: String, docs: Seq[(Long, String)],
                                clue: String): Unit = {
    val want = oracle(docs)
    val got = served(dir)
    assert(got.keySet == want.keySet, s"$clue: ids ${got.keySet} vs ${want.keySet}")
    for ((id, w) <- want)
      assert(math.abs(got(id) - w) < 1e-9, s"$clue: doc $id ${got(id)} vs $w")
  }

  private def tokenized(rows: Seq[(Long, String)]): DataFrame =
    tokCols(rows.toDF("doc_id", "text"))
  private def tokCols(df: DataFrame): DataFrame =
    df.select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))

  private def baseDirs(dir: String): Set[String] =
    Option(new java.io.File(s"$dir/index").listFiles())
      .map(_.filter(f => f.isDirectory && f.getName.startsWith("base-"))
        .map(_.getName).toSet).getOrElse(Set.empty)
  private def batchDirs(dir: String): Set[String] =
    Option(new java.io.File(s"$dir/index/postings").listFiles())
      .map(_.filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(_.getName).toSet).getOrElse(Set.empty)
  private def pointer(dir: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/index/FOLDED")), "UTF-8").trim

  test("seed and start refuse a pre-stats index (postings + docs batches, no stats) before writing anything") {
    val dir = java.nio.file.Files.createTempDirectory("lexprestats").toString
    val (postings, lens) =
      LexIngestJob.componentsOf(tokenized(corpusA), "doc_id", "toks")
    postings.write.parquet(s"$dir/index/postings/batch=0")
    lens.write.parquet(s"$dir/index/docs/batch=0")
    def refused(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains("pre-stats"), e.getMessage)
    }
    refused(LexIngestJob.seed(tokenized(corpusB), "doc_id", "toks", dir))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    refused(LexIngestJob.start(
      tokCols(stream.toDF().toDF("doc_id", "text")), "doc_id", "toks", dir,
      checkpointLocation = Some(s"$dir/ckpt")))
    assert(!new java.io.File(s"$dir/index/stats").exists(),
      "a refused writer must not write the stats component")
  }

  test("streamed appends serve exact BM25 after every batch; seed included") {
    val dir = java.nio.file.Files.createTempDirectory("lexstream").toString
    LexIngestJob.seed(tokenized(corpusA), "doc_id", "toks", dir)
    assertScoresMatch(dir, corpusA, "seed only")
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = LexIngestJob.start(
      tokCols(stream.toDF().toDF("doc_id", "text")),
      "doc_id", "toks", dir, trigger = Trigger.ProcessingTime(0L))
    try {
      stream.addData(corpusB: _*)
      q.processAllAvailable()
      assertScoresMatch(dir, corpusA ++ corpusB, "after batch 0")
      stream.addData(corpusC: _*)
      q.processAllAvailable()
      assertScoresMatch(dir, corpusA ++ corpusB ++ corpusC, "after batch 1")
    } finally q.stop()
  }

  test("tiered folds: minors spare the base, retained generations sweep one batch later, major collapses — scores exact throughout") {
    val dir = java.nio.file.Files.createTempDirectory("lexfold").toString
    LexIngestJob.seed(tokenized(corpusA), "doc_id", "toks", dir)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val folds = scala.collection.mutable.ArrayBuffer.empty[Long]
    // foldAfterBatches=1: a fold fires whenever 2+ unfolded shard dirs
    // exist after a batch (budget semantics: load > budget). baseRatio
    // huge => after the first (always-major) fold, fires stay MINOR
    // until maxLiveGens forces the geometric collapse.
    val q = LexIngestJob.start(
      tokCols(stream.toDF().toDF("doc_id", "text")),
      "doc_id", "toks", dir, trigger = Trigger.ProcessingTime(0L),
      foldAfterBatches = 1, foldBaseRatio = 1e6,
      maxLiveGens = 3,
      // age gate off: this test pins the immediate next-batch sweep
      sweepMinAgeMs = 0L,
      onFold = b => folds.synchronized { folds += b; () })
    var corpus = corpusA
    def push(rows: Seq[(Long, String)], clue: String): Unit = {
      stream.addData(rows: _*)
      q.processAllAvailable()
      corpus = corpus ++ rows
      assertScoresMatch(dir, corpus, clue)
    }
    def gens(): Seq[String] = pointer(dir).split("\\s+")(1).split(",").toSeq
    def nFolds: Int = folds.synchronized(folds.size)
    def filler(id: Long) = Seq((id,
      s"filler document number $id about unrelated matters entirely"))
    try {
      // batch 0 lands → 2 unfolded (seed + batch 0) → fold 1, MAJOR
      // (no generations exist yet)
      push(corpusB, "after major fold")
      assert(nFolds == 1, s"fold history: $folds")
      val g1 = gens()
      assert(g1.size == 1, s"first fold is the classic major: $g1")
      // the folded batch shards are RETAINED until the next batch's
      // sweep — external readers may still be scanning them
      assert(batchDirs(dir).nonEmpty,
        "superseded batch shards retained for reader drain")
      val basePostings =
        java.nio.file.Paths.get(s"$dir/index/${g1.head}/postings")
      val baseMtime = java.nio.file.Files.getLastModifiedTime(basePostings)

      // batch 1: sweeps fold 1's leftovers, 1 unfolded → no fold
      push(corpusC, "between folds")
      assert(nFolds == 1 && batchDirs(dir) == Set("batch=1"),
        s"sweep removed the folded shards: ${batchDirs(dir)}")
      // batch 2 → 2 unfolded → fold 2, MINOR: sibling appended, base
      // generation never read or written
      push(corpusD, "after minor fold")
      assert(nFolds == 2, s"fold history: $folds")
      val g2 = gens()
      assert(g2.size == 2 && g2.head == g1.head,
        s"minor fold appends a sibling, base kept: $g2")
      assert(java.nio.file.Files.getLastModifiedTime(basePostings) == baseMtime,
        "minor fold must never rewrite the base generation")

      // batches 3/4 → fold 3 (minor): list at maxLiveGens
      push(filler(41L), "batch 3")
      push(filler(42L), "after second minor fold")
      assert(nFolds == 3 && gens().size == 3 && gens().head == g1.head,
        s"folds=$nFolds gens=${gens()}")

      // batches 5/6 → fold 4: list size 3 >= maxLiveGens → MAJOR collapse
      push(filler(43L), "batch 5")
      push(filler(44L), "after major collapse")
      assert(nFolds == 4, s"fold history: $folds")
      val g4 = gens()
      assert(g4.size == 1 && g4.head != g1.head,
        s"maxLiveGens forces the geometric collapse to one generation: $g4")
      // deferred sweep: the collapsed-away generations are still on disk
      // (reader drain), then the next batch sweeps them
      assert(baseDirs(dir).size > 1,
        "superseded generations retained until the next batch")
      push(filler(45L), "after sweep")
      assert(baseDirs(dir) == g4.toSet,
        s"next batch's sweep deletes superseded generations: ${baseDirs(dir)}")
    } finally q.stop()
  }

  test("crash between shard writes and checkpoint commit: replay is result-idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("lexcrash").toString
    val ckpt = java.nio.file.Files.createTempDirectory("lexcrash-ckpt").toString
    LexIngestJob.seed(tokenized(corpusA), "doc_id", "toks", dir)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q1 = LexIngestJob.start(
      tokCols(stream.toDF().toDF("doc_id", "text")),
      "doc_id", "toks", dir, trigger = Trigger.ProcessingTime(0L),
      checkpointLocation = Some(ckpt),
      onBatch = (_, _) =>
        throw new RuntimeException("injected crash after shard writes"))
    stream.addData(corpusB: _*)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    assert(err.getMessage.contains("injected crash"), err.getMessage)
    // first attempt's shards landed — the index already serves them
    assertScoresMatch(dir, corpusA ++ corpusB, "after crash, before replay")
    val q2 = LexIngestJob.start(
      tokCols(stream.toDF().toDF("doc_id", "text")),
      "doc_id", "toks", dir, trigger = Trigger.ProcessingTime(0L),
      checkpointLocation = Some(ckpt))
    try {
      q2.processAllAvailable()  // batch 0 replays; overwrite, no duplicates
      assertScoresMatch(dir, corpusA ++ corpusB, "after replay")
      stream.addData(corpusC: _*)
      q2.processAllAvailable()
      assertScoresMatch(dir, corpusA ++ corpusB ++ corpusC,
        "loop live after replay")
    } finally q2.stop()
  }

  test("query pushes the term predicate to the postings scan (file/row-group skip against the fold layout)") {
    val dir = java.nio.file.Files.createTempDirectory("lexpush").toString
    LexIngestJob.seed(tokenized(corpusA), "doc_id", "toks", dir)
    val plan = LexIngestJob.query(spark, dir, terms)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the scorer's semi-join alone never reaches the scan; the explicit
    // IN must — it is what turns a full postings read into a term-local
    // one against the range-clustered generation layout
    assert(plan.contains("In(term"),
      s"postings scan must carry the pushed term filter:\n$plan")
  }

  test("query never scans the docs component: dl rides the pruned postings, N/avgdl the one-row stats sidecar (r14)") {
    val dir = java.nio.file.Files.createTempDirectory("lexstat").toString
    LexIngestJob.seed(tokenized(corpusA), "doc_id", "toks", dir)
    val q = LexIngestJob.query(spark, dir, terms)
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the old shape scanned docs twice per query (count/avg stats + the
    // dl join) — both O(corpus docs); the new plan must not touch it
    assert(!plan.contains("/docs"),
      s"query plan must not read the docs component:\n$plan")
    assert(plan.contains("/stats"),
      s"query plan must read the stats sidecar:\n$plan")
    // and the sidecar path must be value-exact vs the full-scan form
    assertScoresMatch(dir, corpusA, "sidecar stats exact")
  }

  test("a torn shard (first component written, second missing) is invisible until the replay rewrites it") {
    val dir = java.nio.file.Files.createTempDirectory("lextorn").toString
    LexIngestJob.seed(tokenized(corpusA), "doc_id", "toks", dir)
    // simulate the mid-writeShard crash window: postings/batch=0 exists,
    // docs/batch=0 does not (components write in order)
    val (p, _) = LexIngestJob.componentsOf(tokenized(corpusB),
      "doc_id", "toks")
    p.write.parquet(s"$dir/index/postings/batch=0")
    // the torn batch must neither serve half a shard nor crash the
    // load (a restart's index load runs BEFORE the replay rewrites the
    // dirs — a hard failure here is a permanent crash loop)
    assertScoresMatch(dir, corpusA, "torn shard invisible")
    // the replay rewrites both dirs (overwrite-keyed) — now it serves
    val (p2, l2) = LexIngestJob.componentsOf(tokenized(corpusB),
      "doc_id", "toks")
    LexIngestJob.genLog(dir).writeShard(
      Seq(p2, l2, LexIngestJob.statsOf(l2)), 0L)
    assertScoresMatch(dir, corpusA ++ corpusB, "after replay rewrite")
  }

  test("per-item drain clocks: a young fold's garbage survives in-process sweeps; a restarted log collects it immediately") {
    val dir = java.nio.file.Files.createTempDirectory("lexage").toString
    LexIngestJob.seed(tokenized(corpusA), "doc_id", "toks", dir)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    // a drain window far longer than the test: the fold's superseded
    // shards must survive every subsequent in-process sweep
    val q = LexIngestJob.start(
      tokCols(stream.toDF().toDF("doc_id", "text")),
      "doc_id", "toks", dir, trigger = Trigger.ProcessingTime(0L),
      foldAfterBatches = 1, sweepMinAgeMs = 3600000L)
    try {
      stream.addData(corpusB: _*)
      q.processAllAvailable()   // fold fires; sources retained
      stream.addData(corpusC: _*)
      q.processAllAvailable()   // per-batch sweep runs but everything is young
      assert(Set("batch=-1", "batch=0").subsetOf(batchDirs(dir)),
        s"EVERY young superseded shard must survive the sweep: ${batchDirs(dir)}")
      assertScoresMatch(dir, corpusA ++ corpusB ++ corpusC,
        "retained garbage never pollutes the effective view")
    } finally q.stop()
    // a NEW process (fresh TieredGenLog — no in-memory clocks): unknown
    // items age against the POINTER's flip time, so a configured drain
    // window keeps protecting readers in OTHER processes across the
    // writer restart (the flip just happened; nothing may vanish yet)...
    LexIngestJob.genLog(dir).sweep(spark, 3600000L)
    assert(batchDirs(dir).exists(_ != "batch=1"),
      s"cross-process drain window must hold across restart: ${batchDirs(dir)}")
    // ...while the unaged sweep (the classic self-heal) collects now
    LexIngestJob.genLog(dir).sweep(spark, 0L)
    assert(batchDirs(dir).forall(_ == "batch=1"),
      s"unaged restart sweep must collect leftovers: ${batchDirs(dir)}")
    assertScoresMatch(dir, corpusA ++ corpusB ++ corpusC, "after restart sweep")
  }

  test("a lost FOLDED pointer with swept sources fails queries loudly") {
    val dir = java.nio.file.Files.createTempDirectory("lexlost").toString
    LexIngestJob.seed(tokenized(corpusA), "doc_id", "toks", dir)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = LexIngestJob.start(
      tokCols(stream.toDF().toDF("doc_id", "text")),
      "doc_id", "toks", dir, trigger = Trigger.ProcessingTime(0L),
      foldAfterBatches = 1, sweepMinAgeMs = 0L)
    try {
      stream.addData(corpusB: _*)
      q.processAllAvailable()     // fold fires (retained)
      stream.addData(corpusC: _*)
      q.processAllAvailable()     // sweep deletes the folded sources
    } finally q.stop()
    assert(new java.io.File(s"$dir/index/FOLDED").isFile)
    // pointer lost (manual deletion / partial restore) AFTER the sweep:
    // the folded history is only reachable through the pointer now, so
    // serving just the unfolded shards would silently drop it
    assert(new java.io.File(s"$dir/index/FOLDED").delete())
    new java.io.File(s"$dir/index/.FOLDED.old").delete()
    val err = intercept[IllegalStateException] {
      LexIngestJob.query(spark, dir, terms).collect()
    }
    assert(err.getMessage.contains("no FOLDED pointer"), err.getMessage)
  }
}
