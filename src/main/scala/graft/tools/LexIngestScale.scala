package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Scale rehearsal for the streaming lexical (BM25) index family
  * ([[graft.jobs.LexIngestJob]]) — the lex analogue of the sibling
  * families' serve-under-maintenance harnesses (MaintainServeScale /
  * TriTenantScale): seed a large corpus, stream batch-sized
  * increments with TIERED folds firing in-loop, and hammer the index
  * from concurrent reader threads through every append, fold, and
  * deferred sweep. The envelope claims under test:
  *
  *  1. reader_errors = 0 — the retained-generation / deferred-sweep
  *     protocol means a query planned against the pre-fold pointer list
  *     finishes its scans before the dirs vanish;
  *  2. per-batch ingest walls stay flat (no growth with index size);
  *  3. fold write volume follows the tiered economics (minors flat,
  *     never O(corpus));
  *  4. the final index serves scores EXACTLY equal to the batch
  *     [[graft.operators.TfIdf.bm25]] over the full corpus.
  *
  * Usage: LexIngestScale <corpusDir> [batchDocs=25000] [batches=5]
  *        [foldAfter=1] [readers=2]
  * where corpusDir holds a documents.parquet (e.g. a
  * [[Scale10x]] output). Prints LEXBATCH / LEXFOLD lines per event and
  * one final LEXSCALE summary line. */
object LexIngestScale {

  def main(args: Array[String]): Unit = {
    val corpusDir = args(0)
    val batchDocs = if (args.length > 1) args(1).toInt else 25000
    val batches = if (args.length > 2) args(2).toInt else 5
    val foldAfter = if (args.length > 3) args(3).toInt else 1
    val nReaders = if (args.length > 4) args(4).toInt else 2
    val spark = Harness.session()
    import spark.implicits._

    val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
      .select(col("doc_id"),
        split(trim(col("text")), "\\s+").as("toks"))
    val total = docs.count()
    val streamedN = (batches.toLong * batchDocs).min(total - 1)
    val seedN = total - streamedN
    val seed = docs.orderBy("doc_id").limit(seedN.toInt)
    val dir = Harness.scratchDir("lexscale")

    val t0 = System.nanoTime()
    graft.jobs.LexIngestJob.seed(seed, "doc_id", "toks", dir)
    println(f"LEXSEED docs=$seedN wall=${(System.nanoTime() - t0) / 1e9}%.1f " +
      f"bytes=${Harness.dirBytes(s"$dir/index")}")

    // reader term sets: the corpus's own most frequent terms (Scale10x
    // replicas are token-bijected, so hardcoded English words would all
    // land in one replica), 4 rotating sets of 3
    val topTerms = seed.select(explode(col("toks")).as("term"))
      .groupBy("term").count().orderBy(desc("count"), col("term"))
      .limit(12).select("term").as[String].collect().toSeq
    val termSets = topTerms.grouped(3).toSeq

    val nextSet = new java.util.concurrent.atomic.AtomicInteger
    val readers = Harness.Readers(nReaders, "lex-reader", phase = "seeded") {
      val terms = termSets(nextSet.getAndIncrement() % termSets.size)
      graft.jobs.LexIngestJob.query(spark, dir, terms)
        .orderBy(desc("score"), col("id")).limit(10).collect()
      ()
    }

    val batchRows = docs.orderBy(desc("doc_id")).limit(streamedN.toInt)
      .as[(Long, Seq[String])].collect().toSeq
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[String])]
    @volatile var foldMark = 0L
    val foldEvents =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val q = graft.jobs.LexIngestJob.start(
      stream.toDF().toDF("doc_id", "toks"), "doc_id", "toks", dir,
      trigger = Trigger.ProcessingTime(0L),
      onBatch = (_, _) => foldMark = System.nanoTime(),
      foldAfterBatches = foldAfter, foldBaseRatio = 0.3,
      onFold = b => foldEvents.synchronized {
        foldEvents += ((b, (System.nanoTime() - foldMark) / 1e9)); () })
    try {
      var bi = 0
      batchRows.grouped(batchDocs).foreach { rows =>
        readers.phase = s"batch$bi"
        val preGens = Harness.genSizes(s"$dir/index", "base-")
        val tb = System.nanoTime()
        stream.addData(rows: _*)
        q.processAllAvailable()
        val wall = (System.nanoTime() - tb) / 1e9
        println(f"LEXBATCH batch=$bi docs=${rows.size} wall=$wall%.1f")
        val fires = foldEvents.synchronized {
          val w = foldEvents.toSeq; foldEvents.clear(); w }
        val written = Harness.createdBytes(preGens,
          Harness.genSizes(s"$dir/index", "base-"))
        val gens = graft.jobs.LexIngestJob.genLog(dir).readState(spark)
          .map(_.gens.size).getOrElse(0)
        fires.foreach { case (b, w) =>
          println(f"LEXFOLD batch=$b wall=$w%.1f written=$written gens=$gens")
        }
        bi += 1
      }
    } finally { q.stop(); readers.stop() }

    // final exactness: served scores == batch BM25 over the full corpus
    val exactTerms = termSets.head
    val servedMap = graft.jobs.LexIngestJob.query(spark, dir, exactTerms)
      .as[(Long, Double)].collect().toMap
    val wantMap = graft.operators.TfIdf.bm25(docs, "doc_id", "toks",
      exactTerms).as[(Long, Double)].collect().toMap
    val exact = servedMap.keySet == wantMap.keySet &&
      wantMap.forall { case (id, w) => math.abs(servedMap(id) - w) < 1e-6 }

    readers.report("LEXREAD")
    println(s"LEXSCALE docs=$total batches=$batches batch_docs=$batchDocs " +
      s"exact=$exact reader_errors=${readers.errors} " +
      s"matched=${servedMap.size}")
    readers.requireClean()
    require(exact, "LexIngestScale: served BM25 differs from batch BM25")
    spark.stop()
  }
}
