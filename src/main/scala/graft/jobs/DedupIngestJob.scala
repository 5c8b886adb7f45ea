package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Dedup

/** The operational loop for a GROWING deduplicated corpus — the dedup
  * counterpart of [[IndexIngestJob]] (r11): each micro-batch of new
  * documents is near-dup-deduplicated against everything accepted so
  * far, survivors land in `dir/survivors/batch=N`, and the survivors'
  * LSH bands + shingle sets are appended to `dir/index/` so the NEXT
  * batch dedups against them too. A 100 TB ingest pipeline runs exactly
  * this shape: the index grows O(survivors), each batch pays
  * O(batch × colliding buckets) — never O(corpus²) and never a corpus
  * rescan (the d7 operator, closed under a stream).
  *
  * Layout (all appends are per-batch `batch=N` subdirs written with
  * overwrite — the idempotence anchor, see below):
  *
  *   dir/index/banded/batch=N    — (id, band, bucket) of batch N's survivors
  *   dir/index/shingled/batch=N  — (id, sh) shingle sets of the same rows
  *   dir/survivors/batch=N       — the accepted documents themselves
  *
  * Delivery semantics: with a `checkpointLocation` over a replayable
  * source this is at-least-once, and the replay is RESULT-idempotent:
  *  - every write is keyed by the deterministic micro-batch id and mode
  *    "overwrite", so a replayed batch rewrites the same three dirs with
  *    the same rows rather than appending duplicates;
  *  - a replayed batch re-dedups against an index that may already hold
  *    ITS OWN first-attempt rows — identical-id self-matches are
  *    excluded by id (`a =!= b`), and with `dedupWithinBatch = true`
  *    (default) any two same-batch survivors have Jaccard below the
  *    threshold by construction, so none of them can knock another out
  *    on replay. With `dedupWithinBatch = false` a replayed batch could
  *    drop a first-attempt survivor that near-duplicates a same-batch
  *    row — run within-batch dedup (or dedup upstream) when replay
  *    matters.
  * Batches run serially per query, satisfying the single-writer layout.
  *
  * Bootstrap: [[seed]] indexes an existing corpus as `batch=-1` so the
  * stream dedups against history from its first trigger. */
object DedupIngestJob {

  /** Index an existing corpus (already deduplicated) as the stream's
    * starting state. Seed documents are NOT rewritten to survivors/ —
    * they already live wherever the corpus lives. */
  def seed(corpus: DataFrame, idCol: String, textCol: String, dir: String,
           shingleN: Int = 3, bands: Int = 12, rows: Int = 8): Unit =
    writeIndexShard(corpus, idCol, textCol, dir, -1L, shingleN, bands, rows)

  /** `foldAfterBatches` > 0 bounds the index's READ cost: when more than
    * that many unfolded `batch=N` shard dirs exist after a batch, the
    * loop folds them (plus any prior base) into ONE `base-<uuid>`
    * generation and commits by flipping the `FOLDED` pointer
    * ([[graft.io.AtomicPointer]]) — the dedup-index analogue of
    * [[graft.operators.Ann.compactIvfIndex]]. Without it, a year of
    * micro-batches leaves ~2×365×partitions index files whose
    * per-trigger listing/open cost grows with APPEND HISTORY rather than
    * data. The fold is replay-safe: the pointer records the highest
    * folded batch id, [[loadIndex]] reads base + STRICTLY NEWER batch
    * dirs only, so a replayed batch ≤ the fold boundary re-creates dirs
    * the effective view ignores (they are swept by the next fold) —
    * without this filter the replayed rows would double-count bucket
    * sizes and silently mask true duplicates behind the `maxBucket`
    * skew guard. Fold runs inside the serial foreachBatch, so it never
    * races an append (single-writer by construction). */
  def start(docs: DataFrame, idCol: String, textCol: String, dir: String,
            shingleN: Int = 3, bands: Int = 12, rows: Int = 8,
            minJaccard: Double = 0.8, maxBucket: Long = 200L,
            dedupWithinBatch: Boolean = true,
            trigger: Trigger = Trigger.AvailableNow(),
            checkpointLocation: Option[String] = None,
            onBatch: (Long, Long) => Unit = (_, _) => (),
            foldAfterBatches: Int = 0,
            onFold: Long => Unit = _ => (),
            foldBaseRatio: Double = 0.3,
            maxLiveGens: Int = 8): StreamingQuery = {
    val base = docs.writeStream.outputMode("append")
    checkpointLocation.foreach(base.option("checkpointLocation", _))
    // the shared serial-loop maintenance scaffolding ([[MaintenanceCycle]]):
    // fold-on-budget; the fold's cleanup is inline (this thread is the
    // index's only reader — no drain to wait for), so the sweep is a no-op
    val cycle = new MaintenanceCycle(foldAfterBatches,
      maintain = (spark, batchId) => {
        foldIndex(spark, dir, batchId, foldBaseRatio, maxLiveGens)
        onFold(batchId)
      })
    base
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        cycle.beforeBatch(batch.sparkSession)
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val withinDeduped =
            if (dedupWithinBatch)
              Dedup.dedupCorpus(batch, idCol, textCol, shingleN, bands,
                rows, minJaccard, maxBucket)
            else batch
          val survivors = loadIndex(spark, dir) match {
            case None => withinDeduped
            case Some(idx) =>
              val dupIds = Dedup.lshPairsAgainstIndex(withinDeduped, idx,
                  idCol, textCol, shingleN, bands, rows, minJaccard,
                  maxBucket)
                // a replayed batch meets its own first-attempt rows in
                // the index: identical ids are the replay artifact, not
                // a duplicate — see the idempotence contract above
                .where(col("a") =!= col("b"))
                .select(col("a").as(idCol)).distinct()
              withinDeduped.join(dupIds, Seq(idCol), "left_anti")
          }
          // one materialization feeds three writes (the dedup chain is
          // nontrivial; recomputing it per action would triple the batch)
          val s = survivors.persist()
          try {
            val n = s.count()
            // size the batch's writes by its ROW count: at the session
            // setting every micro-batch leaves one file per shuffle
            // partition per component — a year of daily batches is tens
            // of thousands of near-empty files before the fold ever runs.
            // repartition (not coalesce) so the minhash compute upstream
            // keeps its parallelism; the shuffled frames are tiny.
            s.repartition(sizedParts(spark, n, 8192L))
              .write.mode("overwrite")
              .parquet(s"$dir/survivors/batch=$batchId")
            writeIndexShard(s, idCol, textCol, dir, batchId,
              shingleN, bands, rows, nDocs = Some(n))
            onBatch(batchId, n)
          } finally { s.unpersist(); () }
          // by-name load: the unfolded-count listing only runs when a
          // fold budget is configured
          cycle.afterBatch(spark, batchId)(unfoldedBatchCount(spark, dir))
        }
        ()
      }
      .trigger(trigger)
      .start()
  }

  /** Accepted documents across all batches (plus nothing else — seeds
    * stay wherever the seed corpus lives). */
  def survivors(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/survivors").drop("batch")

  private def sizedParts(spark: SparkSession, rows: Long,
                         rowsPerFile: Long): Int =
    graft.io.TieredGenLog.sizedParts(spark, rows, rowsPerFile)

  private def writeIndexShard(docs: DataFrame, idCol: String,
                              textCol: String, dir: String, batchId: Long,
                              shingleN: Int, bands: Int, rows: Int,
                              nDocs: Option[Long] = None): Unit = {
    val spark = docs.sparkSession
    val idx = Dedup.lshIndex(docs, idCol, textCol, shingleN, bands, rows)
    // banded rows = nDocs × bands exactly; shingled = nDocs (set-valued,
    // wider rows). The one-time seed path passes no count and writes at
    // the session setting — only the ACCUMULATING per-batch shards need
    // the file-count bound.
    val banded = nDocs.map(n => idx.banded.repartition(
      sizedParts(spark, n * bands, 65536L))).getOrElse(idx.banded)
    val shingled = nDocs.map(n => idx.shingles.repartition(
      sizedParts(spark, n, 16384L))).getOrElse(idx.shingles)
    genLog(dir).writeShard(Seq(banded, shingled), batchId)
  }

  /** The index's on-disk protocol — the tiered generation log shared
    * with every growing index family ([[graft.io.TieredGenLog]]; the
    * machinery was extracted from this job verbatim in r13, behavior
    * pinned by DedupStreamSpec/Round12Spec/TieredMaintenanceSpec across
    * the move): `batch=N` append shards per component, `base-<uuid>`
    * folded generations, the FOLDED pointer carrying the ordered live
    * list, marker-first fenced folds, crashed-vs-lost discrimination. */
  private[graft] def genLog(dir: String): graft.io.TieredGenLog =
    new graft.io.TieredGenLog(s"$dir/index", Seq("banded", "shingled"),
      "dedup index")

  private def unfoldedBatchCount(spark: SparkSession, dir: String): Int =
    genLog(dir).unfoldedBatchCount(spark)

  /** Fold unfolded batch shards into a fresh generation and flip the
    * FOLDED pointer — tiered (r12 verdict 1): see [[graft.io.TieredGenLog.fold]].
    * No retain cycle is needed: the index's only reader is this same
    * serial foreachBatch thread, so cleanup runs inline. */
  private def foldIndex(spark: SparkSession, dir: String,
                        upToBatch: Long, baseRatio: Double = 0.3,
                        maxGens: Int = 8): Unit =
    genLog(dir).fold(spark, upToBatch, baseRatio, maxGens)

  /** The EFFECTIVE index: live generations plus strictly-newer batch
    * shards — never a replayed dir at or below the fold boundary, whose
    * rows would double-count bucket sizes against the `maxBucket` skew
    * guard. */
  private def loadIndex(spark: SparkSession,
                        dir: String): Option[Dedup.LshIndex] =
    genLog(dir).effective(spark).map {
      case Seq(banded, shingled) => Dedup.LshIndex(banded, shingled)
      case other => throw new IllegalStateException(
        s"dedup index: expected 2 components, got ${other.length}")
    }
}
