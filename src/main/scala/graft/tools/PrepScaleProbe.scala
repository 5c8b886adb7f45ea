package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.TextFunctions

/** Scratch probe for the 25× composition rehearsal: is the 10×→25×
  * superlinear segment of e2e_corpus_prep the ENGINE or the CORPUS?
  * Counts the scale-carrying intermediates (quality+lang survivors,
  * verified duplicate pairs at the pipeline's parameters) per scale dir
  * — if pairs grow faster than docs, the corpus is getting relatively
  * dup-heavier with the replica factor (the documented char-3-gram
  * cross-replica survival artifact) and the engine's work is ∝ pairs,
  * not superlinear in docs.
  *
  * Usage: PrepScaleProbe <dir> [<dir> ...]
  */
object PrepScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    args.foreach { dir =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      val kept = docs
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .where(col("quality") >= 0.3)
      val nKept = kept.count()
      val t0 = System.nanoTime()
      val pairs = Dedup.minHashLsh(kept, "doc_id", "text",
        shingleN = 3, bands = 12, rows = 8, minJaccard = 0.8)
      val nPairs = pairs.count()
      val tPairs = (System.nanoTime() - t0) / 1e9
      pairs.unpersist(true)
      val t1 = System.nanoTime()
      val staged = Dedup.dedupCorpusStaged(kept, "doc_id", "text",
        shingleN = 3, bands = 12, rows = 8, minJaccard = 0.8)
      val nSurv = staged.df.count()
      val tDedup = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val prepped = graft.jobs.CorpusPrep.prepare(docs, "doc_id", "text")
      val nOut = prepped.count()
      val tPrep = (System.nanoTime() - t2) / 1e9
      staged.release()
      // split the 73 s gap: token counting alone, then the full gate agg
      // (adds the pack cumsum window + countDistinct)
      val t3 = System.nanoTime()
      val p2 = graft.jobs.CorpusPrep.prepare(docs, "doc_id", "text")
      p2.agg(sum(col("n_tokens"))).collect()
      val tTok = (System.nanoTime() - t3) / 1e9
      val t4 = System.nanoTime()
      val p3 = graft.jobs.CorpusPrep.prepare(docs, "doc_id", "text")
      p3.groupBy("split").agg(count(lit(1)),
          countDistinct(col("bucket"), col("pack_id")),
          sum(col("n_tokens"))).collect()
      val tGate = (System.nanoTime() - t4) / 1e9
      println(f"PROBE $dir docs=$n kept=$nKept pairs=$nPairs pairStage=$tPairs%.1f s " +
        f"survivors=$nSurv dedupTotal=$tDedup%.1f s prepOut=$nOut prepTotal=$tPrep%.1f s " +
        f"tokSum=$tTok%.1f s gateAgg=$tGate%.1f s")
    }
    spark.stop()
  }
}
