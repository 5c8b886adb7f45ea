package graft.tools

import org.apache.spark.sql.functions._

/** The lexical index's reason to exist, measured: serving a BM25 query
  * OFF THE INDEX (pushed term pruning over term-clustered postings +
  * the skinny doc-length component) versus recomputing it from the raw
  * documents (tokenize → explode → aggregate the whole corpus, the
  * t15-shaped plan — and the reference's shape, which rebuilds its
  * in-memory similarity matrix from the documents on every deploy).
  * Same scores by construction (LexStreamSpec pins exactness); this
  * harness prices the difference at scale.
  *
  * Usage: LexServeBench <corpusDir> <indexDir> [queries=10]
  * where indexDir holds a LexIngestJob index over corpusDir's
  * documents.parquet (e.g. a LexIngestScale leftover). Prints one
  * LEXBENCH line: median wall per query for each path. */
object LexServeBench {
  def main(args: Array[String]): Unit = {
    val corpusDir = args(0)
    val indexDir = args(1)
    val nQueries = if (args.length > 2) args(2).toInt else 10
    val spark = Harness.session()
    import spark.implicits._
    val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenize(col("text")).as("toks"))
    // rotating 3-term queries drawn from the corpus frequency head —
    // the same shape the serve harness runs
    val terms = docs.select(explode(col("toks")).as("term"))
      .groupBy("term").count().orderBy(desc("count"), col("term"))
      .limit(3 * nQueries).select("term").as[String].collect()
      .grouped(3).toSeq
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    // warm both paths once (codegen + FS metadata), then measure
    graft.jobs.LexIngestJob.query(spark, indexDir, terms.head).count()
    graft.operators.TfIdf.bm25(docs, "doc_id", "toks", terms.head).count()
    val idx = terms.map(t => time {
      graft.jobs.LexIngestJob.query(spark, indexDir, t)
        .orderBy(desc("score"), col("id")).limit(10).collect(); () })
    val raw = terms.map(t => time {
      graft.operators.TfIdf.bm25(docs, "doc_id", "toks", t)
        .orderBy(desc("score"), col("id")).limit(10).collect(); () })
    // the r13 serving shape, reconstructed against the same index: corpus
    // stats from a full count/avg scan of the docs component + dl
    // attached by joining the full docs component — the two per-query
    // O(corpus-docs) terms the r14 sidecar/denormalization removed.
    // Timed here so one run prices old-vs-new on identical data; scores
    // are identical by construction.
    val view = graft.jobs.LexIngestJob.genLog(indexDir)
      .effective(spark).get
    val (postings, lens) = (view(0), view(1))
    val legacy = terms.map(t => time {
      val pruned = postings.drop("dl")
        .where(col("term").isin(t.distinct: _*))
      val stats = lens.agg(count(lit(1)).cast("double").as("n"),
        avg(col("dl")).as("avgdl"))
      val q = org.apache.spark.sql.functions.broadcast(
        spark.createDataFrame(t.distinct.map(Tuple1(_))).toDF("term"))
      val tf = pruned.join(q, Seq("term"))
      val dfc = tf.groupBy("term")
        .agg(count(lit(1)).cast("double").as("df"))
      val idf = log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
      tf.join(org.apache.spark.sql.functions.broadcast(dfc), "term")
        .join(lens, "id")
        .crossJoin(org.apache.spark.sql.functions.broadcast(stats))
        .withColumn("s", idf * col("tf") * 2.2 /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy("id").agg(sum(col("s")).as("score"))
        .orderBy(desc("score"), col("id")).limit(10).collect(); () })
    println(f"LEXBENCH queries=${terms.size} " +
      f"index_p50=${median(idx)}%.2f legacy_docscan_p50=${median(legacy)}%.2f " +
      f"raw_p50=${median(raw)}%.2f " +
      f"speedup_vs_raw=${median(raw) / median(idx)}%.1fx " +
      f"speedup_vs_legacy=${median(legacy) / median(idx)}%.1fx")
    spark.stop()
  }
}
