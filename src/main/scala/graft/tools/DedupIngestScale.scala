package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Scale rehearsal for [[graft.jobs.DedupIngestJob]]: seed the index with
  * half the N× corpus, then stream the other half in day-sized batches
  * and time each micro-batch end-to-end (within-batch dedup → index
  * probe → three writes → index growth). The claim under test: per-batch
  * cost tracks the BATCH (plus colliding buckets), not the accumulated
  * corpus — batch walls should stay ~flat as the index doubles.
  *
  * With `foldAfterBatches` > 0 the run also measures the r11 index fold:
  * per-fire fold wall, and the index FILE count per batch — the growth
  * the fold exists to bound (unfolded, a year of micro-batches costs
  * every trigger's probe a listing over ~2×365×partitions files).
  *
  * Usage: DedupIngestScale <dir> [batches=5] [foldAfterBatches=0] */
object DedupIngestScale {
  def main(args: Array[String]): Unit = {
    val srcDir = args.head
    val nBatches = if (args.length > 1) args(1).toInt else 5
    val foldAfter = if (args.length > 2) args(2).toInt else 0
    val spark = Harness.session()
    import spark.implicits._
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val ids = docs.select(min("doc_id"), max("doc_id")).head()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val mid = lo + (hi - lo) / 2
    val dir = Harness.scratchDir("dedupingest")
    val seed = docs.where(col("doc_id") <= mid)
    val t0 = System.nanoTime()
    graft.jobs.DedupIngestJob.seed(seed, "doc_id", "text", dir)
    println(f"DEDUPINGEST seed ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      s"(${seed.count()} docs)")
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    @volatile var lastN = -1L
    @volatile var foldMark = 0L
    val foldWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val q = graft.jobs.DedupIngestJob.start(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", dir,
      trigger = Trigger.ProcessingTime(0L),
      onBatch = (_, n) => { lastN = n; foldMark = System.nanoTime() },
      foldAfterBatches = foldAfter,
      // onBatch fires right before the fold check, so mark-to-onFold is
      // (to a few ms of budget probing) the fold's own wall
      onFold = _ => foldWalls.synchronized {
        foldWalls += (System.nanoTime() - foldMark) / 1e9; () })
    try {
      val step = math.max(1L, (hi - mid) / nBatches)
      (0 until nBatches).foreach { d =>
        val a = mid + 1 + d * step
        val b = if (d == nBatches - 1) hi + 1 else a + step
        val rows = docs.where(col("doc_id") >= a && col("doc_id") < b)
          .as[(Long, String)].collect().toSeq
        val td = System.nanoTime()
        stream.addData(rows: _*)
        q.processAllAvailable()
        val folded = foldWalls.synchronized {
          val w = foldWalls.toSeq; foldWalls.clear(); w }
        val wall = (System.nanoTime() - td) / 1e9
        val indexFiles =
          Harness.parquetFiles(java.nio.file.Paths.get(dir, "index"))
        println(f"DEDUPINGEST batch${d + 1} $wall%.1f s " +
          s"(in=${rows.size} survivors=$lastN indexFiles=$indexFiles" +
          folded.map(w => f" fold=$w%.1f s").mkString + ")")
      }
      val total = graft.jobs.DedupIngestJob.survivors(spark, dir).count()
      println(s"DEDUPINGEST total_survivors $total")
    } finally q.stop()
    spark.stop()
  }
}
