package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Append-UNDER-SERVE rehearsal (round 10): the operational loop where
  * [[graft.jobs.IndexIngestJob]] streams daily vector deltas into a live
  * IVF index WHILE serving queries run against it — the shape
  * `tools/AppendScale` measured without query load. Reports (a) per-shard
  * append wall with concurrent queries, (b) per-query wall before / during
  * / after the append stream, and (c) the generation each query observed
  * (the marker-commit protocol means a query sees every shard whose commit
  * marker existed when it planned — never a torn one).
  *
  * Usage: runMain graft.tools.AppendServeScale <sfDir-or-scaled-dir>
  *        [nBatches=5] [batchRows=10000]
  */
object AppendServeScale {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    import spark.implicits._
    val nBatches = if (args.length > 1) args(1).toInt else 5
    val batchRows = if (args.length > 2) args(2).toInt else 10000

    val emb = graft.Tables.embeddings(spark, args.head)
    val base = emb.where(pmod(col("vec_id"), lit(4L)) =!= 0L)
    val delta = emb.where(pmod(col("vec_id"), lit(4L)) === 0L)
      .limit(nBatches * batchRows)
      .select(col("vec_id"), col("embedding")).collect()
    val queries = emb.select(col("vec_id"), col("embedding")).limit(32)
      .persist(); queries.count()

    val dir = java.nio.file.Files.createTempDirectory("appendserve").toString
    val t0 = System.nanoTime()
    graft.operators.Ann.buildIvfIndex(base, "vec_id", "embedding", dir,
      nCentroids = 256, seed = 42L, distributedFit = true)
    println(f"TIMING build_base ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      s"(rows=${base.count()})")

    // the serving side: a loop of 32-query probes against the live dir,
    // tagged with the wall and the shard count the manifest listing
    // exposed at plan time
    val stopServe = new AtomicBoolean(false)
    val queryLog = new ConcurrentLinkedQueue[(Double, Long)]()
    // generation observed = committed shard count at plan time (the
    // marker files — inside postings.parquet/ — are the commit
    // protocol's unit of visibility)
    def committedShards(): Long =
      Option(new java.io.File(s"${graft.operators.Ann.resolveIvfDir(
          spark, dir)}/postings.parquet").list()).map(
        _.count(_.startsWith("_SHARD_COMMIT_")).toLong).getOrElse(0L)
    def oneQuery(): Double = {
      val gen = committedShards()
      val q0 = System.nanoTime()
      graft.operators.Ann.queryIvfIndex(
        queries, "vec_id", "embedding", dir, k = 10, nProbe = 4).count()
      val w = (System.nanoTime() - q0) / 1e9
      queryLog.add((w, gen))
      w
    }
    oneQuery() // warm (codegen + first manifest read)
    val before = (1 to 3).map(_ => oneQuery())
    queryLog.clear() // the log belongs to the during phase only

    val serveThread = new Thread(() => {
      while (!stopServe.get()) oneQuery()
    }, "serve-loop")
    serveThread.setDaemon(true)

    // the ingest side: IndexIngestJob over a MemoryStream fed one
    // day's-delta batch at a time
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Array[Float])]
    val appendWalls = new ConcurrentLinkedQueue[Double]()
    @volatile var tBatch = 0L
    val q = graft.jobs.IndexIngestJob.start(
      stream.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", dir,
      trigger = Trigger.ProcessingTime(0L),
      onShard = (_, sid) => {
        appendWalls.add((System.nanoTime() - tBatch) / 1e9)
        println(f"APPEND shard=$sid wall=${(System.nanoTime() - tBatch) / 1e9}%.1f s")
      })

    serveThread.start()
    val during = (0 until nBatches).map { i =>
      val rows = delta.slice(i * batchRows, (i + 1) * batchRows)
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      tBatch = System.nanoTime()
      stream.addData(rows.toIndexedSeq)
      q.processAllAvailable()
      (System.nanoTime() - tBatch) / 1e9
    }
    stopServe.set(true); serveThread.join(60000); q.stop()
    val logged = queryLog.toArray(Array.empty[(Double, Long)])
    val walls = logged.map(_._1).sorted

    val after = (1 to 3).map(_ => oneQuery())
    // a very fast append phase can outrun the serve loop's first query —
    // report that honestly instead of crashing on an empty percentile
    val duringStats =
      if (walls.isEmpty) "query_during=NONE-COMPLETED "
      else f"query_during_p50=${walls(walls.length / 2)}%.2f " +
        f"p95=${walls(math.min(walls.length - 1, (walls.length * 19) / 20))}%.2f s " +
        f"(n=${walls.length}, generations ${logged.map(_._2).min}-${logged.map(_._2).max}) "
    println(f"APPEND_SERVE batches=$nBatches rows/batch=$batchRows " +
      f"append_med=${during.sorted.apply(during.length / 2)}%.1f s " +
      f"query_before=${before.min}%.2f-${before.max}%.2f s " +
      duringStats +
      f"query_after=${after.min}%.2f-${after.max}%.2f s " +
      s"final_gen=${committedShards()}")
    spark.stop()
  }
}
