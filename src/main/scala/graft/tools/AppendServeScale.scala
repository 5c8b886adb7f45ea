package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Append-UNDER-SERVE rehearsal (round 10): the operational loop where
  * [[graft.jobs.IndexIngestJob]] streams daily vector deltas into a live
  * IVF index WHILE serving queries run against it. Reports (a) per-shard
  * append wall with concurrent queries, (b) per-query wall before / during
  * / after the append stream, (c) the generation each query observed
  * (the marker-commit protocol means a query sees every shard whose commit
  * marker existed when it planned — never a torn one), and (d) the reader
  * errors, which fail the run.
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

    val dir = Harness.scratchDir("appendserve")
    val nBase = base.count()
    val nCentroids = Harness.sqrtCells(nBase)
    val t0 = System.nanoTime()
    graft.operators.Ann.buildIvfIndex(base, "vec_id", "embedding", dir,
      nCentroids = nCentroids, seed = 42L, distributedFit = true)
    println(f"TIMING build_base ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      s"(rows=$nBase cells=$nCentroids)")

    // generation observed = committed shard count at plan time (the
    // marker files — inside postings.parquet/ — are the commit
    // protocol's unit of visibility)
    def committedShards(): Long =
      Option(new java.io.File(s"${graft.operators.Ann.resolveIvfDir(
          spark, dir)}/postings.parquet").list()).map(
        _.count(_.startsWith("_SHARD_COMMIT_")).toLong).getOrElse(0L)
    def query(): Unit = graft.operators.Ann.queryIvfIndex(
      queries, "vec_id", "embedding", dir, k = 10, nProbe = 4).count()
    def timedQuery(): Double = {
      val q0 = System.nanoTime()
      query()
      (System.nanoTime() - q0) / 1e9
    }
    timedQuery() // warm (codegen + first manifest read)
    val before = (1 to 3).map(_ => timedQuery())

    // the ingest side: IndexIngestJob over a MemoryStream fed one
    // day's-delta batch at a time
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Array[Float])]
    @volatile var tBatch = 0L
    val q = graft.jobs.IndexIngestJob.start(
      stream.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", dir,
      trigger = Trigger.ProcessingTime(0L),
      onShard = (_, sid) =>
        println(f"APPEND shard=$sid wall=${(System.nanoTime() - tBatch) / 1e9}%.1f s"))

    // the serving side: a loop of 32-query probes against the live dir,
    // each labelled with the shard count the manifest listing exposed at
    // plan time
    val readers = Harness.Readers(1, "serve-loop", phase = "during") {
      val gen = committedShards()
      query()
      gen
    }
    val during = (0 until nBatches).map { i =>
      val rows = delta.slice(i * batchRows, (i + 1) * batchRows)
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      tBatch = System.nanoTime()
      stream.addData(rows.toIndexedSeq)
      q.processAllAvailable()
      (System.nanoTime() - tBatch) / 1e9
    }
    readers.stop(); q.stop()

    val after = (1 to 3).map(_ => timedQuery())
    println(f"APPEND_SERVE batches=$nBatches rows/batch=$batchRows " +
      f"append_med=${during.sorted.apply(during.length / 2)}%.1f s " +
      f"query_before=${before.min}%.2f-${before.max}%.2f s " +
      f"query_after=${after.min}%.2f-${after.max}%.2f s " +
      s"final_gen=${committedShards()}")
    // a very fast append phase can outrun the serve loop's first query:
    // the during line then reads n=0
    readers.report("APPEND_SERVE")
    readers.requireClean()
    spark.stop()
  }
}
