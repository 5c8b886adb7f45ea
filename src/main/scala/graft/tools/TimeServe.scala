package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.jobs.{Recommender, RecommenderModel, ServeJob}
import graft.prep.Collections
import graft.rank.Scoring

/** Stage-wise latency profile of ONE serving micro-batch — the diagnostic
  * companion to [[BenchServe]] (which reports end-to-end percentiles but
  * not where a batch spends its time). Fits/loads the model exactly as
  * BenchServe does, persists the stream-lifetime index and snapshot as
  * ServeJob.start does, then times each stage of the scoreBatch DAG with
  * a count() action — cumulative, so stage N's incremental cost is
  * column N minus column N-1 modulo recompute (no caching between stages,
  * matching the real single-action batch).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.TimeServe
  */
object TimeServe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    import spark.implicits._

    val part = Tables.part(spark, sfDir)
    val book = part.select(col("p_partkey").as("id"), col("p_name").as("title"),
      col("p_brand").as("author"), (col("p_retailprice") % 5 + 5).as("rating"))
    val tag = part.select(col("p_type").as("t")).distinct()
      .withColumn("id", xxhash64(col("t")).bitwiseAND(lit(Long.MaxValue)))
      .select(col("id"), col("t").as("tag"))
    val bookTag = part.join(tag, part("p_type") === tag("tag"))
      .select(col("p_partkey").as("bookId"), col("id").as("tagId"),
        (col("p_size") % 5 + 1).as("num"))
    val collect0 = Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("userId"), col("l_partkey").as("bookId"),
        lit(1).as("isCollect"), col("o_orderdate").as("time"))
    val fitted0 = RecommenderModel.fit(book, tag, bookTag, collect0,
      minCollected = 10, minDf = 5.0, stopWords = Nil, k = 10, hotN = 30)
    val modelDir = java.nio.file.Files.createTempDirectory("graft-tserve").toString
    RecommenderModel.save(fitted0, modelDir)
    collect0.write.mode("overwrite").parquet(s"$modelDir/collect")
    val fitted = RecommenderModel.load(spark, modelDir)
    val collect = spark.read.parquet(s"$modelDir/collect")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    collect.count()
    val postings = Scoring
      .termPostings(fitted.userTokens, Some(fitted.cv.vocabulary.toSet))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    postings.count()
    val users = fitted.userBooks.select("userId").as[Long].collect()

    // RDD-backed (LogicalRDD): NO size statistics, like a streaming
    // micro-batch — a local relation would let the planner see "250 rows"
    // and produce plans a real batch never gets
    def events(n: Int): DataFrame = {
      val rows = (0 until n).map(i =>
        org.apache.spark.sql.Row(users(i % users.length),
          null.asInstanceOf[Seq[Long]]))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("userId",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("bookIds",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType)))))
    }

    def time(tag: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = body
      println(f"TIMESERVE $tag ${(System.nanoTime() - t0) / 1e9}%.2f s ($rows rows)")
    }

    (1 to 3).foreach { round =>
      println(s"== round $round ==")
      val ev = events(250)
      // end-to-end first, in a cold-shuffle state (stage-wise actions
      // below leave shuffle files that later jobs can silently skip)
      // the EXACT per-batch write shape (KVWriter's frame, fully
      // materialized — a count() lets Catalyst prune the scoring work)
      def kvFrame(recs: Recommender.Recs): DataFrame =
        recs.books.select(
          graft.functions.TextFunctions.kvKey("b_like", col("query")).as("key"),
          graft.functions.TextFunctions.joinIds(col("books")).as("value"))
        .unionAll(recs.users.select(
          graft.functions.TextFunctions.kvKey("u_similar", col("query")).as("key"),
          graft.functions.TextFunctions.joinIds(col("users")).as("value")))
      val recs0 = ServeJob.scoreBatch(ev, fitted, collect,
        corpusPostings = Some(postings))
      time("0_unfused_kv_cold")(kvFrame(recs0).collect().length.toLong)
      val bm0 = Scoring.buildServeAssets(fitted, collect)
      var recsF0: Recommender.Recs = null
      time("0_fused_construct") {
        recsF0 = ServeJob.scoreBatch(ev, fitted, collect,
          corpusPostings = Some(postings), serve = Some(bm0),
          stageTimer = (n, s) => println(f"TIMESERVE 0_stage_$n $s%.2f s"))
        0L
      }
      time("0_fused_kv_cold")(kvFrame(recsF0).collect().length.toLong)
      if (round == 1) {
        val plan = kvFrame(recsF0).queryExecution.executedPlan.toString
        println("PLAN_SUMMARY fused: " +
          Seq("SortMergeJoin", "BroadcastHashJoin", "Exchange", "Window",
            "HashAggregate", "MapGroups", "FileScan", "InMemoryTableScan")
            .map(k => s"$k=${plan.sliding(k.length).count(_ == k)}")
            .mkString(" "))
        java.nio.file.Files.write(
          java.nio.file.Paths.get("/tmp/serve_plan_fused.txt"),
          plan.getBytes("UTF-8"))
      }
      bm0.destroy()
      val batchCollect = collect
        .join(broadcast(ev.select(col("userId"))), Seq("userId"), "left_semi")
      time("1_batchCollect")(batchCollect.count())
      val latest = Collections.latestBooks(batchCollect, 3)
      time("2_latest")(latest.count())
      val queryBooks = ev
        .join(broadcast(latest), ev("userId") === latest("userId"), "left")
        .select(ev("userId"),
          coalesce(ev("bookIds"), latest("books")).as("books"))
        .where(col("books").isNotNull && size(col("books")) > 0)
      time("3_queryBooks")(queryBooks.count())
      val queryDocs = Collections.userDocs(broadcast(queryBooks), fitted.bookDocs)
      time("4_queryDocs")(queryDocs.count())
      val queries = RecommenderModel.assignQueries(fitted, queryDocs)
      time("5_assignQueries")(queries.count())
      val vocab = fitted.cv.vocabulary.toSet
      time("5b_postings_rows")(postings.count())
      val qp = Scoring.termPostings(queries, Some(vocab))
      time("5c_q_postings")(qp.count())
      val joinVol = broadcast(qp.select(col("cluster"), col("term"),
          col("userId").as("query")))
        .join(postings.select(col("cluster"), col("term"),
          col("userId").as("neighbor")), Seq("cluster", "term"))
      time("5d_join_volume")(joinVol.count())
      val sims = Scoring.clusterCosine(queries, fitted.userTokens, Some(vocab),
        Some(postings), broadcastQueries = true)
      time("6_sims")(sims.count())
      val neighbors = Scoring.topNeighbors(sims, 0.1)
      time("7_neighbors")(neighbors.count())
      val votes = Scoring.discountedBookVotes(neighbors, fitted.userBooks)
      time("8_votes")(votes.count())
      val collected = batchCollect.where(col("isCollect") === 1)
        .groupBy("userId").agg(collect_set(col("bookId")).as("books"))
      val recs = ServeJob.scoreBatch(ev, fitted, collect,
        corpusPostings = Some(postings))
      time("9_full_books")(recs.books.count())
      time("10_full_union") {
        recs.books.select(col("query"))
          .unionAll(recs.users.select(col("query"))).count()
      }
      val bm = Scoring.buildServeAssets(fitted, collect)
      val recsF = ServeJob.scoreBatch(ev, fitted, collect,
        corpusPostings = Some(postings), serve = Some(bm))
      time("11_fused_union") {
        recsF.books.select(col("query"))
          .unionAll(recsF.users.select(col("query"))).count()
      }
      bm.destroy()
    }
    spark.stop()
  }
}
