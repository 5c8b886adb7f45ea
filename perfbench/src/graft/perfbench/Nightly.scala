package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.io.{InMemoryKV, KVSink, KVWriter}
import graft.jobs.{Recommender, RecommenderModel}
import graft.model.{Clustering, Vectorize}
import graft.operators.SimilarityJoin
import graft.prep.{Collections, Documents, LogIngest, TagWeighting}
import graft.rank.{Blend, Scoring, TitleDedup}

/** The nightly plane, staged for the traced run. `SimilarBooksJob.run`,
  * `RecommenderModel.fit` and `DailyLogJob.run` compose their layer calls
  * lazily and run them in one action each, so from outside only a staged
  * form can say what each layer costs: here every call those jobs make
  * runs in the same order, with the same arguments, in a span of its own
  * whose output is persisted and counted before the next call starts. The
  * outputs go to a KV store of their own and are checked. */
object Nightly {

  /** The layers that report the F counter set (wall_s jobs tasks
    * exec_cpu_s shuffle_bytes spill_bytes) and the L set (wall_s tasks). */
  private val Full = Seq(
    "operators.SimilarityJoin.exactCosineTopK", "model.Vectorize.fit",
    "model.Clustering.fit", "rank.Scoring.clusterCosine",
    "jobs.Recommender.recommend")
  private val Light = Seq(
    "prep.TagWeighting.weightedTagDocs", "prep.Documents.bookDocs",
    "prep.Collections.userBookLists", "prep.Collections.userDocs",
    "prep.LogIngest.userBookSets", "rank.TitleDedup.dedupAndRerank",
    "jobs.RecommenderModel.assignQueries", "io.KVWriter.write")

  final case class Result(failed: Long, attempted: Long, digest: String)

  /** Run the staged plane over the input tables and `views`, with `fitted`
    * (the model `RecommenderModel.fit` made of the same tables) serving the
    * daily-log part, and put the per-layer metrics into `layers`. */
  def run(spark: SparkSession, tr: Trace, f: Serve.Frames, views: DataFrame,
          fitted: RecommenderModel.Fitted, layers: Metrics): Result = {
    val sc = spark.sparkContext
    def done(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }
    def staged(name: String)(df: => DataFrame): DataFrame = tr.span(sc, name)(done(df))
    InMemoryKV.clear()
    val kv: KVSink = new InMemoryKV
    def write(prefix: String, ids: DataFrame, key: String, list: String): Unit =
      tr.span(sc, "io.KVWriter.write")(KVWriter.write(ids.select(
        TextFunctions.kvKey(prefix, col(key)).as("key"),
        TextFunctions.joinIds(col(list)).as("value")), kv))

    // ---- SimilarBooksJob.run (topK 100, store 15, maxDfFraction 0.5)
    val tagDocs = staged("prep.TagWeighting.weightedTagDocs")(
      TagWeighting.weightedTagDocs(f.bookTag, f.tag))
    val docs = staged("prep.Documents.bookDocs")(Documents.bookDocs(f.book, tagDocs))
    val tokenized = docs.select(col("bookId"),
      TextFunctions.tokenize(col("doc")).as("toks"))
    val pairs = staged("operators.SimilarityJoin.exactCosineTopK")(
      SimilarityJoin.exactCosineTopK(tokenized, "bookId", "toks", k = 100,
        maxDfFraction = 0.5))
    val ranked = staged("rank.TitleDedup.dedupAndRerank")(TitleDedup.dedupAndRerank(
      pairs, docs.select(col("bookId"), col("title"), col("rating")), 15))
    write("b_similar", ranked.groupBy(col("a"))
      .agg(collect_list(struct(col("pos"), col("b"))).as("pb"))
      .select(col("a"), transform(sort_array(col("pb")), x => x.getField("b")).as("ids")),
      "a", "ids")

    // ---- RecommenderModel.fit (minCollected 15, minDf 10, k 10, seed 42)
    val userBooks = staged("prep.Collections.userBookLists")(
      Collections.userBookLists(f.collect, 15))
    val userDocs = staged("prep.Collections.userDocs")(Collections.userDocs(userBooks, docs))
    val vec = tr.span(sc, "model.Vectorize.fit") {
      val v = Vectorize.fit(userDocs, "userId", "userDoc", 10.0, Vectorize.defaultStopWords)
      v.copy(vectors = done(v.vectors))
    }
    tr.span(sc, "model.Clustering.fit")(done(Clustering.fit(vec.vectors, "userId", 10, 42L).assignments))

    // ---- DailyLogJob.run (cap 20, default params, seed 42)
    val params = Recommender.Params()
    val logBooks = staged("prep.LogIngest.userBookSets")(LogIngest.userBookSets(views, 20, 42L))
    val queryDocs = staged("prep.Collections.userDocs")(
      Collections.userDocs(logBooks, fitted.bookDocs))
    val queries = staged("jobs.RecommenderModel.assignQueries")(
      RecommenderModel.assignQueries(fitted, queryDocs))
    // the batch lane's similarity step alone; recommend runs it again inside
    staged("rank.Scoring.clusterCosine")(Scoring.clusterCosine(queries,
      fitted.userTokens, Some(fitted.cv.vocabulary.toSet))).unpersist()
    val scored = tr.span(sc, "jobs.Recommender.recommend") {
      val r = Recommender.recommend(fitted, queries, logBooks, params)
      Recommender.Recs(done(r.books), done(r.users))
    }
    val logUsers = logBooks.select(col("userId"))
    write("b_like", Blend.withFallback(scored.books, logUsers, fitted.hot,
      params.recCap), "query", "books")
    write("u_similar", Blend.withUserFallback(scored.users, logUsers,
      params.defaultUsers), "query", "users")

    org.apache.spark.graftbridge.ListenerBridge.drain(sc, 30000L)
    def c(name: String): Counters = tr.counters(s"span:$name")
    Full.foreach { n =>
      val p = s"nightly.$n"
      layers.put(s"$p.wall_s", tr.wallS(n), "s")
      layers.put(s"$p.jobs", c(n).jobs.get.toDouble, "count")
      layers.put(s"$p.tasks", c(n).tasks.get.toDouble, "count")
      layers.put(s"$p.exec_cpu_s", c(n).cpuNs.get / 1e9, "s")
      layers.put(s"$p.shuffle_bytes", c(n).shuffleWriteBytes.get.toDouble, "bytes")
      layers.put(s"$p.spill_bytes", c(n).spillBytes.get.toDouble, "bytes")
    }
    Light.foreach { n =>
      layers.put(s"nightly.$n.wall_s", tr.wallS(n), "s")
      layers.put(s"nightly.$n.tasks", c(n).tasks.get.toDouble, "count")
    }
    val join = "operators.SimilarityJoin.exactCosineTopK"
    layers.put(s"nightly.$join.rows_per_pair",
      c(join).shuffleWriteRecords.get.toDouble / math.max(1L, pairs.count()), "ratio")

    val result = check(InMemoryKV.snapshot, views)
    spark.catalog.clearCache()
    result
  }

  /** The output invariants: no book is its own similar book, at most 15
    * `b_similar` and `b_like` ids, at most 40 `u_similar` ids, and every
    * log user has both daily-log keys. */
  private def check(kv: Map[String, String], views: DataFrame): Result = {
    var failed = 0L
    def fail(n: Long, why: String): Unit =
      if (n > 0) { failed += n; System.err.println(s"perfbench: nightly: $n failed: $why") }
    def ids(v: String): Seq[String] = if (v.isEmpty) Nil else v.split(",").toSeq
    def family(prefix: String): Map[String, Seq[String]] = kv.collect {
      case (k, v) if k.startsWith(prefix + ":") => k.stripPrefix(prefix + ":") -> ids(v)
    }
    val similar = family("b_similar")
    val like = family("b_like")
    val users = family("u_similar")
    fail(similar.count { case (b, l) => l.contains(b) }, "a book similar to itself")
    fail(similar.count(_._2.size > 15), "more than 15 b_similar ids")
    fail(like.count(_._2.size > 15), "more than 15 b_like ids")
    fail(users.count(_._2.size > 40), "more than 40 u_similar ids")
    val logUsers = views.select("userId").distinct().collect().map(_.getLong(0).toString)
    fail(logUsers.count(u => !like.contains(u) || !users.contains(u)),
      "log users without a b_like and a u_similar value")
    if (similar.isEmpty) fail(1, "no b_similar values")
    Result(failed, similar.size + logUsers.length.toLong,
      Digest.of(kv.toSeq.sorted.map { case (k, v) => s"$k $v" }))
  }
}
