package graft

import org.apache.spark.sql.functions.col
import graft.functions.TextFunctions
import graft.io.{InMemoryKV, KVWriter}
import graft.jobs._
import graft.prep.{Collections, LogIngest}
import graft.tools.Harness

/** Committed E2E golden for the daily-log pipeline (SURVEY §5.3) — exact
  * KV contents on the fixtures with every seed fixed. Hand-checked:
  *  - each user's recommendations exclude their own log-viewed books
  *    (101 viewed 3,5; 106 viewed 1,4,7; 107 viewed 2,6) — the LOG
  *    pipeline filters log-seen books, not the collect table
  *    (log_analyze.py:174-181 semantics);
  *  - u_similar lists contain only model (collection) users. */
class DailyLogGoldenSpec extends SparkSuite {

  private def fitted = RecommenderModel.fit(
    Fixtures.books(spark), Fixtures.tags(spark), Fixtures.bookTags(spark),
    Fixtures.collects(spark),
    minCollected = 2, minDf = 1.0, stopWords = Nil, k = 2, hotN = 3)

  test("E2E golden: exact KV snapshot of the daily-log pipeline") {
    InMemoryKV.clear()
    DailyLogJob.run(Fixtures.logViews(spark), fitted, new InMemoryKV)
    val expected = Map(
      "b_like:101" -> "6,7,1",
      "b_like:106" -> "5,3",
      "b_like:107" -> "7,1,5,3",
      "u_similar:101" -> "103,102",
      "u_similar:106" -> "101,103,102",
      "u_similar:107" -> "103,101,102")
    assert(InMemoryKV.snapshot == expected)
  }

  test("DailyLogJob.run writes both key families in one action: fewer tasks, same KV") {
    val model = fitted
    val views = Fixtures.logViews(spark)
    // the same recs written in two actions, one per key family
    def twoActions(): Unit = {
      val logBooks = LogIngest.userBookSets(views, 20, 42L)
      val queries = RecommenderModel.assignQueries(model,
        Collections.userDocs(logBooks, model.bookDocs))
      val recs = Recommender.recommend(model, queries, logBooks,
        answerUsers = Some(logBooks))
      KVWriter.write(recs.books.select(
        TextFunctions.kvKey("b_like", col("query")).as("key"),
        TextFunctions.joinIds(col("books")).as("value")), new InMemoryKV)
      KVWriter.write(recs.users.select(
        TextFunctions.kvKey("u_similar", col("query")).as("key"),
        TextFunctions.joinIds(col("users")).as("value")), new InMemoryKV)
    }
    val meter = new Harness.Meter(spark)
    try {
      // each lane starts from a cleared cache, so neither reads what the
      // other persisted
      def metered(body: => Unit): (Harness.Tasks, Map[String, String]) = {
        spark.catalog.clearCache()
        InMemoryKV.clear()
        val run = meter.delta(body)
        (run.tasks, InMemoryKV.snapshot)
      }
      val (two, twoKv) = metered(twoActions())
      val (one, oneKv) = metered(DailyLogJob.run(views, model, new InMemoryKV))
      assert(oneKv == twoKv)
      assert(oneKv.size == 6, oneKv.toString)
      assert(one.tasks < two.tasks, s"one action $one vs two actions $two")
    } finally {
      InMemoryKV.clear()
      spark.sparkContext.removeSparkListener(meter)
    }
  }
}
