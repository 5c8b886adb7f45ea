package graft.jobs

import org.apache.spark.sql.DataFrame
import graft.io.{KVSink, KVWriter}
import graft.prep.{Collections, LogIngest}

/** Entry point 3.3 — daily log-driven batch recommendations (SURVEY §3.3).
  *
  * Reference (log_analyze.py main): parse yesterday's view log into
  * per-user book sets (≤20), fit the shared model over collection users,
  * then loop over every log user computing recommendations — a driver-side
  * Python loop the engine replaces with one set-oriented scoring DAG for
  * all users at once.
  *
  * Writes `b_like:{userId}` and `u_similar:{userId}`.
  */
object DailyLogJob {

  def run(views: DataFrame, fitted: RecommenderModel.Fitted, kv: KVSink,
          cap: Int = 20, params: Recommender.Params = Recommender.Params(),
          seed: Long = 42L): Recommender.Recs = {
    val logBooks = LogIngest.userBookSets(views, cap, seed)
    val queryDocs = Collections.userDocs(logBooks, fitted.bookDocs)
    val queries = RecommenderModel.assignQueries(fitted, queryDocs)
    // ST6 over the full log universe: a log user whose viewed books all
    // miss the doc index never reaches `queries` (inner join), but the
    // reference still writes them the hot list (log_analyze.py:234-236)
    val recs = Recommender.recommend(fitted, queries, logBooks, params,
      answerUsers = Some(logBooks))
    // both key families in one action, so the log users are scored once
    KVWriter.write(recs.kvFrame, kv)
    recs
  }
}
