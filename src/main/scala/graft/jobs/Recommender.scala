package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.rank.{Blend, Scoring}

/** Set-oriented recommendation scoring shared by the daily-log batch and
  * the streaming serve jobs (SURVEY §3.2 stage 4 / §3.3 stage 3):
  * cluster-local cosine neighbors → top-10% retention → rank-discounted
  * book votes → hot exclusion + seeded backfill + own-books filter →
  * hot-list fallback for unscorable users. */
object Recommender {

  final case class Params(
      topFraction: Double = 0.1,
      candidateCap: Int = 100,
      recCap: Int = 15,
      similarUserCap: Int = 40,
      backfill: Int = 5,
      seed: Long = 42L,
      defaultUsers: Seq[Long] = Seq(4L, 5L, 6L, 7L, 8L, 9L, 10L, 11L, 12L, 13L))

  final case class Recs(books: DataFrame, // (query, books array)
                        users: DataFrame) { // (query, users array)
    /** The KV output plan of both recommendation planes: `b_like:{query}`
      * and `u_similar:{query}` rows in ONE frame. The books and users
      * plans share the whole similarity subtree, and a second action
      * cannot reuse the first one's exchanges; unioned into one plan, the
      * shared shuffles run once (ReusedExchange). Write it in one action. */
    def kvFrame: DataFrame =
      books.select(
        TextFunctions.kvKey("b_like", col("query")).as("key"),
        TextFunctions.joinIds(col("books")).as("value"))
      .unionAll(users.select(
        TextFunctions.kvKey("u_similar", col("query")).as("key"),
        TextFunctions.joinIds(col("users")).as("value")))
  }

  /** queries: (userId, cluster, tokens) — pre-assigned query users.
    * ownBooks: (userId, books) — books each query user already has.
    * corpusPostings: optional PRECOMPUTED similarity index
    * ([[Scoring.termPostings]] over `fitted.userTokens`) — pass it from a
    * serving loop so the static corpus side is not recomputed per batch. */
  /** `serve` selects the micro-batch latency path
    * ([[Scoring.fusedServeScore]]: zero-shuffle scoring over the
    * deployment-lifetime broadcast index, identical results —
    * FusedScoringSpec); build it once per deployment with
    * [[Scoring.buildServeAssets]]. Leave None for batch scoring, where
    * the exchange pipeline's partial aggregation is the scalable plan.
    *
    * `answerUsers` (userId): who gets an answer, one output row per input
    * row — scored users their recommendations, every other user the
    * hot-list and default-user fallbacks. Defaults to the query users; a
    * caller whose user set is wider (every event or log user) passes it
    * here instead of running the fallbacks a second time. */
  def recommend(fitted: RecommenderModel.Fitted, queries: DataFrame,
                ownBooks: DataFrame, p: Params = Params(),
                filterOwn: Boolean = true,
                corpusPostings: Option[DataFrame] = None,
                broadcastQueries: Boolean = false,
                serve: Option[Scoring.ServeIndex] = None,
                answerUsers: Option[DataFrame] = None): Recs = {
    val (candidates, simUsers) = serve match {
      case Some(idx) =>
        Scoring.fusedServeScore(queries, idx,
          p.topFraction, p.candidateCap, p.similarUserCap)
      case None =>
        val vocab = fitted.cv.vocabulary.toSet
        val sims = Scoring.clusterCosine(queries, fitted.userTokens,
          Some(vocab), corpusPostings, broadcastQueries = broadcastQueries)
        val neighbors = Scoring.topNeighbors(sims, p.topFraction)
        val votes = Scoring.discountedBookVotes(neighbors, fitted.userBooks)
        (Scoring.topCandidates(votes, p.candidateCap),
          Scoring.similarUsers(sims, p.similarUserCap))
    }
    val own = if (filterOwn) ownBooks else ownBooks.limit(0)
    val blended = Blend.blend(candidates, fitted.hot, own,
      p.recCap, p.backfill, p.seed)
    val answer = answerUsers.getOrElse(queries).select(col("userId"))
    Recs(Blend.withFallback(blended, answer, fitted.hot, p.recCap),
      Blend.withUserFallback(simUsers, answer, p.defaultUsers))
  }
}
