package graft.tools
import org.apache.spark.sql.functions._

/** Per-stage timing of the flagship `prepareFull` pipeline (the e2e2
  * configuration), 3 runs: prints one JSON line per run with the eager
  * stage breakdown (see `CorpusPrep.prepareFull`'s scaladoc for what each
  * stage's actions execute) plus `final_action` — the caller-side count()
  * that runs the lazy DSIR weight model + semi-join + the report agg.
  * Usage: runMain graft.tools.TimeStages <sfDir>
  */
object TimeStages {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    (1 to 3).foreach { i =>
      spark.catalog.clearCache()
      System.gc()
      val stages = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val t0 = System.nanoTime()
      val docs = graft.Tables.documents(spark, args.head)
      val out = graft.jobs.CorpusPrep.prepareFull(
        docs.where(col("doc_id") >= 3), "doc_id", "text",
        benchmark = Some(docs.where(col("doc_id") < 3).select(col("text"))),
        dsirTarget = Some(col("lang") === "en"),
        dsirKeep = 200,
        stageTimer = (n, s) => { stages(n) = s; () })
      val tAct = System.nanoTime()
      out.groupBy("split").agg(count(lit(1)).as("n"),
          sum(col("n_tokens")).as("n_tokens"))
        .orderBy("split").count()
      val tEnd = System.nanoTime()
      stages("final_action") = (tEnd - tAct) / 1e9
      val total = (tEnd - t0) / 1e9
      val body = stages.map { case (k, v) => f""""$k":$v%.2f""" }
        .mkString(",")
      println(f"""{"tool":"TimeStages","run":$i,"total":$total%.2f,"stages":{$body}}""")
    }
    spark.stop()
  }
}
