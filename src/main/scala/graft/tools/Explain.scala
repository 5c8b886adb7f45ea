package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: print the formatted physical plan of named targets to audit
  * pushdown / broadcast / codegen / WindowGroupLimit characteristics.
  *
  * Usage: Explain <dir> <target>... — a target is a SparkEntry query name
  * (dir = sf dir) or one of the frames end-to-end plans hide:
  *  - `lsh_pairs` (dir = sf dir): the MinHash-LSH pair pipeline
  *    (candidate generation + shingle re-attach + Jaccard verify,
  *    `Dedup.lshPairsStaged`); the public entry points persist the pairs,
  *    so their explains show only an InMemoryTableScan.
  *  - `suffix_round` (dir = sf dir): ONE suffix-doubling round (pairing +
  *    reencode, `SuffixDedup.doublingRound`) over a seed-shaped
  *    (doc, off, r) frame; the loop checkpoints per round, so no
  *    end-to-end explain shows the per-round shape.
  *  - `lex_serve=term[,term...]` (dir = lexical index dir): the lexical
  *    index's SERVING query ([[graft.jobs.LexIngestJob.query]]); no
  *    docs-component scan may appear in it. */
object Explain {

  /** A target's frame plus the hook that releases what it cached. */
  private type Target = (SparkSession, String, Seq[String]) => (DataFrame, () => Unit)

  private val targets: Map[String, Target] = Map(
    "lsh_pairs" -> { (spark, dir, _) =>
      val docs = graft.Tables.documents(spark, dir)
      val (pairs, sh) = graft.operators.Dedup.lshPairsStaged(
        docs, "doc_id", "text", shingleN = 3, bands = 12, rows = 8,
        minJaccard = 0.6, maxBucket = 200L)
      (pairs, () => { sh.unpersist(); () })
    },
    "suffix_round" -> { (spark, dir, _) =>
      val docs = graft.Tables.documents(spark, dir)
        .where(col("doc_id") < 2000)
      // one (doc, off, r) row per position, the schema the loop's
      // checkpoints carry; the lineage is cut to a bare RDD scan
      // (unknown/huge stats), mirroring the localCheckpoint'ed LogicalRDDs
      // the real loop feeds each round, so the planner makes the same
      // join/aggregate choices
      val idsLazy = docs
        .select(col("doc_id").as("__doc"),
          posexplode(split(col("text"), "")).as(Seq("__off", "__c")))
        .select(col("__doc"), col("__off").cast("long").as("__off"),
          xxhash64(col("__c")).as("__r"))
      val ids = spark.createDataFrame(idsLazy.rdd, idsLazy.schema)
      graft.operators.SuffixDedup.doublingRound(ids, 8L)
    },
    "lex_serve" -> { (spark, dir, terms) =>
      (graft.jobs.LexIngestJob.query(spark, dir, terms), () => ())
    })

  def main(args: Array[String]): Unit = {
    val dir = args.head
    val wanted = Harness.targets(args.tail.toSeq, targets.keys.toSeq.sorted)
    val spark = Harness.session(cores = 8)
    args.tail.zip(wanted).foreach { case (arg, t) =>
      println(s"\n========== $arg ==========")
      val (df, release) = targets.get(t.name)
        .map(_(spark, dir, t.params))
        .getOrElse((graft.SparkEntry.queries(t.name)(spark, dir), () => ()))
      df.explain("formatted")
      release()
    }
    spark.stop()
  }
}
