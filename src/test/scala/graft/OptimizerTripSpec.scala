package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Regression pin for a Spark 4.1 optimizer trip (r12 verdict 3): a
  * higher-order `transform` whose LAMBDA captures an outer column
  * ("embed this text column") died in optimizer attribute rewriting —
  * `java.util.NoSuchElementException: key not found: text#N` — once the
  * plan grew a UNION around it, hit twice live in the composed-ingest
  * rehearsal, now tools/TriTenantScale (lambda-embed over seed ∪
  * survivors, then queried through the ANN join/window tree), and
  * sidestepped there by
  * (a) building embed-ish arrays with explicit per-index expressions and
  * (b) localCheckpoint-truncating the union's lineage before querying.
  *
  * The minimal forms of the shape do NOT reproduce the trip
  * deterministically at suite scale (probed: fresh-relation unions,
  * shared-source unions, self-joins through the union, parquet-sourced
  * legs, the full bruteForceTopK and queryIvfIndex chains) — the live
  * hits needed the composed session's accumulated attribute-id state.
  * What this spec pins instead, so the knowledge lives in the suite and
  * not just in NOTES:
  *
  *  1. the EXPLICIT per-index `array(...)` construction (the workaround,
  *     now the house style for embed-ish columns) is pinned to exact
  *     values — a silent change to its semantics fails here;
  *  2. the live tripping chain (lambda-capture embed → union →
  *     self-derived queries → ANN top-k join/window tree) runs under a
  *     guard that accepts exactly two outcomes: the documented upstream
  *     symptom (key-not-found attribute rewrite — the trip is BACK,
  *     loudly identified as such), or exact agreement with the explicit
  *     form. Any OTHER failure or a value divergence fails the suite, so
  *     a future operator reintroducing the shape gets a named diagnosis
  *     instead of a mystery stack three tools away. */
class OptimizerTripSpec extends SparkSuite {
  import spark.implicits._

  private val Dims = 4

  /** The workaround shape (TriTenantScale.fakeEmb): explicit
    * per-index expressions, no lambda capture. */
  private def explicitEmb(c: Column): Column =
    array((0 until Dims).map { i =>
      pmod(xxhash64(c, lit(i.toLong)), lit(1000L)).cast("float")
    }: _*)

  /** The tripping shape: the lambda captures the OUTER column `c`; the
    * element variable rides the lambda. */
  private def lambdaEmb(c: Column): Column =
    transform(sequence(lit(0), lit(Dims - 1)),
      i => pmod(xxhash64(c, i.cast("long")), lit(1000L)).cast("float"))

  /** The live chain: embed two legs, union them, derive the queries FROM
    * the union (self-join through it), rank via the ANN top-k tree. */
  private def liveChain(emb: Column => Column): Array[(Long, Long)] = {
    val a = Seq.tabulate(16)(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val b = Seq.tabulate(16)(i => (100L + i, s"doc x$i"))
      .toDF("doc_id", "text")
    val corpus = a.select(col("doc_id"), emb(col("text")).as("embedding"))
      .unionByName(
        b.select(col("doc_id"), emb(col("text")).as("embedding")))
    val queries = corpus.where(col("doc_id") <= 3)
    graft.operators.Ann.bruteForceTopK(queries, corpus,
        "doc_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").orderBy("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
  }

  test("explicit per-index array construction is pinned to exact values (the workaround)") {
    val rows = Seq((0L, "doc 0-0 body")).toDF("id", "text")
      .select(explicitEmb(col("text")).as("emb")).head()
    val emb = rows.getSeq[Float](0)
    assert(emb.length === Dims)
    val expected = (0 until Dims).map { i =>
      // xxhash64(text, i) chains left-to-right: seed 42 → hash(text) →
      // that result seeds hash(i)
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(i.toLong, org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash(org.apache.spark.unsafe.types.UTF8String
              .fromString("doc 0-0 body"),
              org.apache.spark.sql.types.StringType, 42L))
      (((h % 1000L) + 1000L) % 1000L).toFloat
    }
    assert(emb === expected)
  }

  test("lambda-capture embed through union + ANN top-k: either the documented Spark 4.1 attribute-rewrite trip, or exact agreement with the explicit form") {
    scala.util.Try(liveChain(lambdaEmb)) match {
      case scala.util.Failure(e) =>
        // the documented upstream symptom — assert the SIGNATURE so an
        // unrelated failure cannot hide behind this pin
        val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .take(8).toSeq
        assert(chain.exists { t =>
          t.isInstanceOf[java.util.NoSuchElementException] ||
            Option(t.getMessage).exists(_.contains("key not found"))
        }, s"lambda-over-union failed, but NOT with the documented " +
          s"attribute-rewrite signature: $e")
      case scala.util.Success(got) =>
        // the shape survives at this scale: the two forms must agree
        // exactly (both hash the same Long index per element)
        assert(got === liveChain(explicitEmb))
    }
  }
}
