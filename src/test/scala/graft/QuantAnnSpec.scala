package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.operators.Ann

/** Int8 quantization kernels + quantized ANN: error bounds vs the exact
  * float path on the driver's embeddings table. */
class QuantAnnSpec extends SparkSuite {

  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("int8 cosine tracks float cosine within quantization noise") {
    val pairs = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("a"), col("embedding").as("va"),
        int8Quantize(col("embedding")).as("qa"))
      .crossJoin(emb.where(col("vec_id") >= 10 && col("vec_id") < 30)
        .select(col("vec_id").as("b"), col("embedding").as("vb"),
          int8Quantize(col("embedding")).as("qb")))
      .select(cosine(col("va"), col("vb")).as("exact"),
        int8Cosine(col("qa"), col("qb")).as("approx"))
    val maxErr = pairs.agg(max(abs(col("exact") - col("approx")))).head.getDouble(0)
    assert(maxErr < 0.02, s"int8 cosine error $maxErr")
  }

  test("int8Quantize edge cases: zero vector, empty, sign symmetry") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array(0.0f, 0.0f, 0.0f)),
      (2L, Array.empty[Float]),
      (3L, Array(1.0f, -1.0f, 0.5f))
    ).toDF("id", "v")
      .select(col("id"), int8Quantize(col("v")).as("q"))
      .orderBy("id").collect()
    assert(rows(0).getAs[Array[Byte]]("q").toSeq === Seq[Byte](0, 0, 0))
    assert(rows(1).getAs[Array[Byte]]("q").length === 0)
    assert(rows(2).getAs[Array[Byte]]("q").toSeq ===
      Seq[Byte](127, -127, 64))   // round-half-up of 63.5
    // zero-norm guard: cosine with a zero vector is 0, not NaN
    val z = Seq((Array(0.0f, 0.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .select(int8Cosine(int8Quantize(col("a")), int8Quantize(col("b"))))
      .head.getDouble(0)
    assert(z === 0.0)
  }

  test("quantizedTopK recall vs exact brute force") {
    val k = 5
    val queries = emb.where(col("vec_id") < 20)
    val exact = Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", k)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Ann.quantizedTopK(queries, emb, "vec_id", "embedding", k)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.9, s"quantized recall $recall")
    // output shape: k rows per query, ranks 1..k
    val perQuery = Ann.quantizedTopK(queries, emb, "vec_id", "embedding", k)
      .groupBy("query_id").agg(count(lit(1)).as("n"), max("rank").as("mr"))
    assert(perQuery.where(col("n") =!= k || col("mr") =!= k).count() === 0)
  }

  test("at full shortlist / full probe, quantizedTopK, pqTopK, ivfTopK and " +
      "queryIvfIndex equal bruteForceTopK row for row") {
    // 24 vectors plus four more copies of vectors 0-3 under new ids: the
    // copies tie on cosine, and k = 3 cuts through each 4-way tie, so only
    // the neighbor_id tie-break decides which rows come back
    val base = emb.where(col("vec_id") < 24).select("vec_id", "embedding")
    val data = (1 to 4).foldLeft(base) { (acc, c) =>
      acc.unionByName(emb.where(col("vec_id") < 4)
        .select((col("vec_id") + c * 1000L).as("vec_id"), col("embedding")))
    }.persist()
    val n = data.count().toInt
    val k = 3
    def rows(df: DataFrame) =
      df.select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank").collect().toSeq
    val exact = rows(Ann.bruteForceTopK(data, data, "vec_id", "embedding", k))
    val cut = Ann.bruteForceTopK(data, data, "vec_id", "embedding", n)
      .where(col("query_id") === 0L && col("rank").isin(k, k + 1))
      .select(round(col("cosine"), 6)).collect().map(_.getDouble(0)).toSeq
    assert(cut.length == 2 && cut(0) == cut(1), s"no tie across rank $k: $cut")
    val shortlistFactor = (n - 1 + k - 1) / k   // k · shortlistFactor >= n - 1
    val cells = 4
    val dir = java.nio.file.Files.createTempDirectory("fullprobe").toString
    Ann.buildIvfIndex(data, "vec_id", "embedding", dir, nCentroids = cells)
    val ivf = Ann.ivfTopK(data, "vec_id", "embedding", k,
      nCentroids = cells, nProbe = cells)
    try {
      Seq(
        "quantizedTopK" -> Ann.quantizedTopK(data, data, "vec_id", "embedding",
          k, shortlistFactor = shortlistFactor),
        "pqTopK" -> Ann.pqTopK(data, data, "vec_id", "embedding", k,
          shortlistFactor = shortlistFactor),
        "ivfTopK" -> ivf,
        "queryIvfIndex" -> Ann.queryIvfIndex(data, "vec_id", "embedding", dir,
          k, nProbe = cells)
      ).foreach { case (name, df) => assert(rows(df) == exact, name) }
    } finally { ivf.unpersist(); data.unpersist() }
  }
}

/** PQ ANN: recall against exact brute force, shape invariants, and
  * encode determinism. */
class PqAnnSpec extends SparkSuite {
  import spark.implicits._
  import graft.operators.Ann

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("pqTopK recall vs exact brute force; k rows per query") {
    val k = 5
    val queries = emb.where(col("vec_id") < 20)
    val exact = Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", k)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Ann.pqTopK(queries, emb, "vec_id", "embedding", k,
        m = 8, nCodes = 32, shortlistFactor = 8)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.6, s"pq recall $recall")   // 8x compression tier
    val perQuery = Ann.pqTopK(queries, emb, "vec_id", "embedding", k,
        m = 8, nCodes = 32, shortlistFactor = 8)
      .groupBy("query_id").agg(count(lit(1)).as("n"), max("rank").as("mr"))
    assert(perQuery.where(col("n") =!= k || col("mr") =!= k).count() == 0)
    // re-ranked cosines are EXACT (shortlist rescoring) — every reported
    // cosine equals the brute-force cosine for the same pair
    val exactCos = Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", 100)
      .select("query_id", "neighbor_id", "cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Ann.pqTopK(queries, emb, "vec_id", "embedding", k,
        m = 8, nCodes = 32, shortlistFactor = 8)
      .select("query_id", "neighbor_id", "cosine").collect().foreach { r =>
        val key = (r.getLong(0), r.getLong(1))
        exactCos.get(key).foreach(c => assert(math.abs(c - r.getDouble(2)) < 1e-12))
      }
  }

  test("pq encoding is deterministic and seeded") {
    val a = Ann.pqTopK(emb.where(col("vec_id") < 5), emb, "vec_id",
        "embedding", k = 3, m = 8, nCodes = 16).collect().toSeq
    val b = Ann.pqTopK(emb.where(col("vec_id") < 5), emb, "vec_id",
        "embedding", k = 3, m = 8, nCodes = 16).collect().toSeq
    assert(a == b)
  }
}
