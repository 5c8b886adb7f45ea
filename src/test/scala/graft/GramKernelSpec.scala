package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import graft.expressions.{AdjacentPairs, SlidingWindows, TokenGramHashes, TokenGramStrings}
import graft.operators.Dsir

/** r14 native gram kernels vs the interpreted formulations they replaced:
  * each test pins exact equivalence on mixed/edge inputs (empty strings,
  * single tokens, CJK/astral code points), because the kernels' whole job
  * is to be bit-identical while skipping the per-element lambda
  * machinery. */
class GramKernelSpec extends SparkSuite {
  import spark.implicits._

  private val toksDf = Seq(
    Seq("a", "b", "c"),
    Seq("x"),
    Seq(""),
    Seq("汉", "语", "🎉ok", "汉"),
    Seq("w1", "w2")
  ).toDF("toks")

  test("AdjacentPairs(padded=false) equals the transform+element_at bigrams") {
    val old = toksDf.select(
      when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>")).as("g"))
      .as[Seq[(String, String)]].collect()
    val got = toksDf.select(
      column(AdjacentPairs(expression(col("toks")), padded = false)).as("g"))
      .as[Seq[(String, String)]].collect()
    assert(got.toSeq == old.toSeq)
  }

  test("AdjacentPairs(padded=true) covers every token once as w1, terminal w2 null") {
    val got = toksDf.select(
      column(AdjacentPairs(expression(col("toks")), padded = true)).as("g"))
      .as[Seq[(String, Option[String])]].collect()
    val toks = toksDf.as[Seq[String]].collect()
    got.zip(toks).foreach { case (pairs, ts) =>
      assert(pairs.map(_._1) == ts)                       // w1 = the tokens, in order
      assert(pairs.dropRight(1).map(_._2.get) == ts.drop(1)) // w2 = next token
      assert(pairs.last._2.isEmpty)                       // terminal pair padded
    }
  }

  test("TokenGramStrings equals array_join(slice) grams (n=2 and n=3)") {
    for (n <- Seq(2, 3)) {
      val old = toksDf.select(
        when(size(col("toks")) >= n,
          transform(sequence(lit(1), size(col("toks")) - (n - 1)),
            i => array_join(slice(col("toks"), i, lit(n)), " ")))
          .otherwise(array().cast("array<string>")).as("g"))
        .as[Seq[String]].collect()
      val got = toksDf.select(
        column(TokenGramStrings(expression(col("toks")), n)).as("g"))
        .as[Seq[String]].collect()
      assert(got.toSeq == old.toSeq, s"n=$n")
    }
  }

  test("TokenGramStrings(hashed) equals xxhash64 of the joined grams") {
    val old = toksDf.select(
      when(size(col("toks")) >= 3,
        transform(sequence(lit(1), size(col("toks")) - 2),
          i => xxhash64(array_join(slice(col("toks"), i, lit(3)), " "))))
        .otherwise(array().cast("array<bigint>")).as("g"))
      .as[Seq[Long]].collect()
    val got = toksDf.select(
      column(TokenGramStrings(expression(col("toks")), 3, hashed = true))
        .as("g"))
      .as[Seq[Long]].collect()
    assert(got.toSeq == old.toSeq)
  }

  test("TokenGramHashes(fnv) equals Fnv1a64 over unigramBigram, in order") {
    val old = toksDf.select(
      transform(Dsir.unigramBigram(col("toks")),
        g => column(graft.expressions.Fnv1a64(expression(g)))).as("h"))
      .as[Seq[Long]].collect()
    val got = toksDf.select(
      column(TokenGramHashes(expression(col("toks")), fnv = true)).as("h"))
      .as[Seq[Long]].collect()
    assert(got.toSeq == old.toSeq)
  }

  test("TokenGramHashes(xx) equals xxhash64 over unigramBigram, in order") {
    val old = toksDf.select(
      transform(Dsir.unigramBigram(col("toks")), g => xxhash64(g)).as("h"))
      .as[Seq[Long]].collect()
    val got = toksDf.select(
      column(TokenGramHashes(expression(col("toks")), fnv = false)).as("h"))
      .as[Seq[Long]].collect()
    assert(got.toSeq == old.toSeq)
  }

  test("importanceWeightsTokens(fnv) equals importanceWeights + Fnv1a64 buckets") {
    val docs = Seq(
      (1L, "the cat sat on the mat", true),
      (2L, "a dog", false),
      (3L, "the cat", false),
      (4L, "", false)
    ).toDF("id", "text", "tt")
      .withColumn("toks", split(trim(lower(col("text"))), "\\s+"))
    val old = Dsir.importanceWeights(docs, "id",
        Dsir.unigramBigram(col("toks")), col("tt"), buckets = 16,
        bucketOf = g => pmod(
          column(graft.expressions.Fnv1a64(expression(g))), lit(16L)))
      .as[(Long, Double, Long)].collect().sortBy(_._1)
    val got = Dsir.importanceWeightsTokens(docs, "id", col("toks"),
        col("tt"), buckets = 16, fnv = true)
      .as[(Long, Double, Long)].collect().sortBy(_._1)
    assert(got.toSeq == old.toSeq)   // bit-identical weights, not approx
  }

  test("SlidingWindows equals the transform+substring seed windows") {
    val texts = Seq("abcdefghij", "abcdefgh", "short", "", "汉语文本汉语文本四五").toDF("t")
    val w0 = 8
    val old = texts.select(
      when(length(col("t")) >= w0,
        transform(sequence(lit(1), length(col("t")) - lit(w0 - 1)),
          i => substring(col("t"), i, lit(w0))))
        .otherwise(array().cast("array<string>")).as("w"))
      .as[Seq[String]].collect()
    val got = texts.select(
      column(SlidingWindows(expression(col("t")), w0)).as("w"))
      .as[Seq[String]].collect()
    assert(got.toSeq == old.toSeq)
  }

  test("AdjacentPairs, TokenGramStrings and TokenGramHashes fail on a null token") {
    val withNull = Seq(Seq("a", null, "c")).toDF("toks")
    val kernels = Seq(
      "AdjacentPairs" -> AdjacentPairs(expression(col("toks")), padded = true),
      "TokenGramStrings" -> TokenGramStrings(expression(col("toks")), 2),
      "TokenGramHashes" -> TokenGramHashes(expression(col("toks")), fnv = true))
    for ((name, kernel) <- kernels) {
      val err = intercept[Exception] {
        withNull.select(column(kernel).as("g")).collect()
      }
      val msgs = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
      assert(msgs.exists(_.contains(s"$name: null token at index 1")),
        msgs.mkString(" | "))
    }
  }

  test("only Fnv's file holds the FNV-1a-64 prime under src/main/scala") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found")
    val walk = java.nio.file.Files.walk(root)
    val holders =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(p => java.nio.file.Files.readString(p).contains("0x100000001b3L"))
        .map(p => root.relativize(p).toString).toList
      finally walk.close()
    assert(holders == List("graft/expressions/ProjectionExpressions.scala"),
      s"FNV-1a-64 folds outside expressions.Fnv: $holders")
  }
}
