package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  IntegerType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.functions.VectorFunctions._
import graft.io.GenerationPointer
import org.apache.hadoop.fs.{FileSystem, Path}
import scala.util.Random

/** Approximate-nearest-neighbor search over a dense embedding column
  * (`array<float>`), for the similarity-search surface of a training-data
  * pipeline (near-dup mining, retrieval eval, hard-negative mining).
  * Every operator returns (query_id, neighbor_id, cosine, rank).
  *
  * Query-vs-corpus operators (broadcast queries):
  *   - [[bruteForceTopK]]: exact cosine over the cross join — the
  *     correctness baseline and the right plan whenever |queries| is
  *     broadcastable.
  *   - [[quantizedTopK]] (int8 vectors) and [[pqTopK]] (product-quantized
  *     codes): a cheap coarse score keeps a `k · shortlistFactor`
  *     shortlist per query, which exact cosine re-ranks.
  *
  * All-pairs operators over one corpus (candidates join on ids only):
  *   - [[lshTopK]] / [[lshTopKSignPlanes]]: random-hyperplane LSH —
  *     candidates share a signature in at least one of `tables` tables.
  *     The bucket join is the only shuffle and its fanout is bounded by
  *     bucket occupancy — the 100 TB path.
  *   - [[ivfTopK]]: IVF coarse quantization — every vector's home cell
  *     among `nCentroids` trained centroids, `nProbe` probe cells per
  *     query.
  *
  * Persisted IVF: [[buildIvfIndex]] / [[appendIvfShard]] / the compact and
  * sweep operations maintain a generational index on disk;
  * [[queryIvfIndex]] probes it per query batch and [[ivfThresholdHits]]
  * is the query-corpus threshold probe.
  *
  * Shared stages: one per-query top-k window (`rankTopK`: round(cosine, 6)
  * desc, neighbor_id asc), one shortlist re-rank (`rerankShortlist`), one
  * all-pairs re-rank tail with its cache contract (`rerankAllPairs`) and
  * one centroid table (`centroidTable`). With a full shortlist
  * (quantized, PQ) or a full probe (IVF) those operators return exactly
  * [[bruteForceTopK]]'s rows, tie order included.
  *
  * Hyperplanes/centroids are seeded, never `Math.random` — results are
  * reproducible across runs and partitionings.
  */
object Ann {

  /** Exact cosine top-k of `corpus` for every row of `queries`. Both inputs
    * need (idCol, vecCol). Output: (query_id, neighbor_id, cosine, rank). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     broadcastQueries: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    rankTopK((if (broadcastQueries) c.crossJoin(broadcast(q)) else c.crossJoin(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv"))), k)
  }

  /** The per-query top-k window every operator here ends in: ties on
    * `round(cosine, 6)` (float noise across plans) break toward the
    * smaller `neighbor_id`, so any two operators that see the same
    * candidates return the same rows. */
  private def rankTopK(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("cosine"), 6).desc, col("neighbor_id").asc)
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Empty input → an empty result with the output schema. */
  private def emptyTopK(spark: SparkSession, idType: DataType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
      StructField("query_id", idType), StructField("neighbor_id", idType),
      StructField("cosine", DoubleType), StructField("rank", IntegerType))))

  /** Shortlist re-rank shared by [[quantizedTopK]] and [[pqTopK]]: keep
    * the top `k · shortlistFactor` of a coarse (query_id, neighbor_id,
    * qcos) frame per query, re-attach both float vectors (queries
    * broadcast), and rank by exact cosine. */
  private def rerankShortlist(coarse: DataFrame, queries: DataFrame,
                              corpus: DataFrame, idCol: String,
                              vecCol: String, k: Int,
                              shortlistFactor: Int): DataFrame = {
    val wq = Window.partitionBy("query_id")
      .orderBy(round(col("qcos"), 6).desc, col("neighbor_id").asc)
    val short = coarse.withColumn("crank", row_number().over(wq))
      .where(col("crank") <= k * shortlistFactor)
      .select("query_id", "neighbor_id")
    rankTopK(short
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qv"))), "query_id")
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv")), "neighbor_id")
      .withColumn("cosine", cosine(col("qv"), col("cv"))), k)
  }

  /** Quantized brute-force top-k: the coarse pass scores int8-quantized
    * vectors ([[graft.expressions.Int8Cosine]] — 1/4 the bytes of float32,
    * and the pass is memory-bandwidth-bound, so ~4x the corpus throughput
    * per executor), keeps a `k * shortlistFactor` shortlist per query, and
    * the exact float cosine re-ranks ONLY the shortlist. Same plan shape as
    * [[bruteForceTopK]] otherwise (broadcast queries, window top-k).
    *
    * At corpus scale the quantized column is the one you'd precompute and
    * STORE (`int8Quantize` at ingest; see io/Sink) so the coarse scan never
    * touches float vectors at all; here it quantizes in-flight, which
    * already keeps the wide float arrays out of the scoring loop's memory
    * traffic. Recall loss is quantization noise only — bounded in
    * QuantAnnSpec, and the re-rank restores exact ordering within the
    * shortlist. */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    shortlistFactor: Int = 4): DataFrame = {
    require(shortlistFactor >= 1,
      s"shortlistFactor must be >= 1 (got $shortlistFactor)")
    val q8 = queries.select(col(idCol).as("query_id"),
      int8Quantize(col(vecCol)).as("qq"))
    val c8 = corpus.select(col(idCol).as("neighbor_id"),
      int8Quantize(col(vecCol)).as("cq"))
    val coarse = c8.crossJoin(broadcast(q8))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("qcos", int8Cosine(col("qq"), col("cq")))
    rerankShortlist(coarse, queries, corpus, idCol, vecCol, k, shortlistFactor)
  }

  /** Product-quantization top-k (Jégou et al. 2011): corpus vectors are
    * L2-normalized, split into `m` subvectors, each replaced by its
    * nearest of `nCodes` per-subspace codebook centroids — `m` BYTES per
    * corpus vector. The coarse pass scores codes against full-precision
    * queries (asymmetric distance: Σ_j <q̂_j, centroid[code_j]>), keeps a
    * `k * shortlistFactor` shortlist, and exact float cosine re-ranks only
    * the shortlist — the same scan-then-refine shape as [[quantizedTopK]]
    * with a 4x-deeper compression level (m bytes vs dim/4 bytes).
    *
    * Codebooks train on a BOUNDED driver sample via the same seeded
    * Lloyd's used for IVF centroids (documented standard practice; the
    * corpus-sized encode/scan work is fully distributed). At storage
    * scale the `codes` column is what you precompute and persist at
    * ingest — the coarse scan then never touches float vectors at all. */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
             idCol: String, vecCol: String, k: Int,
             m: Int = 8, nCodes: Int = 16, shortlistFactor: Int = 4,
             seed: Long = 42L): DataFrame = {
    require(m >= 1 && nCodes >= 2 && nCodes <= 256,
      s"need m >= 1 and nCodes in [2, 256] (got m=$m, nCodes=$nCodes)")
    require(shortlistFactor >= 1,
      s"shortlistFactor must be >= 1 (got $shortlistFactor)")
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    def norml(v: Array[Double]): Array[Double] = {
      val ss = v.map(x => x * x).sum
      if (ss > 0.0) v.map(_ / math.sqrt(ss)) else v
    }
    val sample: Array[Array[Double]] = corpus
      .select(col(idCol).as("sid"), col(vecCol).cast("array<double>").as("sv"))
      .orderBy(xxhash64(col("sid"), lit(seed))).limit(nCodes * 40)
      .select("sv").collect()
      .map(r => norml(r.getSeq[Double](0).toArray))
    if (sample.isEmpty)
      return emptyTopK(queries.sparkSession, corpus.schema(idCol).dataType)
    val dim = sample(0).length
    require(dim % m == 0, s"vector dim $dim must divide by m=$m")
    val dsub = dim / m
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      lloyd(pts, math.min(nCodes, pts.length), iters = 10)
    }
    val codes = corpus.select(col(idCol).as("neighbor_id"),
      column(graft.expressions.PqEncode(expression(col(vecCol)), codebooks))
        .as("codes"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val coarse = codes.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("qcos", column(graft.expressions.PqScore(
        expression(col("qv")), expression(col("codes")), codebooks)))
    rerankShortlist(coarse, queries, corpus, idCol, vecCol, k, shortlistFactor)
  }

  /** Seeded random hyperplanes: `tables` x `bits` unit-free gaussian
    * directions of dimension `dim`, as literal array columns (broadcast with
    * the plan — tiny). */
  private def hyperplanes(dim: Int, tables: Int, bits: Int, seed: Long) = {
    val rnd = new Random(seed)
    Seq.fill(tables, bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** LSH signature join: vectors sharing a (table, signature) bucket become
    * candidates; exact cosine re-ranks the candidates to top-k.
    *
    * `bits <= 0` auto-sizes the signature width to the corpus:
    * ~8 vectors per expected bucket (`bits = log2(n/8)`), which keeps the
    * candidate volume ~linear in n instead of quadratic — the knob that
    * must scale with corpus size or buckets degenerate (too-sparse at small
    * n kills recall, too-dense at large n kills the bucket join). */
  def lshTopK(data: DataFrame, idCol: String, vecCol: String, k: Int,
              dim: Int, tables: Int = 8, bits: Int = 0,
              seed: Long = 42L): DataFrame = {
    // cache the slim (id, v) projection FIRST so both the auto-sizing
    // count and the candidate re-attach joins read it instead of
    // re-executing the upstream plan. MEMORY_AND_DISK persist, not
    // localCheckpoint: keeps lineage so executor loss recomputes rather
    // than failing the job on a real cluster. Eagerly counted: the final
    // plan reads it from three subtrees, and racing scans against an
    // unpopulated cache each recompute the upstream projection.
    val vecs = data.select(col(idCol).as("id"), col(vecCol).as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = vecs.count()
    val nBits =
      if (bits > 0) bits
      else
        math.max(4, math.min(16,
          math.ceil(math.log(math.max(n, 64L) / 8.0) / math.log(2.0)).toInt))
    val planes = hyperplanes(dim, tables, nBits, seed)
    lshWithPlanes(vecs, k, planes)
  }

  /** [[lshTopK]] with SIGN planes (components ±1 from the FNV-1a-64 fold
    * over "seed:t:j:i") instead of gaussian directions — random sign
    * projections are a standard LSH family with the same collision-
    * probability monotonicity, and the FNV derivation makes the ENTIRE
    * pipeline (signatures → bucket join → exact re-rank) replayable in
    * plain SQL: the ann2b gate rebuilds the planes and hash-matches every
    * output row. Gaussian [[lshTopK]] stays the production default. */
  def lshTopKSignPlanes(data: DataFrame, idCol: String, vecCol: String,
                        k: Int, dim: Int, tables: Int, bits: Int,
                        seed: Long = 42L): DataFrame = {
    require(tables >= 1 && bits >= 1 && bits <= 62,
      s"need tables >= 1 and bits in [1, 62] (got $tables, $bits)")
    val vecs = data.select(col(idCol).as("id"), col(vecCol).as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    vecs.count()
    val planes = Seq.tabulate(tables, bits) { (t, j) =>
      Array.tabulate(dim) { i =>
        val h = graft.expressions.Fnv.hash64(s"$seed:$t:$j:$i")
        if (((h % 2) + 2) % 2 == 0L) 1.0 else -1.0
      }
    }
    lshWithPlanes(vecs, k, planes)
  }

  /** Shared LSH core: signatures from the given planes, id-only bucket
    * join, exact cosine re-rank. `vecs` must be a persisted (id, v)
    * frame; released here once the caller-owned result materializes. */
  private def lshWithPlanes(vecs: DataFrame, k: Int,
                            planes: Seq[Seq[Array[Double]]]): DataFrame = {
    val sigCols = planes.zipWithIndex.map { case (tablePlanes, t) =>
      val sig = tablePlanes.zipWithIndex.map { case (h, j) =>
        val hc = array(h.map(lit): _*)
        hyperplaneSignBit(col("v"), hc) * lit(1L << j)
      }.reduce(_ + _)
      struct(lit(t).as("table"), sig.as("sig"))
    }
    // id-only bucket join (the 512-byte vector payloads re-attach to the
    // deduplicated candidate pairs, not to every bucket row)
    val bucketed = vecs
      .select(col("id"), explode(array(sigCols: _*)).as("b"))
      .select(col("id"), col("b.table"), col("b.sig"))
    val l = bucketed.select(col("table"), col("sig"), col("id").as("query_id"))
    val r = bucketed.select(col("table"), col("sig"), col("id").as("neighbor_id"))
    rerankAllPairs(vecs, l.join(r, Seq("table", "sig")), k)
  }

  /** All-pairs exact re-rank shared by the LSH lanes and [[ivfTopK]]:
    * the id-only candidate join's (query_id, neighbor_id) pairs, self-pairs
    * dropped and deduplicated, get both vectors re-attached from `vecs`
    * (a persisted (id, v) frame), exact cosine and the top-k window. */
  private def rerankAllPairs(vecs: DataFrame, pairs: DataFrame,
                             k: Int): DataFrame = {
    val scored = pairs
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
      .join(vecs.select(col("id").as("query_id"), col("v").as("qv")), "query_id")
      .join(vecs.select(col("id").as("neighbor_id"), col("v").as("cv")), "neighbor_id")
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      // Pin the rank stage's width: the window's auto-inserted exchange
      // carries just (ids, cosine) — a few MB even for millions of
      // candidate rows — so AQE's byte-sized coalescing can legally fuse
      // it down to ONE task, serializing the expensive per-row rank work
      // (sort + HALF_UP rounding) over the whole candidate set. Measured
      // at the 10× rehearsal as a bimodal ~2 s / ~30 s wall on identical
      // seeded runs. A NUMBERED repartition on the window key satisfies
      // the window's required distribution (EnsureRequirements adds no
      // second exchange) and is exempt from AQE coalescing —
      // deterministic full-width ranking, identical output rows.
      .repartition(vecs.sparkSession.sessionState.conf.numShufflePartitions,
        col("query_id"))
    // Cache contract (same as Dedup.minHashLsh): materialize the n*k-sized
    // result into a persist the CALLER owns, then release the internal
    // vector cache — repeated calls retain nothing but their returned
    // handle.
    val out = rankTopK(scored, k).persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    vecs.unpersist()
    out
  }

  /** IVF-style ANN: sample `nCentroids` seed vectors as coarse centroids,
    * assign every vector to its nearest centroid (broadcast centroid table),
    * probe the `nProbe` nearest cells per query, exact-rank within them.
    *
    * LANE CONTRACT (SCALING.md's ANN rehearsal, corrected r8): in the
    * default all-pairs form with balanced √n-sized cells the candidate
    * volume is Σ|cell|² = n^1.5 BY CONSTRUCTION — measured sublinear
    * (1.8× at a 10× step) through the rehearsal range once the r8 rank-
    * width fix landed, i.e. the n^1.5 term bites later than round 7's
    * artifact suggested, but at extreme all-pairs scale the rule stands.
    * Two linear all-pairs lanes exist for that regime:
    *  - [[lshTopK]]'s banded candidates stay ~linear (measured exponent
    *    0.68);
    *  - this operator with `distributedFit = true` AND nCentroids ∝ n
    *    (constant target cell size c ⇒ Σ|cell|² = n·c): the MLlib fit
    *    keeps centroid training off the driver at large k, keeping
    *    candidate volume linear (measured ~4× at a 10× step,
    *    fit-dominated since k ∝ n makes the fit itself k·n).
    * IVF's query lane is unchanged: QUERY-BATCH probing
    * ([[queryIvfIndex]] / [[ivfThresholdHits]]) — per-query cost scales
    * with the probed fraction nProbe/nCentroids, which shrinks as the
    * index grows (measured 1.5× at a 10× corpus). */
  def ivfTopK(data: DataFrame, idCol: String, vecCol: String, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              seed: Long = 42L, distributedFit: Boolean = false): DataFrame = {
    val spark = data.sparkSession
    // Coarse centroids come from seeded Lloyd's k-means over a hash-ordered
    // sample (multi-arg xxhash64: seeded for any id type) — raw row
    // sampling can draw near-duplicate centroids, which collapses most
    // vectors into a handful of cells and turns the probe join quadratic;
    // k-means centroids keep cells balanced, which is the property IVF's
    // linear scaling rests on. Two fit lanes:
    //  - default (driver Lloyd): the sample is BOUNDED (nCentroids * 20
    //    rows), training runs on the driver — right while nCentroids is
    //    small (a distributed fit costs ~15 scheduler round-trips per
    //    call for a few-hundred-row problem; measured 10 s → ~3 s).
    //  - distributedFit = true (MLlib KMeans): the 100 TB all-pairs lane.
    //    With √n centroids the candidate volume Σ|cell|² is n^1.5 BY
    //    CONSTRUCTION (asymptotic; see SCALING.md's corrected curve) — keeping
    //    all-pairs IVF linear requires nCentroids ∝ n (constant target
    //    cell size), and nCentroids ∝ n makes the driver-sample fit a
    //    driver OOM. MLlib's fit never collects the corpus; the driver
    //    holds only the k centroid vectors.
    // The corpus-sized work below stays fully distributed in both lanes.
    val centsOpt =
      if (distributedFit)
        trainCentroidsDistributed(data, idCol, vecCol, nCentroids, seed)
      else trainCentroids(data, idCol, vecCol, nCentroids, seed)
    if (centsOpt.isEmpty)
      return emptyTopK(spark, data.schema(idCol).dataType)
    val cents = centsOpt.get
    // one centroid scoring pass: rn == 1 is the home cell (assignment),
    // rn <= nProbe are the probe cells — no second cross join. The cell
    // join and dedup carry ids only; vectors re-attach afterwards (same
    // slim-join rule as the LSH paths — wide payloads never multiply
    // through candidate generation).
    val vecs = data.select(col(idCol).as("id"), col(vecCol).as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    vecs.count()   // eager: the plan reads vecs from three subtrees
    val cells = assignCells(vecs, "id", "v", cents, nProbe)
    val assigned = cells.where(col("rn") === 1)
    val l = cells.select(col("cell"), col("id").as("query_id"))
    val r = assigned.select(col("cell"), col("id").as("neighbor_id"))
    rerankAllPairs(vecs, l.join(r, Seq("cell")), k)
  }

  /** IVF-routed threshold PROBE, query-corpus form (the scale path for
    * [[Decontaminate.semantic]] when the benchmark side outgrows a
    * broadcast): coarse centroids are trained on a seeded benchmark
    * sample, every benchmark vector lands in its HOME cell, every corpus
    * vector probes its `nProbe` nearest cells, and the cell-keyed
    * equi-join + exact cosine verify yields the corpus ids with at least
    * one benchmark neighbor at `cosine >= minCosine`. Comparisons drop
    * from |corpus|·|benchmark| to |corpus|·nProbe·(|benchmark|/cells);
    * the only corpus-sized shuffles are the probe-cell window and the
    * cell join — both keyed for 1000-executor parallelism.
    *
    * Approximate BY DESIGN (same contract as [[ivfTopK]]): a benchmark
    * vector homed in a cell the corpus doc does not probe is missed;
    * recall rises with `nProbe`/falls with `nCentroids`. The exact verify
    * means NO false hits — survivors can only be over-kept, never
    * over-dropped. Output: distinct (idCol) of hit corpus rows. */
  def ivfThresholdHits(corpus: DataFrame, idCol: String, vecCol: String,
                       benchmark: DataFrame, benchVecCol: String,
                       minCosine: Double, nCentroids: Int = 64,
                       nProbe: Int = 8, seed: Long = 42L): DataFrame = {
    val spark = corpus.sparkSession
    val sampled: Array[Array[Double]] = benchmark
      .select(col(benchVecCol).cast("array<double>").as("cvec"))
      .orderBy(xxhash64(col("cvec").cast("string"), lit(seed)))
      .limit(nCentroids * 20)
      .collect().map(_.getSeq[Double](0).toArray)
    if (sampled.isEmpty)
      return corpus.select(col(idCol)).limit(0)
    val centers = lloyd(sampled, math.min(nCentroids, sampled.length),
      iters = 10)
    val cents = centroidTable(spark, centers)
    // benchmark vectors keep only their HOME cell (rn == 1); any unique
    // per-row id works as the window key — the home cell is a pure argmax
    // over the broadcast centroid table
    val bench = assignCells(
      benchmark.select(monotonically_increasing_id().as("__bid"),
        col(benchVecCol).as("__bv")),
      "__bid", "__bv", cents, nCells = 1, statsMult = centers.length)
      .select(col("cell"), col("v").as("__bv"))
    val probes = assignCells(corpus.select(col(idCol), col(vecCol)),
      idCol, vecCol, cents, nCells = nProbe, statsMult = centers.length)
    probes.join(bench, Seq("cell"))
      .where(cosine(col("v"), col("__bv")) >= minCosine)
      .select(col("id").as(idCol)).distinct()
  }

  /** Deterministic local Lloyd's k-means over the bounded centroid-training
    * sample: init = first k sample points (the sample is already in seeded
    * hash order, so this is a seeded random init), then `iters` rounds of
    * assign-to-nearest + recompute means. Empty cells keep their previous
    * center. Euclidean assignment — standard for IVF coarse quantizers. */
  private def lloyd(points: Array[Array[Double]], k: Int,
                    iters: Int): Array[Array[Double]] = {
    val dim = points.head.length
    var centers = points.take(k).map(_.clone)
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < centers.length) {
          var d = 0.0; var j = 0
          while (j < dim) {
            val diff = p(j) - centers(c)(j); d += diff * diff; j += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
      }
      centers = centers.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0L) old
        else sums(c).map(_ / counts(c))
      }
      it += 1
    }
    centers
  }

  /** Seeded coarse-centroid training shared by [[ivfTopK]] and
    * [[buildIvfIndex]]: a BOUNDED hash-ordered sample (nCentroids · 20
    * rows) to the driver, local Lloyd's — the way IVF quantizers train
    * everywhere (see [[ivfTopK]]'s rationale). None on empty input. */
  private def trainCentroids(data: DataFrame, idCol: String, vecCol: String,
                             nCentroids: Int, seed: Long): Option[DataFrame] = {
    val spark = data.sparkSession
    val sampled: Array[Array[Double]] = data
      .select(col(idCol).as("cid"), col(vecCol).cast("array<double>").as("cvec"))
      .orderBy(xxhash64(col("cid"), lit(seed))).limit(nCentroids * 20)
      .select(col("cvec")).collect()
      .map(_.getSeq[Double](0).toArray)
    if (sampled.isEmpty) return None
    Some(centroidTable(spark,
      lloyd(sampled, math.min(nCentroids, sampled.length), iters = 10)))
  }

  /** The (cid int, cvec array<double>) centroid table every IVF path
    * probes: one row per center, `cid` = its position, one partition. */
  private def centroidTable(spark: SparkSession,
                            centers: Array[Array[Double]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        centers.zipWithIndex.map { case (c, i) => Row(i, c.toSeq) }.toSeq, 1),
      StructType(Seq(
        StructField("cid", IntegerType),
        StructField("cvec", ArrayType(DoubleType)))))

  /** Distributed coarse-centroid training (MLlib KMeans) — the fit for the
    * nCentroids ∝ n regime, where [[trainCentroids]]'s driver sample
    * (nCentroids · 20 collected rows) would itself be a driver OOM. The
    * fit is a handful of map-reduce rounds over the full corpus (random
    * init, not k-means||: init cost matters at large k and cell BALANCE,
    * not cluster quality, is all IVF needs); nothing corpus-sized ever
    * reaches the driver. Seeded — same determinism contract as the local
    * Lloyd lane. Same (cid, cvec) output schema. None on empty input. */
  private def trainCentroidsDistributed(data: DataFrame, idCol: String,
                                        vecCol: String, nCentroids: Int,
                                        seed: Long): Option[DataFrame] = {
    val spark = data.sparkSession
    val feats = data
      .select(org.apache.spark.ml.functions.array_to_vector(
        col(vecCol).cast("array<double>")).as("features"))
      .where(col("features").isNotNull)
    if (feats.isEmpty) return None
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(nCentroids).setSeed(seed).setMaxIter(8)
      .setInitMode("random")
      .setFeaturesCol("features").setPredictionCol("__cell")
    Some(centroidTable(spark, km.fit(feats).clusterCenters.map(_.toArray)))
  }

  /** Build a PERSISTED IVF index under `dir` — the serving-plane form of
    * [[ivfTopK]]: centroid training and the corpus-sized home-cell
    * assignment are paid ONCE at build time, and every later query batch
    * reads only the tiny centroid table plus the probed posting
    * partitions. Layout:
    *
    *   dir/centroids.parquet — (cid, cvec), nCentroids rows
    *   dir/postings.parquet  — (id, v) partitioned BY home cell THEN by
    *     source shard, so a probe of p cells is a partition-pruned scan
    *     of p/nCentroids of the corpus bytes (the parquet-native analogue
    *     of FAISS's inverted lists), and incremental corpus growth
    *     appends shard partitions ([[appendIvfShard]]) without rewriting
    *
    * At 100 TB this is the difference between re-assigning the corpus per
    * query batch (ivfTopK's self-join form, right for one-shot all-pairs
    * work) and an O(|batch| · probed-fraction) incremental read.
    *
    * Build is GENERATIONAL with a POINTER commit (r11 — zero-blip
    * maintenance): the components above live inside a generation
    * directory `dir/gen-&lt;buildId&gt;/`, and a tiny `dir/CURRENT` file names
    * the live generation. A rebuild writes its whole generation —
    * components, `_BUILD_ID` markers, `manifest.json` (seed, nCentroids,
    * buildId, committed shards) LAST — in a directory no reader resolves
    * yet, then commits by atomically repointing CURRENT
    * ([[graft.io.GenerationPointer]], the protocol the generation-log
    * index families share). There is NO reader-visible window: a resolution
    * before the flip serves the old generation complete, one after it the
    * new — the pre-r11 in-place swap exposed a no-manifest window of a
    * few metadata ops that a 1000-executor query fleet WILL hit daily.
    * The superseded generation is deleted only after the flip, entirely
    * off the commit path (a 100 TB postings tree takes minutes of
    * namenode round trips to delete; here that blocks nothing). Readers
    * that resolved the OLD generation before the flip and execute lazily
    * afterwards would fail loudly on the vanished files — under a live
    * serving loop, pass `retainSuperseded = true` so the old generation
    * outlives the flip, then [[sweepIvfIndex]] once in-flight readers
    * drain: maintenance becomes invisible end-to-end, planning AND
    * execution. The buildId (a fresh UUID) is also written as a
    * `_BUILD_ID` marker file INSIDE each component directory (Spark
    * ignores underscore-prefixed files on read), so [[queryIvfIndex]] can
    * verify all three agree without running a count job — a tampered or
    * hand-mixed generation fails loudly. */
  def buildIvfIndex(data: DataFrame, idCol: String, vecCol: String,
                    dir: String, nCentroids: Int = 16,
                    seed: Long = 42L, distributedFit: Boolean = false,
                    retainSuperseded: Boolean = false): Unit = {
    val cents = (if (distributedFit)
        trainCentroidsDistributed(data, idCol, vecCol, nCentroids, seed)
      else trainCentroids(data, idCol, vecCol, nCentroids, seed))
      .getOrElse(throw new IllegalArgumentException(
        "buildIvfIndex: input is empty — nothing to index"))
    val spark = data.sparkSession
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nCents = cents.count()
    val nCentsInt = math.max(1, math.min(nCents, Int.MaxValue.toLong).toInt)
    val built = writeIvfGeneration(fs, dir, cents, seed, nCents,
        nCentroids) { centsPath =>
      // assignment reads the centroids BACK from the written file, so the
      // persisted index is self-consistent even if training were re-run.
      // The base build is shard 0; incremental appends add shard 1..N
      // ([[appendIvfShard]]) without touching shard-0 files. The
      // assignment window's shuffle is ∝ vectors × centroids — sized from
      // input stats (r11: the posting build was the last heavy entry
      // point running at the fixed session setting).
      Some(assignCells(data, idCol, vecCol, spark.read.parquet(centsPath),
          nCells = 1, statsMult = nCentsInt)
        .where(col("rn") === 1))
    }
    // superseded generation / stale scratch deleted
    // AFTER the flip — entirely off the reader-visible path. With
    // retainSuperseded the old generation stays for in-flight readers;
    // [[sweepIvfIndex]] finishes the cycle once they drain.
    commitIvfGens(spark, fs, dir, keep = Nil, Seq(built),
      emptyTail = false, retainSuperseded)
  }

  /** The IVF index's pointer: `CURRENT`, naming `gen-<buildId>` dirs. */
  private val Current =
    GenerationPointer("CURRENT", "gen-", watermarked = false)

  /** Write one complete IVF generation `dir/gen-<buildId>` — for a
    * build, a compaction's merged generation and a tiered fresh tail.
    * Order: `cents`; the (id, v, cell) rows `postings` renders from the
    * written centroids' path (None: an EMPTY tail) as shard 0; a
    * `_BUILD_ID` marker per component; `manifest.json` LAST via tmp +
    * rename — a crash leaves a manifest-less orphan no pointer names,
    * never a half-written one. `srcs`: fold provenance ([[IvfManifest]]).
    * Returns (generation, buildId). */
  private def writeIvfGeneration(fs: FileSystem, dir: String,
                                 cents: DataFrame, seed: Long,
                                 nCentroids: Long, requested: Long,
                                 srcs: Seq[(String, Seq[Int])] = Nil)(
      postings: String => Option[DataFrame]): (String, String) = {
    val buildId = java.util.UUID.randomUUID().toString
    val gen = s"gen-$buildId"
    val genDir = s"$dir/$gen"
    cents.write.mode("overwrite").parquet(s"$genDir/centroids.parquet")
    postings(s"$genDir/centroids.parquet").foreach { p =>
      clusterForPartitionedWrite(
          p.select(col("id"), col("v"), col("cell"), lit(0).as("shard")),
          math.max(1, math.min(nCentroids, Int.MaxValue.toLong).toInt))
        .write.mode("overwrite").partitionBy("cell", "shard")
        .parquet(s"$genDir/postings.parquet")
    }
    IvfComponents.foreach(c =>
      GenerationPointer.writeFile(fs, s"$genDir/$c/_BUILD_ID", buildId))
    val srcsField = srcs.map { case (b, shards) =>
      s"$b:${shards.sorted.mkString("|")}" }.mkString(",")
    val prov = if (srcs.isEmpty) "" else s""","srcs":"$srcsField""""
    GenerationPointer.writeFile(fs, s"$genDir/.manifest.json.tmp",
      s"""{"seed":$seed,"nCentroids":$nCentroids,"requested":$requested,""" +
        s""""buildId":"$buildId","shards":[0]$prov}""")
    require(fs.rename(new Path(s"$genDir/.manifest.json.tmp"),
        new Path(s"$genDir/manifest.json")),
      s"IVF maintenance at $dir: manifest rename inside $gen failed — the " +
        "generation is uncommitted and the live pointer untouched; rerun")
    (gen, buildId)
  }

  private val IvfComponents = Seq("centroids.parquet", "postings.parquet")

  /** Commit a maintenance op: flip CURRENT (fenced) to the retained
    * `keep` generations followed by the (generation, buildId) pairs it
    * `built` — the last an empty tail when `emptyTail` — clean up unless
    * `retainSuperseded`, then self-check. A generation of ours must still
    * carry our buildId and markers, and DATA in every component but an
    * empty tail's postings: a concurrent maintainer's cleanup can delete
    * its data mid-write, after which our own marker writes recreate the
    * dir as a husk (caught by the concurrent-compaction race spec). A
    * retained generation must still have its manifest. */
  private def commitIvfGens(spark: SparkSession, fs: FileSystem, dir: String,
                            keep: Seq[String], built: Seq[(String, String)],
                            emptyTail: Boolean,
                            retainSuperseded: Boolean): Unit = {
    val live = keep ++ built.map(_._1)
    val content = Current.encode(None, live)
    Current.flip(fs, spark.sparkContext.hadoopConfiguration, dir, content)
    if (!retainSuperseded) cleanupAfterFlip(fs, dir, live.toSet)
    val ours = built.toMap
    Current.verifyLive(fs, dir, content, gen => ours.get(gen) match {
      case Some(buildId) =>
        val m = readIvfManifest(fs, s"$dir/$gen")
        if (m.buildId != buildId)
          throw new IllegalStateException(
            s"IVF maintenance at $dir: generation $gen now carries buildId " +
              s"${m.buildId}, not this maintainer's $buildId — a concurrent " +
              "maintainer rewrote it (single-writer contract breached)")
        requireMarkersMatch(fs, s"$dir/$gen", buildId)
        IvfComponents.foreach { comp =>
          val emptyOk = emptyTail && gen == built.last._1 &&
            comp == "postings.parquet"
          def hasData = GenerationPointer.list(fs, s"$dir/$gen/$comp")
            .exists { st =>
              val n = st.getPath.getName
              !n.startsWith("_") && !n.startsWith(".")
            }
          if (!emptyOk && !hasData) throw new IllegalStateException(
            s"IVF maintenance at $dir: generation $gen's $comp holds no " +
              "data files — a concurrent maintainer's cleanup destroyed " +
              "this generation mid-commit (single-writer contract " +
              "breached); this maintainer's result is NOT installed, " +
              "rerun maintenance serially")
        }
      case None =>
        if (!fs.exists(new Path(s"$dir/$gen/manifest.json")))
          throw new IllegalStateException(
            s"IVF maintenance at $dir: retained generation $gen lost its " +
              "manifest after the flip — a concurrent maintainer's cleanup " +
              "destroyed it (single-writer contract breached); rebuild")
    })
  }

  /** Resolve an index ROOT to its live generation directory: the one
    * named by `dir/CURRENT`. A non-atomic flip racing the read is absorbed
    * by the pointer read itself; a dir without a pointer fails loudly, and
    * fast.
    *
    * TIERED indexes (r12 verdict 1) carry a comma-separated generation
    * LIST in CURRENT — base first, append-target TAIL last. This
    * single-dir resolver returns the TAIL (the generation appends land
    * in); queries go through [[resolveIvfDirs]] and union every listed
    * generation. A single-generation pointer (every pre-tiering index)
    * behaves exactly as before. */
  def resolveIvfDir(spark: SparkSession, dir: String): String =
    resolveIvfDirs(spark, dir).last

  /** All live generation directories, ordered base → tail. One element
    * for every pre-tiering index. */
  def resolveIvfDirs(spark: SparkSession, dir: String): Seq[String] =
    resolveIvfGens(new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), dir)

  /** Whether `dir` has a CURRENT pointer — false before the first build. */
  private[graft] def ivfPointerExists(spark: SparkSession,
                                      dir: String): Boolean =
    Current.read(new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), dir).isDefined

  private def resolveIvfGens(fs: FileSystem, dir: String): Seq[String] =
    Current.read(fs, dir) match {
      case Some(content) =>
        Current.decode(dir, content)._2.map(g => s"$dir/$g")
      case None =>
        // an unbuilt or mistyped path (r11 advice: fail now, never spin)
        // — told apart from a dir that holds index artifacts but no
        // readable pointer (torn, or a pointer deleted by hand)
        val exists = fs.exists(new Path(dir))
        if (!exists || !GenerationPointer.list(fs, dir).exists { st =>
            val n = st.getPath.getName
            n.startsWith("gen-") || Current.ownsFile(n) })
          throw new IllegalStateException(
            s"IVF index at $dir ${if (!exists) "does not exist"
              else "contains no index artifacts"} — unbuilt or mistyped " +
              "path; run buildIvfIndex first")
        throw new IllegalStateException(
          s"IVF index at $dir has generation artifacts but no readable " +
            "CURRENT pointer — torn or hand-edited; rerun buildIvfIndex")
    }

  /** The live buildId(s), after the same manifest + marker consistency
    * checks every query runs — the cheap ops probe for "what is serving
    * right now" (tiny file reads, no Spark job). A tiered index returns
    * every live generation's buildId, base → tail, comma-joined (any
    * maintenance op changes the string, so swap detection keeps
    * working). */
  def liveIvfGeneration(spark: SparkSession, dir: String): String = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    resolveAndReadManifests(fs, dir).map(_._2.buildId).mkString(",")
  }

  /** The number of shards a query scans right now (manifest base plus
    * marker-committed appends, summed over live generations) — the
    * fragmentation probe an auto-compaction policy keys on. One
    * listStatus per generation, no Spark job; read cost grows with this
    * number ([[compactIvfIndex]] resets it to 1). */
  def committedIvfShardCount(spark: SparkSession, dir: String): Int = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    resolveAndReadManifests(fs, dir)
      .map { case (g, m) => committedShards(fs, g, m).size }.sum
  }

  /** Resolve the live generation list and read + check every manifest,
    * retrying through SUPERSESSION: between reading CURRENT and reading a
    * manifest, a maintenance flip can delete a generation we resolved —
    * that is not corruption, the pointer has simply moved on, so
    * re-resolve and read the new list. The retry fires ONLY when a fresh
    * resolution disagrees with the list that failed; a genuinely torn or
    * tampered index (markers missing, manifest malformed, pointer
    * dangling) still fails loudly on the spot. This is what makes the
    * metadata phase of a query genuinely zero-blip for readers, not just
    * for the writer's commit. */
  private def resolveAndReadManifests(
      fs: FileSystem,
      dir: String): Seq[(String, IvfManifest)] = {
    var attempt = 0
    while (true) {
      val gens = resolveIvfGens(fs, dir)
      try {
        return gens.map { g =>
          val m = readIvfManifest(fs, g)
          requireMarkersMatch(fs, g, m.buildId)
          (g, m)
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          val superseded =
            try resolveIvfGens(fs, dir) != gens
            catch { case scala.util.control.NonFatal(_) => false }
          attempt += 1
          if (!superseded || attempt >= 5) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Post-flip cleanup, OFF the commit path: the generation sweep
    * ([[GenerationPointer.sweep]]: superseded `gen-*` dirs, stale flip
    * tmps, the stale aside pointer). Deleting a 100 TB postings tree
    * here blocks nothing — new resolutions already land on `keepGens`.
    * Run maintenance single-writer (the [[appendIvfShard]] rule): a
    * concurrent build's in-flight generation dir would be deleted as an
    * orphan by the winner's cleanup. Returns the deleted names. */
  private def cleanupAfterFlip(fs: FileSystem, dir: String,
                               keepGens: Set[String]): Seq[String] = {
    // the live generations' fold provenance (compacted generations only):
    // deleting the fold's SOURCE is fenced against appends that committed
    // into it after the fold snapshot (r11 advice — those rows are in no
    // live generation; see IvfManifest)
    val srcs = keepGens.toSeq.flatMap { kg =>
      try readIvfManifest(fs, s"$dir/$kg").srcs
      catch { case scala.util.control.NonFatal(_) => Seq.empty }
    }
    def fenceLostAppends(postings: String): Unit = srcs.foreach {
      case (src, snapshot) =>
        val lost =
          commitMarkerIds(fs, postings, src).filterNot(snapshot.contains)
        if (lost.nonEmpty) throw new IllegalStateException(
          s"cleanupAfterFlip: shard(s) ${lost.sorted.mkString(",")} were " +
            s"committed into the superseded generation at $postings AFTER " +
            "the compaction snapshot that folded it — an append raced the " +
            "maintenance flip (single-writer contract breached). Their " +
            "rows are in NO live generation; refusing to delete the " +
            "evidence. Re-append those rows from source (or rebuild), " +
            "then sweep.")
    }
    Current.sweep(fs, dir, keepGens, { g =>
      fenceLostAppends(s"$dir/$g/postings.parquet"); true })
  }

  /** Delete everything a maintenance flip superseded under an index root,
    * keeping only the live generation — the deferred second half of a
    * ZERO-DOWNTIME maintenance cycle. `buildIvfIndex`/`compactIvfIndex`
    * with `retainSuperseded = true` flip the pointer but leave the old
    * generation on disk, so queries PLANNED against it before the flip
    * finish their scans instead of dying on vanished files; once in-flight
    * readers drain (a serving loop's batch boundary bounds this), sweep.
    * Every live manifest is read and checked first, so an index this code
    * cannot read fails the sweep before anything is deleted. Returns the
    * deleted top-level names. */
  def sweepIvfIndex(spark: SparkSession, dir: String): Seq[String] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    cleanupAfterFlip(fs, dir, resolveAndReadManifests(fs, dir)
      .map(gm => new Path(gm._1).getName).toSet)
  }

  /** Compact an incrementally-grown IVF index IN PLACE: fold every
    * committed shard back into a single base generation, WITHOUT
    * retraining or re-assigning (cells were assigned against the same
    * frozen centroids whichever shard they arrived in, so compaction is a
    * pure relayout — query results are bit-identical before and after,
    * spec-pinned). The 100 TB operational need: a year of daily
    * [[appendIvfShard]]s leaves ~365 `shard=N` dirs under every cell plus
    * 2×365 marker files — per-query listing cost and reader open-file
    * count grow with APPEND HISTORY rather than data. Compaction resets
    * that to one file per cell ([[clusterForPartitionedWrite]]) and an
    * empty marker set, restoring the freshly-built layout at O(corpus
    * rewrite) — still far cheaper than a rebuild, which pays the
    * clustering fit and the full assignment scoring on top.
    *
    * Generational like the build: the folded postings are fully
    * MATERIALIZED into a fresh generation directory (read entirely from
    * the live one before anything is deleted), manifest (shards=[0])
    * last, then committed by the same atomic pointer flip — readers see
    * the old generation complete until the instant they see the new one.
    * Old-generation claim/commit markers vanish with the superseded
    * generation dir — the next append claims shard 1 of the NEW buildId.
    * Run single-writer like appends: an append racing a compaction could
    * commit a shard into the generation the flip is about to supersede
    * (same rule the doc on [[appendIvfShard]] already imposes for object
    * stores; serial maintenance satisfies it).
    * Returns the number of rows compacted. */
  def compactIvfIndex(spark: SparkSession, dir: String,
                      retainSuperseded: Boolean = false): Long = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every live generation folds in — on a TIERED index this is a full
    // (major) collapse to one generation
    compactGensInto(spark, fs, dir, resolveAndReadManifests(fs, dir),
      keepPrefix = Seq.empty, freshTail = false,
      retainSuperseded = retainSuperseded)
  }

  /** TIERED compaction (r12 verdict 1) — the base ≫ batch form of
    * [[compactIvfIndex]]. The flat compact rewrites the ENTIRE index per
    * fire, so a count-budgeted maintenance loop pays O(corpus) every
    * `compactAfterShards` appends and lifetime maintenance write volume
    * is quadratic in corpus. Tiered maintenance keeps the CURRENT
    * pointer on an ordered generation LIST — big base first, an
    * append-target TAIL last:
    *
    *  - a MINOR fire folds ONLY the tail's committed shards into a
    *    frozen sibling generation and opens a fresh empty tail — cost
    *    O(appends since the last fire), independent of the base;
    *  - a MAJOR fire (when the non-base generations reach `baseRatio`
    *    of the base's bytes, or the list hits `maxGens`) collapses
    *    everything into a new base + fresh tail — O(corpus), but fired
    *    geometrically, so total base rewrites over an ingest's life are
    *    ~(1 + 1/baseRatio)× the corpus, LINEAR rather than quadratic.
    *
    * Queries ([[queryIvfIndex]]) union every listed generation's
    * committed postings (all assigned against the same frozen centroid
    * family — checked); appends land in the tail; the per-query listing
    * cost is bounded by maxGens + the tail's shard budget. Same commit
    * protocol as everything else here: new generations fully
    * materialized, ONE fenced pointer flip, cleanup off the commit
    * path, end-of-maintenance completeness re-check. Returns the rows
    * folded by this fire (0 when the tail was empty — a no-op fire). */
  def compactIvfIndexTiered(spark: SparkSession, dir: String,
                            baseRatio: Double = 0.3, maxGens: Int = 8,
                            retainSuperseded: Boolean = false): Long = {
    require(maxGens >= 2, s"compactIvfIndexTiered: maxGens=$maxGens — the" +
      " tiered layout needs room for at least a base and a tail")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gms = resolveAndReadManifests(fs, dir)
    // the append tail holds the pending data and counts against maxGens
    val major = GenerationPointer.majorFold(gms.init.map(_._1), gms.size,
      maxGens, baseRatio, GenerationPointer.pathBytes(fs, _),
      GenerationPointer.pathBytes(fs, gms.last._1))
    if (major)
      compactGensInto(spark, fs, dir, gms, keepPrefix = Seq.empty,
        freshTail = true, retainSuperseded = retainSuperseded)
    else if (!hasPostingData(fs, gms.last._1)) 0L
    else compactGensInto(spark, fs, dir, Seq(gms.last),
      keepPrefix = gms.init.map(gm =>
        new Path(gm._1).getName),
      freshTail = true, retainSuperseded = retainSuperseded)
  }

  /** Fold `srcGms`'s committed postings into ONE fresh generation
    * (optionally followed by a fresh EMPTY tail generation — the tiered
    * layout's append target), then commit `keepPrefix ++ merged ++ tail`
    * with a single fenced pointer flip. The shared kernel behind
    * [[compactIvfIndex]] (all gens, no tail) and
    * [[compactIvfIndexTiered]] (minor: tail only, keep the rest). */
  private def compactGensInto(spark: SparkSession,
                              fs: FileSystem,
                              dir: String,
                              srcGms: Seq[(String, IvfManifest)],
                              keepPrefix: Seq[String],
                              freshTail: Boolean,
                              retainSuperseded: Boolean): Long = {
    val m0 = srcGms.head._2
    val srcCommitted = srcGms.map { case (g, m) =>
      (g, m, committedShards(fs, g, m)) }
    val post = srcCommitted.flatMap { case (g, _, committed) =>
      if (!hasPostingData(fs, g)) None
      else Some(spark.read.parquet(s"$g/postings.parquet")
        .where(col("shard").isin(committed: _*)))
    }.reduceOption(_ unionByName _).getOrElse(
      throw new IllegalStateException(
        s"compactIvfIndex: no posting data to fold at $dir — torn build " +
          "or an empty index; rerun buildIvfIndex"))
    val cents = spark.read.parquet(s"${srcGms.head._1}/centroids.parquet")
    // materializing writes FIRST — the new generation exists in full
    // before cleanup deletes the live dirs it was read from. Its fold
    // provenance records, per source generation, exactly which shards it
    // holds, so post-flip cleanup can DETECT a shard an append committed
    // into a source after this snapshot (r11 advice — that shard's rows
    // are in no live generation; deleting its dir silently would turn a
    // single-writer breach into data loss).
    val merged = writeIvfGeneration(fs, dir, cents, m0.seed, m0.nCentroids,
        m0.requested, srcs = srcCommitted.map { case (_, m, committed) =>
          (m.buildId, committed) })(_ => Some(post))
    // a zero-column parquet count: row counts come from footers/row-group
    // metadata, no vector data is decompressed — the cheap way to both
    // return the size and ASSERT the new tree is fully readable before
    // the flip supersedes the only other copy
    val rows = spark.read.parquet(s"$dir/${merged._1}/postings.parquet")
      .count()
    // the fresh tail, created BEFORE the flip so the pointer never names
    // a missing generation: a centroids copy (appends assign against
    // them), markers and manifest; postings intentionally EMPTY (the
    // phantom manifest shard 0 anchors the append id sequence — queries
    // skip the generation entirely until a cell dir exists)
    val tail = if (!freshTail) Seq.empty else Seq(writeIvfGeneration(fs,
      dir, cents, m0.seed, m0.nCentroids, m0.requested)(_ => None))
    commitIvfGens(spark, fs, dir, keepPrefix, merged +: tail,
      emptyTail = freshTail, retainSuperseded)
    rows
  }

  /** Incrementally grow a [[buildIvfIndex]] index with a new document
    * shard WITHOUT retraining: the new rows are assigned against the
    * index's OWN persisted centroids and appended as posting partitions
    * `cell=&#42;/shard=N`. This is the 100 TB operational shape — the corpus
    * grows daily, and re-clustering + rewriting the full postings tree
    * per day is O(corpus) where the day's delta is O(shard).
    *
    * Commit protocol: readers scan only COMMITTED shards — the manifest's
    * base list plus `_SHARD_COMMIT_&lt;buildId&gt;_N` marker files inside the
    * postings dir (generation + id live in the NAME, so the committed set
    * is ONE listStatus with zero content reads) — as a partition filter,
    * so uncommitted files are never even read. An append
    *
    *  1. CLAIMS its shard id by exclusive-create of a
    *     `_SHARD_CLAIM_&lt;buildId&gt;_N` marker — a claim that already exists
    *     bumps to the next id, so concurrent appends land on distinct ids;
    *  2. writes its `shard=N` partitions under a PRIVATE staging dir —
    *     never directly into the live root, whose shared `_temporary`
    *     committer dir is exactly where two concurrent Spark write jobs
    *     destroy each other's task attempts;
    *  3. RENAMES the staged `cell=&#42;/shard=N` leaf dirs into the live tree
    *     (collision-free: the claimed id makes them unique);
    *  4. commits by exclusive-create of the `_SHARD_COMMIT_&lt;buildId&gt;_N`
    *     marker.
    *
    * The manifest is NEVER rewritten after the build — there is no
    * truncate-in-place window in which a crash could destroy the only
    * record of previously committed shards. An in-process failure releases
    * its claim and deletes its partial files (same-id retry stays safe);
    * only a hard crash (process death) leaves a claim behind, skipping
    * that id and leaving orphans that are invisible to queries (delete the
    * claim marker to reclaim both after confirming no appender is live).
    * Exclusive create is atomic on HDFS; on S3-style object stores it is
    * HEAD-then-PUT unless conditional writes are enabled (Hadoop ≥ 3.4.1
    * `fs.s3a.create.conditional.enabled`) — without that, run appends
    * single-writer per index. Centroids are untouched, so the buildId
    * generation markers remain valid across appends; a full rebuild or
    * compact flips `CURRENT` to a fresh generation directory, taking
    * every claim/commit marker of the old generation with it when the
    * superseded dir is deleted. Appends resolve the live generation once
    * at entry and never touch the pointer — they are zero-blip by
    * construction.
    *
    * Cost trade documented: appended shards are assigned to FROZEN
    * centroids, so cell balance can drift as the corpus distribution
    * shifts — full-probe results stay exact regardless (spec-pinned ≡
    * a from-scratch rebuild), partial-probe recall degrades only as far
    * as the drift. Rebuild when the manifest's shard count or observed
    * cell skew crosses the operator's budget.
    *
    * Returns the committed shard id. */
  def appendIvfShard(data: DataFrame, idCol: String, vecCol: String,
                     dir: String): Int =
    appendIvfShardWithCount(data, idCol, vecCol, dir)._1

  /** [[appendIvfShard]] plus the post-append committed-shard count — the
    * fragmentation signal an auto-compaction policy keys on, at zero
    * extra metadata cost: the append already resolved the generation and
    * listed the committed set to claim its id, so re-probing via
    * [[committedIvfShardCount]] would pay a second resolve + listStatus
    * per micro-batch in exactly the listing hot path compaction exists
    * to bound. The count is entry-listing + 1: EXACT under the
    * single-writer-per-index rule every maintenance consumer already
    * runs under; with concurrent appenders it lags by their in-flight
    * commits (bounded by the concurrency, and only ever LOW — a policy
    * keyed on it compacts late, never early; use
    * [[committedIvfShardCount]] when a fresh listing is worth the round
    * trips). Returns (shardId, committedCountAfterThisAppend). */
  def appendIvfShardWithCount(data: DataFrame, idCol: String,
                              vecCol: String, dir: String): (Int, Int) = {
    val spark = data.sparkSession
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // resolve the live generation ONCE — every path below (markers,
    // staging, renames) is inside it, so a maintenance flip racing this
    // append can never split it across generations (it lands whole in the
    // superseded dir and vanishes with it; single-writer maintenance rules
    // that race out anyway)
    val g = resolveIvfGens(fs, dir).last
    val m = readIvfManifest(fs, g)
    // generation check before writing anything
    requireMarkersMatch(fs, g, m.buildId)
    val committed = committedShards(fs, g, m)
    // claim the shard id: exclusive create makes concurrent appenders
    // land on distinct ids (each then stages + renames its own dirs)
    var shardId = committed.max + 1
    while (!tryExclusiveCreate(fs, claimMarker(g, m.buildId, shardId))) {
      shardId += 1
      require(shardId - committed.max < (1 << 16),
        s"appendIvfShard: ${1 << 16} consecutive claimed-but-uncommitted " +
          s"shard ids at $g — clear dead _SHARD_CLAIM_ markers")
    }
    val staging = s"$g/.append-shard-$shardId"
    try {
      // clean any torn pre-claim-protocol attempt at this shard id (the
      // claim guarantees no live writer owns these files) — but NEVER
      // when the commit marker for this id exists: a marker planted
      // between the committedShards() listing and the claim create (the
      // same fencing-bypass race the failure path guards against) means
      // these files are committed and possibly being served, so deleting
      // them here would destroy served data before the post-write commit
      // require ever fires. Fail loudly instead (r10 advice).
      require(!fs.exists(commitMarker(g, m.buildId, shardId)),
        s"appendIvfShard: commit marker for claimed shard $shardId " +
          s"appeared at $g after the committed-shard listing — claim " +
          "fencing was bypassed; rebuild the index")
      def liveParts = fs.globStatus(new Path(
        s"$g/postings.parquet/cell=*/shard=$shardId"))
      Option(liveParts).foreach(_.foreach(s => fs.delete(s.getPath, true)))
      val cents = spark.read.parquet(s"$g/centroids.parquet")
      // write into a PRIVATE staging dir: two Spark jobs writing under the
      // same live root share its _temporary committer dir, and the first
      // job's commit-time cleanup deletes the second's in-flight tasks
      val nCentsInt = math.max(1,
        math.min(m.nCentroids, Int.MaxValue.toLong).toInt)
      clusterForPartitionedWrite(
          assignCells(data, idCol, vecCol, cents, nCells = 1,
              statsMult = nCentsInt)
            .where(col("rn") === 1)
            .select(col("id"), col("v"), col("cell"),
              lit(shardId).as("shard")),
          nCentsInt)
        .write.mode("overwrite").partitionBy("cell", "shard")
        .parquet(s"$staging/postings.parquet")
      // move the staged shard=N leaf dirs into the live tree — the
      // claimed id makes every destination unique, so no rename collides
      val staged = Option(fs.globStatus(new Path(
        s"$staging/postings.parquet/cell=*/shard=$shardId")))
        .map(_.toSeq).getOrElse(Seq.empty)
      staged.foreach { st =>
        val destCell = new Path(
          s"$g/postings.parquet/${st.getPath.getParent.getName}")
        if (!fs.exists(destCell)) fs.mkdirs(destCell)
        val dest = new Path(destCell, st.getPath.getName)
        require(fs.rename(st.getPath, dest),
          s"appendIvfShard: rename ${st.getPath} -> $dest failed; " +
            "aborting before the commit marker (torn append is invisible, " +
            "a committed half-append is not)")
      }
      // commit marker LAST; the manifest is never rewritten
      require(tryExclusiveCreate(fs, commitMarker(g, m.buildId, shardId)),
        s"appendIvfShard: commit marker for shard $shardId already exists " +
          s"at $g — claim fencing was bypassed; rebuild the index")
      (shardId, committed.size + 1)
    } catch {
      case e: Throwable =>
        // in-process failure: this appender is provably not live, so the
        // id can be released for a clean same-id retry — delete partial
        // live files (uncommitted, hence invisible) and the claim.
        // EXCEPT when the commit marker for this shard exists (the
        // fencing-bypass require above, or a failure after the marker
        // write): the marker declares shard N committed and queries may
        // already be serving those rows, so deleting them here would
        // silently destroy served data before the caller sees the error —
        // leave the live files AND the claim intact for inspection/rebuild
        // (r9 advice).
        try {
          if (!fs.exists(commitMarker(g, m.buildId, shardId))) {
            Option(fs.globStatus(new Path(
                s"$g/postings.parquet/cell=*/shard=$shardId")))
              .foreach(_.foreach(s => fs.delete(s.getPath, true)))
            fs.delete(claimMarker(g, m.buildId, shardId), false)
          }
        } catch { case _: java.io.IOException => () } // keep the real error
        throw e
    } finally {
      fs.delete(new Path(staging), true)
    }
  }

  private def claimMarker(dir: String, buildId: String, id: Int) =
    new Path(s"$dir/postings.parquet/_SHARD_CLAIM_${buildId}_$id")
  private def commitMarker(dir: String, buildId: String, id: Int) =
    new Path(s"$dir/postings.parquet/_SHARD_COMMIT_${buildId}_$id")

  /** Whether a generation's postings tree holds ANY partition dir — a
    * tiered index's fresh tail is created empty (manifest + centroids +
    * _BUILD_ID, zero cells) and readers skip it until appends land. */
  private def hasPostingData(fs: FileSystem, gen: String): Boolean =
    Option(fs.globStatus(new Path(s"$gen/postings.parquet/cell=*")))
      .exists(_.nonEmpty)

  /** Manifest base shards plus marker-committed appended shards. */
  private def committedShards(fs: FileSystem, dir: String,
                              m: IvfManifest): Seq[Int] =
    (m.shards ++ commitMarkerIds(fs, s"$dir/postings.parquet", m.buildId))
      .distinct

  /** The shard ids of `buildId`'s `_SHARD_COMMIT_` markers under a
    * postings dir (none when it is absent). The generation and id are in
    * the marker NAME, so this is one listStatus and no file reads (a year
    * of daily appends on an object store would otherwise pay ~365 serial
    * round trips per query batch); stale markers from other generations
    * and stray non-protocol names simply don't match the anchored
    * pattern. */
  private def commitMarkerIds(fs: FileSystem, postings: String,
                              buildId: String): Seq[Int] = {
    val re = ("^_SHARD_COMMIT_" +
      java.util.regex.Pattern.quote(buildId) + "_(\\d+)$").r
    GenerationPointer.list(fs, postings).flatMap(st =>
      re.findFirstMatchIn(st.getPath.getName).map(_.group(1).toInt))
  }

  /** Create-if-absent; false iff the path already exists. Atomic on HDFS
    * (namenode-arbitrated); S3-style stores check-then-put unless
    * conditional creates are enabled — see [[appendIvfShard]]'s
    * single-writer guidance.
    *
    * "Already exists" is classified by exception TYPE, not message text
    * (r9 advice): a transient IOException whose message merely contains
    * "exists" must NOT be read as "claimed" (that silently skips a free
    * shard id), and an HDFS lease conflict arrives as a RemoteException
    * wrapping AlreadyBeingCreatedException whose message need not contain
    * the word at all. Every other IOException propagates as the error it
    * is (network, permission, quota). */
  private def tryExclusiveCreate(fs: FileSystem,
                                 path: Path): Boolean =
    try {
      fs.create(path, false).close()
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
      case e: org.apache.hadoop.ipc.RemoteException
          // hadoop-client-api shades hdfs-protocol classes out of reach;
          // RemoteException carries the server-side class by NAME
          if e.getClassName != null && (
            e.getClassName.endsWith(".AlreadyBeingCreatedException") ||
            e.getClassName.endsWith(".FileAlreadyExistsException")) => false
      case e: java.io.IOException
          // the HDFS client UNWRAPS RemoteException for the create path
          // (DFSOutputStream.newStreamForCreate's unwrap list includes
          // AlreadyBeingCreatedException/FileAlreadyExistsException), so
          // on a real cluster the lease conflict arrives as the concrete
          // — possibly shaded — IOException subclass, not the wrapper.
          // Classify by simple class name on the exception and its cause
          // chain; still type-anchored (never message text) (r10 advice).
          if exceptionChainHasAlreadyExists(e) => false
    }

  private def exceptionChainHasAlreadyExists(e: Throwable): Boolean = {
    val names = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .take(8).map(_.getClass.getName).toSeq
    names.exists(n =>
      n.endsWith(".AlreadyBeingCreatedException") ||
      n.endsWith(".FileAlreadyExistsException"))
  }

  /** `srcs` (compacted generations only): the FOLD PROVENANCE — which
    * source generations and exactly which of their committed shards this
    * generation was folded from. Post-flip cleanup fences on
    * it: a shard committed into the source generation AFTER the fold's
    * snapshot (an append racing the compact, a single-writer breach) has
    * rows in NO live generation, and deleting the superseded dir would
    * turn the breach into silent data loss — the fence fails loudly and
    * leaves the evidence on disk instead (r11 advice). Rebuilds carry no
    * provenance: a rebuild reads its corpus fresh and supersedes the old
    * generation's appends by explicit decision, not by folding them. */
  private case class IvfManifest(seed: Long, nCentroids: Long,
                                 requested: Long, buildId: String,
                                 shards: Seq[Int],
                                 srcs: Seq[(String, Seq[Int])])

  private def readIvfManifest(fs: FileSystem,
                              dir: String): IvfManifest = {
    val manifest = new Path(s"$dir/manifest.json")
    require(fs.exists(manifest),
      s"IVF index at $dir has no manifest.json — torn or pre-manifest " +
        "build; rerun buildIvfIndex")
    val mtext = GenerationPointer.readFile(fs, manifest.toString)
    def num(k: String): Long = (s""""$k":(-?\\d+)""").r
      .findFirstMatchIn(mtext).map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(
        s"malformed IVF manifest in $dir (missing $k): $mtext"))
    val buildId = """"buildId":"([^"]+)"""".r.findFirstMatchIn(mtext)
      .map(_.group(1))
      .getOrElse(throw new IllegalStateException(
        s"IVF manifest in $dir predates buildId generations — rebuild: $mtext"))
    val shards = """"shards":\[([0-9, ]*)\]""".r.findFirstMatchIn(mtext)
      .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty)
        .map(_.toInt).toSeq)
      .getOrElse(throw new IllegalStateException(
        s"IVF manifest in $dir has no shards list — rebuild: $mtext"))
    require(shards.nonEmpty, s"IVF manifest in $dir commits zero shards")
    // refused, not ignored: ignoring it would drop the lost-append fence
    if (mtext.contains("\"srcBuildId\""))
      throw new IllegalStateException(
        s"IVF manifest in $dir records single-source srcBuildId fold " +
          "provenance from an older layout — delete the index and rerun " +
          s"buildIvfIndex: $mtext")
    // fold provenance: "srcs":"buildA:0|1,buildB:0"
    val srcs = """"srcs":"([^"]*)"""".r.findFirstMatchIn(mtext)
      .map(_.group(1).split(",").toSeq.filter(_.nonEmpty).map { tok =>
        val i = tok.indexOf(':')
        require(i > 0, s"malformed srcs token '$tok' in IVF manifest $dir")
        (tok.substring(0, i), tok.substring(i + 1).split("\\|").toSeq
          .filter(_.nonEmpty).map(_.toInt))
      }).getOrElse(Seq.empty)
    IvfManifest(num("seed"), num("nCentroids"), num("requested"),
      buildId, shards, srcs)
  }

  private def requireMarkersMatch(fs: FileSystem,
                                  dir: String, buildId: String): Unit =
    IvfComponents.foreach { comp =>
      val p = new Path(s"$dir/$comp/_BUILD_ID")
      require(fs.exists(p),
        s"IVF index at $dir: $comp has no _BUILD_ID marker — torn or " +
          "pre-generation build; rerun buildIvfIndex")
      val got = GenerationPointer.readFile(fs, p.toString).trim
      require(got == buildId,
        s"IVF index at $dir: $comp is from build $got but the manifest " +
          s"declares $buildId — mixed-generation index; rebuild")
    }

  /** Query a [[buildIvfIndex]] index: assign each query to its `nProbe`
    * nearest centroids (broadcast of the centroid table — no corpus
    * work), equi-join the probed cells against the posting lists, exact
    * cosine + per-query top-k. Same output contract and ranking as
    * [[ivfTopK]]/[[bruteForceTopK]]; with nProbe == nCentroids the result
    * is exactly brute force. Query vectors ride the probe join (bounded:
    * nProbe rows per query); posting vectors come off the scan that reads
    * them anyway — no second corpus join. */
  def queryIvfIndex(queries: DataFrame, idCol: String, vecCol: String,
                    dir: String, k: Int, nProbe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    // generation check: the manifest's buildId must match the _BUILD_ID
    // marker inside BOTH component dirs — a torn build, or interleaved
    // concurrent rebuilds (even with identical centroid counts), fail
    // loudly instead of silently probing postings assigned against
    // other-generation centroids. Three tiny file reads; no count job.
    // The generation is resolved ONCE, here — both component scans and
    // the committed-shard listing come from the same generation dir, so a
    // maintenance flip between planning and execution can never mix
    // generations inside one query (it can only make the WHOLE query fail
    // loudly if the superseded tree is deleted mid-scan).
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gms = resolveAndReadManifests(fs, dir)
    val (g0, m0) = gms.head
    // tiered generations were all assigned against the SAME frozen
    // centroid family (minor compacts copy centroids verbatim) — checked,
    // not trusted: probing cell ids against foreign centroids would be
    // silently wrong, the worst failure class
    gms.tail.foreach { case (g, m) =>
      require(m.seed == m0.seed && m.nCentroids == m0.nCentroids,
        s"IVF index at $dir: generation $g (seed=${m.seed}, " +
          s"nCentroids=${m.nCentroids}) is not from the base's centroid " +
          s"family (seed=${m0.seed}, nCentroids=${m0.nCentroids}) — " +
          "mixed-family tier; rebuild")
    }
    val cents = spark.read.parquet(s"$g0/centroids.parquet")
    // only committed shards are scanned — the manifest's base list plus
    // current-generation _SHARD_COMMIT_ markers ([[appendIvfShard]]); an
    // append that crashed before its commit marker left files no query
    // reads (partition filter — pruned, not filtered row-by-row). A
    // tiered index unions every live generation's committed postings; a
    // fresh (still-empty) tail generation has no partition dirs to read
    // and is skipped by the listing probe.
    val post = gms.flatMap { case (g, m) =>
      if (!hasPostingData(fs, g)) None
      else Some(spark.read.parquet(s"$g/postings.parquet")
        .where(col("shard").isin(committedShards(fs, g, m): _*)))
    }.reduceOption(_ unionByName _).getOrElse(
      throw new IllegalStateException(
        s"IVF index at $dir has no posting data in any live generation — " +
          "torn build; rerun buildIvfIndex"))
    val qcells = assignCells(queries, idCol, vecCol, cents, nProbe)
      .select(col("cell"), col("id").as("query_id"), col("v").as("qv"))
    val cand = qcells
      .join(post.select(col("cell"), col("id").as("neighbor_id"),
        col("v").as("cv")), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    rankTopK(cand, k)
  }

  /** Cluster a postings frame by its `cell` partition column before a
    * `partitionBy("cell", "shard")` write. A dynamic-partition write opens
    * one parquet file per (task, partition-value) pair it sees — with the
    * pre-write rows hash-partitioned by id, EVERY task sees ~every cell,
    * so the file count is tasks × cells (measured: the r11 assignment
    * sizing alone pushed a 100k-vector build from 10k to 82k files and
    * tripled its wall on file-open cost). Hashing by cell instead lands
    * each cell in exactly one task: file count = cells, independent of
    * the upstream partition count, and a 100 TB index directory stays
    * listable. Write parallelism = min(cells, partitions); huge per-cell
    * outputs can be split with spark.sql.files.maxRecordsPerFile. */
  private def clusterForPartitionedWrite(df: DataFrame,
                                         nCents: Int): DataFrame = {
    val floor = df.sparkSession.sessionState.conf.numShufflePartitions
    df.repartition(math.min(math.max(floor, nCents), Tuning.MaxPartitions),
      col("cell"))
  }

  /** Nearest `nCells` centroid ids per vector via broadcast centroid join;
    * keeps `rn` so callers can distinguish the home cell (rn == 1) from
    * probe cells.
    *
    * `statsMult`: when > 1, size the window's hash(id) exchange for the
    * CROSS-JOINED volume — rows × centroids, which plan statistics (taken
    * before the join) understate by the centroid count. The sizing is an
    * explicit `repartition(n, id)` so it is pinned IN the plan: it
    * survives callers that execute the returned frame lazily at their own
    * session setting ([[ivfThresholdHits]] via Decontaminate), and the
    * window reuses the partitioning (same key → no second exchange; AQE
    * never coalesces a user-specified count). Floor = the session setting,
    * so at gate scale the estimate stays under it and the plan is
    * byte-identical to the unsized form (r10 Tuning contract). */
  private def assignCells(data: DataFrame, idCol: String, vecCol: String,
                          cents: DataFrame, nCells: Int,
                          statsMult: Int = 1): DataFrame = {
    val base = data.select(col(idCol).as("id"), col(vecCol).as("v"))
    val floor = data.sparkSession.sessionState.conf.numShufflePartitions
    // the unknown-stats sentinel (partitionsForBytes treats > 2^50 as
    // "stats missing") must be tested on the RAW plan bytes, before the
    // centroid multiplier — otherwise a legitimately-known multi-TiB
    // frame × 1024 centroids crosses the sentinel and silently disables
    // the sizing at exactly the scale it exists for (r11 review); the
    // known-bytes product is clamped instead (it maxes the partition cap)
    val pb = Tuning.planBytes(base)
    val n = if (statsMult <= 1 || pb <= 0 || pb > BigInt(1L << 50)) floor
      else Tuning.partitionsForBytes(
        (pb * statsMult).min(BigInt(1L << 50)), floor, expansion = 2.0)
    val sized = if (n > floor) base.repartition(n, col("id")) else base
    val scored = sized.crossJoin(broadcast(cents))
      .withColumn("d", cosine(col("v"), col("cvec")))
    val w = Window.partitionBy("id").orderBy(col("d").desc, col("cid").asc)
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= nCells)
      .select(col("id"), col("v"), col("cid").as("cell"), col("rn"))
  }
}
