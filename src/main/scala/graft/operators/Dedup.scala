package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.functions.TextFunctions

/** Deduplication suite for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * These extend the reference's title-normalization dedup
  * (simility_books.py:74-89 — normalize then drop duplicate titles) to the
  * document scale a 100 TB corpus needs. Design rules:
  *   - no all-pairs comparison ever reaches the shuffle: candidate pairs are
  *     generated by shingle/band/bucket joins whose fanout is bounded,
  *   - hashing uses the codegen'd `xxhash64` built-in, never a UDF,
  *   - every step is an ordinary DataFrame op, so AQE can re-plan skewed
  *     bucket joins at runtime.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical normalized text.
    * The window partitions by (64-bit content hash, normalized text): the
    * hash balances partitioning cheaply, and including the text itself
    * makes the operator EXACT — at multi-billion-doc scale a 64-bit-only
    * key would expect birthday collisions and silently drop distinct
    * documents. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = TextFunctions.squeezeWhitespace(col(textCol))
    docs.withColumn("__t", norm)
      .withColumn("__h", xxhash64(col("__t")))
      .withColumn("__keep", min(col(idCol)).over(Window.partitionBy("__h", "__t")))
      .where(col(idCol) === col("__keep"))
      .drop("__h", "__t", "__keep")
  }

  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  /** Character `n`-gram shingle hashes as array<long> (distinct) — one
    * native pass ([[graft.expressions.ShingleHashes]]) instead of
    * transform+substr+xxhash64+array_distinct interpreted chains. */
  def shingles(text: Column, n: Int): Column =
    column(graft.expressions.ShingleHashes(
      expression(TextFunctions.squeezeWhitespace(lower(text))), n))

  /** Character n-gram shingles as raw strings (distinct) — the
    * oracle-comparable form of [[shingles]] (no engine-specific hashing). */
  def shingleStrings(text: Column, n: Int): Column =
    column(graft.expressions.ShingleStrings(
      expression(TextFunctions.squeezeWhitespace(lower(text))), n))

  /** Query-vs-corpus n-gram Jaccard: the small query side (rows matching
    * `queryPred`) is broadcast against the corpus and compared with
    * `array_intersect` on string shingles — no explode, no shuffle on the
    * corpus side beyond the scan. The right plan whenever the query set is
    * broadcastable; [[ngramJaccardPairs]] is the all-pairs shuffle form. */
  def ngramJaccardForQueries(docs: DataFrame, idCol: String, textCol: String,
                             n: Int, queryPred: Column,
                             minJaccard: Double): DataFrame =
    queryVsCorpusJaccard(
      docs.select(col(idCol).as("id"), shingleStrings(col(textCol), n).as("sh")),
      queryPred, minJaccard)

  /** [[ngramJaccardForQueries]] over 64-bit shingle HASHES instead of the
    * raw shingle strings: identical Jaccard values (distinct-set
    * intersection/union are hash-collision-exact to ~2^-64 per pair) with
    * an ~8-byte-per-shingle broadcast instead of n-byte strings — the form
    * to use at corpus scale, where the broadcast query side is the
    * footprint that matters. */
  def ngramJaccardForQueriesHashed(docs: DataFrame, idCol: String,
                                   textCol: String, n: Int, queryPred: Column,
                                   minJaccard: Double): DataFrame =
    queryVsCorpusJaccard(
      docs.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh")),
      queryPred, minJaccard)

  private def queryVsCorpusJaccard(sh: DataFrame, queryPred: Column,
                                   minJaccard: Double): DataFrame = {
    // every query doc is compared against EVERY other corpus doc (id order
    // must not matter: a new doc with a large id still has to hit older,
    // smaller-id corpus docs); when both sides are queries the pair shows
    // up once per orientation, which is the right shape for
    // "neighbors of each query"
    val q = sh.where(queryPred) // predicate over the renamed `id` column
      .select(col("id").as("a"), col("sh").as("sha"))
    val c = sh.select(col("id").as("b"), col("sh").as("shb"))
    jaccardVerify(c.join(broadcast(q), col("a") =!= col("b")), minJaccard)
  }

  /** Query-vs-corpus n-gram CONTAINMENT: |S(query) ∩ S(corpus)| / |S(query)|
    * — the asymmetric near-dup metric for "this document is (mostly) inside
    * that one" (quotations, boilerplate wrappers, extended editions), which
    * symmetric Jaccard under-scores exactly when the corpus doc is much
    * longer than the query. Same broadcast query-vs-corpus shape as
    * [[ngramJaccardForQueries]]; `hashed = true` swaps string shingles for
    * 64-bit shingle hashes (identical scores to ~2^-64, ~8 bytes/shingle in
    * the broadcast — the corpus-scale form). */
  def ngramContainmentForQueries(docs: DataFrame, idCol: String,
                                 textCol: String, n: Int, queryPred: Column,
                                 minContainment: Double,
                                 hashed: Boolean = false): DataFrame = {
    val mk: Column => Column =
      if (hashed) shingles(_, n) else shingleStrings(_, n)
    val sh = docs.select(col(idCol).as("id"), mk(col(textCol)).as("sh"))
    val q = sh.where(queryPred).select(col("id").as("a"), col("sh").as("sha"))
    val c = sh.select(col("id").as("b"), col("sh").as("shb"))
    c.join(broadcast(q), col("a") =!= col("b"))
      .withColumn("inter",
        column(graft.expressions.IntersectionSize(
          expression(col("sha")), expression(col("shb")))))
      .withColumn("containment",
        col("inter").cast("double") / size(col("sha")).cast("double"))
      .where(col("containment") >= minContainment)
      .select("a", "b", "containment")
  }

  /** Shared verify stage: exact Jaccard from attached (sha, shb) shingle
    * sets, thresholded — one definition so the formula cannot drift
    * between the candidate generators. */
  private def jaccardVerify(pairs: DataFrame, minJaccard: Double): DataFrame =
    pairs
      .withColumn("inter",
        column(graft.expressions.IntersectionSize(
          expression(col("sha")), expression(col("shb")))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("inter")).cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select("a", "b", "jaccard")

  /** Word `n`-gram (token shingle) hashes as array<long> (distinct). */
  def tokenShingles(text: Column, n: Int): Column = {
    val toks = TextFunctions.tokenize(lower(text))
    array_distinct(
      transform(
        sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
        i => xxhash64(array_join(slice(toks, i, lit(n)), " "))))
  }

  /** Pairwise n-gram Jaccard similarity via shingle inverted-index join:
    * |A ∩ B| from a groupBy over the shared-shingle join, |A ∪ B| from the
    * per-doc set sizes. Returns (a, b, jaccard) with a < b and
    * jaccard >= minJaccard. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, minJaccard: Double): DataFrame = {
    val sh = docs.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .withColumn("sz", size(col("sh")))
    val posts = sh.select(col("id"), col("sz"), explode(col("sh")).as("g"))
    val a = posts.select(col("id").as("a"), col("sz").as("sza"), col("g"))
    val b = posts.select(col("id").as("b"), col("sz").as("szb"), col("g"))
    a.join(b, Seq("g"))
      .where(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("inter"), first("sza").as("sza"), first("szb").as("szb"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")).cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select("a", "b", "jaccard")
  }

  /** EXACT all-pairs n-gram Jaccard with PREFIX FILTERING (PPJoin-family):
    * same result set as [[ngramJaccardPairs]], different candidate
    * generation. Under a global shingle order (ascending document
    * frequency, then hash — rare shingles first), a pair with
    * Jaccard >= t MUST share at least one shingle within each side's first
    * `|x| - ceil(t*|x|) + 1` shingles: J >= t implies |A∩B| >= t*|A∪B| >=
    * ceil(t*|x|) for both sides, and ceil(t*|x|) common elements cannot all
    * fit in a suffix of length ceil(t*|x|) - 1 (pigeonhole on the shared
    * order) — so only PREFIXES are posted to the inverted-index join. Because prefixes hold each document's RAREST shingles, posting
    * lists in the candidate join are short where the plain form's are
    * long: the quadratic Σ df(g)^2 blowup moves from the corpus's most
    * common shingle to its rare tail. This is the exact-guarantee
    * counterpart of MinHash-LSH (probabilistic) at corpus scale; the df
    * ranking costs one extra aggregate + join.
    *
    * Returns (a, b, jaccard), a < b, jaccard >= minJaccard — verified on
    * the FULL shingle sets, so the prefix stage affects cost only. */
  def ngramJaccardPairsPrefix(docs: DataFrame, idCol: String,
                              textCol: String, n: Int,
                              minJaccard: Double,
                              positionalFilter: Boolean = true): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1] (got $minJaccard)")
    val sh = docs.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
    jaccardVerify(
      prefixCandidates(sh, minJaccard, positionalFilter)
        .join(sh.select(col("id").as("a"), col("sh").as("sha")), "a")
        .join(sh.select(col("id").as("b"), col("sh").as("shb")), "b"),
      minJaccard)
  }

  /** Candidate stage of [[ngramJaccardPairsPrefix]] — package-visible so
    * specs can measure candidate volume with and without the positional
    * filter. Input `sh` = (id, sh: array<long>); output (a, b), a < b,
    * a superset of all pairs with Jaccard >= t (the verify stage is what
    * makes the operator exact). */
  private[graft] def prefixCandidates(sh: DataFrame, minJaccard: Double,
                                      positionalFilter: Boolean): DataFrame = {
    val posts = sh.select(col("id"), explode(col("sh")).as("g"))
    val dfreq = posts.groupBy("g").agg(count(lit(1)).as("dfreq"))
    // per-doc shingles in GLOBAL (dfreq, g) order; prefix length
    // |x| - ceil(t|x|) + 1
    val ordered = posts.join(dfreq, "g")
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("dfreq"), col("g")))),
        s => s.getField("g")).as("sg"))
      .withColumn("sz", size(col("sg")))
      // fp-safe ceil: when t*sz is exactly integral the double product can
      // land a hair ABOVE it (0.55*20 = 11.000000000000002) and ceil would
      // overshoot, shortening the prefix by one and silently dropping
      // boundary pairs whose required overlap sits entirely in the suffix.
      // Subtracting an epsilon before ceil keeps the bound exact for every
      // representable t*sz while never admitting a shingle too few.
      .withColumn("plen",
        (col("sz") - ceil(lit(minJaccard) * col("sz") - lit(1e-9)) + 1)
          .cast("int"))
    // 1-based position of each prefix shingle in the doc's global order —
    // the positional filter's input
    val prefix = ordered
      .select(col("id"), col("sz"),
        posexplode(slice(col("sg"), lit(1), col("plen"))))
      .select(col("id"), col("sz"), (col("pos") + 1).as("p"), col("col").as("g"))
    // length filter (PPJoin): J >= t forces t*|A| <= |B| <= |A|/t — prune
    // size-incompatible pairs inside the candidate join, before the
    // dedup + full-set verify ever see them
    val joined = prefix
      .select(col("id").as("a"), col("sz").as("sza"), col("p").as("pa"), col("g"))
      .join(prefix
        .select(col("id").as("b"), col("sz").as("szb"), col("p").as("pb"), col("g")),
        Seq("g"))
      .where(col("a") < col("b") &&
        // epsilon-relaxed for the same fp hazard as plen: a pair at J
        // exactly t must not be pruned because t*sz rounded up. Extra
        // candidates are harmless — the full-set verify stage is exact.
        col("szb") >= lit(minJaccard) * col("sza") - lit(1e-9) &&
        col("sza") >= lit(minJaccard) * col("szb") - lit(1e-9))
    if (!positionalFilter)
      joined.select("a", "b").dropDuplicates("a", "b")
    else {
      // POSITIONAL filter (PPJoin): a match on shingle g at 1-based global-
      // order positions (pa in A, pb in B) bounds the whole intersection —
      // every other common shingle sorts entirely before g (position
      // < pa AND < pb) or entirely after (at most sza-pa resp. szb-pb
      // remain), so |A∩B| <= 1 + min(pa-1, pb-1) + min(sza-pa, szb-pb).
      // The bound holds for EVERY matching shingle, so the tightest (min)
      // is taken per pair; J >= t needs |A∩B| >= t/(1+t)*(sza+szb), and
      // pairs whose bound cannot reach it are dropped before the verify
      // join ever ships their full shingle sets. The min-aggregate rides
      // the same (a, b) shuffle the dropDuplicates already paid — the
      // filter is free at plan level and strictly shrinks verify input.
      joined
        .withColumn("ub", lit(1) +
          least(col("pa") - 1, col("pb") - 1) +
          least(col("sza") - col("pa"), col("szb") - col("pb")))
        .groupBy("a", "b")
        .agg(min(col("ub")).as("ubmin"),
          first(col("sza")).as("sza"), first(col("szb")).as("szb"))
        .where(col("ubmin") >=
          lit(minJaccard / (1.0 + minJaccard)) * (col("sza") + col("szb"))
            - lit(1e-9))
        .select("a", "b")
    }
  }

  /** MinHash signature: `numHashes` permutations h_i(x) = (a_i*x + b_i) mod p
    * over the shingle hash set; signature element i = min over shingles.
    * One codegen'd projection — the signature never leaves the executor
    * until the (short) band keys shuffle. */
  def minHashSignature(shingleHashes: Column, numHashes: Int): Column =
    column(graft.expressions.MinHashSignature(expression(shingleHashes), numHashes))

  /** MinHash-LSH near-duplicate candidate pairs: split the signature into
    * `bands` bands of `rows` hashes, bucket-join on (band index, band hash),
    * then verify candidates with true shingle-set Jaccard. The band join's
    * fanout is bounded by bucket sizes, not corpus size — this is the 100 TB
    * path (the exact-Jaccard join is the correctness oracle at small SF).
    *
    * Cache contract: the returned (a, b, jaccard) frame is EAGERLY
    * materialized into a MEMORY_AND_DISK persist that the caller owns —
    * `unpersist()` it after the last downstream action. No other cache
    * entry is retained (the internal shingle cache is released before
    * returning), so repeated calls cannot accumulate session cache. */
  def minHashLsh(docs: DataFrame, idCol: String, textCol: String,
                 shingleN: Int, bands: Int, rows: Int,
                 minJaccard: Double, maxBucket: Long = 200L): DataFrame = {
    val (pairs, sh) = lshPairsStaged(docs, idCol, textCol, shingleN, bands,
      rows, minJaccard, maxBucket)
    val out = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()   // materialize before releasing the shingle cache it reads
    sh.unpersist()
    out
  }

  /** Candidate generation + Jaccard verify with the shingle-cache handle
    * exposed: `_2` is persisted and materialized, and the pair plan in `_1`
    * reads it from three subtrees — the caller decides when the pairs are
    * materialized and MUST unpersist `_2` right after (ownership contracts
    * live on the public entry points). */
  private[graft] def lshPairsStaged(docs: DataFrame, idCol: String, textCol: String,
                             shingleN: Int, bands: Int, rows: Int,
                             minJaccard: Double,
                             maxBucket: Long): (DataFrame, DataFrame) = {
    // cached once: referenced by the signature stage and twice more when
    // shingle sets re-attach to candidates. MEMORY_AND_DISK persist (NOT
    // localCheckpoint): blocks spill to executor disk but keep lineage, so
    // a lost executor recomputes its partitions instead of failing the job
    // — the property that matters on a real cluster. Payload is (id,
    // shingle hashes) — 8 bytes per shingle, never the raw text.
    val sh = docs.select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // eager population (the one extra action the old eager localCheckpoint
    // also paid): the final plan reads `sh` from three subtrees, and a
    // lazily-populated cache would race them into computing the shingle
    // projection up to three times
    sh.count()
    // the band join carries only (band, bucket, id) — shingle arrays are
    // re-attached to the (deduplicated) candidate pairs afterwards, so the
    // wide payload never multiplies through the bands x docs explode
    val banded = bandKeys(sh, bands, rows)
    // Skew guard: a bucket holding k docs contributes k^2 candidate pairs;
    // buckets above `maxBucket` are degenerate (non-discriminative band
    // collisions on near-uniform corpora) and would quadratically blow up
    // the verify stage — cap them. This bounds total candidates at
    // |buckets| * maxBucket^2 regardless of corpus skew, the property that
    // keeps the operator viable at 100 TB.
    val small = banded.groupBy("band", "bucket").agg(count(lit(1)).as("bk"))
      .where(col("bk") <= maxBucket).select("band", "bucket")
    val pruned = banded.join(small, Seq("band", "bucket"))
    val l = pruned.select(col("band"), col("bucket"), col("id").as("a"))
    val r = pruned.select(col("band"), col("bucket"), col("id").as("b"))
    val cand = l.join(r, Seq("band", "bucket"))
      .where(col("a") < col("b"))
      .select("a", "b").dropDuplicates("a", "b")
    // Attach-join strategy, examined r15 (VERDICT item 7's "shuffle-once
    // layout might save one exchange") and deliberately left ALONE: the
    // planner already broadcasts the deduplicated candidate side into
    // both attaches (plans/r15/d5_verify_examined.txt — both joins are
    // BroadcastHashJoin; the shingle cache is never exchanged, matching
    // the measured ~3.5 MB total shuffle for all of d5), and at a scale
    // where the pair set outgrows the static broadcast threshold, AQE's
    // runtime join-strategy switch re-broadcasts it from ACTUAL size.
    // Forcing SHUFFLE_HASH here (tried) would OVERRIDE the broadcast and
    // reintroduce a corpus-sized exchange of the shingle arrays.
    val verified = jaccardVerify(
      cand
        .join(sh.select(col("id").as("a"), col("sh").as("sha")), "a")
        .join(sh.select(col("id").as("b"), col("sh").as("shb")), "b"),
      minJaccard)
    (verified, sh)
  }

  /** Resolve near-dup pairs (a, b) into duplicate clusters: iterative
    * min-label propagation (each doc adopts the smallest id reachable over
    * the pair graph) until fixpoint or `maxIter`. Near-dup clusters in real
    * corpora have tiny diameters, so a handful of join rounds converges;
    * each round is two shuffles on the id key — no driver-side graph.
    * Returns (id, canonical), EAGERLY materialized into a MEMORY_AND_DISK
    * persist the caller owns (`unpersist()` after the last downstream
    * action); no other cache entry is retained. */
  def resolveClusters(pairs: DataFrame, maxIter: Int = 5): DataFrame = {
    // Cache the PAIR list (not the doubled edge list) eagerly: the
    // upstream pair generation (LSH + verify) executes exactly once, and
    // the edge doubling becomes two scans of the cached pairs — caching
    // only `edges` instead would execute the whole upstream pipeline once
    // per union leg (measured 2x+ on d5). MEMORY_AND_DISK persist keeps
    // lineage (executor loss = recompute, not job failure); lineage
    // growth over maxIter rounds is bounded (near-dup clusters have tiny
    // diameters, maxIter is small), so reliable checkpoint() is
    // unnecessary here.
    val p = pairs.select(col("a"), col("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    val out = propagateLabels(p, maxIter)
    p.unpersist()
    out
  }

  /** Min-label propagation over an ALREADY persisted-and-materialized pair
    * frame. Returns (id, canonical) persisted + materialized — the caller
    * owns that one handle.
    *
    * Every round's frame is persisted+counted AND its LOGICAL plan is
    * cut to a `LogicalRDD` over the freshly cached rows: a round's plan
    * references the previous round's frame TWICE (once directly, once
    * inside the neighbor-min aggregate), so without the cut the logical
    * plan doubles per round — 2^round nodes — and AQE rebuilds the full
    * explain string on every stage update. The 10× scale rehearsal
    * measured the cost: the first corpus that crossed
    * `smallGraphThreshold` into this path spent MINUTES of driver CPU
    * inside `explainString` before any executor work. The RDD-level cut
    * (`createDataFrame(cached.rdd, schema)`) keeps the plan O(1) per
    * round while PRESERVING both the cache-contract (every persist is a
    * tracked handle, released here — unlike localCheckpoint blocks,
    * which only the ContextCleaner reclaims) and executor-loss
    * recomputability (the RDD still carries its shuffle lineage). */
  private def propagateLabels(p: DataFrame, maxIter: Int): DataFrame = {
    val spark = p.sparkSession
    val edges = p.union(p.select(col("b").as("a"), col("a").as("b")))
    def cut(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)
    var cached = edges.select(col("a").as("id")).distinct()
      .withColumn("canonical", col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    cached.count()
    var labels = cut(cached)
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "b").withColumnRenamed("canonical", "nc"), "b")
        .groupBy(col("a").as("id")).agg(min(col("nc")).as("nmin"))
      val updated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("canonical").as("prev"),
          least(col("canonical"), coalesce(col("nmin"), col("canonical"))).as("canonical"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // ONE action per round: materializes `updated` into the cache AND
      // tests convergence via the carried prev column — no separate
      // except() shuffle-compare action. count(), NOT isEmpty: isEmpty
      // stops at the first row, which would leave most partitions
      // uncached and make later rounds recompute the whole join lineage.
      converged =
        updated.where(col("prev") =!= col("canonical")).count() == 0L
      cached.unpersist()
      cached = updated
      labels = cut(updated.select("id", "canonical"))
      i += 1
    }
    // Re-materialize the slim (id, canonical) projection so the handle we
    // hand to the caller is the frame itself (not the wider prev-carrying
    // round frame) — a cache-to-cache scan, cheap.
    val out = cached.select("id", "canonical").persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    cached.unpersist()
    out
  }

  /** A dedup result plus the release hook for any cache it retained:
    * call `release()` after the last action on `df`. */
  final case class Staged(df: DataFrame, release: () => Unit)

  /** Corpus-level near-dup removal: candidate pairs from MinHash-LSH,
    * clusters resolved to duplicate sets, keep the smallest id per cluster.
    * The end-to-end "dedup the corpus" operator a training-data pipeline
    * calls.
    *
    * Cluster resolution is ADAPTIVE: the pair graph is orders of magnitude
    * smaller than the corpus (only near-dup docs appear in it), so when at
    * most `smallGraphThreshold` verified pairs exist they are collected and
    * resolved with a bounded driver-side union-find — one Spark action, no
    * join rounds, and the survivors plan depends only on a broadcast local
    * relation, so NO cache entry outlives the call. Above the threshold
    * (or with `smallGraphThreshold = 0`) distributed min-label propagation
    * runs instead — that path retains ONE slim persisted frame (the
    * duplicate-id list) that the returned plan reads; use
    * [[dedupCorpusStaged]] to obtain its release hook. The default
    * threshold (2^20 pairs, ≈ 16 MB of ids) keeps driver memory bounded
    * while covering every realistically-converging corpus shard. */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3, bands: Int = 12, rows: Int = 8,
                  minJaccard: Double = 0.8, maxBucket: Long = 200L,
                  smallGraphThreshold: Int = 1 << 20): DataFrame =
    dedupCorpusStaged(docs, idCol, textCol, shingleN, bands, rows,
      minJaccard, maxBucket, smallGraphThreshold).df

  /** [[dedupCorpus]] with the cache-release hook exposed (a no-op in the
    * small-graph path, the duplicate-id unpersist in the distributed
    * path). */
  def dedupCorpusStaged(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, bands: Int = 12, rows: Int = 8,
                        minJaccard: Double = 0.8, maxBucket: Long = 200L,
                        smallGraphThreshold: Int = 1 << 20): Staged =
    resolveDuplicates(docs, idCol, textCol, shingleN, bands, rows,
        minJaccard, maxBucket, smallGraphThreshold)(
      // survivors = the corpus minus every node that is not its
      // cluster's root (the root is the cluster's smallest id)
      roots => localFrame(docs.sparkSession,
        Seq(idCol -> docs.schema(idCol).dataType),
        roots.iterator.collect { case (k, r) if k != r => Row(k) }.toSeq),
      labels => labels.where(col("id") =!= col("canonical"))
        .select(col("id").as(idCol)),
      losers => docs.join(losers, Seq(idCol), "left_anti"))

  /** Corpus dedup keeping the BEST document per duplicate cluster —
    * argmax of `rankCol` (a quality/length/recency score), ties broken
    * toward the smallest id — instead of [[dedupCorpus]]'s smallest-id
    * rule. Real pipelines keep the highest-quality duplicate, not an
    * arbitrary one (the reference keeps the first row per normalized
    * title, simility_books.py:74-89 — an incidental "best").
    *
    * Same adaptive cluster resolution as [[dedupCorpus]]; the survivor
    * pick is one window over CLUSTER MEMBERS only (the pair graph's
    * nodes — orders of magnitude smaller than the corpus), never a
    * corpus-wide shuffle. */
  def dedupCorpusKeepBest(docs: DataFrame, idCol: String, textCol: String,
                          rankCol: String, shingleN: Int = 3,
                          bands: Int = 12, rows: Int = 8,
                          minJaccard: Double = 0.8, maxBucket: Long = 200L,
                          smallGraphThreshold: Int = 1 << 20): DataFrame =
    dedupCorpusKeepBestStaged(docs, idCol, textCol, rankCol, shingleN,
      bands, rows, minJaccard, maxBucket, smallGraphThreshold).df

  /** [[dedupCorpusKeepBest]] with the cache-release hook exposed (same
    * contract as [[dedupCorpusStaged]]). */
  def dedupCorpusKeepBestStaged(docs: DataFrame, idCol: String,
                                textCol: String, rankCol: String,
                                shingleN: Int = 3, bands: Int = 12,
                                rows: Int = 8, minJaccard: Double = 0.8,
                                maxBucket: Long = 200L,
                                smallGraphThreshold: Int = 1 << 20): Staged =
    resolveDuplicates(docs, idCol, textCol, shingleN, bands, rows,
        minJaccard, maxBucket, smallGraphThreshold)(
      // id -> cluster root for every pair-graph node; the ids ride the
      // driver (bounded by the threshold), the rank values never do
      roots => {
        val idType = docs.schema(idCol).dataType
        localFrame(docs.sparkSession,
          Seq("__id" -> idType, "__cluster" -> idType),
          roots.toSeq.map { case (id, r) => Row(id, r) })
      },
      labels => labels.select(col("id").as("__id"),
        col("canonical").as("__cluster")),
      members => keepBestSurvivors(docs, members, idCol, rankCol))

  /** The cluster resolution both corpus-dedup variants share (see
    * [[dedupCorpus]]), over the LSH pairs ([[resolvePairGraph]]). No
    * pairs: the corpus as is. The driver path's id -> root map `local`
    * turns into the variant's frame, which `survivors` reads as a
    * broadcast; the distributed path's (id, canonical) labels `slim`
    * projects to the variant's frame, persisted and counted here and
    * released by the returned hook. */
  private def resolveDuplicates(docs: DataFrame, idCol: String,
                                textCol: String, shingleN: Int, bands: Int,
                                rows: Int, minJaccard: Double,
                                maxBucket: Long, smallGraphThreshold: Int)(
      local: Map[Any, Any] => DataFrame,
      slim: DataFrame => DataFrame,
      survivors: DataFrame => DataFrame): Staged = {
    require(smallGraphThreshold >= 0, "smallGraphThreshold must be >= 0")
    // partitions ∝ data via plan statistics (no action — the entry points
    // take arbitrary computed frames, and counting one would re-execute
    // its upstream). Floor-clamped: small-scale gate plans are unchanged.
    // When CorpusPrep already raised the setting from its row count, this
    // no-ops inside that scope.
    Tuning.withAutoShuffleBytes(docs) {
      val (pairsPlan, sh) = lshPairsStaged(docs, idCol, textCol, shingleN,
        bands, rows, minJaccard, maxBucket)
      // once the pairs are materialized the shingle cache is dead
      resolvePairGraph(pairsPlan.select(col("a"), col("b")),
          smallGraphThreshold, maxIter = 5,
          counted = () => sh.unpersist()) match {
        case Left(roots) if roots.isEmpty => Staged(docs, () => ())
        case Left(roots) =>
          Staged(survivors(broadcast(local(roots))), () => ())
        case Right(labels) =>
          val kept = slim(labels).persist(StorageLevel.MEMORY_AND_DISK)
          kept.count()
          labels.unpersist()
          Staged(survivors(kept), () => kept.unpersist())
      }
    }
  }

  /** The collect-or-propagate switch of corpus dedup and
    * [[Graph.connectedComponents]]. The (a, b) `pairs` are persisted and
    * counted once, read by both the decision and the chosen path (take(n)
    * would re-run the upstream); `counted` runs right after. At most
    * `smallGraphThreshold` pairs (0 ⇒ always distributed): the driver
    * union-find's id -> root map, nothing retained. Above: the persisted
    * (id, canonical) labels, for the caller to release. */
  private[operators] def resolvePairGraph(
      pairs: DataFrame, smallGraphThreshold: Int, maxIter: Int,
      counted: () => Unit = () => ()): Either[Map[Any, Any], DataFrame] = {
    val p = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    val n = p.count()
    counted()
    if (n <= smallGraphThreshold) {
      val taken = p.collect()   // a cache scan, n is bounded
      p.unpersist()
      Left(unionFindRoots(taken))
    } else {
      val labels = propagateLabels(p, maxIter)
      p.unpersist()
      Right(labels)
    }
  }

  /** A driver-side local relation of `rows` under `fields`. */
  private[operators] def localFrame(spark: SparkSession,
                                    fields: Seq[(String, DataType)],
                                    rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  /** Survivor selection for [[dedupCorpusKeepBest]]: rank cluster members
    * (and only members) by (rank desc, id asc) within their cluster; every
    * non-top member is a loser; the corpus anti-joins the loser ids. */
  private def keepBestSurvivors(docs: DataFrame, members: DataFrame,
                                idCol: String, rankCol: String): DataFrame = {
    val m = docs.join(members, docs(idCol) === members("__id"))
      .select(col("__id"), col("__cluster"), col(rankCol).as("__rank"))
    val w = Window.partitionBy("__cluster")
      .orderBy(col("__rank").desc, col("__id").asc)
    val losers = m.withColumn("__rn", row_number().over(w))
      .where(col("__rn") > 1).select(col("__id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Driver-side union-find over a BOUNDED collected pair list (union by
    * min representative + full path compression): the id -> cluster-root
    * map, root = the cluster's smallest id. Ids must be mutually
    * Comparable (numeric/string — anything the pair join could have
    * equated). */
  private def unionFindRoots(pairs: Array[Row]): Map[Any, Any] = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var cur = x
      while (parent(cur) != root) {
        val nxt = parent(cur); parent(cur) = root; cur = nxt
      }
      root
    }
    @inline def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    pairs.foreach { r =>
      val a = r.get(0)
      val b = r.get(1)
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keysIterator.map(k => k -> find(k)).toMap
  }

  /** Precomputed LSH index of a corpus, for INCREMENTAL dedup: new shards
    * join against these two slim frames instead of re-processing the
    * corpus. Both are plain DataFrames — persist them, or write them out
    * (parquet, bucketed by `bucket`/`id`) and reload for each increment;
    * at 100 TB re-shingling the accumulated corpus per shard is the cost
    * that kills naive pipelines. */
  final case class LshIndex(banded: DataFrame, shingles: DataFrame)

  /** Build the (id, band, bucket) + (id, sh) index frames for a corpus. */
  def lshIndex(docs: DataFrame, idCol: String, textCol: String,
               shingleN: Int, bands: Int, rows: Int): LshIndex = {
    val sh = docs.select(col(idCol).as("id"),
      shingles(col(textCol), shingleN).as("sh"))
    LshIndex(bandKeys(sh, bands, rows), sh.select(col("id"), col("sh")))
  }

  /** The (id, band, bucket) banding of an (id, sh) shingle frame: a
    * `bands · rows` MinHash signature, one xxhash64 bucket per band of
    * `rows` hashes. */
  private def bandKeys(sh: DataFrame, bands: Int, rows: Int): DataFrame =
    sh.withColumn("sig", minHashSignature(col("sh"), bands * rows))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          bi => xxhash64(slice(col("sig"), bi * lit(rows) + 1, lit(rows))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** Incremental near-dup pairs: (a = new doc id, b = corpus doc id,
    * jaccard) for new docs colliding with the indexed corpus in any band
    * and verifying at `minJaccard` true Jaccard. The new shard (small)
    * builds its bands in-flight; the corpus contributes only index scans.
    * `maxBucket` caps CORPUS bucket sizes (the skew guard — a
    * non-discriminative bucket would fan every new doc out against it). */
  def lshPairsAgainstIndex(newDocs: DataFrame, index: LshIndex,
                           idCol: String, textCol: String,
                           shingleN: Int, bands: Int, rows: Int,
                           minJaccard: Double,
                           maxBucket: Long = 200L): DataFrame = {
    val fresh = lshIndex(newDocs, idCol, textCol, shingleN, bands, rows)
    val small = index.banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bk"))
      .where(col("bk") <= maxBucket).select("band", "bucket")
    val cand = fresh.banded.select(col("band"), col("bucket"), col("id").as("a"))
      .join(index.banded.join(small, Seq("band", "bucket"))
        .select(col("band"), col("bucket"), col("id").as("b")),
        Seq("band", "bucket"))
      .select("a", "b").dropDuplicates("a", "b")
    jaccardVerify(
      cand
        .join(fresh.shingles.select(col("id").as("a"), col("sh").as("sha")), "a")
        .join(index.shingles.select(col("id").as("b"), col("sh").as("shb")), "b"),
      minJaccard)
  }

  /** The incremental "dedup the delta" operator: new docs that are NOT
    * near-dups of the indexed corpus (the rows safe to append). Exact-dup
    * and within-shard dedup compose separately ([[exactDedup]],
    * [[dedupCorpus]] on the shard). */
  def dedupIncrement(newDocs: DataFrame, index: LshIndex,
                     idCol: String, textCol: String,
                     shingleN: Int = 3, bands: Int = 12, rows: Int = 8,
                     minJaccard: Double = 0.8,
                     maxBucket: Long = 200L): DataFrame = {
    val dupIds = lshPairsAgainstIndex(newDocs, index, idCol, textCol,
        shingleN, bands, rows, minJaccard, maxBucket)
      .select(col("a").as(idCol)).distinct()
    newDocs.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Cross-document CHUNK-level exact dedup — the shuffle-friendly analog
    * of exact-substring dedup (the "dedup repeated passages, not whole
    * documents" step of an LLM data pipeline; suffix-array approaches need
    * a global sort, this needs two bounded shuffles). Each document splits
    * into fixed `chunkTokens`-token chunks; for every distinct chunk
    * content the FIRST occurrence (smallest id, then position) survives and
    * later occurrences are dropped; survivors reassemble in document order.
    *
    * The dedup window partitions by (xxhash64(chunk), chunk): the hash
    * balances the shuffle cheaply and carrying the chunk text keeps the
    * operator collision-EXACT (same rationale as [[exactDedup]]) — that
    * one text-bearing shuffle is what exactness costs and it stays.
    *
    * Reassembly is POSITIONS-ONLY (the d16 lesson, inverted): the window
    * emits only the DROPPED positions per doc — duplicates are the
    * exception, so this frame is small (empty for most docs) and AQE
    * broadcasts it in the common case — and `kept_text` is rebuilt from
    * the ORIGINAL row's recomputed chunk array with an in-place
    * `filter(chunks, (c, i) -> NOT array_contains(dropped, i))`. The
    * corpus text therefore rides exactly ONE shuffle (the exactness
    * window), not two: the old shape regrouped full chunk strings by id
    * a second time. Returns (id, n_chunks, n_kept, kept_text). */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1 (got $chunkTokens)")
    val toks = TextFunctions.tokenize(col(textCol))
    val nChunks = greatest(
      ceil(size(toks).cast("double") / chunkTokens).cast("int"), lit(1))
    val chunkArray = transform(sequence(lit(1), nChunks),
      i => array_join(
        slice(toks, (i - 1) * chunkTokens + 1, lit(chunkTokens)), " "))
    val chunked = docs
      .select(col(idCol).as("id"), posexplode(chunkArray))
      .withColumnRenamed("pos", "pos").withColumnRenamed("col", "chunk")
    val w = Window.partitionBy(xxhash64(col("chunk")), col("chunk"))
      .orderBy(col("id"), col("pos"))
    val dropped = chunked
      .withColumn("keep", row_number().over(w) === 1)
      .where(!col("keep"))
      .groupBy(col("id"))
      .agg(collect_list(col("pos")).as("dropped_pos"))
    docs
      .select(col(idCol).as("id"), chunkArray.as("__chunks"))
      .join(dropped, Seq("id"), "left_outer")
      .select(col("id"),
        size(col("__chunks")).cast("long").as("n_chunks"),
        filter(col("__chunks"), (c, i) =>
          !array_contains(coalesce(col("dropped_pos"),
            array().cast("array<int>")), i)).as("__kept"))
      .select(col("id"),
        col("n_chunks"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), " ").as("kept_text"))
  }

  /** Cross-document BOILERPLATE removal — drop every occurrence of any
    * line whose document frequency reaches `minDf` (the CCNet/RefinedWeb
    * "frequent lines are nav bars, cookie banners, footers" rule). The
    * semantics are deliberately different from [[chunkDedup]]: chunk
    * dedup keeps the FIRST occurrence of repeated content; boilerplate
    * removal keeps NONE — a line shared by many documents is noise in
    * all of them, including the first.
    *
    * `lines` is the per-document line array (pass `split(col(text),
    * "\n")` for real multi-line text; any segmentation works — the
    * operator is granularity-agnostic). Document frequency counts
    * DISTINCT documents, so a line repeated inside one document does not
    * self-promote to boilerplate.
    *
    * Scale shape — POSITIONS-ONLY: the exploded line *strings* never
    * ride a shuffle. The df aggregate runs over (xxhash64(line), id) —
    * 8+8 bytes per line, not the text (64-bit collisions across distinct
    * frequent lines are the accepted 2^-64-per-pair tradeoff; a collision
    * can only over-mark a line as boilerplate, never corrupt kept text,
    * because reassembly is by POSITION, not by hash). Boiler line
    * positions aggregate per doc — an int-list shuffle bounded by the
    * boiler lines only — and join back onto the ORIGINAL docs row, where
    * the lines array is still sitting; `kept_text` is rebuilt by an
    * in-place `filter(lines, (l, i) -> NOT array_contains(boiler_pos,
    * i))` projection. At 100 TB the corpus text rides ZERO aggregation
    * shuffles (vs two in the naive explode→regroup shape); the only
    * text-bearing exchange is the final doc-side join, which AQE
    * broadcasts away whenever the boiler-doc set is small (the common
    * case — boilerplate is by definition concentrated). Because the
    * output is projected from the original frame via a left join, EVERY
    * input id surfaces — zero-line and null-`lines` documents included
    * (n_lines = 0, n_kept = 0, kept_text = ""), and fully-boilerplate
    * documents surface with n_kept = 0. Output: (idCol, n_lines,
    * n_kept, kept_text). */
  def boilerplateRemove(docs: DataFrame, idCol: String, lines: Column,
                        minDf: Long, sep: String = " "): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2 (got $minDf)")
    val ex = docs
      .select(col(idCol).as("id"), posexplode(lines).as(Seq("pos", "line")))
      .select(col("id"), col("pos"), xxhash64(col("line")).as("h"))
    val frequent = ex
      .select(col("h"), col("id"))
      .distinct()                                  // one row per (line, doc)
      .groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .select(col("h"))
    val boilerPos = ex
      .join(frequent, Seq("h"))                    // inner: boiler rows only
      .groupBy(col("id"))
      .agg(collect_list(col("pos")).as("boiler_pos"))
    val safeLines = coalesce(lines, array().cast("array<string>"))
    docs
      .select(col(idCol).as("id"), safeLines.as("__lines"))
      .join(boilerPos, Seq("id"), "left_outer")
      .select(col("id").as(idCol),
        size(col("__lines")).cast("long").as("n_lines"),
        filter(col("__lines"), (l, i) =>
          !array_contains(coalesce(col("boiler_pos"),
            array().cast("array<int>")), i)).as("__kept"))
      .select(col(idCol),
        col("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), sep).as("kept_text"))
  }

  /** WITHIN-document line dedup — keep the first occurrence of each
    * distinct line inside each document, drop later in-doc repeats (the
    * page-local cleaning pass: repeated "read more" rows, duplicated
    * navigation, copy-paste stutter). Complements [[boilerplateRemove]]
    * (cross-doc frequency) and [[chunkDedup]] (cross-doc first-occurrence).
    *
    * Deliberately NOT a shuffle: each document's lines already sit in one
    * row, so first-occurrence dedup is `array_distinct` — a pure
    * projection, order-preserving by its contract — and the operator
    * stays scan-speed at any corpus size. Reaching for the
    * explode + window + regroup shape here would buy two shuffles for
    * nothing. Output: (idCol, n_lines, n_kept, kept_text). */
  def intraDocLineDedup(docs: DataFrame, idCol: String, lines: Column,
                        sep: String = " "): DataFrame = {
    val kept = array_distinct(lines)
    docs.select(col(idCol), size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      array_join(kept, sep).as("kept_text"))
  }

  /** Content-defined chunking (the FastCDC-family alternative to
    * [[chunkDedup]]'s fixed token windows): chunk boundaries come from a
    * gear-style rolling hash of the text
    * ([[graft.expressions.CdcBoundaries]]), so an insertion near a
    * document's head shifts only the chunk it lands in — downstream
    * boundaries re-synchronize and unchanged content keeps its chunk
    * identity, which is what makes chunk-level dedup stable under edits.
    *
    * One scan, one generator: boundaries are a per-row projection,
    * chunks explode from the boundary array, and each chunk carries its
    * md5 (content identity for the dedup join). Expected chunk length ≈
    * 2^maskBits code points. Output: (idCol, chunk_idx, start, chunk_len,
    * chunk_md5) — no shuffle at all; callers group on chunk_md5 for the
    * dedup step (d8's window pattern). */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                maskBits: Int): DataFrame = {
    val bounds = column(graft.expressions.CdcBoundaries(
      expression(col("__t")), maskBits))
    docs.select(col(idCol), col(textCol).as("__t"))
      .withColumn("__b", bounds)
      .select(col(idCol), col("__t"),
        posexplode(zip_with(
          concat(array(lit(0)), col("__b")),
          concat(col("__b"), array(length(col("__t")))),
          (s, e) => struct(s.as("st"), e.as("en")))))
      .select(col(idCol),
        col("pos").cast("long").as("chunk_idx"),
        col("col.st").cast("long").as("start"),
        (col("col.en") - col("col.st")).cast("long").as("chunk_len"),
        md5(expr("cast(substring(__t, col.st + 1, col.en - col.st) as binary)"))
          .as("chunk_md5"))
  }

  /** 64-bit SimHash over tokens: per-token xxhash64; bit j of the signature
    * is 1 iff the sum over tokens of ±1 (by token bit j) is positive.
    * Near-dups = signatures within `maxHamming` bits; candidate generation
    * blocks on 4 x 16-bit chunks (two chunks must match exactly when
    * maxHamming <= 3 in at most 2 differing chunks — standard Charikar
    * blocking), verification = `bit_count(a xor b)`. */
  def simHash(text: Column, fnv: Boolean = false): Column =
    column(graft.expressions.SimHash64(
      expression(TextFunctions.tokenize(lower(text))), fnv = fnv))

  /** SimHash near-dup pairs with chunk blocking (a, b, hamming).
    *
    * Pigeonhole completeness: with `maxHamming` differing bits, splitting
    * the 64-bit signature into `maxHamming + 1` chunks guarantees at least
    * one chunk matches exactly — so the chunk count SCALES with the
    * requested radius (capped at 16 four-bit chunks) instead of being
    * fixed at 4, which was only complete for maxHamming <= 3. Wider radii
    * mean narrower chunks and denser buckets; the `maxBucket` skew guard
    * then bounds the candidate volume (documented recall trade-off).
    *
    * `maxHamming` is hard-capped at 15: 16 four-bit chunks is the narrowest
    * useful split of a 64-bit signature, and beyond 15 differing bits the
    * pigeonhole guarantee (maxHamming + 1 chunks ⇒ one exact-matching
    * chunk) would silently stop holding — so we fail fast instead of
    * returning an incomplete candidate set. */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int, maxBucket: Long = 200L,
                   fnv: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] (got $maxHamming): chunk blocking on a " +
        "64-bit signature loses pigeonhole completeness past 15")
    val nChunks = math.min(math.max(maxHamming + 1, 2), 16)
    val width = 64 / nChunks
    val sigs = docs.select(col(idCol).as("id"),
      simHash(col(textCol), fnv).as("sig"))
    val chunked = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until nChunks).map { i =>
        // last chunk absorbs the remainder bits
        val w = if (i == nChunks - 1) 64 - width * (nChunks - 1) else width
        shiftright(col("sig"), i * width).bitwiseAND(lit((1L << w) - 1))
      }: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "ck")
    // Same skew guard as minHashLsh: degenerate chunk collisions on
    // near-uniform corpora would generate quadratic candidates.
    val small = chunked.groupBy("chunk", "ck").agg(count(lit(1)).as("bk"))
      .where(col("bk") <= maxBucket).select("chunk", "ck")
    val pruned = chunked.join(small, Seq("chunk", "ck"))
    val l = pruned.select(col("chunk"), col("ck"), col("id").as("a"), col("sig").as("siga"))
    val r = pruned.select(col("chunk"), col("ck"), col("id").as("b"), col("sig").as("sigb"))
    l.join(r, Seq("chunk", "ck"))
      .where(col("a") < col("b"))
      .select("a", "b", "siga", "sigb").dropDuplicates("a", "b")
      .withColumn("hamming", bit_count(col("siga").bitwiseXOR(col("sigb"))))
      .where(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): embedding-space dedup
    * with CLUSTER-bounded comparisons. d6's threshold join needs a
    * broadcastable side; this is the all-corpus scale path — k-means
    * partitions the embedding space, near-dup search runs only WITHIN a
    * cluster (one shuffle on the cluster key; per-cluster work is
    * quadratic in cluster size, which stays bounded when k grows with the
    * corpus — the paper's argument). A doc is dropped iff some smaller-id
    * doc in its cluster has cosine >= tau.
    *
    * Deterministic up to the seeded k-means assignment of boundary
    * points; identical/near-identical vectors always co-cluster, so true
    * duplicates cannot escape. Centroid count `k` and `tau` are the
    * recall/cost dials. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int, tau: Double, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val assigned = graft.model.Clustering.fit(
      emb.select(col(idCol),
        array_to_vector(col(vecCol).cast("array<double>")).as("vec")),
      idCol, k, seed).assignments
    val withC = emb.select(col(idCol), col(vecCol)).join(assigned, idCol)
    emb.join(clusterCosineDropped(withC, idCol, vecCol, tau),
      Seq(idCol), "left_anti")
  }

  /** [[semanticDedup]] with a CALLER-SUPPLIED cluster expression in place
    * of the learned k-means assignment (any deterministic partition of
    * the id/vector space: an FNV bucket, a coarse quantizer cell, a
    * pre-computed IVF list). Same within-cluster cosine prune and min-id
    * survivorship; because the partition is a pure function, the whole
    * operator becomes replayable — the sd1b gate uses an FNV-1a-64
    * pseudo-cluster to value-check the prune against DuckDB (the
    * d3b/d4b/d5b playbook). */
  def semanticDedupBy(emb: DataFrame, idCol: String, vecCol: String,
                      cluster: Column, tau: Double): DataFrame = {
    val withC = emb.select(col(idCol), col(vecCol), cluster.as("cluster"))
    emb.join(clusterCosineDropped(withC, idCol, vecCol, tau),
      Seq(idCol), "left_anti")
  }

  /** Within-cluster cosine prune shared by [[semanticDedup]] /
    * [[semanticDedupBy]]: a doc is dropped iff some smaller-id doc in its
    * cluster has cosine >= tau. One shuffle on the cluster key; quadratic
    * only inside a cluster. */
  private def clusterCosineDropped(withC: DataFrame, idCol: String,
                                   vecCol: String, tau: Double): DataFrame = {
    val l = withC.select(col("cluster"), col(idCol).as("a"), col(vecCol).as("va"))
    val r = withC.select(col("cluster"), col(idCol).as("b"), col(vecCol).as("vb"))
    l.join(r, Seq("cluster"))
      .where(col("a") < col("b"))
      .where(graft.functions.VectorFunctions.cosine(col("va"), col("vb")) >= tau)
      .select(col("b").as(idCol)).distinct()
  }

  /** OVERLAPPING k-token-gram substring dedup — the sliding-window analog
    * of [[chunkDedup]] and the doc-granularity form of exact-substring
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better": any k-token span shared verbatim with an earlier
    * document marks the later one). Disjoint chunks miss a shared span
    * that straddles a chunk boundary; the sliding window catches every
    * k-token repeat at the cost of |tokens| grams per doc instead of
    * |tokens|/k.
    *
    * Returns the SURVIVORS: for every shared gram the smallest-id document
    * is the canonical occurrence; a doc is dropped iff it shares at least
    * one gram with a smaller-id doc. Docs shorter than k tokens carry no
    * gram and always survive. Only (id, gram) rides the shuffle — never
    * the text (wide-payload rule).
    *
    * `hashed = true` shuffles 8-byte `xxhash64` grams instead of gram
    * strings — the production path at corpus scale (the d2/d2b argument:
    * a 64-bit collision inside one gram-group is negligible and only ever
    * drops one extra doc, never loses data silently — the canonical copy
    * always survives). */
  def substringGramSurvivors(docs: DataFrame, idCol: String, textCol: String,
                             k: Int, hashed: Boolean = false): DataFrame = {
    require(k >= 2, s"k must be >= 2 (got $k): 1-grams flag any shared token")
    val toks = TextFunctions.tokenize(lower(col(textCol)))
    // native TokenGramStrings (r14): one primitive pass per doc builds the
    // sliding k-grams (hashed ⇒ 8-byte xxhash64 values, identical to
    // xxhash64 of the joined string); replaces the interpreted
    // transform+slice+array_join chain AND the size>=k pre-filter (the
    // kernel emits an empty array for short docs — which always survive,
    // exactly as before).
    val g = docs
      .select(col(idCol).as("id"), toks.as("toks"))
      .select(col("id"),
        explode(column(graft.expressions.TokenGramStrings(
          expression(col("toks")), k, hashed))).as("gram"))
    val first = g.groupBy("gram").agg(min(col("id")).as("first_id"))
    val dups = g.join(first, "gram")
      .where(col("id") > col("first_id"))
      .select(col("id").as(idCol)).distinct()
    docs.join(dups, Seq(idCol), "left_anti")
  }
}
