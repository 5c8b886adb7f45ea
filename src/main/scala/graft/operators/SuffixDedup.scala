package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Suffix-array-style duplicated-region detection (the Lee et al. 2022
  * "Deduplicating Training Data" substring pass), re-expressed as
  * distributed EQUALITY prefix doubling: every corpus position carries an
  * 8-byte window id; the seed round encodes 8-char substring windows
  * directly (an 8-char string costs what the 8-byte rank replacing it
  * costs, so rounds 1→2→4→8 are free to skip), then log₂(L/8) rounds of
  * re-encoding (id_k(i), id_k(i+k))
  * pairs give positions equal ids iff their L-character windows are equal
  * — duplicated windows are id-groups of size ≥ 2, and maximal runs of
  * duplicated window starts collapse to regions.
  *
  * Two properties make this the 100 TB shape:
  *  - 8 BYTES per position per round ride the shuffles (for L = 1024 the
  *    string-gram form shuffles ~1 KB per position), and it is exact — no
  *    hash collisions, unlike the hashed-gram form. Classic ordered
  *    prefix doubling densifies ranks with a distributed sort; this
  *    operator never needs ORDER (only equality groups), so re-encoding
  *    is just distinct-pairs + unique ids — no range sampling, no sort.
  *  - each round is eagerly localCheckpoint'ed: the pairing step
  *    references the previous round twice, so a lazy formulation DOUBLES
  *    the analyzed plan per round and analysis/cache-canonicalization
  *    costs explode exponentially (measured: minutes of driver time on a
  *    toy corpus). Truncating lineage per round keeps the driver O(1)
  *    per round; on a cluster with executor churn, configure a
  *    checkpoint dir and swap `localCheckpoint` for reliable
  *    `checkpoint` — the algorithm is unchanged.
  */
object SuffixDedup {

  /** Maximal duplicated regions of at least `minLength` characters,
    * materialized to a local relation (the region list is the dedup
    * action's input, orders of magnitude smaller than the corpus; use
    * [[duplicatedRegionsStaged]] when the output itself may be huge).
    * `minLength` must be a power of two — it is the exact window depth
    * the doubling reaches. A region means: every `minLength`-char window
    * inside it occurs ≥ 2 times in the corpus (coverage semantics —
    * partners may differ along the region). 0-based offsets. Output:
    * (idCol, start: long, region_len: long). */
  def duplicatedRegions(docs: DataFrame, idCol: String, textCol: String,
                        minLength: Int): DataFrame = {
    val staged = duplicatedRegionsStaged(docs, idCol, textCol, minLength)
    val rows = staged.df.collect()
    val schema = staged.df.schema
    staged.release()
    docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** [[duplicatedRegions]] with the plan left distributed: the returned
    * frame reads the final round's checkpointed ids — call `release()`
    * after the last downstream action. */
  def duplicatedRegionsStaged(docs: DataFrame, idCol: String,
                              textCol: String, minLength: Int,
                              totalCharsHint: Option[Long] = None)
      : Dedup.Staged = {
    require(minLength >= 2 && Integer.bitCount(minLength) == 1,
      s"minLength must be a power of two >= 2 (got $minLength)")
    // partitions ∝ CHARACTERS, not rows: every round of this pass
    // shuffles a row per text position, so rows and plan bytes both
    // understate the working set by the mean doc length — at 50× the
    // fixed-32-partitions sort spill was ~101 GB/run (SCALING.md §50×).
    // One cheap single-column agg (skipped when the caller already knows
    // the total, e.g. CorpusPrep's combined startup agg); floor-clamped
    // so gate plans at small scale are untouched. Every heavy action
    // (the per-round reencode checkpoints) runs inside this scope; the
    // returned regions frame is a skinny tail over the final checkpoint.
    Tuning.withAutoShuffleChars(docs, textCol, totalCharsHint) {
    duplicatedRegionsBody(docs, idCol, textCol, minLength)
    }
  }

  private def duplicatedRegionsBody(docs: DataFrame, idCol: String,
                                    textCol: String,
                                    minLength: Int): Dedup.Staged = {
    // Seed at w0 = min(8, minLength) chars per window, not 1: an 8-char
    // window string is about the size of the 8-byte rank that replaces it,
    // so the seed round's shuffle costs the same as a doubling round while
    // ELIMINATING three of them (1→2→4→8). Windows that don't fit
    // (off > len − w0) are never emitted, matching the inner-join
    // induction below.
    val w0 = math.min(8L, minLength.toLong)
    // native SlidingWindows (r14): one primitive loop per row builds the
    // window array — the interpreted transform+substring lambda this
    // replaces was a measurable slice of the seed round's task time, and
    // the too-short guard is folded into the kernel (len < w0 ⇒ empty).
    val wins = docs
      .select(col(idCol).as("__doc"), col(textCol).as("__t"))
      .select(col("__doc"),
        posexplode(org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.expressions.SlidingWindows(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(
              col("__t")), w0.toInt)))
          .as(Seq("__off", "__c")))
      .select(col("__doc"), col("__off").cast("long").as("__off"), col("__c"))
    // PRUNE-UNIQUE invariant (the scale property): after every round, only
    // positions whose current k-window occurs >= 2 times in the corpus
    // survive. Sound for coverage semantics because a duplicated 2k-window
    // implies BOTH k-halves are duplicated (its >= 2 occurrences contain
    // >= 2 occurrences of each half) — so the inner pairing join below
    // never loses a position that could still produce a duplicated longer
    // window, and unique text (the overwhelming majority of a real corpus)
    // exits the loop in the first few rounds instead of riding all
    // log2(L) shuffles. The filter itself is free: reencode already
    // groups by the window id to mint compact ids, so keeping only
    // groups of size >= 2 adds no shuffle.
    var (ids, release) = checkpointed(
      reencode(wins, col("__c"), "__r", minCount = 2L)
        .select("__doc", "__off", "__r"))
    var k = w0
    while (k < minLength) {
      val (roundDf, roundRelease) = doublingRound(ids, k)
      val (next, nextRelease) = checkpointed(roundDf)
      roundRelease()   // the round's pairing cache dies with its checkpoint
      release()
      ids = next
      release = nextRelease
      k *= 2
    }
    // Post-loop, `ids` IS the marked set: every surviving position has a
    // full in-bounds minLength-window (inner joins guarantee off <=
    // len - minLength by induction) occurring >= 2 times (the last
    // round's minCount) — the former global window-count and doc-length
    // join are implied.
    val marked = ids.select(col("__doc"), col("__off"))
    // maximal runs of consecutive starts (off − row_number constant within
    // a run) — one shuffle on the doc id
    val wRun = Window.partitionBy("__doc").orderBy("__off")
    val regions = marked
      .withColumn("__grp", col("__off") - row_number().over(wRun))
      .groupBy("__doc", "__grp")
      .agg(min(col("__off")).as("start"),
        (max(col("__off")) - min(col("__off")) + minLength).as("region_len"))
      .where(col("region_len") >= minLength)
      .select(col("__doc").as(idCol), col("start"), col("region_len"))
    Dedup.Staged(regions, release)
  }

  /** Apply a region list: splice the duplicated regions OUT of the text
    * (the removal step of the Lee et al. pass — detect with
    * [[duplicatedRegions]], then cut). Fully relational: each doc's KEPT
    * segments are the complement of its regions (one lag window over the
    * region list), parts are substrings, and the cleaned text reassembles
    * with a sorted array join — one shuffle on the doc id, segment count
    * bounded by regions-per-doc + 1. Docs without regions pass through
    * untouched; a fully-covered doc comes back empty (not unchanged).
    * Regions must be non-overlapping per doc, as [[duplicatedRegions]]
    * emits them. Output: the input with `textCol` replaced. */
  def removeRegions(docs: DataFrame, regions: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy("start")
    val mids = regions
      .withColumn("__a",
        coalesce(lag(col("start") + col("region_len"), 1).over(w), lit(0L)))
      // overlapping regions would silently splice garbage (negative kept
      // lengths collapse to empty substrings) — fail fast instead
      .withColumn("__n",
        when(col("start") - col("__a") < 0,
          raise_error(concat(lit("removeRegions: overlapping regions for id "),
            col(idCol).cast("string"))))
          .otherwise(col("start") - col("__a")))
      .select(col(idCol), col("__a").as("__s"), col("__n"))
    val tails = regions.groupBy(idCol)
      .agg(max(col("start") + col("region_len")).as("__s"))
      .withColumn("__n", lit(null).cast("long"))   // to end of doc
    val segs = mids.unionByName(tails)
    val parts = docs
      .join(segs, idCol)
      .select(col(idCol),
        col("__s"),
        substr(col(textCol), (col("__s") + 1).cast("int"),
          coalesce(col("__n"), length(col(textCol))).cast("int")).as("__part"))
    val cleaned = parts.groupBy(idCol)
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__s"), col("__part")))),
        x => x.getField("__part")), "").as("__cleaned"))
    docs.join(cleaned, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__cleaned"), col(textCol)))
      .drop("__cleaned")
  }

  /** One doubling round over the previous round's (doc, off, r) frame:
    * pair each position's id with its off+k partner's, then re-encode the
    * pair to the next round's compact id. Package-visible so
    * `Explain suffix_round` can audit the per-round shape the checkpoints
    * hide.
    * Returns the round frame plus the release hook for the pairing cache
    * it retains — call it once the round is materialized.
    *
    * Pairing join notes (r14, kept): a position whose off+k partner was
    * pruned (or never fit inside the text) has a non-duplicated 2k-window
    * by the prune-unique invariant — the inner join drops it. Deliberately
    * SORT-MERGE, unlike reencode's join: here BOTH sides are
    * position-sized, and ShuffledHashJoin's UnsafeHashedRelation build
    * CANNOT spill — forcing it OOM'd at the 50× rehearsal. SMJ's sort
    * spills gracefully; it IS the right plan when neither side is small.
    *
    * Pairing executes ONCE per round (r15): reencode references its input
    * twice (the group-count aggregate and the probe side of the id
    * join-back), so the lazy r14 formulation physically ran the whole
    * pairing subtree — two position-set exchanges + two sorts + the merge
    * — TWICE per round (ReuseExchange dedups only the exchanges, not the
    * sorts/merge above them). Persisting the joined pairs makes the
    * second reference a cache read; the cache is MEMORY_AND_DISK (spills,
    * keeps lineage for executor-loss recompute) and is released by the
    * returned hook as soon as the round's checkpoint is materialized, so
    * no cache outlives the round. (An r15-measured alternative — pairing
    * as union + hash-aggregate on (doc, off), zero sorts — was 2-3×
    * SLOWER at e2e2 scale: per-partition aggregate hash maps over the
    * full position set churn GC where the SMJ's radix sorts are cheap,
    * and without a cache it still executed twice. Reverted.) */
  private[graft] def doublingRound(ids: DataFrame, k: Long)
      : (DataFrame, () => Unit) = {
    val shifted = ids.select(col("__doc"),
      (col("__off") - k).as("__off"), col("__r").as("__r2"))
    val paired = ids.join(shifted, Seq("__doc", "__off"))
      .select(col("__doc"), col("__off"), col("__r"), col("__r2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (reencode(paired, struct(col("__r"), col("__r2")), "__rn", minCount = 2L)
       .select(col("__doc"), col("__off"), col("__rn").as("__r")),
     () => { paired.unpersist(blocking = false); () })
  }

  /** Re-encode `key` to a compact 8-byte id: every distinct key value one
    * unique id, equal keys equal ids. EQUALITY-consistent only — ids
    * carry no order, which is all the doubling needs, so this is a
    * group + unique-id + join-back with no sort anywhere. `minCount > 1`
    * additionally drops rows whose key group is smaller (the join back is
    * inner) — same shuffles either way. */
  private def reencode(df: DataFrame, key: Column, outCol: String,
                       minCount: Long = 1L): DataFrame = {
    val keyed = df.withColumn("__k", key)
    val groups = keyed.groupBy(col("__k")).agg(count(lit(1)).as("__gc"))
    val idsForKeys =
      (if (minCount > 1L) groups.where(col("__gc") >= minCount) else groups)
        .select(col("__k")).withColumn(outCol, monotonically_increasing_id())
    // SHUFFLE_HASH, not the default sort-merge: the probe side is the
    // full position set (a row per corpus CHARACTER — the pass's largest
    // object), and SMJ sorts it once per round; those sorts were ~half
    // the 50× pass's task time and ALL of its ~100 GB spill (SCALING.md
    // §round-10 suffix). The build side is the distinct duplicated
    // windows — already aggregated, far smaller, and hash-partitioned
    // identically — so hashing it and STREAMING the positions side does
    // the same join with zero sort. Row order downstream is irrelevant:
    // every consumer re-shuffles (next round's agg) or re-sorts (the
    // run-window), and the ids are minted per key either way.
    keyed.join(idsForKeys.hint("shuffle_hash"), Seq("__k")).drop("__k")
  }

  /** Eagerly localCheckpoint `df` (truncates the analyzed plan — see the
    * class doc) and return it with a hook releasing the checkpointed
    * RDD's storage, keeping the engine's no-retained-cache contract. */
  private def checkpointed(df: DataFrame): (DataFrame, () => Unit) = {
    val out = df.localCheckpoint(true)
    val release: () => Unit = () => out.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
    (out, release)
  }
}
