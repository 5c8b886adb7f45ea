package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph operators over plain edge-list DataFrames — the connectivity
  * queries a data pipeline actually runs (duplicate-cluster resolution,
  * co-occurrence grouping, entity resolution), without any graph framework
  * dependency. An undirected graph here IS a DataFrame of (src, dst) rows;
  * results are DataFrames keyed by vertex id.
  *
  * [[Dedup.resolveClusters]]/[[Dedup.dedupCorpus]] embed the same kernels
  * for their internal pair graphs; this is the standalone surface.
  */
object Graph {

  /** Connected components of an undirected edge list: one row (id,
    * component) per DISTINCT vertex appearing in `edges`, where
    * `component` is the smallest vertex id reachable from it (so the
    * component labels are canonical and stable). Isolated vertices never
    * appear in an edge list — union the input's full vertex set back on
    * afterwards if they matter.
    *
    * Adaptive like [[Dedup.dedupCorpus]]: edge sets up to
    * `smallGraphThreshold` rows are collected and resolved with a bounded
    * driver union-find (one Spark action; the result is a broadcast-able
    * local relation, no retained cache); larger graphs run distributed
    * min-label propagation — a handful of shuffle rounds keyed on vertex
    * id, converging in O(component diameter) rounds. Real near-dup /
    * co-occurrence graphs have tiny diameters; raise `maxIter` for
    * long-chain graphs. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          smallGraphThreshold: Int = 1 << 20,
                          maxIter: Int = 5): DataFrame =
    connectedComponentsStaged(edges, srcCol, dstCol, smallGraphThreshold,
      maxIter).df

  /** [[connectedComponents]] with the cache-release hook exposed: in the
    * distributed path the returned plan reads one persisted label frame —
    * call `release()` after the last downstream action (same contract as
    * [[Dedup.dedupCorpusStaged]]). The small-graph path retains nothing
    * and its hook is a no-op. */
  def connectedComponentsStaged(edges: DataFrame, srcCol: String,
                                dstCol: String,
                                smallGraphThreshold: Int = 1 << 20,
                                maxIter: Int = 5): Dedup.Staged = {
    require(smallGraphThreshold >= 0, "smallGraphThreshold must be >= 0")
    val spark = edges.sparkSession
    val idType = edges.schema(srcCol).dataType
    require(edges.schema(dstCol).dataType == idType,
      s"src/dst types must match (got $idType vs ${edges.schema(dstCol).dataType})")
    Dedup.resolvePairGraph(
        edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
          .where(col("a").isNotNull && col("b").isNotNull)
          .dropDuplicates("a", "b"),
        smallGraphThreshold, maxIter) match {
      case Left(roots) =>
        Dedup.Staged(Dedup.localFrame(spark,
          Seq("id" -> idType, "component" -> idType),
          roots.toSeq.map { case (id, root) => Row(id, root) }), () => ())
      case Right(labels) =>
        Dedup.Staged(labels.withColumnRenamed("canonical", "component"),
          () => labels.unpersist())
    }
  }

  /** Multi-source BFS hop distances over a DIRECTED edge list: one row
    * (id, dist) per vertex reachable from `sources` within `maxHops`
    * hops, where `dist` is the minimum hop count (sources themselves at
    * 0). Symmetrize the edge list first for undirected graphs.
    *
    * Level-synchronous frontier expansion — the textbook distributed BFS:
    * each hop is one edge join keyed on the frontier vertex plus one
    * anti-join against the settled set, so per-hop shuffle volume is
    * |frontier adjacency|, never |graph|. The settled set is persisted
    * and re-wrapped as a LogicalRDD each hop (the [[Dedup.propagateLabels]]
    * lesson: persist alone does not truncate the analyzed plan, and an
    * iteration referencing the prior frame twice doubles the plan per
    * round), so plan size stays constant in `maxHops`. Terminates early
    * when a frontier empties. The returned frame reads one persisted
    * settled set whose handle this overload does NOT expose — use
    * [[bfsDistancesStaged]] and call `release()` after the last
    * downstream action to free it (same contract as
    * [[connectedComponentsStaged]]/[[Dedup.dedupCorpusStaged]]). */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   sources: DataFrame, sourceCol: String,
                   maxHops: Int): DataFrame =
    bfsDistancesStaged(edges, srcCol, dstCol, sources, sourceCol, maxHops).df

  /** [[bfsDistances]] with the cache-release hook exposed: `release()`
    * unpersists the final settled set the returned plan reads (the
    * returned frame is a LogicalRDD cut over it, so `.unpersist()` on the
    * frame itself would be a no-op). */
  def bfsDistancesStaged(edges: DataFrame, srcCol: String, dstCol: String,
                         sources: DataFrame, sourceCol: String,
                         maxHops: Int): Dedup.Staged = {
    require(maxHops >= 0 && maxHops <= 64,
      s"maxHops must be in [0, 64] (got $maxHops)")
    val spark = edges.sparkSession
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .dropDuplicates("src", "dst")
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()   // materialize before the per-hop re-reads
    val seeds = sources.select(col(sourceCol).as("id"))
      .where(col("id").isNotNull).distinct()
      .withColumn("dist", lit(0))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var nSettled = seeds.count()
    var settled = spark.createDataFrame(seeds.rdd, seeds.schema)
    var prev: DataFrame = seeds
    var hop = 0
    var frontierEmpty = nSettled == 0
    while (hop < maxHops && !frontierEmpty) {
      val frontier = settled.where(col("dist") === hop).select("id")
      val next = frontier.join(e, frontier("id") === e("src"))
        .select(col("dst").as("id")).distinct()
        .join(settled, Seq("id"), "left_anti")
        .withColumn("dist", lit(hop + 1))
      val grown = settled.unionAll(next)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = grown.count()
      val cut = spark.createDataFrame(grown.rdd, grown.schema)
      if (prev != null) prev.unpersist()
      prev = grown
      frontierEmpty = n == nSettled
      nSettled = n
      settled = cut
      hop += 1
    }
    e.unpersist()
    val last = prev                        // final persisted settled set
    Dedup.Staged(
      settled.select(col("id"), col("dist").cast("long").as("dist")),
      () => if (last != null) { last.unpersist(); () })
  }

  /** Per-vertex triangle counts (vertices in ≥1 triangle), via the
    * DEGREE-ORIENTED enumeration: every undirected edge is directed from
    * its lower-degree endpoint to the higher (ties to the smaller id),
    * and triangles are found as directed wedges closed by a third edge.
    * Orientation is what makes this scale: each vertex's out-degree is
    * bounded by O(√|E|) regardless of how skewed the raw degrees are, so
    * the wedge join's fanout is Σ outdeg² = O(|E|^1.5) — the classic
    * bound — instead of exploding on hub vertices. Three shuffles total
    * (degree agg, wedge join, closing join), all edge-keyed. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e0 = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .dropDuplicates("a", "b")
    val deg = e0.select(col("a").as("v")).union(e0.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val lowerFirst = e0
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("f"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("t"))
    val o1 = lowerFirst.select(col("f").as("x"), col("t").as("y"))
    val o2 = lowerFirst.select(col("f").as("y"), col("t").as("z"))
    val o3 = lowerFirst.select(col("f").as("x"), col("t").as("z"))
    val tri = o1.join(o2, "y").join(o3, Seq("x", "z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_triangles"))
  }
}
