package graft.tools

import java.io.File
import java.nio.file.Paths
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.jobs.LexIngestJob
import graft.operators.{Ann, TfIdf}

/** Dev tool: cold-cache, warm-JVM timing of named targets. Every run goes
  * through [[Harness.runs]], so each prints one
  * `TIMING <target> run<i> <wall> s <note> [tasks …]` line with the triage
  * columns (same bytes with a swinging task time means the box; changed
  * bytes mean the plan), and each block of runs ends on one
  * `PHASE <target> clean|degraded task_inflation=<x>` line.
  *
  * Usage: Time <dir> [runs=N] <target>... — N runs per target (default 3;
  * read the median of runs 2..N). A target is a SparkEntry query name
  * (dir = sf dir; the note is the query's row count) or one of:
  *  - `suffix_full` (dir = corpus dir): the suffix-array pass
  *    `SuffixDedup.duplicatedRegionsStaged` over the FULL corpus — the d14
  *    gate query pins a doc_id slice, so it cannot measure corpus
  *    scaling; the note is `regions=`.
  *  - `prep_full` (dir = corpus dir): the composed `CorpusPrep.prepareFull`
  *    pipeline; the note is `rows_out=`, and after the runs one JSON line
  *    per run gives the task columns, the `stages` breakdown (the
  *    pipeline's stage timer plus `final_action`, the caller's count) and
  *    the run's peak heap from a 250 ms sampler — the pipeline's known
  *    failure mode is intra-run peak pressure, not a leak. Pass `runs=1`
  *    (one JVM per config) unless warm-JVM effects are the question.
  *  - `ivf_build[=nCentroids]` (dir = embeddings dir, default ~√n cells):
  *    `Ann.buildIvfIndex` into a fresh dir per run; the note is the built
  *    postings' `cells=` and parquet `files=` (the write-cost driver). A/B
  *    the in-plan assignment sizing one JVM per arm; force it off with
  *    `-Dgraft.tuning.targetPartitionBytes=1152921504606846976`.
  *  - the ANN lanes (dir = embeddings dir; run once per dir, e.g. 1× and
  *    a `Scale10x` replica, to compare scales), each noting its rows:
  *    `ann_lsh` (`lshTopK`, auto-sized bits), `ann_ivf_sqrt` (`ivfTopK`,
  *    ~√n cells, nProbe 4), `ann_ivf_linear` (n/64 cells, distributed fit:
  *    Σ|cell|² stays linear where the √n lane grows as n^1.5 and exhausts
  *    spill disk at 100×), `ann_index` (the build-once `buildIvfIndex`,
  *    then the per-batch `queryIvfIndex` probe of 100 queries, timed
  *    apart) and `ann_brute` (`bruteForceTopK` of 20 queries, the
  *    linear-in-n baseline).
  *  - `lex_index` (dir = corpus dir): the lexical index's reason to
  *    exist. `LexIngestJob.seed` of the tokenized corpus into a fresh
  *    dir per run (`lex_index_build`, noting the index `bytes=`), then 10
  *    rotating 3-term queries from the corpus frequency head, each ranked
  *    to its top 10: served off the index (`lex_index_probe10`, pruned
  *    postings + stats sidecar) and recomputed from the documents by
  *    `TfIdf.bm25` (`lex_index_raw10`, the recompute-per-query shape).
  *    The two lanes must return the same top-10 ids per query; the last
  *    line is `LEX_INDEX speedup_vs_raw=<x>` from the medians of runs
  *    2..N. */
object Time {
  private val own = Seq("suffix_full", "prep_full", "ivf_build", "ann_lsh",
    "ann_ivf_sqrt", "ann_ivf_linear", "ann_index", "ann_brute", "lex_index")

  def main(args: Array[String]): Unit = {
    val dir = args.head
    val Runs = "runs=(\\d+)".r
    val (n, rest) = args.tail.toSeq match {
      case Runs(k) +: more => (k.toInt, more)
      case more => (3, more)
    }
    val wanted = Harness.targets(rest, own)
    val spark = Harness.session()
    val meter = new Harness.Meter(spark)
    def rows(label: String)(body: => Long) =
      Harness.runs(meter, label, n)(body)(r => s"rows=$r")
    // the vector count sizes the IVF cells and tells a 1× dir from an N×
    lazy val (emb, nVec) = {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val c = e.count()
      println(s"== $dir: $c vectors ==")
      (e, c)
    }
    def postings(idx: String) =
      s"${Ann.resolveIvfDir(spark, idx)}/postings.parquet"
    def topK(out: DataFrame): Long = {
      val c = out.count(); out.unpersist(true); c
    }
    wanted.foreach { t =>
      t.name match {
        case "suffix_full" =>
          val docs = graft.Tables.documents(spark, dir)
          Harness.runs(meter, t.name, n) {
            val staged = graft.operators.SuffixDedup.duplicatedRegionsStaged(
              docs, "doc_id", "text", minLength = 64)
            val regions = staged.df.count()
            staged.release()
            regions
          }(r => s"regions=$r")
        case "prep_full" => prepFull(meter, dir, n)
        case "ivf_build" =>
          val cells = t.params.headOption.map(_.toInt)
            .getOrElse(Harness.sqrtCells(nVec))
          println(s"== ivf_build nCentroids=$cells targetPartitionBytes=" +
            sys.props.getOrElse("graft.tuning.targetPartitionBytes",
              "default(64MB)") + " ==")
          Harness.runs(meter, t.name, n) {
            val idx = Harness.scratchDir("ivfbuild")
            Ann.buildIvfIndex(emb, "vec_id", "embedding", idx,
              nCentroids = cells, seed = 42L, distributedFit = true)
            idx
          } { idx =>
            // an A/B must compare identical indexes, not just walls; the
            // file count is the write cost (a dynamic-partition write
            // opens a parquet file per (task, cell) pair it sees)
            val path = postings(idx)
            val nCells =
              spark.read.parquet(path).groupBy("cell").count().count()
            val files = Harness.parquetFiles(Paths.get(path))
            FileUtils.deleteDirectory(new File(idx))
            s"cells=$nCells files=$files"
          }
        case "ann_lsh" =>
          rows(t.name)(topK(Ann.lshTopK(emb, "vec_id", "embedding", k = 5,
            dim = 64)))
        case "ann_ivf_sqrt" =>
          rows(t.name)(topK(Ann.ivfTopK(emb, "vec_id", "embedding", k = 5,
            nCentroids = Harness.sqrtCells(nVec), nProbe = 4)))
        case "ann_ivf_linear" =>
          // ~64-vector cells: Σ|cell|² = 64·n
          rows(t.name)(topK(Ann.ivfTopK(emb, "vec_id", "embedding", k = 5,
            nCentroids = math.max(16, (nVec / 64L).toInt), nProbe = 4,
            distributedFit = true)))
        case "ann_index" =>
          val idx = Harness.scratchDir("annindex")
          Harness.runs(meter, "ann_index_build", n) {
            Ann.buildIvfIndex(emb, "vec_id", "embedding", idx,
              nCentroids = Harness.sqrtCells(nVec))
          }(_ => s"rows=${spark.read.parquet(postings(idx)).count()}")
          rows("ann_index_probe100") {
            Ann.queryIvfIndex(emb.where(col("vec_id") < 100), "vec_id",
              "embedding", idx, k = 5, nProbe = 4).count()
          }
          FileUtils.deleteDirectory(new File(idx))
        case "ann_brute" =>
          rows(t.name) {
            Ann.bruteForceTopK(emb.where(col("vec_id") < 20), emb,
              "vec_id", "embedding", k = 5).count()
          }
        case "lex_index" => lexIndex(meter, dir, n)
        case q =>
          val query = graft.SparkEntry.queries(q)
          rows(q)(query(spark, dir).count())
      }
    }
    spark.stop()
  }

  /** The `lex_index` target: the build lane keeps its last index for the
    * two query lanes, which must agree on every query's top 10. */
  private def lexIndex(meter: Harness.Meter, dir: String, n: Int): Unit = {
    val spark = meter.spark
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenize(col("text")).as("toks"))
    val queries = docs.select(explode(col("toks")).as("term"))
      .groupBy("term").count().orderBy(desc("count"), col("term"))
      .limit(30).select("term").as[String].collect().toSeq.grouped(3).toSeq
    val idx = Harness.runs(meter, "lex_index_build", n) {
      val idx = Harness.scratchDir("lexindex")
      LexIngestJob.seed(docs, "doc_id", "toks", idx)
      idx
    }(idx => s"bytes=${Harness.dirBytes(idx)}").last.result
    def top10(scores: DataFrame): Seq[Long] =
      scores.orderBy(desc("score"), col("id")).limit(10)
        .select(col("id")).as[Long].collect().toSeq
    def lane(label: String)(score: Seq[String] => DataFrame) =
      Harness.runs(meter, label, n)(queries.map(t => top10(score(t))))(
        r => s"queries=${r.size} ids=${r.map(_.size).sum}")
    val probe = lane("lex_index_probe10")(LexIngestJob.query(spark, idx, _))
    val raw = lane("lex_index_raw10")(TfIdf.bm25(docs, "doc_id", "toks", _))
    def steady(rs: Seq[Harness.Metered[_]]): Double = {
      val s = rs.drop(1).map(_.wallS).sorted
      if (s.isEmpty) rs.head.wallS else s((s.size - 1) / 2)
    }
    println(f"LEX_INDEX queries=${queries.size} " +
      f"speedup_vs_raw=${steady(raw) / steady(probe)}%.1fx")
    require((probe ++ raw).map(_.result).distinct.size == 1,
      "lex_index: the index probe and the recompute disagree on a top-10")
  }

  /** The `prep_full` target: the pipeline runs on every doc but each
    * hundredth, which serves as the decontamination benchmark. */
  private def prepFull(meter: Harness.Meter, dir: String, n: Int): Unit = {
    val docs = graft.Tables.documents(meter.spark, dir)
    val peak = new AtomicLong
    val sampling = new AtomicBoolean(true)
    val sampler = new Thread(() => {
      val bean = java.lang.management.ManagementFactory.getMemoryMXBean
      while (sampling.get()) {
        peak.accumulateAndGet(bean.getHeapMemoryUsage.getUsed, Math.max)
        Thread.sleep(250)
      }
    }, "prepfull-peak")
    sampler.setDaemon(true); sampler.start()
    val runs = Harness.runs(meter, "prep_full", n) {
      peak.set(0)
      val stages =
        scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val out = graft.jobs.CorpusPrep.prepareFull(
        docs.where(col("doc_id") % 100 =!= 0), "doc_id", "text",
        benchmark = Some(docs.where(col("doc_id") % 100 === 0)
          .select(col("text"))),
        dsirTarget = Some(col("lang") === "en"),
        dsirKeep = 200,
        stageTimer = (name, s) => { stages(name) = s; () })
      val tAct = System.nanoTime()
      val rowsOut = out.count()
      stages("final_action") = (System.nanoTime() - tAct) / 1e9
      (rowsOut, stages, peak.get)
    }(r => s"rows_out=${r._1}")
    sampling.set(false)
    runs.zipWithIndex.foreach { case (run, i) =>
      val (rowsOut, stages, peakBytes) = run.result
      val t = run.tasks
      val body = stages.map { case (k, v) => f""""$k":$v%.1f""" }.mkString(",")
      println(f"""{"tool":"prep_full","dir":"$dir","run":${i + 1},""" +
        f""""wall_s":${run.wallS}%.1f,"rows_out":$rowsOut,""" +
        f""""task_s":${t.runMs / 1e3}%.0f,"gc_s":${t.gcMs / 1e3}%.0f,""" +
        f""""spill_gb":${t.spillBytes / 1e9}%.1f,""" +
        f""""shuffle_read_mb":${t.shuffleReadBytes / 1e6}%.1f,""" +
        f""""peak_heap_gb":${peakBytes / 1e9}%.1f,"stages":{$body}}""")
    }
  }
}
