package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

object TieredGenLog {
  /** Partition count for a write of `rows` rows at ~`rowsPerFile` each,
    * floored at 1 and capped at the session setting (never raises) —
    * the shard-write sizing discipline shared by the ingest loops: at
    * the session setting every micro-batch would leave one file per
    * shuffle partition per component, and a year of batches is tens of
    * thousands of near-empty files before the first fold. */
  def sizedParts(spark: SparkSession, rows: Long, rowsPerFile: Long): Int =
    math.max(1L, math.min(
      spark.sessionState.conf.numShufflePartitions.toLong,
      (rows + rowsPerFile - 1) / rowsPerFile)).toInt
}

/** The tiered generation-log protocol shared by the engine's GROWING
  * parquet-component index families — the third extraction of the serial
  * ingest-loop scaffolding (r11 verdict 7 gave the loops one
  * [[graft.jobs.MaintenanceCycle]]; this gives their on-disk index the
  * one fold/commit protocol the dedup LSH index hand-rolled and a third
  * family would have copied again).
  *
  * An index under this protocol is a directory `idxDir` holding, per
  * logical component (e.g. the dedup index's `banded` + `shingled`, the
  * lexical index's `postings` + `docs`):
  *
  *   idxDir/<comp>/batch=N       — per-micro-batch append shards
  *   idxDir/base-<uuid>/<comp>   — folded generations
  *   idxDir/FOLDED               — atomic pointer: "maxBatch gen1,gen2,…"
  *
  * The pointer carries an ordered generation LIST — base first, newest
  * minor-fold sibling last (r12 verdict 1, tiered maintenance); a
  * single-name pointer is the classic fully-folded state and parses as a
  * one-element list. The EFFECTIVE view of a component is the union of
  * every live generation's copy plus strictly-newer batch shards; dirs at
  * or below the fold boundary are replay leftovers the view ignores
  * (partition-pruned, never scanned).
  *
  * [[fold]] is tiered: a MINOR fire reads only the unfolded batch shards
  * and APPENDS a sibling generation — the base is never read or written,
  * so per-fire cost is O(batches since the last fire); a MAJOR fire
  * (the tier rule [[GenerationPointer.majorFold]]: forced when
  * `baseRatio <= 0`, the list hits `maxGens`, or the accumulated non-base
  * bytes reach `baseRatio` of the base) collapses every live generation
  * plus the batches into ONE — lifetime maintenance write volume stays
  * ~(1+1/ratio)× corpus instead of quadratic.
  *
  * The pointer codec, fenced flip, post-flip self-check and the sweep of
  * superseded generations are the [[GenerationPointer]] protocol the IVF
  * index commits through too; this class adds the batch shards, the
  * `_FOLDED_UPTO` markers and the component views. Commit protocol
  * (every step spec-pinned on the dedup and lexical families):
  *  1. the new generation's `_FOLDED_UPTO` marker — its FULL source
  *     batch-id set plus, for a major fold, the consumed generation
  *     names — is written FIRST (r12 ADVICE), so a crash anywhere
  *     mid-fold leaves a discriminable 'crashed' orphan;
  *  2. the component parquet writes;
  *  3. a FENCED pointer flip ([[GenerationPointer.flip]]) — a
  *     concurrent maintainer's interleaved flip fails this fold loudly;
  *  4. cleanup of superseded generations + folded batch dirs — inline
  *     when the caller is the index's only reader (`retainSuperseded =
  *     false`, the dedup loop), or deferred to [[sweep]] when external
  *     queries may be scanning the old generations (`retainSuperseded =
  *     true`: the caller sweeps one trigger interval later, the same
  *     reader-drain contract the IVF loop's deferred sweep gives
  *     [[graft.operators.Ann.sweepIvfIndex]]);
  *  5. the end-of-maintenance self-check: the pointer must still name
  *     OUR generation list and every live generation must still hold
  *     every component — a concurrent maintainer's cleanup destroying
  *     them is caught here, not three batches later.
  *
  * Crashed-vs-lost discrimination (r11 advice + r12 review): a base
  * generation on disk with NO pointer is 'crashed' (fold died before its
  * flip — every marker-listed source still on disk, the batch-dir view is
  * complete, proceed and let the next fold sweep the orphan) or a LOST
  * pointer (sources deleted by the completed fold's cleanup — proceeding
  * would silently forget the folded history; fail loudly). Subset
  * presence is NOT crashed: a checkpoint replay re-creates a strict
  * subset of the folded dirs. Marker-less bases stay loud — the
  * fail-safe posture for a completeness guard.
  *
  * Single-writer: every mutating call must come from one serial thread
  * per index (the streaming foreachBatch deployment both ingest loops
  * document); the fence turns a breach into a loud error, not a lock. */
final class TieredGenLog(val idxDir: String, components: Seq[String],
                         kind: String,
                         foldWriteLayout: Map[String, DataFrame => DataFrame] =
                           Map.empty) {
  require(components.nonEmpty, "TieredGenLog needs at least one component")
  require(foldWriteLayout.keySet.subsetOf(components.toSet),
    "foldWriteLayout names a component not in the component list")

  /** Single-writer in-memory record of WHEN each retained item (a
    * generation name, or a `batch=N` key covering that id's dirs in
    * every component) became superseded — the flip that superseded it.
    * The aged sweep measures each item against ITS OWN clock: measuring
    * against the latest flip's age would never collect anything when
    * the fold cadence outpaces the drain window (review finding — every
    * fold refreshed the clock the check read). Items found superseded
    * on disk but absent here are pre-restart leftovers; their clock is
    * the POINTER's mtime (the flip that superseded them happened at or
    * before it), so cross-process readers keep their drain window
    * across a writer restart, and an unaged sweep (`minAgeMs = 0`, the
    * classic self-heal) still collects them immediately. */
  private val supersededAt =
    scala.collection.mutable.Map.empty[String, Long]

  /** The FOLDED pointer's parsed content: the highest batch id folded
    * into the live generation list (ordered oldest/base first). */
  final case class FoldState(maxBatch: Long, gens: Seq[String])

  private def fs(spark: SparkSession): FileSystem =
    new Path(idxDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** "maxBatch gen1,gen2,…" over `base-<uuid>` generations; a
    * pre-tiering pointer holds one name and parses as a one-element
    * list. */
  private val Folded = GenerationPointer("FOLDED", "base-", watermarked = true)

  def readState(spark: SparkSession): Option[FoldState] =
    Folded.read(fs(spark), idxDir).map { c =>
      val (maxBatch, gens) = Folded.decode(idxDir, c)
      FoldState(maxBatch.get, gens)
    }

  /** Anchored `batch=N` dir-name parse: stray near-protocol names (an
    * editor backup `batch=3.bak`, a mis-copied dir) are NOT protocol
    * state and must be ignored, not crash the stream inside foreachBatch
    * with a bare NumberFormatException. */
  private val BatchDirName = "^batch=(-?\\d+)$".r
  private def parseBatchDir(name: String): Option[Long] =
    BatchDirName.findFirstMatchIn(name)
      .flatMap(m => scala.util.Try(m.group(1).toLong).toOption)

  /** Unfolded `batch=N` shard ids (all components move in lockstep; the
    * first is listed). Ids at or below the fold boundary are replay
    * leftovers the effective view ignores. */
  def unfoldedBatches(spark: SparkSession,
                      state: Option[FoldState]): Seq[Long] = {
    val floor = state.map(_.maxBatch).getOrElse(Long.MinValue)
    GenerationPointer.list(fs(spark), s"$idxDir/${components.head}")
      .filter(_.isDirectory).map(_.getPath.getName)
      .flatMap(parseBatchDir)
      .filter(_ > floor)
  }

  def unfoldedBatchCount(spark: SparkSession): Int =
    unfoldedBatches(spark, readState(spark)).size

  /** The unfolded batch ids whose shard dirs exist in EVERY component —
    * the only ones a reader or fold may consume. [[writeShard]] writes
    * components in order, so a crash mid-shard leaves a torn dir set;
    * the old root-read silently served the torn half, and a naive
    * explicit-path read dies on the missing dir — either way the torn
    * window must simply be INVISIBLE until the at-least-once replay
    * rewrites it (review finding: a restart's index load runs BEFORE
    * the replay, so a hard failure here is a permanent crash loop). */
  private def completeBatches(spark: SparkSession,
                              state: Option[FoldState]): Seq[Long] = {
    val hfs = fs(spark)
    // committed = the _SUCCESS marker in EVERY component dir, head
    // included — dir existence is NOT commit: an output dir exists from
    // the moment its write job starts (holding only _temporary), so an
    // existence gate admits a mid-write last component and serves
    // postings whose doc lengths are absent (review finding). The
    // marker lands at job commit (Spark's default committer; this
    // protocol requires success markers enabled, the default), so a
    // mid-write, torn, or mid-overwrite-rewrite dir is invisible and
    // the reader view is always some committed prefix of the batch set.
    unfoldedBatches(spark, state).filter(b =>
      components.forall(c =>
        hfs.exists(new Path(s"$idxDir/$c/batch=$b/_SUCCESS"))))
  }

  /** Write one micro-batch's component frames (aligned with the
    * constructor's component order) as `batch=N` shards. Mode overwrite
    * keyed by the deterministic micro-batch id — the at-least-once
    * replay's idempotence anchor: a replayed batch rewrites the same
    * dirs with the same rows rather than appending duplicates.
    *
    * Known window (r13 ADVICE): a restart replay of an ALREADY-COMMITTED
    * batch first deletes the dir (including its _SUCCESS) and rewrites
    * it — an external reader that planned against that batch dir before
    * the restart can fail mid-scan during the rewrite. The retain +
    * aged-sweep drain contract covers fold-superseded dirs, not this
    * replay-rewrite window; it is bounded by the single replayed batch
    * immediately after a writer restart (steady state never rewrites a
    * committed dir). Deployments serving external readers through a
    * writer restart should treat a reader error in that window as
    * transient and retry the query. */
  def writeShard(frames: Seq[DataFrame], batchId: Long): Unit = {
    require(frames.length == components.length,
      s"writeShard: ${frames.length} frames for ${components.length} components")
    // completeness is gated on the committer's _SUCCESS markers
    // (completeBatches): with marksuccessfuljobs=false — a common
    // object-store override — every shard would be PERMANENTLY invisible
    // to reads and folds, and fold's cleanup would delete the unconsumed
    // batch dirs: silent data loss. Fail loudly up front (r13 ADVICE).
    val hconf =
      frames.head.sparkSession.sparkContext.hadoopConfiguration
    require(hconf.getBoolean(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", true),
      "TieredGenLog requires " +
        "mapreduce.fileoutputcommitter.marksuccessfuljobs=true: shard " +
        "completeness is gated on _SUCCESS commit markers — with them " +
        "disabled every shard is invisible and fold cleanup deletes " +
        "unconsumed batches")
    components.zip(frames).foreach { case (comp, df) =>
      df.write.mode("overwrite").parquet(s"$idxDir/$comp/batch=$batchId")
    }
  }

  /** The EFFECTIVE component views (aligned with the constructor's
    * component order): live generations plus strictly-newer batch shards
    * — never a replayed dir at or below the fold boundary. None when
    * nothing has been ingested. Runs the crashed-vs-lost discrimination
    * described on the class. */
  def effective(spark: SparkSession): Option[Seq[DataFrame]] = {
    val state = readState(spark)
    views(spark, state, completeBatches(spark, state))
  }

  /** The pointerless half of the crashed-vs-lost discrimination (see the
    * class doc): throws when a base generation on disk is not the orphan
    * of a fold that crashed before its flip. */
  private def requirePointerNotLost(spark: SparkSession): Unit = {
    val hfs = fs(spark)
    val bases = GenerationPointer.list(hfs, idxDir)
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("base-"))
      .map(_.getPath.getName)
    lazy val batchSet = unfoldedBatches(spark, None).toSet
    val baseSet = bases.toSet
    val lost = bases.filter { b =>
      // marker tokens: batch ids always; a MAJOR tiered fold also
      // lists the generation names it consumed — "crashed" requires
      // EVERY listed source (dir or generation) still on disk
      val srcs: Option[(Seq[Long], Seq[String])] =
        try {
          val toks = GenerationPointer.readFile(hfs,
              s"$idxDir/$b/_FOLDED_UPTO")
            .split(",").map(_.trim).filter(_.nonEmpty)
          val (genToks, idToks) = toks.partition(_.startsWith("base-"))
          val ids = idToks.flatMap(t => scala.util.Try(t.toLong).toOption)
          if (toks.nonEmpty && ids.length == idToks.length &&
              genToks.forall(Folded.isGen))
            Some((ids.toSeq, genToks.toSeq))
          else None
        } catch { case _: java.io.IOException => None }
      srcs match {
        case Some((ids, gs)) =>
          !(ids.forall(batchSet.contains) && gs.forall(baseSet.contains))
        case None => true
      }
    }
    if (lost.nonEmpty) throw new IllegalStateException(
      s"$kind at $idxDir has folded generation(s) " +
        s"${lost.sorted.mkString(",")} but no FOLDED pointer, and " +
        "their source batch dirs are not (fully) on disk — the " +
        "pointer was lost (deletion or partial restore), and reading " +
        "only the unfolded batches would silently forget the folded " +
        "history. Restore the pointer (content: '<maxFoldedBatch> " +
        "<gen1>,<gen2>,...'), or — if the fold provably never " +
        "committed (legacy pre-marker orphan) — delete the base dir; " +
        "otherwise rebuild the index.")
  }

  /** The component views over `state`'s live generations (base and
    * minor-fold siblings union equally) plus the complete unfolded
    * `batches`; None when both are empty. Without a pointer, runs the
    * crashed-vs-lost discrimination first. */
  private def views(spark: SparkSession, state: Option[FoldState],
                    batches: Seq[Long]): Option[Seq[DataFrame]] = {
    if (state.isEmpty) requirePointerNotLost(spark)
    val gens = state.map(_.gens).getOrElse(Seq.empty)
    if (gens.isEmpty && batches.isEmpty) None
    else Some(components.map { c =>
      // EXPLICIT live dirs, never the component root: a root read's
      // partition discovery lists EVERY batch dir — including replay
      // leftovers at/below the boundary that a concurrent sweep is
      // deleting — and a reader whose query needs none of those rows
      // still dies on the listing race (caught live by LexIngestScale at
      // 50×: an empty-looking root between a sweep and the next shard
      // write threw UNABLE_TO_INFER_SCHEMA into an innocent reader).
      // Explicit paths keep a new-pointer reader's footprint disjoint
      // from everything a sweep may touch; only a reader still scanning
      // under the OLD pointer races deletion, and that window is what the
      // retain + aged-sweep drain contract bounds.
      val shards =
        if (batches.isEmpty) Seq.empty
        else Seq(spark.read.parquet(
          batches.map(b => s"$idxDir/$c/batch=$b"): _*))
      (gens.map(g => spark.read.parquet(s"$idxDir/$g/$c")) ++ shards)
        .reduce(_ unionByName _)
    })
  }

  /** Fold unfolded batch shards into a fresh `base-<uuid>` generation
    * and flip the FOLDED pointer (the commit protocol on the class doc).
    * With `retainSuperseded` the cleanup is deferred to [[sweep]] —
    * external readers planned against the old generations finish their
    * scans first; without it (the caller is the only reader) cleanup
    * runs inline. */
  def fold(spark: SparkSession, upToBatch: Long, baseRatio: Double = 0.3,
           maxGens: Int = 8, retainSuperseded: Boolean = false): Unit = {
    val hfs = fs(spark)
    val state = readState(spark)
    // the batch-dir ids this fold consumes — recorded inside the base so
    // a pointerless restart can discriminate crashed from lost. COMPLETE
    // dirs only: a torn shard (possible only under a foreign writer —
    // this thread's own replay rewrites before any fold) must not fold
    // one component's rows without the other's.
    val srcIds = completeBatches(spark, state)
    // the pointer boundary must cover everything this fold consumes: a
    // caller-supplied upToBatch below the max complete id would fold
    // batches the boundary still marks unfolded — every such row served
    // twice, forever (review finding; latent, current callers pass the
    // loop's latest batch id)
    require(srcIds.forall(_ <= upToBatch),
      s"fold: upToBatch=$upToBatch below complete batch ids " +
        s"${srcIds.filter(_ > upToBatch).mkString(",")} — pass the " +
        "latest appended batch id")
    // cleanup deletes EVERY batch dir at/below the boundary — including
    // an incomplete (marker-less) one this fold did not consume. Under
    // the single-writer replay-before-fold contract that set is empty;
    // if a foreign writer (or a marker-disabling config that slipped past
    // writeShard) left one, deleting it is silent data loss — fail
    // loudly instead (r13 ADVICE).
    // ids unioned across ALL components' dirs, not just the head's
    // (r14 ADVICE): a foreign-writer batch dir present only in a
    // non-head component would escape a head-only listing and still be
    // deleted by cleanup — the exact scenario this guard targets.
    val floor = state.map(_.maxBatch).getOrElse(Long.MinValue)
    val allCompIds = components.flatMap(c =>
        GenerationPointer.list(hfs, s"$idxDir/$c")
          .filter(_.isDirectory).map(_.getPath.getName)
          .flatMap(parseBatchDir))
      .filter(_ > floor).toSet
    val incomplete =
      allCompIds.filter(_ <= upToBatch) -- srcIds.toSet
    require(incomplete.isEmpty,
      s"fold: incomplete (marker-less) batch dirs at/below the boundary " +
        s"$upToBatch: ${incomplete.toSeq.sorted.mkString(",")} — a fold " +
        "would consume nothing from them and cleanup would delete them; " +
        "replay them first (single-writer contract)")
    val gens = state.map(_.gens).getOrElse(Seq.empty)
    // the pending data is the consumed batch shards, which no generation
    // holds yet — so only the folded generations count against maxGens
    val major = GenerationPointer.majorFold(gens, gens.size, maxGens,
      baseRatio, g => GenerationPointer.pathBytes(hfs, s"$idxDir/$g"),
      srcIds.map(b => components.map(c =>
        GenerationPointer.pathBytes(hfs, s"$idxDir/$c/batch=$b")).sum).sum)
    val cur: Seq[DataFrame] =
      // major source: the effective view, from the pointer read and the
      // batch probes above
      if (major) views(spark, state, srcIds).getOrElse(
        throw new IllegalStateException(
          s"fold: no index at $idxDir — nothing has been ingested"))
      else {
        // minor source: the consumed batch shards ONLY, as explicit
        // dirs — folded dirs and replay leftovers are never listed,
        // let alone scanned
        require(srcIds.nonEmpty, "fold: minor fold with no batches")
        components.map(c => spark.read.parquet(
          srcIds.map(b => s"$idxDir/$c/batch=$b"): _*))
      }
    val name = s"base-${java.util.UUID.randomUUID().toString}"
    // a minor fold RETAINS the prior generations and appends; a major
    // fold consumes them all
    val newGens = if (major) Seq(name) else gens :+ name
    // sources recorded in the marker: batch ids always; for a major fold
    // also the consumed generation names (the crashed/lost discriminator
    // then requires ALL of them on disk to call a pointerless base
    // "crashed"). Written FIRST — before the multi-second component
    // writes (r12 ADVICE) — so a crash anywhere mid-fold leaves a
    // discriminable 'crashed' orphan the next fold sweeps automatically.
    // The FULL id set, not just the boundary: a checkpoint replay
    // re-creates a strict SUBSET of the folded dirs, and boundary-only
    // presence would misread lost-after-replay as crashed.
    val srcTokens = srcIds.sorted.map(_.toString) ++
      (if (major) gens else Seq.empty)
    GenerationPointer.writeFile(hfs, s"$idxDir/$name/_FOLDED_UPTO",
      srcTokens.mkString(","))
    components.zip(cur).foreach { case (c, df) =>
      // a fold is the one write that pays for read-side layout: the
      // caller's per-component layout hook (e.g. range-cluster postings
      // by term so point queries skip row groups on min/max stats) runs
      // here, where its cost amortizes over every query until the next
      // fold — batch shards stay write-cheap
      foldWriteLayout.getOrElse(c, identity[DataFrame] _)(df)
        .write.parquet(s"$idxDir/$name/$c")
    }
    val pointerContent = Folded.encode(Some(upToBatch), newGens)
    // FENCED flip (r11 verdict 3): the fold fails loudly if a concurrent
    // maintainer's flip interleaved — a silently lost fold generation
    // would serve the next batches a stale boundary
    Folded.flip(hfs, spark.sparkContext.hadoopConfiguration, idxDir,
      pointerContent)
    if (!retainSuperseded) cleanup(hfs, newGens.toSet, upToBatch)
    else {
      // start each newly superseded item's drain clock (see supersededAt)
      val now = System.currentTimeMillis()
      (gens.toSet -- newGens.toSet).foreach(g => supersededAt(g) = now)
      srcIds.foreach(b => supersededAt(s"batch=$b") = now)
    }

    // end-of-maintenance self-check: a concurrent folder's cleanup
    // deleting our generations as "superseded" is caught here instead of
    // surfacing as a mystery read failure three batches later (the
    // serial-foreachBatch deployment makes this a no-op in practice)
    Folded.verifyLive(hfs, idxDir, pointerContent, g =>
      components.foreach { c =>
        if (!hfs.exists(new Path(s"$idxDir/$g/$c")))
          throw new IllegalStateException(
            s"fold: live generation $idxDir/$g lost its $c component " +
              "after the flip — a concurrent maintainer's cleanup " +
              "destroyed it (single-writer contract breached); rebuild " +
              "the index")
      })
  }

  /** Delete everything the live pointer supersedes: non-live `base-*`
    * generations (consumed by a major fold, or orphans of a crashed
    * one), batch dirs at or below the fold boundary (also catches replay
    * leftovers), and crash-orphaned per-flip pointer tmps. Stray
    * non-protocol names (`batch=3.bak`) are not ours to delete. Safe to
    * call any time from the writer thread; a no-op before the first
    * fold. This is the deferred half of a `retainSuperseded` fold — run
    * it one trigger interval later, after external readers' scans have
    * drained.
    *
    * `minAgeMs` > 0 additionally TIME-bounds the drain window: each
    * superseded item is deleted only once its OWN supersession (the
    * flip that retired it, per [[supersededAt]]) is at least that old —
    * with a near-zero trigger interval, "one trigger later" alone can
    * race a reader that planned against the old pointer and is still
    * scanning (the 50× harness measured reader queries of 1–3 s against
    * a sub-second fold→sweep gap). Items still too young survive this
    * sweep and are collected by any later one; safe to call every batch
    * (it is one listing). After a writer restart, pre-crash leftovers
    * have no in-process clock and age against the pointer's mtime —
    * an unaged sweep (`minAgeMs = 0`) collects them immediately, an
    * aged one waits out the drain window first, so readers in OTHER
    * processes keep their guarantee across the restart. */
  def sweep(spark: SparkSession, minAgeMs: Long = 0L): Unit =
    readState(spark).foreach { f =>
      cleanup(fs(spark), f.gens.toSet, f.maxBatch, minAgeMs)
    }

  private def cleanup(hfs: FileSystem, live: Set[String],
                      upToBatch: Long, minAgeMs: Long = 0L): Unit = {
    val now = System.currentTimeMillis()
    // items with no in-process clock were superseded by a flip at or
    // before the live pointer's (they only arise after a writer
    // restart — steady-state folds record every item) — their drain
    // clock is the pointer file's mtime. Readers in OTHER processes
    // survive a writer restart that way: the old code deleted unknowns
    // immediately, which is only safe when every reader died with the
    // writer (review finding). Indeterminate age fails CLOSED (skip
    // this cycle; a later sweep collects) — deletion on a transient
    // error is the one wrong default for a drain guard.
    lazy val ptrAgeOk: Boolean = {
      val pfs = AtomicPointer.pointerIoFs(hfs)
      val primary = new Path(s"$idxDir/${Folded.name}")
      try pfs.exists(primary) &&
        now - pfs.getFileStatus(primary).getModificationTime >= minAgeMs
      catch { case _: java.io.IOException => false }
    }
    def oldEnough(key: String): Boolean = minAgeMs <= 0L ||
      supersededAt.get(key).map(t => now - t >= minAgeMs)
        .getOrElse(ptrAgeOk)
    Folded.sweep(hfs, idxDir, live, oldEnough).foreach(supersededAt.remove)
    components.foreach { c =>
      GenerationPointer.list(hfs, s"$idxDir/$c").foreach { st =>
        val key = st.getPath.getName
        if (st.isDirectory &&
            parseBatchDir(key).exists(_ <= upToBatch) && oldEnough(key)) {
          hfs.delete(st.getPath, true)
          supersededAt.remove(key); ()
        }
      }
    }
  }
}
