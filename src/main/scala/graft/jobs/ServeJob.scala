package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.io.{EventSource, KVSink, KVWriter}
import graft.prep.Collections

/** Entry point 3.2 — streaming event-triggered recommendations
  * (SURVEY §3.2, §2.8). One parameterized job covers the reference's three
  * near-identical services:
  *
  *  - u_like / u_nlike (guessLike_u_like.py, guessLike_u_nlike.py): event
  *    carries userId; the query context is the user's latest 3 collected
  *    books (stream-static join against the collect snapshot, S4/J10);
  *    recommendations exclude already-collected books (P7).
  *  - u_first_select (guessLike_u_first_select.py): event carries bookIds
  *    inline (UFS:178); no collected-filter (UFS:182).
  *
  * The fitted model is immutable for the life of the stream (ST4) —
  * the reference refits only on restart; refresh = resubmit with a new
  * Fitted. Per-batch processing is set-oriented: all events in a
  * micro-batch score as one DataFrame (ST3 upgrade from the reference's
  * strictly sequential loop), and KV writes happen in foreachBatch
  * (at-least-once, K2).
  */
object ServeJob {

  /** The reference's three deployables, as named constructors over the one
    * parameterized job (recommender-online/README.md:2):
    *  - u_like (guessLike_u_like.py): collect event → latest-3 context,
    *    collected books filtered from results;
    *  - u_nlike (guessLike_u_nlike.py): un-collect event → identical plan
    *    over the post-event collect state;
    *  - u_first_select (guessLike_u_first_select.py): bookIds arrive in
    *    the payload, results unfiltered (UFS:178,182). */
  def uLike(frames: DataFrame, fitted: RecommenderModel.Fitted,
            collect: DataFrame, kv: KVSink): StreamingQuery =
    start(frames, fitted, collect, kv, filterCollected = true)

  def uNlike(frames: DataFrame, fitted: RecommenderModel.Fitted,
             collect: DataFrame, kv: KVSink): StreamingQuery =
    start(frames, fitted, collect, kv, filterCollected = true)

  def uFirstSelect(frames: DataFrame, fitted: RecommenderModel.Fitted,
                   collect: DataFrame, kv: KVSink): StreamingQuery =
    start(frames, fitted, collect, kv, filterCollected = false)

  /** Score one micro-batch of decoded events (userId, bookIds).
    * `corpusPostings`: the precomputed similarity index
    * ([[graft.rank.Scoring.termPostings]] over `fitted.userTokens`) — the
    * streaming path passes it so the static corpus side is built once per
    * deployment, not once per micro-batch. */
  def scoreBatch(events0: DataFrame, fitted: RecommenderModel.Fitted,
                 collect: DataFrame, latestK: Int = 3,
                 filterCollected: Boolean = true,
                 params: Recommender.Params = Recommender.Params(),
                 corpusPostings: Option[DataFrame] = None,
                 serve: Option[graft.rank.Scoring.ServeIndex] = None,
                 stageTimer: (String, Double) => Unit = (_, _) => ()): Recommender.Recs = {
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      stageTimer(name, (System.nanoTime() - t0) / 1e9)
      r
    }
    // Micro-batch lane: the incoming batch frame has NO size statistics
    // (it is a streaming source slice), so every plan that joins it
    // assumes it is huge. One collect of the batch (bounded by the
    // trigger size, by definition) re-creates it as a local relation
    // with statistics, and the whole scoring DAG downstream plans small.
    val spark = events0.sparkSession
    import spark.implicits._
    // the serve-lane query context comes from deployment-time broadcasts,
    // so a latestK differing from the index's build depth would silently
    // serve different contexts than the batch lane — fail loudly instead
    serve.foreach(idx => require(idx.latestK == latestK,
      s"serve index was built with latestK=${idx.latestK} but scoreBatch " +
        s"was called with latestK=$latestK; rebuild the index or match the " +
        "argument (the `collect` snapshot is likewise unused on this lane — " +
        "its state lives in the index's broadcasts)"))
    val (events, queries, collected) = serve match {
      case Some(idx) =>
        // Micro-batch lane: ONE collect of the batch (bounded by the
        // trigger size), then the query context comes entirely out of
        // the deployment broadcasts — latest-k books, collected sets,
        // book docs, CV/KMeans assignment all replicated locally by
        // [[graft.rank.Scoring.localAssign]] with batch-lane parity
        // (FusedScoringSpec + the golden specs pin it). No per-batch
        // plan touches the snapshot or the model tables; the local
        // relations carry statistics, so every later join broadcasts.
        // array_compact: a null ELEMENT inside bookIds would make the
        // Seq[Long] encoder throw and crash-loop the stream from the
        // checkpoint, where the batch lane's explode→inner-join quietly
        // drops it — compacting first gives both lanes the drop semantics
        val evRows = timed("localize_batch")(
          events0.select(col("userId").cast("long"),
              array_compact(col("bookIds").cast("array<long>")).as("bookIds"))
            .as[(Long, Option[Seq[Long]])].collect())
        val ev = spark.createDataset(evRows.map(_._1).toSeq).toDF("userId")
        val qRows = evRows
          .map { case (uid, payload) =>
            // non-null payload WINS even when empty (coalesce semantics of
            // the batch lane: an empty payload filters out, it does not
            // fall through to the latest-k context)
            (uid, payload.getOrElse(
              idx.latest.value.get(uid).getOrElse(Seq.empty)))
          }
          .groupBy(_._1).iterator
          .flatMap { case (uid, evs) =>
            // batch-lane parity for SAME-USER duplicates in one trigger:
            // the exchange lane resolves books per event row, drops empty
            // rows, then userDocs merges ALL of the user's surviving rows
            // into one query doc (duplicates kept — a book in two events
            // doubles its tf); concatenate the per-event resolutions the
            // same way before the one localAssign
            val books = evs.iterator.map(_._2).filter(_.nonEmpty)
              .flatten.toSeq
            if (books.isEmpty) None
            else graft.rank.Scoring.localAssign(idx, uid, books)
          }.toArray
        val q = spark.createDataset(qRows.toSeq)
          .toDF("userId", "cluster", "tokens")
        val ownRows = evRows.map(_._1).distinct
          .flatMap(uid => idx.own.value.get(uid).map(b => (uid, b)))
        val own = spark.createDataset(ownRows.toSeq).toDF("userId", "books")
        (ev, q, own)
      case None =>
        // Batch lane: the distributed chain, unchanged — snapshot
        // semi-join first (the snapshot is large and static, the batch
        // is small; without it every micro-batch pays a full-table
        // window + groupBy), then latest-k window, doc assembly, model
        // assignment.
        val batchCollect = collect
          .join(broadcast(events0.select(col("userId"))),
            Seq("userId"), "left_semi")
        val latest = Collections.latestBooks(batchCollect, latestK)
        // payload bookIds win; otherwise the user's latest collected books
        val queryBooks = events0
          .join(broadcast(latest), events0("userId") === latest("userId"), "left")
          .select(events0("userId"),
            coalesce(events0("bookIds"), latest("books")).as("books"))
          .where(col("books").isNotNull && size(col("books")) > 0)
        val queryDocs = Collections.userDocs(broadcast(queryBooks), fitted.bookDocs)
        val queries0 = RecommenderModel.assignQueries(fitted, queryDocs)
        val collected0 = batchCollect.where(col("isCollect") === 1)
          .groupBy("userId").agg(collect_set(col("bookId")).as("books"))
        (events0, queries0, collected0)
    }
    // ST6: every decoded event user gets an answer — users with no query
    // context (no collections, no payload books) fall back to the hot list
    // and the default similar-user ids (the reference's evident intent on
    // scoring failure, guessLike_u_like.py:174-175,207-209; its own
    // fallback code is buggy, SURVEY §4.2).
    timed("recommend")(
      Recommender.recommend(fitted, queries, collected,
        params, filterOwn = filterCollected, corpusPostings = corpusPostings,
        broadcastQueries = true, serve = serve, answerUsers = Some(events)))
  }

  /** Collect a bounded frame and re-create it as a local relation: one
    * execution of its lineage, full size statistics for the planner. The
    * bound is ENFORCED, not assumed (the Blend.collectHotIds pattern) —
    * an unbounded input fails fast instead of OOMing the driver. */
  private def localize(df: DataFrame, maxRows: Int): DataFrame = {
    val spark = df.sparkSession
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"localize: frame exceeded $maxRows rows — not deployment-bounded; " +
        "serve from the distributed frame instead")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Wire a raw frame stream (value: String) through decode → score →
    * KV write. Returns the started query.
    *
    * `trigger` defaults to AvailableNow (drain-and-stop — the test and
    * backfill mode); a live deployment passes
    * `Trigger.ProcessingTime(...)` (or Continuous is unsupported here) to
    * keep the reference's always-on consumer semantics.
    *
    * `checkpointLocation` is the restart story the reference lacks
    * (its services refit and resubscribe from scratch on crash,
    * recommender-online/README.md:3-8): point it at durable storage and a
    * resubmitted job resumes from the last committed micro-batch for any
    * replayable source (file/Kafka-class). KV writes are at-least-once
    * across restarts — idempotent, since every write is a full-value SET
    * per user key. */
  def start(frames: DataFrame, fitted0: RecommenderModel.Fitted,
            collect: DataFrame, kv: KVSink,
            filterCollected: Boolean = true,
            params: Recommender.Params = Recommender.Params(),
            trigger: Trigger = Trigger.AvailableNow(),
            checkpointLocation: Option[String] = None,
            stageTimer: (String, Double) => Unit = (_, _) => (),
            serveBudgetBytes: Long = graft.rank.Scoring.DefaultServeBudgetBytes)
      : StreamingQuery =
    startSwappable(frames, fitted0, collect, kv, filterCollected, params,
      trigger, checkpointLocation, stageTimer, serveBudgetBytes)._1

  /** One model GENERATION's stream-lifetime state: the (hot-localized)
    * fitted model plus whichever serving lane the byte-budget guard chose
    * for it, and the hook that releases that lane's broadcasts/persists. */
  private final case class Generation(
      fitted: RecommenderModel.Fitted,
      collect: DataFrame,
      serve: Option[graft.rank.Scoring.ServeIndex],
      corpusPostings: Option[DataFrame],
      release: () => Unit)

  /** Handle for hot model refresh (the ST4 extension): [[swap]] installs a
    * freshly fitted model + serving index into a RUNNING stream atomically
    * BETWEEN micro-batches. The expensive work — distributed asset build,
    * broadcast creation, warmup compile — happens before the batch gate is
    * taken, so the stream pauses only for a pointer swap; the outgoing
    * generation is released AFTER the gate guarantees no in-flight batch
    * still reads its broadcasts. Every event therefore scores against
    * exactly one coherent (model, index) pair — the vocabulary-fingerprint
    * guard stays as the loud backstop, but the swap makes the misaligned
    * state unrepresentable in this API (the index is always built from the
    * fitted model it is installed with). */
  final class ModelHandle private[ServeJob] (
      ref: java.util.concurrent.atomic.AtomicReference[Generation],
      gate: java.util.concurrent.locks.ReentrantLock,
      build: (RecommenderModel.Fitted, DataFrame) => Generation,
      warmup: Generation => Unit,
      retire: Generation => Unit,
      // shared with the deployment's retire/termination hooks, which
      // need it BEFORE the handle exists (no forward reference)
      private[ServeJob] val closed: java.util.concurrent.atomic.AtomicBoolean) {
    // `closed` is set by the async termination listener, so a swap()
    // issued right after query.stop() can race the listener bus, pass
    // the require, and waste a full generation build on a dead stream.
    // The attached query's isActive is synchronous with stop() — check
    // both. (The under-gate closed re-check stays as the backstop for a
    // stop that lands DURING the build.)
    @volatile private[ServeJob] var attached: StreamingQuery = _
    private val gen = new java.util.concurrent.atomic.AtomicLong(1L)

    /** Installed-generation counter: 1 = the deployment's initial model,
      * +1 per successful [[swap]]. */
    def generation: Long = gen.get()

    def swap(newFitted: RecommenderModel.Fitted,
             newCollect: DataFrame): Unit = {
      require(!closed.get() &&
          (attached == null || attached.isActive),
        "ModelHandle.swap: the stream has terminated — deploy a new job " +
          "instead of swapping into a dead one")
      // heavy: distributed builds + broadcasts + codegen, all off the
      // hot path — serving continues on the old generation throughout
      val g = build(newFitted, newCollect)
      try warmup(g)
      catch { case e: Throwable => g.release(); throw e }
      gate.lock()                      // waits for the in-flight batch
      val old = try {
        if (closed.get()) { g.release(); throw new IllegalStateException(
          "ModelHandle.swap: stream terminated while building the new " +
            "generation — the build was released; deploy a new job") }
        val o = ref.get(); ref.set(g); gen.incrementAndGet(); o
      } finally gate.unlock()
      // no batch can still be reading the old generation (the gate saw it
      // out) — but its release is DEFERRED one batch and run off-thread
      // (r11 verdict 2): released here, the broadcast-destroy + unpersist
      // storm and the GC cycle that reclaims a model-sized old generation
      // land exactly under the first post-swap batch, which the r11 swap
      // bench measured as that batch carrying the run's only GC spike
      // (execGc 187 s). The retire hook parks it until the next batch
      // COMPLETES, then releases on a daemon thread — the same
      // deferral contract sweepIvfIndex gives the IVF maintenance cycle.
      retire(old)
    }
  }

  /** [[start]] plus the hot-refresh [[ModelHandle]]. The returned query is
    * identical to [[start]]'s when the handle is never used. */
  /** `parkedReleaseGraceMs`: the time-based fallback for the deferred
    * generation release (r12 ADVICE). The swapped-out generation normally
    * parks until the NEXT batch completes, but an idle/trickle stream may
    * never fire that batch — without a fallback the retired generation's
    * broadcasts and persists are held indefinitely (double model memory
    * until the next event). A daemon timer releases the parked generation
    * after this grace period when no batch has drained it first; 0
    * disables the fallback. */
  def startSwappable(frames: DataFrame, fitted0: RecommenderModel.Fitted,
            collect: DataFrame, kv: KVSink,
            filterCollected: Boolean = true,
            params: Recommender.Params = Recommender.Params(),
            trigger: Trigger = Trigger.AvailableNow(),
            checkpointLocation: Option[String] = None,
            stageTimer: (String, Double) => Unit = (_, _) => (),
            serveBudgetBytes: Long = graft.rank.Scoring.DefaultServeBudgetBytes,
            parkedReleaseGraceMs: Long = 30000L)
      : (StreamingQuery, ModelHandle) = {
    val decoded = EventSource.decode(frames)
    // Build the SERVE INDEX once per deployment: every batch-invariant
    // asset — inverted (cluster, term) postings, userBooks, latest-k and
    // collected-book maps, book docs, vocabulary indexes, the fitted
    // KMeans — is one distributed job here, collected to model-sized
    // broadcasts (the engine form of the reference's in-memory
    // per-cluster similarity index + its Redis u_read/u_collect state;
    // its 66 s build stage, simility_compute.py via BASELINE.md). With
    // the index in place a micro-batch runs ZERO corpus-sized work:
    // scoring is one narrow executor job over the batch rows, and no
    // per-batch plan ever rescans the snapshot or the model tables.
    //
    // GUARDED: the latest/own/docs maps scale with the active-user count
    // and the catalog, not the fit — above `serveBudgetBytes` the collect
    // would head toward a driver OOM, so the builder refuses and the
    // deployment serves through the distributed exchange lane instead
    // (spec-equal results, FusedScoringSpec; lane-switch pinned by
    // ServeLaneGuardSpec). The exchange lane still amortizes the corpus
    // side: its postings index is computed ONCE here and persisted for
    // the stream's lifetime.
    def buildGeneration(f0: RecommenderModel.Fitted,
                        coll: DataFrame): Generation = {
      val serveIdx = graft.rank.Scoring.buildServeAssetsGuarded(
        f0, coll, maxBytes = serveBudgetBytes)
      // everything between the first persisted/broadcast asset and the
      // Generation (whose release hook owns them) can throw — localize's
      // bounded collect, the postings count — and before the hook exists
      // NOBODY else can release: clean up here or leak for the session
      var corpusPostings: Option[DataFrame] = None
      try {
        corpusPostings =
          if (serveIdx.isDefined) None
          else {
            val p = graft.rank.Scoring.termPostings(f0.userTokens,
                Some(f0.cv.vocabulary.toSet))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            p.count() // materialize once, before the first batch
            Some(p)
          }
        buildGenerationTail(f0, coll, serveIdx, corpusPostings)
      } catch {
        case e: Throwable =>
          corpusPostings.foreach(_.unpersist())
          serveIdx.foreach(_.destroy())
          throw e
      }
    }
    def buildGenerationTail(f0: RecommenderModel.Fitted, coll: DataFrame,
                            serveIdx: Option[graft.rank.Scoring.ServeIndex],
                            corpusPostings: Option[DataFrame]): Generation = {
      // the hot list is collected by blend/fallback EVERY batch
      // (Blend.collectHotIds) — as a local relation that collect is a
      // driver-side LocalTableScan instead of a per-batch file-scan job;
      // bounded by the SAME limit Blend enforces per batch
      val fitted = f0.copy(
        hot = localize(f0.hot, graft.rank.Blend.MaxHotCollect))
      // idempotent: the termination listener and a racing swap's
      // error path may both reach a generation's release
      val released = new java.util.concurrent.atomic.AtomicBoolean(false)
      Generation(fitted, coll, serveIdx, corpusPostings, () => {
        if (released.compareAndSet(false, true)) {
          serveIdx.foreach(_.destroy())
          corpusPostings.foreach(_.unpersist())
        }
        ()
      })
    }
    // WARMUP: score one synthetic event through the full fused path
    // before a generation serves real events. The first batch otherwise
    // pays every one-off cost — codegen compilation of the scoring
    // plans, broadcast deserialization on each executor thread, JIT —
    // which lands on real events' latency (measured: first batch ~3-5×
    // the steady p50); after a hot swap the same costs would land on the
    // first post-swap batch. The synthetic user id is negative (outside
    // the event-source domain, which enforces userId > 0), its payload is
    // the head of the hot list, and nothing is written to the KV sink.
    // One action over the SAME `Recs.kvFrame` plan the live batches
    // execute — two separate counts would run the shared scoring subtree
    // twice and warm a plan shape production never runs.
    def warmup(g: Generation): Unit = {
      val spark = frames.sparkSession
      import spark.implicits._
      val payload = g.fitted.hot.select(col("bookId").cast("long"))
        .limit(3).as[Long].collect().toSeq
      if (payload.nonEmpty) {
        val fake = spark.createDataset(Seq((-1L, payload)))
          .toDF("userId", "bookIds")
        scoreBatch(fake, g.fitted, g.collect,
          filterCollected = filterCollected, params = params,
          corpusPostings = g.corpusPostings, serve = g.serve).kvFrame.count()
        ()
      }
    }
    val g0 = buildGeneration(fitted0, collect)
    val ref = new java.util.concurrent.atomic.AtomicReference(g0)
    // the batch/swap gate: a micro-batch holds it for the batch duration,
    // a swap takes it only for the pointer exchange — so a swap lands
    // exactly between batches and never under a batch that is reading the
    // outgoing generation's broadcasts. FAIR: under a continuously busy
    // stream (back-to-back batches) a non-fair lock lets the batch thread
    // barge and reacquire immediately, starving a waiting swap()
    // indefinitely — fairness grants the swap the very next inter-batch
    // boundary, which is the whole point of the gate (r10 advice).
    val gate = new java.util.concurrent.locks.ReentrantLock(true)
    // a swapped-out generation parks here until the NEXT batch completes,
    // then releases on a daemon thread (r11 verdict 2): deferred past the
    // first post-swap batch so the destroy/unpersist storm and the GC
    // cycle reclaiming a model-sized generation never share that batch's
    // window, and off-thread so no batch ever runs it inline. Safe at any
    // point after the swap — the gate already guaranteed no in-flight
    // batch reads it; the deferral is purely about WHEN the reclamation
    // cost lands. At most one generation is parked: a second swap inside
    // one trigger interval releases the previously parked one inline
    // (swaps are rare; two in one interval is a test pattern).
    // parked as (generation, batches-completed-at-park): released only
    // once batchesDone has ADVANCED past the park stamp — without the
    // stamp, the batch that unlocked the gate FOR the swap would see the
    // freshly parked generation at its own batch-end hook and release it
    // right at the swap boundary, exactly the window the deferral exists
    // to clear
    val batchesDone = new java.util.concurrent.atomic.AtomicLong(0L)
    val closedFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pendingRelease = new java.util.concurrent.atomic
      .AtomicReference[(Generation, Long)](null)
    def retire(old: Generation): Unit = {
      // a terminated stream will never run the batch-end drain: release
      // inline. Checked twice — a termination landing BETWEEN our park
      // and its own pendingRelease drain would otherwise leak the parked
      // generation for the session (stop() racing an in-flight swap).
      if (closedFlag.get()) { old.release(); return }
      val stamped = (old, batchesDone.get())
      val prev = pendingRelease.getAndSet(stamped)
      if (prev != null) prev._1.release()
      if (closedFlag.get())
        Option(pendingRelease.getAndSet(null)).foreach(_._1.release())
      else if (parkedReleaseGraceMs > 0L) {
        // time-based fallback (r12 ADVICE): on an idle/trickle stream no
        // further foreachBatch ever fires to run the batch-end drain, so
        // the parked generation would be held for hours — double model
        // memory on a stream doing nothing. Release is safe at ANY point
        // after the swap (the gate already guaranteed no in-flight batch
        // reads the old generation; the park is purely about WHERE the
        // reclamation cost lands), so after the grace period the idle
        // case takes it immediately. The CAS on the exact parked tuple
        // makes the drain single-shot against the batch path and the
        // termination drain — whoever wins the CAS releases, everyone
        // else no-ops (and Generation.release is itself idempotent).
        val t = new Thread(() => {
          try Thread.sleep(parkedReleaseGraceMs)
          catch { case _: InterruptedException => () }
          if (pendingRelease.compareAndSet(stamped, null)) stamped._1.release()
        }, "graft-gen-release-grace")
        t.setDaemon(true)
        t.start()
      }
    }
    def releasePendingAsync(): Unit = {
      val p = pendingRelease.get()
      if (p != null && batchesDone.get() > p._2 &&
          pendingRelease.compareAndSet(p, null)) {
        val t = new Thread(() => p._1.release(), "graft-gen-release")
        t.setDaemon(true)
        t.start()
      }
    }
    val handle =
      new ModelHandle(ref, gate, buildGeneration, warmup, retire, closedFlag)
    // under the gate: without it, termination could interleave with a
    // swap's pointer exchange — releasing the generation the swap is
    // about to replace while leaking the one it installs. Drains any
    // parked generation too (a swap with no subsequent batch would
    // otherwise leak it for the session).
    val release = () => {
      gate.lock()
      try {
        handle.closed.set(true); ref.get().release()
        Option(pendingRelease.getAndSet(null)).foreach(_._1.release())
      }
      finally gate.unlock()
    }
    // everything from here to start() can throw (warmup scoring, a bad
    // checkpoint location) — without the catch, a failed deployment
    // leaks the just-built stream-lifetime state
    val query = try {
      warmup(g0)
      val base = decoded.writeStream
        .outputMode("append")
      checkpointLocation.foreach(base.option("checkpointLocation", _))
      base
        .foreachBatch { (batch: DataFrame, _: Long) =>
          gate.lock()
          try {
            val g = ref.get()
            // the serve lane's own localize IS its cheapest empty probe;
            // an isEmpty pre-check would execute the decode lineage an
            // extra time on every non-empty batch. The exchange lane
            // keeps the probe: its distributed chain is the expensive
            // part to skip.
            if (g.serve.isDefined || !batch.isEmpty) {
              val recs = scoreBatch(batch, g.fitted, g.collect,
                filterCollected = filterCollected, params = params,
                corpusPostings = g.corpusPostings, serve = g.serve,
                stageTimer = stageTimer)
              val tw0 = System.nanoTime()
              // ONE write action for both key families (Recs.kvFrame)
              KVWriter.write(recs.kvFrame, kv)
              stageTimer("kv_write", (System.nanoTime() - tw0) / 1e9)
            }
          } finally {
            // incremented UNDER the gate: a swap granted the gate at this
            // boundary must take its park stamp AFTER this batch counted,
            // or the batch thread's post-unlock drain would release the
            // just-parked generation at the exact boundary the stamp
            // exists to clear (review finding)
            batchesDone.incrementAndGet()
            gate.unlock()
          }
          // the batch is COMPLETE: a generation swapped out before this
          // batch can release now, off-thread (see pendingRelease)
          releasePendingAsync()
          ()
        }
        .trigger(trigger)
        .start()
    } catch {
      case e: Throwable => release(); throw e
    }
    val wrapped = withIndexCleanup(query, release)
    handle.attached = wrapped
    (wrapped, handle)
  }

  /** [[start]] with index-lifecycle hygiene: the stream-lifetime state
    * (serving index, collect snapshot, fused book-map broadcast) is
    * released when THIS query
    * terminates (a resubmitted deployment builds its own), so repeated
    * deploy/stop cycles — restart tests, model refreshes — do not
    * accumulate stream-lifetime caches. */
  private def withIndexCleanup(q: StreamingQuery,
                               release0: () => Unit): StreamingQuery = {
    // idempotent: the listener and the already-terminated check below can
    // both fire, and callers may have released on an exception path
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    def release(): Unit =
      if (released.compareAndSet(false, true)) release0()
    // the query's OWN session, not SparkSession.active — a start() issued
    // against a non-active session would otherwise never see the event
    val spark = q.sparkSession
    val listener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == q.id) {
            release()
            spark.streams.removeListener(this)
          }
      }
    spark.streams.addListener(listener)
    // listener events are not replayed: an AvailableNow query that drained
    // and terminated BEFORE the registration above would never fire it
    if (!q.isActive) {
      release()
      spark.streams.removeListener(listener)
    }
    q
  }
}
