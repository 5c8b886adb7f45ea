package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Ann

/** The operational loop for a GROWING vector index (round-10 item: the
  * streaming face of [[graft.operators.Ann.appendIvfShard]]): each
  * micro-batch of (id, vector) rows lands as ONE marker-committed IVF
  * shard, and any concurrent [[graft.operators.Ann.queryIvfIndex]] —
  * same process or another — observes each new generation atomically the
  * moment its shard commit marker exists. A 100 TB corpus growing
  * ~0.1%/day runs exactly this shape: the day's vectors stream in,
  * index maintenance stays O(delta) (SCALING.md: 7× cheaper than a warm
  * rebuild at the 100× fixture), and serving never stops or reloads.
  *
  * Delivery semantics: with a `checkpointLocation` over a replayable
  * source this is at-least-once — a crash between the shard commit and
  * the checkpoint commit replays the batch into a SECOND shard with the
  * same rows. That is safe by construction: the query path dedups
  * (query_id, neighbor_id) candidates, and a replayed vector is
  * bit-identical, so observable results are exactly-once. (The torn
  * opposite — a crash before the commit marker — leaves files no query
  * reads, cleaned by the next append's claim protocol.)
  *
  * Batches are appended SERIALLY (one foreachBatch at a time per query),
  * so the single-writer guidance for object stores without conditional
  * creates is satisfied by deploying one ingest stream per index — and
  * the same serialization makes in-loop COMPACTION safe: maintenance
  * never races an append because both run inside the one foreachBatch
  * thread. */
object IndexIngestJob {

  /** `vectors`: a streaming frame carrying `idCol` and `vecCol` (the
    * same column contract as the batch append). Empty micro-batches are
    * skipped — an empty shard would burn an id and a listing entry per
    * idle trigger. `onShard(batchId, shardId)` is the observability
    * hook (tests, metrics).
    *
    * `compactAfterShards` > 0 makes the index SELF-MAINTAINING: when the
    * committed shard count exceeds the budget after an append, the batch
    * runs [[graft.operators.Ann.compactIvfIndex]] with `retainSuperseded
    * = true` — the pointer flips to the folded generation with zero
    * reader blip, external queries planned against the old one finish
    * their scans — and the SWEEP of the superseded generation is
    * deferred to the start of the NEXT micro-batch (one trigger interval
    * bounds the reader drain, the same contract a serving loop's batch
    * boundary gives [[graft.operators.Ann.sweepIvfIndex]]). A crash
    * between compact and sweep just leaves the stale generation for the
    * restarted stream's first batch to sweep — the startup sweep also
    * clears leftovers, so restarts self-heal.
    *
    * Deploy-before-build: a stream started against a dir whose
    * `buildIvfIndex` has not run yet idles harmlessly on empty triggers
    * (the startup-sweep probe tolerates the missing index), but a batch
    * CARRYING VECTORS fails the stream loudly — appending to a
    * nonexistent index has no correct meaning, and silently dropping the
    * rows would lose data. The failure is the safe kind: the checkpoint
    * never committed the batch, so restarting after the build replays it
    * and the vectors land (spec-pinned) — the same at-least-once
    * machinery that covers the crash window covers the deploy race. Without the budget (the
    * default 0) a year of daily appends costs queries ~40% extra wall in
    * pure listing/open overhead (SCALING.md §round-11-compaction);
    * with it the read cost is bounded by construction. */
  def start(vectors: DataFrame, idCol: String, vecCol: String, dir: String,
            trigger: Trigger = Trigger.AvailableNow(),
            checkpointLocation: Option[String] = None,
            onShard: (Long, Int) => Unit = (_, _) => (),
            compactAfterShards: Int = 0,
            onCompact: Long => Unit = _ => (),
            compactBaseRatio: Double = 0.0,
            maxLiveGens: Int = 8): StreamingQuery = {
    val base = vectors.writeStream.outputMode("append")
    checkpointLocation.foreach(base.option("checkpointLocation", _))
    // the shared serial-loop maintenance scaffolding ([[MaintenanceCycle]]):
    // compact-on-budget with the sweep deferred one trigger interval.
    // `compactBaseRatio` > 0 switches the budgeted fire to TIERED
    // compaction ([[graft.operators.Ann.compactIvfIndexTiered]]) — the
    // base ≫ batch deployment shape, where a flat compact would rewrite
    // the whole corpus every `compactAfterShards` appends (quadratic
    // lifetime write volume); tiered fires cost O(appends since the last
    // fire) and rewrite the base only geometrically. The default 0 keeps
    // the flat compact — correct while base ≈ batches, and what every
    // pre-r13 deployment ran.
    val cycle = new MaintenanceCycle(compactAfterShards,
      maintain = (spark, batchId) => {
        if (compactBaseRatio > 0.0)
          Ann.compactIvfIndexTiered(spark, dir, compactBaseRatio,
            maxLiveGens, retainSuperseded = true)
        else
          Ann.compactIvfIndex(spark, dir, retainSuperseded = true)
        onCompact(batchId)
      },
      sweep = spark => {
        // an index that has not been built yet must idle harmlessly (a
        // resolve here would throw and kill the stream on its very
        // first — possibly empty — trigger)
        if (Ann.ivfPointerExists(spark, dir)) {
          Ann.sweepIvfIndex(spark, dir)
          ()
        }
      })
    base
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        cycle.beforeBatch(spark)
        if (!batch.isEmpty) {
          // the counted variant returns the post-append committed total
          // off the metadata the append already read — no second
          // resolve + listing per trigger
          val (sid, nShards) =
            Ann.appendIvfShardWithCount(batch, idCol, vecCol, dir)
          onShard(batchId, sid)
          cycle.afterBatch(spark, batchId)(nShards)
        }
        ()
      }
      .trigger(trigger)
      .start()
  }
}
