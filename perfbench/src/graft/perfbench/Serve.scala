package graft.perfbench

import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import graft.jobs.{RecommenderModel, ServeJob}

/** The event-triggered plane: one `ServeJob.startSwappable` deployment fed
  * through a MemoryStream by an open-loop scheduler. Each event is one
  * `addData` call, so its MemoryStream offset identifies it; the offsets in
  * `StreamingQueryProgress` say which micro-batch consumed it, and the
  * `kv_write` stage timer marks when that batch's KV values were written. */
object Serve {

  /** The input tables as DataFrames read back from parquet. */
  final case class Frames(book: DataFrame, tag: DataFrame, bookTag: DataFrame,
                          collect: DataFrame)

  /** One deployment's set-up walls. */
  final case class SetupWalls(loadS: Double, startS: Double) {
    def total: Double = loadS + startS
  }

  /** What the stage timers saw for one micro-batch: stage walls, when it
    * started and ended, its KV puts and when the last one landed. */
  final class BatchRec {
    var localizeS, recommendS, kvWriteS = 0.0
    var startNs, endNs, lastPutNs, puts = 0L
  }

  final case class Progress(batchId: Long, start: Long, end: Long, rows: Long,
                            planningS: Double, commitS: Double)

  /** One sent event: its offset, due and actual send times, user, phase. */
  final case class Sent(offset: Long, dueNs: Long, sentNs: Long,
                        users: Seq[Long], phase: String)

  /** A consumed batch joined with its progress report. */
  final case class Batch(rec: BatchRec, p: Progress)

  final class Deployment(q: StreamingQuery, stream: MemoryStream[String],
                         val fitted: RecommenderModel.Fitted, val walls: SetupWalls, recs: mutable.ArrayBuffer[BatchRec],
                         progress: mutable.ArrayBuffer[Progress],
                         listener: StreamingQueryListener) {
    private val sent = mutable.ArrayBuffer.empty[Sent]

    def stop(): Unit = {
      q.stop()
      q.sparkSession.streams.removeListener(listener)
    }

    /** Send `events` as one addData call, due at `dueNs`. */
    def send(events: Seq[Gen.Event], dueNs: Long, phase: String): Unit = {
      val off = stream.addData(events.map(_.json)).json.toLong
      sent += Sent(off, dueNs, System.nanoTime(), events.map(_.userId), phase)
    }

    def drain(): Unit = q.processAllAvailable()

    def sentEvents: Seq[Sent] = sent.toSeq

    /** Batches in order, each joined to its progress report. Call after
      * [[drain]] and a listener-bus drain. */
    def batches(): Seq[Batch] = {
      val ps = progress.synchronized(progress.toList)
        .filter(_.rows > 0).groupBy(_.batchId).map(_._2.head).toSeq
        .sortBy(_.batchId)
      val rs = recs.synchronized(recs.toList)
      require(ps.size == rs.size,
        s"${rs.size} KV writes but ${ps.size} progress reports")
      rs.zip(ps).map { case (r, p) => Batch(r, p) }
    }
  }

  /** Each batch with the sent events it consumed, by MemoryStream offset. */
  def consumed(batches: Seq[Batch], sent: Seq[Sent]): Seq[(Batch, Seq[Sent])] =
    batches.map(b => b -> sent.filter(ev => b.p.start < ev.offset && ev.offset <= b.p.end))

  /** The batch that consumed each sent event, by offset. */
  def batchOf(batches: Seq[Batch], sent: Seq[Sent]): Map[Long, Batch] =
    consumed(batches, sent).flatMap { case (b, evs) => evs.map(_.offset -> b) }.toMap

  /** Save the fitted model and the collect snapshot where [[deploy]]
    * loads them from; returns the wall. */
  def save(fitted: RecommenderModel.Fitted, collect: DataFrame,
           modelDir: String): Double = {
    val t0 = System.nanoTime()
    RecommenderModel.save(fitted, modelDir)
    collect.write.mode("overwrite").parquet(s"$modelDir/collect")
    (System.nanoTime() - t0) / 1e9
  }

  /** load → startSwappable, each timed: what a serving process does when
    * it starts from a saved model. */
  def deploy(spark: SparkSession, modelDir: String, dir: String,
             filterCollected: Boolean): Deployment = {
    val t1 = System.nanoTime()
    val fitted = RecommenderModel.load(spark, modelDir)
    val collect = spark.read.parquet(s"$modelDir/collect")
    val t2 = System.nanoTime()

    import spark.implicits._
    implicit val sqlCtx: SQLContext = spark.sqlContext
    // a fixed partition count per batch, as a partitioned log source gives;
    // without it every addData call (one per event) becomes a partition
    val stream = MemoryStream[String](spark.sparkContext.defaultParallelism)
    val recs = mutable.ArrayBuffer.empty[BatchRec]
    val progress = mutable.ArrayBuffer.empty[Progress]
    // stage timers fire on the stream thread, one batch at a time
    var cur = new BatchRec
    var putsBefore = 0L
    val stageTimer: (String, Double) => Unit = (stage, s) => stage match {
      case "localize_batch" =>
        cur.startNs = System.nanoTime() - (s * 1e9).toLong
        cur.localizeS = s
        putsBefore = TimingKV.puts.get
      case "recommend" => cur.recommendS = s
      case "kv_write" =>
        cur.kvWriteS = s
        cur.endNs = System.nanoTime()
        cur.lastPutNs = TimingKV.lastPutNs.get
        cur.puts = TimingKV.puts.get - putsBefore
        recs.synchronized(recs += cur)
        cur = new BatchRec
      case _ => ()
    }
    val (q, _) = ServeJob.startSwappable(stream.toDF(), fitted, collect,
      new TimingKV, filterCollected = filterCollected,
      trigger = Trigger.ProcessingTime(0L),
      checkpointLocation = Some(s"$dir/checkpoint"), stageTimer = stageTimer)
    val t3 = System.nanoTime()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.id == q.id && p.sources.nonEmpty) {
          def off(s: String): Long =
            if (s == null || s == "null") -1L else s.trim.toLong
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
          progress.synchronized(progress += Progress(p.batchId,
            off(p.sources(0).startOffset), off(p.sources(0).endOffset),
            p.numInputRows, d.getOrElse("queryPlanning", 0L) / 1e3,
            (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)) / 1e3))
        }
      }
    }
    spark.streams.addListener(listener)
    new Deployment(q, stream, fitted, SetupWalls((t2 - t1) / 1e9, (t3 - t2) / 1e9),
      recs, progress, listener)
  }

  /** Open loop: `rate * seconds` events, event i due at the start + i/rate
    * and timed from its due time, however late the scheduler sends it. The
    * phase never waits for the stream; the stream drains after it. */
  def phase(d: Deployment, name: String, rate: Double, seconds: Double,
            gen: Gen.Events): Unit = {
    val events = gen.take(math.max(1, math.round(rate * seconds).toInt))
    val start = System.nanoTime() + 20000000L
    var i = 0
    while (i < events.length) {
      val due = start + (i * 1e9 / rate).toLong
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      d.send(Seq(events(i)), due, name)
      i += 1
    }
    d.drain()
  }

  /** A standing backlog of `n` events drained as fast as the job can. */
  def backlog(d: Deployment, n: Int, gen: Gen.Events, name: String): Unit = {
    val events = gen.take(n)
    d.send(events.toSeq, System.nanoTime(), name)
    d.drain()
  }
}
