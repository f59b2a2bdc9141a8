package graft.control

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.lake.LakeTable
import graft.pipeline.Pipeline
import graft.sink.{MergeSink, MultiSink, Sink}

/** Point-in-time engine status — the payload of the reference's HTTP
  * status/metrics endpoints (reference: src/control/handlers.rs:103-312),
  * assembled from snapshot metadata only (no Spark jobs: row counts come
  * from the snapshot's cumulative per-bucket counters).
  */
case class ControlStatus(
    running: Boolean,
    snapshotVersion: Long,
    batchId: Long,
    endLsn: Long,
    schemaVersion: Int,
    backfillDone: Int,
    rowCount: Long, // incl. tombstones (A3 estimate)
    lastBatchWallMs: Long,
    lastBatchSkippedEvolutions: Long, // full history: lake.lineageDf
    // A9 rate/lag (reference metrics_sampler.rs:1-67): last batch's
    // events/sec and event-time lag; -1/-1 before any progress
    eventsPerSec: Double = -1.0,
    lagMs: Long = -1L,
    // backfill progress detail (reference per-table snapshot progress,
    // handlers.rs:255-291): total planned chunks, -1 = no chunk source
    backfillTotal: Int = -1,
    // snapshot gate (reference snapshot_pause, handlers.rs:233-253):
    // true = backfill chunks held while the CDC stream keeps flowing
    snapshotPaused: Boolean = false,
    // reference state_str/stage_str (handlers.rs:314-331): state is the
    // engine lifecycle (running/paused/draining), stage says whether a
    // snapshot (backfill) is still interleaving with the cdc stream
    state: String = "paused",
    stage: String = "cdc",
    // multi-table deployments: one row per destination lake (reference
    // per-table progress, handlers.rs:255-291); empty for single-table
    tables: Seq[TableStatus] = Seq.empty)

/** Per-destination-table status row (multi-table deployments). */
case class TableStatus(
    name: String,
    snapshotVersion: Long,
    batchId: Long,
    endLsn: Long,
    schemaVersion: Int,
    rowCount: Long,
    lastBatchWallMs: Long)

/** The verb surface [[HttpControl]] serves — implemented by [[Control]]. */
trait EngineControl {
  def status(): ControlStatus
  def metrics: MetricsSampler
  def isRunning: Boolean
  // lock-free (volatile) so the HTTP facade can turn a verb that would
  // block on the drain-held control lock into an immediate 409
  def isDraining: Boolean
  def pause(): Unit
  def resume(): Unit
  def drain(): Unit
  def stop(): Unit
  def reload(newMaxFilesPerTrigger: Option[Int] = None): Unit
  def triggerSnapshotIfPaused(): Boolean
  def pauseSnapshot(): Unit
  def resumeSnapshot(): Unit
  def close(): Unit
}

/** The engine control plane: pause / resume / drain / stop / status plus
  * the on-demand snapshot trigger — the Spark collapse of the reference's
  * axum control server (reference: src/control/mod.rs:19-32,
  * src/control/handlers.rs:103-291). Pause/resume map to stopping and
  * restarting the streaming query against the SAME checkpoint (Structured
  * Streaming's offset WAL makes the restart exactly-once); drain runs
  * Trigger.AvailableNow to the end of the available log and returns.
  *
  * One class over one lake ([[MergeSink]]) or many ([[MultiSink]]): one
  * streaming query feeds the sink, so every verb acts on the whole table
  * set at once, exactly like the reference daemon's single control loop
  * over its table list. Status aggregates take the conservative view
  * across lakes — `batchId`/`endLsn` are the MIN (a batch is only "done"
  * once every table committed it), `rowCount` the sum — and a multi-table
  * sink adds one `tables` row per lake (reference per-table progress,
  * handlers.rs:255-291). For one lake the aggregates are that lake's
  * values.
  *
  * The backfill verbs (snapshot trigger, snapshot pause/resume) need a
  * MergeSink with a chunk source and fail loudly without one.
  *
  * The checkpoint holds source offsets only: lake sinks run without the
  * stateful dedup stage ([[Pipeline.startQuery]]), so there is no dedup
  * state to size or retire.
  *
  * Single-controller assumption, like the reference daemon's one control
  * loop; methods are synchronized for in-process safety.
  */
final class Control(
    spark: SparkSession,
    binlogDir: String,
    sink: Sink,
    checkpointDir: String,
    maxFilesPerTrigger: Int = 1) extends EngineControl {

  // the lakes that hold the stream position, sorted by table name
  private val lakes: Seq[(String, LakeTable)] = sink match {
    case m: MergeSink => Seq(m.lake.root -> m.lake)
    case m: MultiSink => m.lakes.toSeq.sortBy(_._1)
    case other => throw new IllegalArgumentException(
      s"Control drives lake sinks (MergeSink, MultiSink), not $other")
  }
  private val perTable = sink.isInstanceOf[MultiSink]

  // @volatile so status()/isRunning never block on the control lock —
  // drain() holds it for the whole backlog, and the observability
  // endpoints must answer during exactly that window
  @volatile private var query: Option[StreamingQuery] = None

  // reloadable knobs (the reference's config-reload verb re-reads sync
  // settings without dropping replication state, handlers.rs:103-223);
  // applied at the next (re)start against the SAME checkpoint
  @volatile private var filesPerTrigger: Int = maxFilesPerTrigger

  // Snapshot gate (reference snapshot_pause/resume, handlers.rs:233-253):
  // consulted by the sink before EACH interleaved backfill chunk, so a
  // pause takes effect at the next chunk boundary while the CDC stream
  // keeps flowing — exactly the reference split between the replication
  // loop and the snapshot task. @volatile, not the control lock: the flag
  // is read from the streaming thread.
  @volatile private var snapshotPausedFlag: Boolean = false

  // the sink the query runs: a backfilling MergeSink gets the gate above
  private val (engineSink, backfill): (Sink, Option[MergeSink]) = sink match {
    case m: MergeSink if m.chunkSource.isDefined =>
      val gated = m.copy(backfillGate =
        () => !snapshotPausedFlag && m.backfillGate())
      (gated, Some(gated))
    case s => (s, None)
  }

  private def chunkSource = backfill.flatMap(_.chunkSource)

  private def requireBackfill(): MergeSink = backfill.getOrElse(
    throw new IllegalArgumentException("no chunk source configured"))

  def snapshotPaused: Boolean = snapshotPausedFlag

  /** Hold further backfill chunks (the stream keeps flowing). Idempotent;
    * takes effect at the next chunk boundary within the current batch.
    */
  def pauseSnapshot(): Unit = { requireBackfill(); snapshotPausedFlag = true }

  /** Let backfill chunks interleave again. Idempotent. */
  def resumeSnapshot(): Unit = { requireBackfill(); snapshotPausedFlag = false }

  /** Per-batch rate/lag observations (A9), fed by the streaming listener
    * bus for this engine's query; [[metricsDf]] exposes the history, the
    * latest sample surfaces in [[status]].
    */
  val metrics = new MetricsSampler("graft-cdc")
  spark.streams.addListener(metrics)

  def metricsDf: org.apache.spark.sql.DataFrame = metrics.metricsDf(spark)

  def isRunning: Boolean = query.exists(_.isActive)

  private def startQuery(availableNow: Boolean): StreamingQuery =
    Pipeline.startQuery(spark, binlogDir, engineSink, checkpointDir,
      filesPerTrigger, availableNow = availableNow)

  /** Start (or resume after [[pause]]) continuous processing. */
  def resume(): Unit = synchronized {
    if (!isRunning) query = Some(startQuery(availableNow = false))
  }

  /** Config reload (reference handlers.rs:103-223): apply new settings and
    * restart the query against the SAME checkpoint — offsets and lake
    * position carry over; only the runtime knobs change. A
    * paused engine stays paused (the new config takes effect at the next
    * [[resume]]).
    */
  def reload(newMaxFilesPerTrigger: Option[Int] = None): Unit = synchronized {
    // validate BEFORE pausing: a bad knob must reject the reload, not
    // leave a running engine silently stopped
    newMaxFilesPerTrigger.foreach(n =>
      require(n > 0, s"maxFilesPerTrigger must be positive, got $n"))
    val wasRunning = isRunning
    pause()
    newMaxFilesPerTrigger.foreach(filesPerTrigger = _)
    if (wasRunning) resume()
  }

  /** Graceful pause: the in-flight micro-batch finishes and commits, then
    * the query stops. State (offsets + lake snapshot) stays consistent, so
    * [[resume]] continues exactly where it left off.
    */
  def pause(): Unit = synchronized {
    query.foreach(_.stop())
    query = None
  }

  // surfaced as status().state while drain() holds the control lock (the
  // status endpoint stays lock-free, so it must read a flag, not the lock)
  @volatile private var drainingFlag: Boolean = false

  def isDraining: Boolean = drainingFlag

  /** Drain: process everything currently in the log, then stop — distinct
    * from [[pause]], which stops at the next batch boundary regardless of
    * backlog. Completes any pending backfill chunks too.
    */
  def drain(): Unit = synchronized {
    pause()
    drainingFlag = true
    try {
      startQuery(availableNow = true).awaitTermination()
      backfill.foreach(_.finishBackfill(spark))
    } finally drainingFlag = false
  }

  def stop(): Unit = pause()

  /** On-demand snapshot trigger (T11, reference handlers.rs:103-180):
    * reset the backfill cursor so every chunk re-applies against the
    * CURRENT source state under the current stream position. Data-safe
    * against live rows because chunk rows merge LSN-guarded (tie-wins at
    * the chunk's low watermark) — a re-snapshot refreshes drifted rows and
    * never regresses newer ones. The query must be paused first, though:
    * this method commits a snapshot version from the control thread, and a
    * concurrently-committing micro-batch would race it for version N+1 —
    * the loser's IllegalStateException would kill whichever thread lost
    * (the same single-writer rule applies to `vacuum`/`compact`). Chunks
    * run interleaved once the stream resumes (or immediately via
    * [[drain]]).
    */
  def triggerSnapshot(): Unit = synchronized {
    val lake = requireBackfill().lake
    require(!isRunning,
      "pause() the stream before triggerSnapshot(): a control-thread commit" +
        " races the stream's own commits for the next snapshot version")
    val snap = lake.snapshot()
    if (snap.backfillDone != 0) lake.commitBackfillProgress(snap, 0)
  }

  /** Atomic paused-check + trigger for the HTTP facade: the handler's old
    * `if (isRunning) 409 else triggerSnapshot()` pair let a concurrent
    * POST /resume slip between check and trigger — holding the control
    * lock across both (resume() synchronizes on the same lock) closes
    * that window. Returns false (→ 409) when the stream is running.
    */
  def triggerSnapshotIfPaused(): Boolean = synchronized {
    requireBackfill() // no chunk source: loud even while running
    if (isRunning) false
    else { triggerSnapshot(); true }
  }

  def status(): ControlStatus = {
    val rows = lakes.map { case (name, lk) =>
      val s = lk.snapshot()
      (TableStatus(name, s.version, s.batchId, s.endLsn, s.schemaVersion,
        s.rowCount, s.lineage.map(_.wallMs).getOrElse(-1L)), s)
    }
    val snaps = rows.map(_._2)
    val backfillDone = snaps.map(_.backfillDone).max
    ControlStatus(
      running = isRunning,
      snapshotVersion = snaps.map(_.version).max,
      batchId = snaps.map(_.batchId).min,
      endLsn = snaps.map(_.endLsn).min,
      schemaVersion = snaps.map(_.schemaVersion).max,
      backfillDone = backfillDone,
      rowCount = snaps.map(_.rowCount).sum,
      lastBatchWallMs = rows.map(_._1.lastBatchWallMs).max,
      lastBatchSkippedEvolutions =
        snaps.map(_.lineage.map(_.skippedEvolutions).getOrElse(0L)).sum,
      eventsPerSec = metrics.latest.map(_.eventsPerSec).getOrElse(-1.0),
      lagMs = metrics.latest.map(_.lagMs).getOrElse(-1L),
      backfillTotal = chunkSource.map(_.numChunks).getOrElse(-1),
      snapshotPaused = snapshotPausedFlag,
      state = if (drainingFlag) "draining"
        else if (isRunning) "running" else "paused",
      stage = if (chunkSource.exists(_.numChunks > backfillDone))
        "snapshot" else "cdc",
      tables = if (perTable) rows.map(_._1) else Seq.empty)
  }

  /** Detach the metrics listener (call when discarding this Control). */
  def close(): Unit = spark.streams.removeListener(metrics)
}
