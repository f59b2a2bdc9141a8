package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.apply.Backfill
import graft.dedup.IntervalDedup
import graft.lake.LakeTable
import graft.sink.{Maintenance, MergeSink, RawAppendSink, Sink}

/** Wiring of the end-to-end streaming pipeline — the Spark collapse of the
  * reference's engine run loop (reference: src/engine/mod.rs:108-288):
  *
  *   binlog segments → per micro-batch, persisted once { sink.applyBatch:
  *     reconcile → LWW → COW MERGE → lineage commit, then the sink's
  *     backfill/maintenance extras }
  *
  * Exactly-once: Structured Streaming WALs source offsets before running a
  * batch (`checkpointLocation`), and the batchId-guarded lineage commit makes
  * a replayed batch a no-op — the Spark form of the reference's
  * checkpoint-before-ack invariant (src/engine/replication/postgres.rs:86-125)
  * plus idempotent LWW MERGE (docs/architecture.md "effectively-once").
  * Redelivered events need no carried dedup state on the merge path: the
  * apply's `lsn > endLsn` guard (the reference's should_emit) drops them.
  *
  * Pause/resume/drain (reference control plane, src/control/mod.rs:19-32)
  * map to `query.stop()` + restart against the same checkpoint, and
  * `Trigger.AvailableNow` as drain.
  */
object Pipeline {

  /** Effectively-once across a fresh checkpoint over a non-empty sink
    * (a lost or deleted checkpoint, or a raw sink's dedup-state rebase):
    * batch ids restart at 0 on a fresh checkpoint, but the sink's batchId
    * guard (A8) treats any id at or below the stored one as a replay — so
    * a fresh checkpoint against a non-empty lake would silently swallow
    * the first N real batches. Fix: at a checkpoint's FIRST start, persist
    * (inside the checkpoint dir) the offset between this checkpoint's batch
    * ids and the sink's highest committed id; every apply then uses
    * `streamingBatchId + offset`. Same-checkpoint restarts re-read the
    * stored offset, so replays keep their effective id and stay no-ops;
    * a fresh checkpoint over a fresh sink gets offset 0 (unchanged
    * behavior); only a fresh checkpoint over a non-empty sink shifts.
    * Pre-existing checkpoints without the file resume at offset 0 (their
    * ids already line up).
    */
  private[graft] def batchIdOffset(
      spark: SparkSession, checkpointDir: String,
      committedBatchId: Long): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(checkpointDir)
    val fs = dir.getFileSystem(conf)
    val f = new org.apache.hadoop.fs.Path(dir, "graft-batchid-offset")
    def readOffset(): Long = {
      val in = fs.open(f)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      // recomputing on parse failure would be WRONG (the fresh-checkpoint
      // heuristic no longer holds once batches committed under this
      // offset), so fail with the remedy instead of a bare NumberFormat
      try text.toLong
      catch {
        case _: NumberFormatException => throw new IllegalStateException(
          s"corrupt batch-id offset file $f (content '$text'): restore it " +
            "to the original offset, or rebase onto a fresh checkpoint")
      }
    }
    if (fs.exists(f)) readOffset()
    else {
      val offsetsDir = new org.apache.hadoop.fs.Path(dir, "offsets")
      val freshCheckpoint =
        !fs.exists(offsetsDir) || fs.listStatus(offsetsDir).isEmpty
      val off = if (freshCheckpoint) math.max(0L, committedBatchId + 1) else 0L
      fs.mkdirs(dir)
      // tmp + no-overwrite rename: a crash between create and write must
      // not leave an empty offset file that bricks every later start
      val tmp = new org.apache.hadoop.fs.Path(dir,
        s".tmp-batchid-${java.util.UUID.randomUUID().toString.take(8)}")
      val o = fs.create(tmp, true)
      try o.write(off.toString.getBytes("UTF-8")) finally o.close()
      if (new graft.lake.AtomicFs(fs, conf).renameNoOverwrite(tmp, f)) off
      else readOffset() // lost the publish race: the winner's value rules
    }
  }

  /** A checkpoint written while the stateful dedup stage ran in front of a
    * merge sink cannot resume without the stage: Spark refuses a query
    * whose stateful operators differ from the checkpoint's
    * (STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA). Fail
    * before the start with the remedy instead.
    */
  private def refuseDedupState(spark: SparkSession, checkpointDir: String): Unit = {
    val state = new org.apache.hadoop.fs.Path(checkpointDir, "state")
    if (state.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(state))
      throw new IllegalStateException(
        s"checkpoint $checkpointDir holds dedup state: it was written by a " +
          "query that ran the stateful dedup stage in front of this sink, " +
          "and Spark cannot resume it without that stage. Rebase it: delete " +
          "the checkpoint and keep the lake (CdcRunner --rebase-checkpoint); " +
          "the lake's lsn guard and the batch-id offset absorb the replay")
  }

  /** Start the CDC query over a binlog segment directory into any
    * [[graft.sink.Sink]] — the one query builder every entry point uses
    * (reference: one batching loop handing every flush to one sink,
    * src/pipeline/mod.rs:57-127):
    *
    *   file source(sink.inputSchema) [→ IntervalDedup, raw sinks only]
    *   → observe(max ts) → per micro-batch { persist;
    *     sink.applyBatch(batchId + offset); unpersist }
    *
    * Each micro-batch executes once: the batch is persisted around the
    * sink's apply, so the apply's several actions (the merge's pre-scan
    * and its write, the multi-table fan-out) read the cache instead of
    * re-running the source scan.
    *
    * Transport dedup is a property of the sink. A [[RawAppendSink]] stores
    * events verbatim, so its raw log needs each lsn once and keeps the
    * stateful [[graft.dedup.IntervalDedup]] stage. Merge sinks carry no
    * dedup state: inside a batch the LWW reduce collapses duplicates (same
    * lsn, same row), and across batches the apply's `lsn > endLsn` guard
    * drops every redelivered event. A merge sink's checkpoint that still
    * holds dedup state (written by a build that ran the stage in front of
    * every sink) is refused with the rebase remedy.
    *
    * Sink errors propagate — the query fails loudly, the offset WAL is not
    * advanced past the failed batch, and a restart replays it exactly
    * (reference invariant src/pipeline/mod.rs:169-185).
    *
    * @param maxFilesPerTrigger micro-batch admission control — the analog of
    *   the reference's FLUSH_SIZE batching (default 10,000 rows / 5,000 ms).
    * @param availableNow true = drain all available segments then stop
    *   (tests/bench); false = continuous 5s trigger (the daemon shape).
    * @param applyShufflePartitions when set, `spark.sql.shuffle.partitions`
    *   is switched to this value inside each micro-batch, before the apply plan
    *   is built. This decouples the two partition-count decisions a real
    *   deployment makes independently: a raw sink's dedup state-store
    *   partition count is locked into the checkpoint at query start (Spark
    *   records it in the offset log; it cannot follow cluster resizes), so
    *   it is sized once for the query's lifetime from the session conf —
    *   while the per-batch MERGE jobs should track the CURRENT executor
    *   count. Without this, growing the cluster N→4N either leaves the
    *   merge under-partitioned or is impossible without a new checkpoint.
    * @param dedupShift raw sinks only: lsns per dedup bucket = 2^shift.
    *   Measured guidance (BENCH.md round 6): under the adaptive
    *   sparse/dense container, total state is ~range/8 bytes at ANY shift,
    *   so the shift is a state-row-count/parallelism knob only.
    *   Checkpoint-locked like the state partition count: resuming under a
    *   different shift fails loudly.
    */
  def startQuery(
      spark: SparkSession,
      binlogDir: String,
      sink: Sink,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1,
      availableNow: Boolean = true,
      applyShufflePartitions: Option[Int] = None,
      dedupShift: Int = IntervalDedup.DefaultShift): StreamingQuery = {
    graft.model.SessionTuning.tune(spark) // engine entry point: own session tuning
    val src = spark.readStream
      .schema(sink.inputSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(binlogDir)
    val input = sink match {
      case _: RawAppendSink => IntervalDedup.stage(src, dedupShift)
      case _ =>
        refuseDedupState(spark, checkpointDir)
        src
    }
    val idOff = batchIdOffset(spark, checkpointDir, sink.lastBatchId(spark))
    input
      // per-batch max event time via CollectMetrics: feeds the A9 lag metric
      .observe("graft_event_time", max(col("ts")).as("max_ts"))
      .writeStream
      .queryName("graft-cdc")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ss = batch.sparkSession
        applyShufflePartitions.foreach(n =>
          ss.conf.set("spark.sql.shuffle.partitions", n.toString))
        val cached = batch.persist(StorageLevel.MEMORY_AND_DISK)
        try sink.applyBatch(ss, cached, batchId + idOff)
        finally { cached.unpersist(); () }
      }
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime("5 seconds"))
      .start()
  }

  /** [[startQuery]] into one lake through a [[MergeSink]] carrying the
    * interleaved backfill (`chunkSource`, `chunksPerBatch`, `backfillGate`)
    * and inline `maintenance`.
    */
  def start(
      spark: SparkSession,
      binlogDir: String,
      lake: LakeTable,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1,
      availableNow: Boolean = true,
      chunkSource: Option[Backfill.ChunkSource] = None,
      chunksPerBatch: Int = 1,
      applyShufflePartitions: Option[Int] = None,
      backfillGate: () => Boolean = () => true,
      maintenance: Option[Maintenance] = None): StreamingQuery =
    startQuery(spark, binlogDir,
      MergeSink(lake, chunkSource, chunksPerBatch, backfillGate, maintenance),
      checkpointDir, maxFilesPerTrigger, availableNow, applyShufflePartitions)

  /** Run to completion over currently-available segments (drain). When a
    * `chunkSource` is given, any backfill chunks still pending after the
    * stream drains are completed before returning.
    */
  def runAvailable(
      spark: SparkSession,
      binlogDir: String,
      lake: LakeTable,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1,
      chunkSource: Option[Backfill.ChunkSource] = None,
      chunksPerBatch: Int = 1,
      applyShufflePartitions: Option[Int] = None,
      backfillGate: () => Boolean = () => true,
      maintenance: Option[Maintenance] = None): Unit = {
    val sink = MergeSink(lake, chunkSource, chunksPerBatch, backfillGate,
      maintenance)
    startQuery(spark, binlogDir, sink, checkpointDir, maxFilesPerTrigger,
      availableNow = true,
      applyShufflePartitions = applyShufflePartitions).awaitTermination()
    sink.finishBackfill(spark)
  }
}
