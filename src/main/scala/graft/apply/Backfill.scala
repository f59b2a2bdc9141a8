package graft.apply

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.lake.{LakeTable, LineageEntry, Snapshot}
import graft.model.{Op, Schemas}

/** Concurrent chunked snapshot/backfill — the reference's headline T7
  * capability (DBLog-style): load an existing source table chunk by chunk
  * WHILE the live change stream keeps applying, without losing or
  * duplicating a single key.
  *
  * The reference needs low/high watermarks per chunk plus a WAL-side
  * eviction set (reference: src/engine/snapshot/worker.rs:353-503,
  * src/engine/snapshot/active_chunks.rs:74-330, and the should_emit filter
  * in src/control/state.rs:375-395) because its sinks apply chunk rows as
  * plain upserts. Our lake MERGE already carries a per-row `_lsn` guard, so
  * the whole reconciliation collapses to one rule:
  *
  *   a chunk's rows merge with `lsn = LW` — the stream position already
  *   applied when the chunk select started — and win LSN ties.
  *
  * Why that is sufficient:
  *   - the chunk select sees the source at a position ≥ LW, so a chunk row
  *     dominates any target row with `_lsn ≤ LW` (hence tie-wins), and is
  *     dominated by any stream event with `lsn > LW` (the normal per-key
  *     guard) — exactly the reference's finished-chunk dedup;
  *   - a key deleted before LW is simply absent from the chunk and its
  *     tombstone survives; a delete still in flight (lsn > LW) arrives later
  *     and wins;
  *   - replaying a chunk after a crash is idempotent (same LW, same rows).
  *
  * Chunk progress is committed in the snapshot (`backfillDone`), so a
  * restarted engine resumes from the next chunk — the Spark analog of the
  * reference's chunk-state store (src/control/state.rs:200-310).
  */
object Backfill {

  /** A source that can be re-read chunk by chunk while the stream runs —
    * the engine-facing abstraction of the reference's snapshot reader
    * (reference: src/engine/snapshot/worker.rs:52-116). `chunkRows` must
    * return the CURRENT full rows of chunk `i`, reflecting every source
    * change up to at least the stream position `lwLsn` passed in.
    */
  trait ChunkSource extends Serializable {
    def numChunks: Int
    def chunkRows(spark: SparkSession, chunk: Int, lwLsn: Long): DataFrame
  }

  /** Plan contiguous key-range chunks from a SAMPLE of the distinct keys —
    * the Spark analog of the reference chunker's estimate-based planning
    * (reference: src/engine/snapshot/chunker.rs:83-148, which sizes chunks
    * from reltuples estimates, not an exact global sort). A deterministic
    * hash filter (`xxhash64(key, seed) % rate == 0`) picks ~samplesPerChunk
    * keys per chunk fully in parallel — no global Window, no
    * single-partition sort (round 2's scale-killer: `Window.orderBy` with
    * no partitionBy moved EVERY distinct key to one task). Only the sample
    * (≤ ~2 × numChunks × samplesPerChunk keys) is collected and sorted
    * driver-side; boundaries are its quantiles. Chunk i covers
    * [boundaries(i-1), boundaries(i)), open at the ends; sampled boundaries
    * make chunks approximately equal, which is all the reference guarantees
    * too.
    *
    * May return fewer than numChunks-1 boundaries (few/duplicate keys):
    * trailing chunk indexes are then empty — [[chunkPredicate]] yields
    * `false` for them and the backfill cursor fast-forwards through them.
    */
  def planChunkBounds(
      keys: DataFrame, keyCol: String, numChunks: Int,
      samplesPerChunk: Int = 200): Seq[String] = {
    if (numChunks <= 1) return Seq.empty
    // Persisted for the plan's duration: the count (to pick the sample
    // rate) and the sample collect are two actions over the same distinct,
    // and without the persist each pays the full distinct shuffle over the
    // source key set — at scale the single most expensive pass of the plan,
    // run twice (round-7 profile). MEMORY_AND_DISK: spilling the key set
    // is strictly cheaper than recomputing its shuffle.
    val distinct = keys.select(col(keyCol)).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = distinct.count()
      if (n == 0) return Seq.empty
      val target = numChunks.toLong * samplesPerChunk
      val rate = math.max(1L, n / target)
      val sampled =
        if (rate <= 1L) distinct
        else distinct.filter(
          pmod(xxhash64(col(keyCol), lit(42L)), lit(rate)) === 0)
      val sample = sampled.collect().map(_.getString(0)).sorted
      if (sample.isEmpty) return Seq.empty
      (1 until numChunks)
        .map(i => sample((i.toLong * sample.length / numChunks).toInt))
        .distinct
        .filterNot(_ == sample.head) // a boundary at the min key adds nothing
    } finally {
      distinct.unpersist()
      ()
    }
  }

  /** The predicate selecting chunk `i` of the plan. Indexes past the last
    * planned boundary select nothing (the plan produced fewer real chunks
    * than requested).
    */
  def chunkPredicate(bounds: Seq[String], keyCol: String, i: Int) = {
    if (i > bounds.length) lit(false)
    else {
      val lo = if (i == 0) None else Some(bounds(i - 1))
      val hi = if (i >= bounds.length) None else Some(bounds(i))
      (lo.map(col(keyCol) >= _) ++ hi.map(col(keyCol) < _))
        .reduceOption(_ && _).getOrElse(lit(true))
    }
  }

  /** Apply one chunk of full source rows under low-watermark `lwLsn` (the
    * lake's applied stream position when the select began). Advances
    * `backfillDone`; does NOT advance the stream position or batch id.
    */
  def applyChunk(
      spark: SparkSession,
      lake: LakeTable,
      chunkRows: DataFrame,
      lwLsn: Long): Snapshot = {
    val t0 = System.currentTimeMillis()
    val snap = lake.snapshot()
    val payload = Schemas.payloadCols(snap.schema)
    // shape like a LWW-reduced batch: full rows, every column carried.
    // Persisted for the commit's duration: the chunk fold (a source select
    // + LWW reduce) would otherwise run TWICE — once under the touched-
    // bucket pre-scan and again under the merge write (round-7 profile:
    // two full chunk folds per chunk commit). Bounded by chunk size — the
    // chunker's job is exactly to keep this small.
    val ups = chunkRows
      .select((Schemas.keys ++ payload).map(c =>
        col(c).cast(snap.schema(c).dataType).as(c)): _*)
      .withColumn("lsn", lit(lwLsn))
      .withColumn("op", lit(Op.Insert))
      .select(
        (Schemas.keys ++ Seq("lsn", "op") ++ payload).map(col) ++
          payload.map(c => lit(true).as(s"${c}__carried")): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = ups
        .select(collect_set(lake.bucketExpr(snap.numBuckets)).as("b"))
        .head().getSeq[Int](0).toSet
      if (touched.isEmpty)
        return lake.commitBackfillProgress(snap, snap.backfillDone + 1)
      val (result, obs) = MergeApply.mergeRows(spark, lake, snap, ups, touched,
        snap.schema, payload, chunkTieWins = true)
      lake.commitRewrite(spark, snap, touched, result,
        batchId = snap.batchId,     // chunk commits don't consume batch ids
        endLsn = -1L,               // ...nor advance the stream position
        lineage = LineageEntry(snap.batchId, lwLsn, lwLsn, 0, 0, 0, 0, Map.empty),
        backfillDone = Some(snap.backfillDone + 1),
        lineageFn = Some { () =>
          val m = obs.get
          LineageEntry(snap.batchId, lwLsn, lwLsn,
            m("ins").asInstanceOf[Long], m("upd").asInstanceOf[Long],
            m("del").asInstanceOf[Long],
            System.currentTimeMillis() - t0, Map.empty)
        })
    } finally {
      ups.unpersist()
      ()
    }
  }

  /** Run the next pending chunk, if any. Returns true if a chunk ran.
    * Called between micro-batches by the pipeline — the Spark collapse of
    * the reference's interleaved snapshot/stream scheduling
    * (src/engine/mod.rs:199-254).
    */
  def step(spark: SparkSession, lake: LakeTable, src: ChunkSource): Boolean = {
    val snap = lake.snapshot()
    val next = snap.backfillDone
    if (next >= src.numChunks) return false
    val lw = snap.endLsn
    applyChunk(spark, lake, src.chunkRows(spark, next, lw), lw)
    true
  }
}
