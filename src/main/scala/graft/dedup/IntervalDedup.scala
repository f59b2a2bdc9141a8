package graft.dedup

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Range-bucketed bitmap transport dedup — the scalable replacement for
  * Spark's per-key `lsn` dedup as the cross-batch at-least-once
  * collapse (reference contract: at-least-once delivery + idempotent MERGE
  * = effectively-once, docs/architecture.md; offset tracking
  * src/core/position.rs:6-26).
  *
  * Where it runs: only in front of a [[graft.sink.RawAppendSink]], whose
  * staged log stores events verbatim and so must hold each lsn once. The
  * merge sinks need no stage: their apply drops every event at or below
  * the lake's applied lsn, so a merge pipeline carries no dedup state.
  *
  * Why: keyed on raw `lsn`, Spark's dedup state holds ONE ROW PER EVENT
  * inside the watermark (~300 B/key in the HDFS-backed store — measured in
  * BENCH.md: 8M-key batches ≈ 2.6 GB of long-lived heap). At 10^10-event
  * scale that state is the pipeline's GC wall and the one stage that missed
  * the ≥0.8 N→4N bar in round 3.
  *
  * The fix exploits what a binlog/WAL offset IS: a strictly-increasing
  * integer confined, per time window, to a narrow moving range. Events are
  * grouped by lsn range-bucket (`lsn >>> shift`, default 2^14 lsns per
  * bucket) with `flatMapGroupsWithState`, and each bucket's seen-set is a
  * roaring-style ADAPTIVE CONTAINER over the bucket's 2^shift lsn slots
  * (see [[BucketState]]): a sorted slot array while sparse, a bitmap — a
  * fixed 2 KiB at the default shift — from the size crossover on. An
  * event is emitted iff its slot was unseen. State is exact for ARBITRARY
  * lsn distributions — dense runs, strided sequences (a
  * run-length/interval encoding degenerates to O(events) the moment lsns
  * have a stride > 1, e.g. this engine's even-data/odd-ddl convention, or
  * real WALs whose offsets advance by record bytes), and stray stragglers
  * far from the window (which cost ~8 B each, not a whole bucket):
  * O(lsn-range / 2^shift) total for dense traversal, ~0.13 B per possible
  * lsn, vs ~300 B per event. A 16M-event batch's state drops from ~5 GB
  * to a few MB.
  *
  * Semantics: an event is emitted iff its lsn was not seen before. State
  * uses NO timeout, deliberately:
  *   - An event-time timeout needs a watermark, and a watermark makes
  *     Spark DROP late input rows at this operator — measured here:
  *     segments delivered out of event-time order lost half their events
  *     to the late filter (the same trap Spark's watermarked dedup
  *     has — it eats genuinely-new late rows, not just duplicates). With
  *     no watermark, nothing is ever dropped for lateness.
  *   - A processing-time timeout makes `Trigger.AvailableNow` spin empty
  *     micro-batches until every timeout fires (measured: 1200+ batches) —
  *     `shouldRunAnotherBatch` is always true — breaking drain semantics.
  *   - And expiry is not needed at this state size: unlike the per-event
  *     hash state (which MUST expire or eat the cluster), bitmap state is
  *     bounded by lsn-range/8 bits over TOUCHED buckets — ≈1.2 GB
  *     cluster-total after 10^10 consecutive lsns, hash-spread over the
  *     state partitions, and far less when the range is sparse (only
  *     touched 2^shift-lsn windows pay their 2 KiB). A years-long stream
  *     that does outgrow this restarts the query on a fresh checkpoint:
  *     the replayed history is staged once more, and the normalize fold's
  *     per-event `lsn > endLsn` filter drops it again.
  *
  * Skew note: within one micro-batch, consecutive lsns land in few
  * buckets, but a 16M-event batch still spans ~10^3 buckets (shift 14)
  * hashed across all state partitions; per-group work is one linear pass
  * with O(1) bit tests — no sort, no allocation per event — so no
  * single-task hotspot forms. Group processing is append-mode
  * `flatMapGroupsWithState` — no watermark-delayed emission; deduped rows
  * reach `foreachBatch` in the same trigger.
  */
object IntervalDedup {

  /** 2^14 lsns per bucket = a 2 KiB bitmap per touched bucket; one
    * micro-batch spreads over ~10^3 buckets for parallelism.
    */
  val DefaultShift = 14

  /** Per-bucket seen-set over the bucket's `[key << shift,
    * (key+1) << shift)` lsn range, in one of two roaring-style container
    * encodings:
    *
    *   - dense: `words.length == nWords` — the fixed bitmap, one bit per
    *     lsn slot (the writer's form from the size crossover on).
    *   - sparse (self-describing): 1-3 leading `-shift`
    *     SENTINELS (slot values are non-negative, so the sign
    *     discriminates) followed by the strictly-increasing SET SLOT
    *     VALUES. The sentinel count pads the TOTAL length to a
    *     non-power-of-two, so a sparse container can never equal ANY
    *     shift's dense length (every nWords is a power of two) — without
    *     the padding, a shift-14 sparse array of length 16 resumed at
    *     shift 10 would be misread as that shift's dense bitmap. Used
    *     while still strictly shorter than the bitmap. The embedded shift
    *     makes a different-shift resume LOUD deterministically (a
    *     sentinel-less array from another shift whose slots all fit this
    *     shift's range would decode silently and mis-map lsns, so every
    *     sparse container must carry the sentinel).
    *
    * Why sparse at all: measured in BENCH.md round 6, stray lsns far from
    * the dense WAL window (long-lived transactions, hot-key tails) each
    * paid a whole 2^shift/8-byte bitmap — 2 KiB per stray at shift 14,
    * 128 KiB at shift 20 (~10× the total state on the stride-64
    * workload). With the adaptive container a stray bucket costs ~8 bytes
    * + row overhead at ANY shift, and a bucket promotes to the bitmap
    * precisely when the bitmap becomes the no-larger encoding. Demotion
    * never happens (bits are never cleared). Dense-range state is
    * unchanged: steady-traversal buckets cross the threshold in their
    * first or second batch and live as bitmaps exactly as before.
    */
  case class BucketState(words: Array[Long])

  /** Expand a stored container to a mutable full bitmap (always a fresh
    * array — the store may hand back the object it retains for the prior
    * version). Loud on anything that is not a valid container for THIS
    * shift: a sparse container must lead with this shift's sentinel
    * (deterministic check), and a checkpoint written under a larger shift
    * arrives as a too-long array.
    */
  private def isPow2(n: Int): Boolean = n > 0 && (n & (n - 1)) == 0

  private[graft] def decode(arr: Array[Long], nWords: Int, shift: Int): Array[Long] = {
    val mismatch = s"dedup state was checkpointed with a different shift " +
      s"or is corrupt (container length ${arr.length}, bitmap words $nWords); " +
      "resume with the original shift or start a fresh checkpoint"
    if (arr.length == nWords) arr.clone()
    else {
      require(arr.length < nWords, mismatch)
      // consume the leading sentinel(s): the writer pads so a sentinel-
      // sparse container's LENGTH is never a power of two, hence never
      // equals any shift's nWords — a sparse container from shift A can
      // therefore never be misread as a dense bitmap at shift B (every
      // nWords is a power of two)
      var from = 0
      while (from < arr.length && arr(from) < 0) {
        require(arr(from) == -shift.toLong && from < 3, mismatch)
        from += 1
      }
      require(from > 0, mismatch)
      val max = 1L << shift
      val words = new Array[Long](nWords)
      var i = from
      var prev = -1L
      while (i < arr.length) {
        val slot = arr(i)
        require(slot > prev && slot < max, mismatch)
        prev = slot
        words((slot >>> 6).toInt) |= 1L << (slot & 63)
        i += 1
      }
      words
    }
  }

  /** Store a bitmap in its smaller encoding: sentinel(s) + sorted slot
    * array while that stays strictly shorter than the bitmap, the bitmap
    * itself from the crossover on. Sentinel padding rule: at least one
    * `-shift` sentinel, extended (≤3 total — only lengths 1 and 2 are
    * consecutive powers of two) until the total length is NOT a power of
    * two, so a sparse container can never have any shift's dense length.
    */
  private[graft] def encode(words: Array[Long], nWords: Int, shift: Int): Array[Long] = {
    var pc = 0
    var i = 0
    while (i < nWords) { pc += java.lang.Long.bitCount(words(i)); i += 1 }
    var nSent = 1
    while (isPow2(pc + nSent)) nSent += 1
    if (pc + nSent >= nWords) words
    else {
      val slots = new Array[Long](pc + nSent)
      var k = 0
      while (k < nSent) { slots(k) = -shift.toLong; k += 1 }
      i = 0
      while (i < nWords) {
        var w = words(i)
        while (w != 0L) {
          val bit = java.lang.Long.numberOfTrailingZeros(w)
          slots(k) = (i.toLong << 6) | bit
          k += 1
          w &= w - 1
        }
        i += 1
      }
      slots
    }
  }

  /** Attach the dedup stage to a streaming DataFrame of change events. The
    * input must NOT carry an event-time watermark — this stage never drops
    * rows for lateness (see class doc).
    *
    * Works on any schema carrying a `lsn`: long column — the single- and
    * multi-table envelopes both qualify — and returns the same schema.
    */
  def stage(src: DataFrame, shift: Int = DefaultShift): DataFrame = {
    require(shift >= 6 && shift <= 24, s"shift $shift out of range [6, 24]")
    val schema = src.schema
    val lsnIdx = schema.fieldIndex("lsn")
    val nWords = 1 << (shift - 6)
    val mask = (1L << shift) - 1L
    implicit val rowEnc = Encoders.row(schema)
    implicit val keyEnc = Encoders.scalaLong
    implicit val stateEnc = Encoders.product[BucketState]

    val deduped = src
      .groupByKey((r: Row) => r.getLong(lsnIdx) >>> shift)
      .flatMapGroupsWithState[BucketState, Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[Row], state: GroupState[BucketState]) =>
          // decode expands either container to a fresh full bitmap and
          // fails loudly on a different-shift checkpoint (see decode doc);
          // state only changes via update()
          val words = state.getOption match {
            case Some(st) => decode(st.words, nWords, shift)
            case None => new Array[Long](nWords)
          }
          val out = new scala.collection.mutable.ArrayBuffer[Row]()
          var changed = false
          while (rows.hasNext) {
            val r = rows.next()
            val slot = (r.getLong(lsnIdx) & mask).toInt
            val w = slot >>> 6
            val bit = 1L << (slot & 63)
            if ((words(w) & bit) == 0L) {
              words(w) |= bit
              changed = true
              out += r
            }
          }
          if (changed) state.update(BucketState(encode(words, nWords, shift)))
          out.iterator
      }
    deduped.toDF(schema.fieldNames.toIndexedSeq: _*)
  }
}
