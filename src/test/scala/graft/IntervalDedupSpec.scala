package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.binlog.{BinlogGen, GenConfig, OracleFold}
import graft.dedup.IntervalDedup
import graft.lake.LakeTable
import graft.model.{Schemas, Transcript}
import graft.pipeline.Pipeline
import graft.sink.RawAppendSink

/** The bitmap dedup stage against a naive seen-set model: crafted
  * micro-batches through a MemoryStream exercise arbitrary lsn patterns —
  * dense runs, the even-stride space (odd lsns reserved for ddl, which
  * defeats interval/run-length encodings), bucket-boundary neighbors,
  * sparse stragglers, and intra-/cross-batch duplicates.
  */
class IntervalSetSpec extends AnyFunSuite {
  test("shift bounds are enforced") {
    val e = intercept[IllegalArgumentException] {
      IntervalDedup.stage(TestSpark.spark.emptyDataFrame, shift = 3)
    }
    assert(e.getMessage.contains("shift"))
  }

  test("randomized lsn patterns match the naive seen-set model") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[graft.model.ChangeEvent]
    val q = IntervalDedup.stage(ms.toDF(), shift = 8) // small buckets: more edges
      .writeStream.format("memory").queryName("ivd_model_out")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ivdmodel").toString)
      .start()
    def ev(lsn: Long) = graft.model.ChangeEvent(lsn, 0, s"c$lsn", 0, "user",
      "t", null, new java.sql.Timestamp(1704067200000L + lsn), false, 1L, null)
    val rnd = new scala.util.Random(7)
    val seen = scala.collection.mutable.Set[Long]()
    try {
      for (_ <- 1 to 8) {
        val lsns = Seq.fill(200)(
          rnd.nextInt(4096).toLong * (if (rnd.nextBoolean()) 2 else 1)) ++
          Seq(0L, 255L, 256L, 511L, 512L) ++ // bucket boundaries at shift 8
          seen.take(20).toSeq                // cross-batch redelivery
        val expectFresh = scala.collection.mutable.ArrayBuffer[Long]()
        val batchSeen = scala.collection.mutable.Set[Long]()
        for (l <- lsns)
          if (!seen.contains(l) && batchSeen.add(l)) expectFresh += l
        ms.addData(lsns.map(ev): _*)
        q.processAllAvailable()
        val out = spark.table("ivd_model_out").select("lsn").as[Long]
          .collect().sorted.toSeq
        seen ++= expectFresh
        assert(out == seen.toSeq.sorted,
          s"emitted set diverged after adding ${lsns.size} lsns")
      }
    } finally q.stop()
  }

  test("adaptive container codec: sparse/dense roundtrip, crossover, " +
    "legacy dense passthrough, loud rejects") {
    val shift = 10 // 16 words, 1024 slots — cheap exhaustive-ish coverage
    val nWords = 1 << (shift - 6)
    val rnd = new scala.util.Random(11)
    // roundtrip at every density regime incl. the exact crossover: the
    // round-7 self-describing sparse form is sentinel(s) + slots, with
    // the sentinel count padding the TOTAL length to a non-power-of-two
    // so a sparse container can never equal ANY shift's dense length
    def nSent(pc: Int): Int = {
      var n = 1
      def isPow2(x: Int) = x > 0 && (x & (x - 1)) == 0
      while (isPow2(pc + n)) n += 1
      n
    }
    for (pc <- Seq(0, 1, 2, 3, 7, nWords - 3, nWords - 2, nWords - 1,
        nWords, nWords + 1, 200, 1024)) {
      val slots = rnd.shuffle((0 until 1024).toList).take(pc)
      val words = new Array[Long](nWords)
      slots.foreach(s => words(s >>> 6) |= 1L << (s & 63))
      val enc = IntervalDedup.encode(words, nWords, shift)
      if (pc + nSent(pc) < nWords) {
        assert(enc.length == pc + nSent(pc) &&
          enc.take(nSent(pc)).forall(_ == -shift.toLong) &&
          enc.drop(nSent(pc)).sameElements(slots.map(_.toLong).sorted),
          s"pc=$pc should encode sentinel-sparse")
        assert((enc.length & (enc.length - 1)) != 0,
          s"sparse length ${enc.length} must not be a power of two")
      } else
        assert(enc.length == nWords, s"pc=$pc should stay dense")
      assert(IntervalDedup.decode(enc, nWords, shift).sameElements(words),
        s"roundtrip broke at pc=$pc")
    }
    // cross-shift safety of the padding rule: a shift-14 sparse container
    // can never carry a power-of-two length, so it can never be misread
    // as SOME smaller shift's dense bitmap via the length==nWords branch
    for (pc <- 0 until 64) {
      val words14 = new Array[Long](1 << (14 - 6))
      (0 until pc).foreach(s => words14(s >>> 6) |= 1L << (s & 63))
      val enc14 = IntervalDedup.encode(words14, 1 << (14 - 6), 14)
      if (enc14.length < (1 << (14 - 6)))
        assert((enc14.length & (enc14.length - 1)) != 0, s"pc=$pc pow2 len")
    }
    // a sparse container without the shift sentinel (the old sentinel-less
    // form) is rejected: without the embedded shift a different-shift
    // resume could decode silently
    val legacySparse = Array(3L, 64L, 1000L)
    val lsErr = intercept[IllegalArgumentException] {
      IntervalDedup.decode(legacySparse, nWords, shift)
    }
    assert(lsErr.getMessage.contains("different shift"),
      "a sentinel-less sparse container must be rejected loudly")
    // legacy dense containers (every pre-round-6 checkpoint) decode to a
    // CLONE — mutating the result must not reach the stored array
    val legacy = Array.fill(nWords)(rnd.nextLong())
    val dec = IntervalDedup.decode(legacy, nWords, shift)
    assert(dec.sameElements(legacy))
    dec(0) ^= -1L
    assert(!dec.sameElements(legacy))
    // rejects: a larger-shift checkpoint (too long), an unsorted sparse
    // array (e.g. a smaller-shift bitmap masquerading), an out-of-range
    // slot, and a sentinel from ANOTHER shift (the round-7 deterministic
    // guard ADVICE asked for) — each loud, each naming the remedy
    for (bad <- Seq(
      new Array[Long](nWords * 2),
      Array(5L, 3L),          // not strictly increasing
      Array(0L, 0L),          // duplicate (a two-zero-word bitmap shape)
      Array(3L, 1024L),       // slot beyond this shift's range
      Array(-20L, 3L, 9L),    // sentinel says shift 20, we are shift 10
      Array(-14L))) {         // empty sparse from shift 14
      val e = intercept[IllegalArgumentException] {
        IntervalDedup.decode(bad, nWords, shift)
      }
      assert(e.getMessage.contains("different shift"),
        s"container ${bad.toList} must be rejected loudly")
    }
    // same-shift sentinel roundtrips (the legit self-describing form)
    assert(IntervalDedup.decode(Array(-10L, 5L), nWords, shift)
      .map(java.lang.Long.bitCount).sum == 1)
  }

  test("stray stragglers live as sparse containers across batches") {
    // stray lsns far from the dense window each pay ~one slot, not a
    // bucket bitmap — and their dedup still holds across micro-batches
    // (decode(sparse) -> update -> encode(sparse) every trigger)
    val spark = TestSpark.spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[graft.model.ChangeEvent]
    val q = IntervalDedup.stage(ms.toDF(), shift = 14)
      .writeStream.format("memory").queryName("ivd_stray_out")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ivdstray").toString)
      .start()
    // bounded ts: a stray lsn near 2^60 must not overflow millisToMicros
    // while encoding the fixture row (the operator reads only `lsn`)
    def ev(lsn: Long) = graft.model.ChangeEvent(lsn, 0, s"c$lsn", 0, "user",
      "t", null, new java.sql.Timestamp(1704067200000L + (lsn & 0xffffffL)),
      false, 1L, null)
    try {
      val strays = Seq(1L << 40, (1L << 40) + 2, 1L << 50, (1L << 60) + 64)
      ms.addData(strays.map(ev): _*)
      q.processAllAvailable()
      // full redelivery + one fresh neighbor per stray bucket
      ms.addData((strays ++ strays.map(_ + 6)).map(ev): _*)
      q.processAllAvailable()
      val out = spark.table("ivd_stray_out").select("lsn").as[Long]
        .collect().sorted.toSeq
      assert(out == (strays ++ strays.map(_ + 6)).sorted,
        "stray redelivery must collapse; fresh neighbors must emit")
    } finally q.stop()
  }
}

/** End-to-end pipeline runs over binlog redelivery. The interval dedup
  * runs in front of the raw-append sink only, so the suites that check the
  * stage itself (state size, rebase, the checkpoint-locked shift) drive a
  * [[RawAppendSink]] pipeline and judge its normalized table; the
  * redelivery suites through the merge path pin the merge's own guards.
  */
class IntervalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def liveState(lake: LakeTable): Vector[Transcript] =
    lake.read(spark)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "_lsn", "_op")
      .as[Transcript].collect().toVector.sortBy(t => (t.conv_id, t.turn_idx))

  private def rawSink(work: String): RawAppendSink =
    new RawAppendSink(s"$work/raw", spark.sparkContext.hadoopConfiguration,
      Schemas.transcript, 8)

  /** Drain `binlog` into the raw sink, then fold it into its normalized
    * table; returns that table's live state.
    */
  private def drainRaw(raw: RawAppendSink, binlog: String, ckpt: String,
      maxFilesPerTrigger: Int,
      dedupShift: Int = IntervalDedup.DefaultShift): Vector[Transcript] = {
    Pipeline.startQuery(spark, binlog, raw, ckpt,
      maxFilesPerTrigger = maxFilesPerTrigger, dedupShift = dedupShift)
      .awaitTermination()
    raw.normalizeIncremental(spark)
    liveState(raw.normalizedLake(spark))
  }

  /** Highest state-row count any progress event reports while `body` runs. */
  private def maxStateRowsDuring(body: => Unit): Long = {
    @volatile var maxStateRows = -1L
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(so =>
          maxStateRows = math.max(maxStateRows, so.numRowsTotal))
    }
    spark.streams.addListener(listener)
    try body
    finally {
      // listener bus is async; drain before asserting
      val deadline = System.currentTimeMillis() + 10000
      while (maxStateRows < 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      spark.streams.removeListener(listener)
    }
    maxStateRows
  }

  test("duplicates across segments collapse (interval dedup)") {
    val cfg = GenConfig(seed = 23, numConvs = 30, eventsPerConv = 20)
    val events = BinlogGen.events(cfg)
    val dup = events ++ events.filter(_.lsn % 7 == 0) ++ events.take(40)
    val work = tmpDir("ivdedup1")
    BinlogGen.writeSegments(spark,
      spark.createDataset(dup.sortBy(_.lsn)).toDF(), s"$work/binlog", 6)
    val lake = LakeTable(spark, s"$work/lake")
    lake.create(Schemas.transcript, 8)
    Pipeline.runAvailable(spark, s"$work/binlog", lake, s"$work/ckpt",
      maxFilesPerTrigger = 2)
    assert(liveState(lake) == OracleFold.finalState(events))
  }

  test("interval state stays O(buckets), not O(events)") {
    // 6000 dense lsns -> at shift 14 they span exactly 1-2 range buckets;
    // the hash dedup would hold 6000 state rows.
    val cfg = GenConfig(seed = 29, numConvs = 100, eventsPerConv = 30)
    val events = BinlogGen.events(cfg)
    val work = tmpDir("ivdedup2")
    BinlogGen.writeSegments(spark,
      spark.createDataset(events).toDF(), s"$work/binlog", 4)
    val raw = rawSink(work)
    var live = Vector.empty[Transcript]
    val maxStateRows = maxStateRowsDuring {
      live = drainRaw(raw, s"$work/binlog", s"$work/ckpt",
        maxFilesPerTrigger = 2)
    }
    assert(live == OracleFold.finalState(BinlogGen.events(cfg)))
    val totalEvents = events.size
    assert(maxStateRows >= 0)
    assert(maxStateRows <= totalEvents / 100,
      s"state rows $maxStateRows not compressed vs $totalEvents events")
  }

  test("checkpoint rebase: fresh checkpoint after compaction absorbs a full " +
      "replay AND applies new events (batch-id offset)") {
    // The dedup-state retirement path (IntervalDedup scaladoc): once the
    // raw log is folded and compacted, restart the query on a FRESH
    // checkpoint — dedup state starts empty, the replayed history is
    // staged again, and the normalize fold's per-event `lsn > endLsn`
    // filter drops it. The trap this test pins down: a fresh checkpoint
    // restarts streaming batch ids at 0, so without the persisted
    // batch-id offset the sink's replay guard would swallow the first N
    // REAL batches after rebase.
    val cfg = GenConfig(seed = 37, numConvs = 40, eventsPerConv = 20)
    val events = BinlogGen.events(cfg)
    val work = tmpDir("ivrebase")
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    BinlogGen.writeSegments(spark,
      spark.createDataset(events).toDF(), s"$work/binlog", 4)
    val raw = rawSink(work)
    assert(drainRaw(raw, s"$work/binlog", s"$work/ckpt",
      maxFilesPerTrigger = 1) == OracleFold.finalState(events))
    val batchIdBefore = raw.lastBatchId(spark)
    assert(batchIdBefore >= 3, "fixture must span several batches")

    // horizon passes: GC tombstones, coalesce the folded raw batches; then
    // REBASE — drop the checkpoint
    val norm = raw.normalizedLake(spark)
    norm.compact(spark, horizonLsn = norm.snapshot().endLsn)
    raw.compactRaw(spark)
    fs.delete(new Path(s"$work/ckpt"), true)

    // new reality after the rebase: a post-horizon update + a new turn,
    // delivered as fresh segments; the OLD segments stay in the dir, so
    // the fresh checkpoint replays the ENTIRE history plus the tail
    val maxLsn = events.map(_.lsn).max
    val tail = Vector(
      graft.model.ChangeEvent(maxLsn + 2, 1, cfg.convId(0), 0, "user",
        "rebased-text", null, new java.sql.Timestamp(
          BinlogGen.BaseMs + (maxLsn + 2) * 1000L), false, 999L, null),
      graft.model.ChangeEvent(maxLsn + 4, 0, "conv_rebase", 0, "user",
        "new-after-rebase", null, new java.sql.Timestamp(
          BinlogGen.BaseMs + (maxLsn + 4) * 1000L), false, 999L, null))
    BinlogGen.writeSegments(spark,
      spark.createDataset(tail).toDF(), s"$work/seg-tail", 1)
    for ((p, i) <- fs.listStatus(new Path(s"$work/seg-tail")).map(_.getPath)
        .sortBy(_.getName).zipWithIndex) {
      val to = new Path(s"$work/binlog", "tail-" + p.getName)
      org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, to, false,
        spark.sparkContext.hadoopConfiguration)
      fs.setTimes(to, BinlogGen.BaseMs + 500000L + i * 1000L, -1)
    }

    var live = Vector.empty[Transcript]
    val maxStateRows = maxStateRowsDuring {
      live = drainRaw(raw, s"$work/binlog", s"$work/ckpt",
        maxFilesPerTrigger = 2)
    }
    // replay absorbed, tail applied: exact oracle over history + tail
    assert(live == OracleFold.finalState(events ++ tail))
    // the rebased run's commits landed ABOVE the old batchId — none were
    // swallowed by the replay guard
    assert(raw.lastBatchId(spark) > batchIdBefore)
    // fresh state rebuilt from scratch stays bitmap-bounded
    assert(maxStateRows >= 0 && maxStateRows <= events.size / 10)
  }

  test("shift 20: checkpoint-locked — mismatched resume fails actionably, " +
      "matching resume stays exact") {
    // shift 20 = 2^20 lsns per bucket — a state-row-count/parallelism
    // knob only (BENCH.md round 6: the adaptive container holds total
    // state at ~range/8 at ANY shift); the shift is baked into the
    // checkpointed state like the partition count, so a resume under the
    // DEFAULT shift must fail with the remedy, and a matching resume must
    // keep replay equality
    val cfg = GenConfig(seed = 41, numConvs = 40, eventsPerConv = 20)
    val events = BinlogGen.events(cfg)
    val firstHalf = events.filter(_.lsn < events(events.size / 2).lsn)
    val work = tmpDir("ivshift20")
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def deliver(src: String, prefix: String, mtime0: Long): Unit =
      for ((p, i) <- fs.listStatus(new Path(src)).map(_.getPath)
          .sortBy(_.getName).zipWithIndex) {
        val to = new Path(s"$work/binlog", prefix + p.getName)
        org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, to, false,
          spark.sparkContext.hadoopConfiguration)
        fs.setTimes(to, mtime0 + i * 1000L, -1)
      }
    BinlogGen.writeSegments(spark,
      spark.createDataset(firstHalf).toDF(), s"$work/seg-a", 3)
    val raw = rawSink(work)
    fs.mkdirs(new Path(s"$work/binlog"))
    deliver(s"$work/seg-a", "a-", BinlogGen.BaseMs)
    assert(drainRaw(raw, s"$work/binlog", s"$work/ckpt",
      maxFilesPerTrigger = 1, dedupShift = 20) ==
      OracleFold.finalState(firstHalf))

    // rest of the log + a redelivered slice: resuming under the DEFAULT
    // shift hits stored shift-20 bitmaps and must fail loudly
    val rest = events.filterNot(firstHalf.contains) ++ firstHalf.take(30)
    BinlogGen.writeSegments(spark,
      spark.createDataset(rest.sortBy(_.lsn)).toDF(), s"$work/seg-b", 3)
    deliver(s"$work/seg-b", "b-", BinlogGen.BaseMs + 100000L)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainRaw(raw, s"$work/binlog", s"$work/ckpt",
        maxFilesPerTrigger = 1, dedupShift = IntervalDedup.DefaultShift)
    }
    def rootChain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(rootChain(e).exists(c =>
      c.getMessage != null && c.getMessage.contains("different shift")),
      s"wrong failure: $e")
    // the failed batch never committed: the matching-shift resume replays
    // it and converges on the full-history oracle
    assert(drainRaw(raw, s"$work/binlog", s"$work/ckpt",
      maxFilesPerTrigger = 1, dedupShift = 20) ==
      OracleFold.finalState(events))
    // and the shift-20 state collapsed the redelivered slice: the staged
    // log holds each lsn once
    val lsns = raw.read(spark).select("lsn").as[Long].collect()
    assert(lsns.length == events.size && lsns.distinct.length == events.size)
  }

  test("stop/restart: redelivery across restart collapses; state resumes") {
    val cfg = GenConfig(seed = 31, numConvs = 40, eventsPerConv = 20)
    val events = BinlogGen.events(cfg)
    val firstHalf = events.filter(_.lsn < events(events.size / 2).lsn)
    val work = tmpDir("ivdedup3")
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the source contract is lsn-ordered segment replay (WAL semantics) —
    // copied fixtures must keep strictly increasing mtimes like
    // writeSegments does, or the file source may reorder equal-mtime files
    def deliver(src: String, prefix: String, mtime0: Long): Unit =
      for ((p, i) <- fs.listStatus(new Path(src)).map(_.getPath)
          .sortBy(_.getName).zipWithIndex) {
        val to = new Path(s"$work/binlog", prefix + p.getName)
        org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, to, false,
          spark.sparkContext.hadoopConfiguration)
        fs.setTimes(to, mtime0 + i * 1000L, -1)
      }
    BinlogGen.writeSegments(spark,
      spark.createDataset(firstHalf).toDF(), s"$work/seg-a", 3)
    val lake = LakeTable(spark, s"$work/lake")
    lake.create(Schemas.transcript, 8)
    fs.mkdirs(new Path(s"$work/binlog"))
    deliver(s"$work/seg-a", "a-", BinlogGen.BaseMs)
    Pipeline.runAvailable(spark, s"$work/binlog", lake, s"$work/ckpt",
      maxFilesPerTrigger = 1)
    // restart: remaining events + a redelivered slice of the first half
    val rest = events.filterNot(firstHalf.contains) ++ firstHalf.take(30)
    BinlogGen.writeSegments(spark,
      spark.createDataset(rest.sortBy(_.lsn)).toDF(), s"$work/seg-b", 3)
    deliver(s"$work/seg-b", "b-", BinlogGen.BaseMs + 100000L)
    Pipeline.runAvailable(spark, s"$work/binlog", lake, s"$work/ckpt",
      maxFilesPerTrigger = 1)
    assert(liveState(lake) == OracleFold.finalState(events))
  }
}
