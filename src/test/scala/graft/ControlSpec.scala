package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.apply.{Backfill, MergeApply}
import graft.binlog.{BinlogGen, GenConfig, OracleFold}
import graft.control.Control
import graft.lake.LakeTable
import graft.model.{Op, Schemas, Transcript}
import graft.sink.MergeSink

/** Control-plane semantics (reference: src/control/): pause/resume against
  * one checkpoint, drain-vs-stop, status, on-demand snapshot trigger, plus
  * the E5 degraded-mode skip counter and E6 startup schema reconcile.
  */
class ControlSpec extends SparkSpec {
  import spark.implicits._

  private def liveState(lake: LakeTable): Vector[Transcript] =
    lake.read(spark)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "_lsn", "_op")
      .as[Transcript].collect().toVector.sortBy(t => (t.conv_id, t.turn_idx))

  test("pause/resume against one checkpoint, then drain to the log end") {
    val cfg = GenConfig(seed = 41, numConvs = 40, eventsPerConv = 30)
    val events = BinlogGen.events(cfg)
    val work = tmpDir("ctl")
    BinlogGen.writeSegments(spark,
      spark.createDataset(events).toDF(), s"$work/binlog", 8)
    val lake = LakeTable(spark, s"$work/lake")
    lake.create(Schemas.transcript, 4)

    val ctl = new Control(spark, s"$work/binlog", MergeSink(lake),
      s"$work/ckpt", maxFilesPerTrigger = 2)
    assert(!ctl.status().running)

    // drain consumes the whole available log and stops
    ctl.drain()
    assert(!ctl.isRunning)
    assert(liveState(lake) == OracleFold.finalState(events))
    val drained = ctl.status()
    assert(drained.batchId >= 0 && drained.endLsn > 0 && drained.rowCount > 0)

    // resume starts a continuous query; pause stops it; state is unchanged
    ctl.resume()
    assert(ctl.isRunning)
    ctl.pause()
    assert(!ctl.isRunning)
    assert(liveState(lake) == OracleFold.finalState(events))

    // resume + pause + drain over NEW segments continues from the same
    // checkpoint (no reprocessing, no loss)
    // later events must carry later event-time, or the dedup watermark
    // (advanced by the first drain) would drop them as late data
    val more = BinlogGen.events(cfg.copy(seed = 43, numConvs = 10))
      .map(e => e.copy(lsn = e.lsn + 1000000, conv_id = "x" + e.conv_id,
        ts = new java.sql.Timestamp(
          BinlogGen.BaseMs + (e.lsn + 1000000) * 1000L)))
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    BinlogGen.writeSegments(spark,
      spark.createDataset(more).toDF(), s"$work/binlog2", 2)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$work/binlog2"))
      .foreach(p => fs.rename(p.getPath,
        new org.apache.hadoop.fs.Path(s"$work/binlog", "z" + p.getPath.getName)))
    ctl.drain()
    assert(liveState(lake) == OracleFold.finalState(events ++ more))
  }

  test("on-demand snapshot trigger re-syncs drifted rows (T11)") {
    val cfg = GenConfig(seed = 47, numConvs = 30, eventsPerConv = 20)
    val events = BinlogGen.events(cfg)
    val work = tmpDir("ctlsnap")
    BinlogGen.writeSegments(spark,
      spark.createDataset(events).toDF(), s"$work/binlog", 4)
    val lake = LakeTable(spark, s"$work/lake")
    lake.create(Schemas.transcript, 4)
    val src = new Backfill.ChunkSource {
      def numChunks: Int = 2
      def chunkRows(s: SparkSession, i: Int, lw: Long) = {
        val half = spark.createDataset(
          OracleFold.finalState(events.filter(_.lsn <= lw))).toDF()
        import org.apache.spark.sql.functions._
        half.filter(pmod(hash(col("conv_id")), lit(2)) === i)
      }
    }
    val ctl = new Control(spark, s"$work/binlog",
      MergeSink(lake, chunkSource = Some(src)), s"$work/ckpt",
      maxFilesPerTrigger = 2)
    ctl.drain()
    val truth = liveState(lake)
    // payload equality: chunk-refreshed rows carry the chunk LW as _lsn
    def pay(v: Vector[Transcript]) =
      v.map(t => (t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts))
    assert(pay(truth) == pay(OracleFold.finalState(events)))
    assert(ctl.status().backfillDone == 2)

    // simulate operator-induced drift: a wrong row sneaks in out-of-band
    Backfill.applyChunk(spark, lake, spark.createDataset(Seq(
      Transcript(truth.head.conv_id, truth.head.turn_idx, "user", "DRIFTED",
        null, truth.head.ts, 0L, Op.Insert))).toDF(),
      lwLsn = lake.snapshot().endLsn)
    assert(liveState(lake) != truth)

    // trigger re-snapshot: cursor resets, drain re-applies every chunk
    // against the current source → drift repaired, nothing else regressed
    ctl.triggerSnapshot()
    assert(ctl.status().backfillDone == 0)
    ctl.drain()
    assert(ctl.status().backfillDone == 2)
    assert(liveState(lake).map(t =>
      (t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts)) ==
      truth.map(t => (t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts)))
  }

  test("A9: metrics sampler records per-batch rate and event-time lag") {
    val cfg = GenConfig(seed = 53, numConvs = 30, eventsPerConv = 20)
    val events = BinlogGen.events(cfg)
    val work = tmpDir("ctlmetrics")
    BinlogGen.writeSegments(spark,
      spark.createDataset(events).toDF(), s"$work/binlog", 4)
    val lake = LakeTable(spark, s"$work/lake")
    lake.create(Schemas.transcript, 4)
    val ctl = new Control(spark, s"$work/binlog", MergeSink(lake),
      s"$work/ckpt", maxFilesPerTrigger = 2)
    try {
      ctl.drain()
      // the listener bus delivers asynchronously; wait for the samples
      val deadline = System.currentTimeMillis() + 20000
      while (ctl.metrics.samples.size < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val samples = ctl.metrics.samples
      assert(samples.size >= 2, s"expected >=2 progress samples, got $samples")
      // rows flowed and rates/lags are sane: fixture event-time is 2024, so
      // lag (= batch wall time - max event time) is large and positive
      assert(samples.map(_.inputRows).sum == events.size)
      assert(samples.filter(_.inputRows > 0).forall(_.eventsPerSec > 0))
      assert(samples.filter(_.inputRows > 0).forall(_.lagMs > 0))
      val st = ctl.status()
      assert(st.eventsPerSec >= 0 && st.lagMs >= -1)
      assert(ctl.metricsDf.count() == samples.size)
      // resource pair (reference metrics_sampler.rs:52-55): heap is always
      // measurable; CPU millicores is -1 on the first sample (no interval
      // yet) then a sane non-negative per-interval figure
      assert(samples.forall(_.memoryBytes > 0))
      assert(samples.tail.forall(s =>
        s.cpuMillicores >= 0 && s.cpuMillicores <= 64000))
    } finally ctl.close()
  }

  test("A9: metrics buffer is a bounded ring (long-lived stream can't grow the driver heap)") {
    // exercise the public surface over a real stream with many
    // micro-batches and a tiny cap
    val cfg = GenConfig(seed = 89, numConvs = 20, eventsPerConv = 10)
    val work = tmpDir("ctlring")
    BinlogGen.writeSegments(spark,
      spark.createDataset(BinlogGen.events(cfg)).toDF(), s"$work/binlog", 10)
    val lake = LakeTable(spark, s"$work/lake")
    lake.create(Schemas.transcript, 4)
    val small = new graft.control.MetricsSampler("graft-cdc", maxSamples = 3)
    spark.streams.addListener(small)
    try {
      graft.pipeline.Pipeline.runAvailable(spark, s"$work/binlog", lake,
        s"$work/ckpt", maxFilesPerTrigger = 1) // 10 batches > cap 3
      val deadline = System.currentTimeMillis() + 10000
      while (small.samples.size < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(small.samples.size == 3, s"ring must cap at 3, got ${small.samples.size}")
      // the ring keeps the NEWEST samples
      assert(small.samples.map(_.batchId) == small.samples.map(_.batchId).sorted)
      assert(small.latest.exists(_.batchId >= 7))
    } finally spark.streams.removeListener(small)
  }

  test("E5: rejected type change degrades with a counted skip, not a failure") {
    val lake = LakeTable(spark, tmpDir("e5"))
    lake.create(Schemas.transcript, 4)
    // ddl demands an incompatible type change: text string -> int is not an
    // upcast, so policy rejects it (old type kept) and counts the skip
    val ddl = graft.model.ChangeEvent(1L, Op.SchemaChange, null, 0, null,
      null, null, new java.sql.Timestamp(0), false, -1L,
      "widen:text:\"integer\"")
    val data = graft.model.ChangeEvent(2L, Op.Insert, "c1", 0, "user", "t",
      null, new java.sql.Timestamp(0), false, 1L, null)
    MergeApply.applyBatch(spark, lake,
      spark.createDataset(Seq(ddl, data)).toDF(), 0L)
    val snap = lake.snapshot()
    // engine kept going: row applied, schema unchanged, skip counted
    assert(liveState(lake).size == 1)
    assert(snap.schema("text").dataType == StringType)
    assert(snap.lineage.exists(_.skippedEvolutions == 1L))
  }

  test("E6: startup reconcile commits adds/widens from the configured schema") {
    val lake = LakeTable(spark, tmpDir("e6"))
    lake.create(Schemas.transcriptNoTool, 4)
    val configured = StructType(Seq(
      StructField("conv_id", StringType, nullable = false),
      StructField("turn_idx", LongType),   // widen int -> long
      StructField("role", StringType),
      StructField("text", StringType),
      StructField("tool", StringType),     // add
      StructField("ts", TimestampType)))
    val actions = lake.ensureSchema(configured)
    assert(actions.nonEmpty)
    val snap = lake.snapshot()
    assert(snap.schemaVersion == 2)
    assert(snap.schema.fieldNames.contains("tool"))
    assert(snap.schema("turn_idx").dataType == LongType)
    assert(snap.schema.fieldNames.takeRight(2).toSeq == Seq("_lsn", "_op") ||
      snap.schema.fieldNames.contains("_lsn")) // audit cols preserved
    // idempotent on second start
    assert(lake.ensureSchema(configured).forall {
      case _: graft.schema.IgnoreDrop => true
      case _ => false
    })
    assert(lake.snapshot().schemaVersion == 2)
  }
}
