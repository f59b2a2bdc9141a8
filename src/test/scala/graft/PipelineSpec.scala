package graft

import org.apache.hadoop.fs.Path

import graft.binlog.{BinlogGen, GenConfig, OracleFold}
import graft.lake.LakeTable
import graft.model.{Schemas, Transcript}
import graft.pipeline.Pipeline
import graft.sink.Maintenance

/** End-to-end Structured Streaming suites: replay equality, kill/resume at
  * batch boundaries, mid-stream schema evolution — the north rule's
  * `sbt -batch test` replay verification.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def liveState(lake: LakeTable): Vector[Transcript] =
    lake.read(spark)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "_lsn", "_op")
      .as[Transcript].collect().toVector.sortBy(t => (t.conv_id, t.turn_idx))

  private def payloadOf(ts: Vector[Transcript]) =
    ts.map(t => (t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts))

  test("streaming run over binlog segments equals oracle fold") {
    val cfg = GenConfig(seed = 3, numConvs = 60, eventsPerConv = 40,
      hotConvs = 3, hotFactor = 4)
    val work = tmpDir("stream1")
    BinlogGen.writeSegments(spark,
      spark.createDataset(BinlogGen.events(cfg)).toDF(), s"$work/binlog", 8)
    val lake = LakeTable(spark, s"$work/lake")
    lake.create(Schemas.transcript, 8)
    Pipeline.runAvailable(spark, s"$work/binlog", lake, s"$work/ckpt",
      maxFilesPerTrigger = 3)
    val want = OracleFold.finalState(BinlogGen.events(cfg))
    assert(liveState(lake) == want)
    // lineage covered every commit with monotone batch ids
    val lin = lake.lineageDf(spark).orderBy("batch_id")
      .select("batch_id").as[Long].collect().toSeq
    assert(lin == lin.sorted && lin.nonEmpty)
  }

  test("stop/restart mid-stream resumes from checkpoint (replay equality)") {
    val cfg = GenConfig(seed = 5, numConvs = 50, eventsPerConv = 30)
    val events = BinlogGen.events(cfg)
    val work = tmpDir("stream2")
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // phase 1: only the first half of segments exists; drain and "crash"
    BinlogGen.writeSegments(spark,
      spark.createDataset(events).toDF(), s"$work/all", 10)
    fs.mkdirs(new Path(s"$work/binlog"))
    val segs = fs.listStatus(new Path(s"$work/all")).map(_.getPath)
      .sortBy(_.getName)
    segs.take(5).foreach(p =>
      org.apache.hadoop.fs.FileUtil.copy(fs, p, fs,
        new Path(s"$work/binlog", p.getName), false,
        spark.sparkContext.hadoopConfiguration))
    val lake = LakeTable(spark, s"$work/lake")
    lake.create(Schemas.transcript, 8)
    Pipeline.runAvailable(spark, s"$work/binlog", lake, s"$work/ckpt",
      maxFilesPerTrigger = 2)
    val midVersion = lake.snapshot().version
    assert(midVersion > 1)

    // phase 2: rest of the segments arrive; restart against same checkpoint
    segs.drop(5).foreach(p =>
      org.apache.hadoop.fs.FileUtil.copy(fs, p, fs,
        new Path(s"$work/binlog", p.getName), false,
        spark.sparkContext.hadoopConfiguration))
    Pipeline.runAvailable(spark, s"$work/binlog", lake, s"$work/ckpt",
      maxFilesPerTrigger = 2)
    assert(liveState(lake) == OracleFold.finalState(events))
  }

  test("batch-id offset file: atomic publish; corrupt file fails actionably") {
    val work = tmpDir("bidoff")
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fresh checkpoint over a sink at batch 7 -> offset 8, file published
    val off = Pipeline.batchIdOffset(spark, s"$work/ckpt", 7L)
    assert(off == 8L)
    // no tmp leftovers: the write published atomically
    assert(!fs.listStatus(new Path(s"$work/ckpt"))
      .exists(_.getPath.getName.startsWith(".tmp-")))
    // same-checkpoint restart re-reads the stored offset
    assert(Pipeline.batchIdOffset(spark, s"$work/ckpt", 99L) == 8L)
    // a corrupt (e.g. legacy crash-emptied) offset file must fail with the
    // remedy, not a bare NumberFormatException, and must NOT be recomputed
    val f = new Path(s"$work/ckpt/graft-batchid-offset")
    val o = fs.create(f, true); o.close() // empty file
    val e = intercept[IllegalStateException] {
      Pipeline.batchIdOffset(spark, s"$work/ckpt", 7L)
    }
    assert(e.getMessage.contains("batch-id offset"))
  }

  test("mid-stream schema evolution: tool column added by ddl event") {
    val addAt = 1001L // odd lsn
    val cfg = GenConfig(seed = 9, numConvs = 40, eventsPerConv = 30,
      addToolAtLsn = Some(addAt))
    val events = BinlogGen.events(cfg)
    val work = tmpDir("stream3")
    BinlogGen.writeSegments(spark,
      spark.createDataset(events).toDF(), s"$work/binlog", 6)
    val lake = LakeTable(spark, s"$work/lake")
    lake.create(Schemas.transcriptNoTool, 8) // table starts WITHOUT tool
    Pipeline.runAvailable(spark, s"$work/binlog", lake, s"$work/ckpt",
      maxFilesPerTrigger = 2)
    val snap = lake.snapshot()
    assert(snap.schema.fieldNames.contains("tool"))
    assert(snap.colAddLsn.get("tool").contains(addAt))
    val want = OracleFold.finalState(events, Map("tool" -> addAt))
    assert(liveState(lake) == want)
    assert(liveState(lake).exists(_.tool != null)) // evolution populated it
  }

  test("orphan data files from a killed commit are invisible to readers") {
    val cfg = GenConfig(seed = 13, numConvs = 10, eventsPerConv = 10)
    val work = tmpDir("stream4")
    BinlogGen.writeSegments(spark,
      spark.createDataset(BinlogGen.events(cfg)).toDF(), s"$work/binlog", 2)
    val lake = LakeTable(spark, s"$work/lake")
    lake.create(Schemas.transcript, 4)
    Pipeline.runAvailable(spark, s"$work/binlog", lake, s"$work/ckpt")
    val before = liveState(lake)
    // simulate a crash between data-file write and snapshot rename:
    // stray parquet in a bucket dir that no manifest references
    spark.createDataset(Seq(
      Transcript("conv_zz", 99, "user", "GHOST", null,
        new java.sql.Timestamp(0), 999999L, 0))).toDF()
      .coalesce(1).write.mode("append").parquet(s"$work/lake/data/b=0")
    assert(liveState(lake) == before) // manifest-based reads ignore orphans
  }

  test("transport duplicates across segments collapse (default interval dedup)") {
    val cfg = GenConfig(seed = 17, numConvs = 30, eventsPerConv = 20)
    val events = BinlogGen.events(cfg)
    // replay a suffix of each half (at-least-once redelivery across files)
    val dup = events ++ events.filter(_.lsn % 7 == 0)
    val work = tmpDir("stream5")
    BinlogGen.writeSegments(spark,
      spark.createDataset(dup.sortBy(_.lsn)).toDF(), s"$work/binlog", 6)
    val lake = LakeTable(spark, s"$work/lake")
    lake.create(Schemas.transcript, 8)
    Pipeline.runAvailable(spark, s"$work/binlog", lake, s"$work/ckpt",
      maxFilesPerTrigger = 2)
    assert(liveState(lake) == OracleFold.finalState(events))
  }

  test("lsn-ordered redelivery collapses even WITHOUT the stateful dedup") {
    // For an lsn-monotone segment source, at-least-once redelivery is
    // already effectively-once without the stateful dedup stage:
    // intra-batch duplicates collapse in the idempotent LWW reduce, and
    // cross-batch replays die on the per-event `lsn > endLsn` filter —
    // the reference's own contract (at-least-once + idempotent MERGE, T3).
    // That is why the merge path runs without the stage. The stage would
    // not rescue out-of-order delivery either: a never-seen event below
    // the applied lsn dies on the same filter whether or not the stage
    // runs. Only the raw-append sink keeps the stage, for its staged log.
    val cfg = GenConfig(seed = 19, numConvs = 30, eventsPerConv = 20)
    val events = BinlogGen.events(cfg)
    val dup = events ++ events.filter(_.lsn % 5 == 0) ++ events.take(50)
    val work = tmpDir("stream6")
    BinlogGen.writeSegments(spark,
      spark.createDataset(dup.sortBy(_.lsn)).toDF(), s"$work/binlog", 6)
    val lake = LakeTable(spark, s"$work/lake")
    lake.create(Schemas.transcript, 8)
    Pipeline.runAvailable(spark, s"$work/binlog", lake, s"$work/ckpt",
      maxFilesPerTrigger = 2)
    assert(liveState(lake) == OracleFold.finalState(events))
  }

  test("inline maintenance bounds versions and files, results unchanged") {
    val cfg = GenConfig(seed = 23, numConvs = 60, eventsPerConv = 30,
      hotConvs = 3, hotFactor = 4)
    val events = BinlogGen.events(cfg)
    val work = tmpDir("maint")
    BinlogGen.writeSegments(spark,
      spark.createDataset(events).toDF(), s"$work/binlog", 12)

    // control: same stream, no maintenance
    val plain = LakeTable(spark, s"$work/plain")
    plain.create(Schemas.transcript, 8)
    Pipeline.runAvailable(spark, s"$work/binlog", plain, s"$work/ckptP",
      maxFilesPerTrigger = 2)

    val kept = LakeTable(spark, s"$work/kept")
    kept.create(Schemas.transcript, 8)
    Pipeline.runAvailable(spark, s"$work/binlog", kept, s"$work/ckptK",
      maxFilesPerTrigger = 2,
      maintenance = Some(Maintenance(everyBatches = 2,
        fileThreshold = 1, keepVersions = 2, vacuumGraceMs = 0L)))

    // identical live state — maintenance is invisible to readers
    assert(liveState(kept) == liveState(plain))
    assert(liveState(kept) == OracleFold.finalState(events))

    // vacuum pruned the version history the control run kept in full
    assert(kept.snapshotVersions().size < plain.snapshotVersions().size)
    // compaction dropped tombstones at or below the applied endLsn (the
    // COW merge path already keeps one file per touched bucket, so the
    // physical win of inline maintenance on this path is tombstone
    // retirement + version pruning, not file merging)
    def tombs(l: LakeTable) = l.readVersion(spark,
      l.snapshotVersions().max, includeTombstones = true)
      .filter("_op = 2").count()
    assert(tombs(plain) > 0, "fixture must produce tombstones")
    assert(tombs(kept) < tombs(plain),
      s"kept=${tombs(kept)} plain=${tombs(plain)}")
    // tombstones at or below the applied endLsn were dropped in the
    // compacted buckets: replaying the full log into the maintained lake
    // is still a no-op (idempotent-batch guard + lsn guard intact)
    val before = liveState(kept)
    Pipeline.runAvailable(spark, s"$work/binlog", kept, s"$work/ckptK",
      maxFilesPerTrigger = 2,
      maintenance = Some(Maintenance(everyBatches = 2,
        fileThreshold = 1, keepVersions = 2, vacuumGraceMs = 0L)))
    assert(liveState(kept) == before)
  }
}
