package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.binlog.{BinlogGen, GenConfig, OracleFold}
import graft.lake.LakeTable
import graft.model.Transcript
import graft.pipeline.Pipeline
import graft.sink.{MergeSink, MultiSink, RawAppendSink, Sink, SinkConfig}

/** The sink factory (S15) and its contract: kind dispatch, the raw-append
  * sync/normalize split (reference: src/connectors/sinks/mod.rs:57-148,
  * postgres/raw_table.rs:298-318, normalizer.rs:169-216), idempotent batch
  * replay, and T13 — a failing sink halts the stream loudly and a restart
  * resumes exactly-once (reference: src/pipeline/mod.rs:169-185).
  */
class SinkSpec extends SparkSpec {
  import spark.implicits._

  private def payload(df: DataFrame) =
    df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .as[(String, Int, String, String, String, java.sql.Timestamp)]
      .collect().toVector.sortBy(t => (t._1, t._2))

  private def payloadOf(v: Vector[Transcript]) =
    v.map(t => (t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts))

  test("factory dispatches by kind and rejects unknown kinds") {
    val merge = Sink.create(spark, SinkConfig("lake-merge", tmpDir("sf-m")))
    assert(merge.isInstanceOf[MergeSink])
    val raw = Sink.create(spark, SinkConfig("raw-append", tmpDir("sf-r")))
    assert(raw.isInstanceOf[RawAppendSink])
    intercept[IllegalArgumentException] {
      Sink.create(spark, SinkConfig("starburst", tmpDir("sf-x")))
    }
  }

  test("raw-append sink + normalize equals the merge sink fold (sync/normalize split)") {
    val cfg = GenConfig(seed = 61, numConvs = 50, eventsPerConv = 30,
      pctUpdate = 0.3, pctDelete = 0.1,
      addToolAtLsn = Some(2L * 50 * 30 / 4 + 1))
    val events = BinlogGen.events(cfg)
    val work = tmpDir("sinksplit")
    BinlogGen.writeSegments(spark,
      spark.createDataset(events).toDF(), s"$work/binlog", 6)

    // the same stream through BOTH sink kinds, each with its own checkpoint
    val mergeSink = Sink.create(spark,
      SinkConfig("lake-merge", s"$work/lake", numBuckets = 4))
    Pipeline.startQuery(spark, s"$work/binlog", mergeSink, s"$work/ckptM",
      maxFilesPerTrigger = 2).awaitTermination()
    val rawSink = Sink.create(spark, SinkConfig("raw-append", s"$work/raw"))
      .asInstanceOf[RawAppendSink]
    Pipeline.startQuery(spark, s"$work/binlog", rawSink, s"$work/ckptR",
      maxFilesPerTrigger = 2).awaitTermination()

    // raw log is faithful: every event (incl. the ddl row) landed
    assert(rawSink.read(spark).count() == events.size)
    val oracle = OracleFold.finalState(events,
      Map("tool" -> cfg.addToolAtLsn.get))
    assert(payload(rawSink.normalize(spark)) == payloadOf(oracle))
    assert(payload(mergeSink.read(spark)) == payloadOf(oracle))
  }

  test("every sink shares the one dedup front end: redelivered events " +
      "reach no sink twice") {
    import org.apache.spark.sql.functions.{col, substring, when}
    val cfg = GenConfig(seed = 61, numConvs = 50, eventsPerConv = 30,
      pctUpdate = 0.3, pctDelete = 0.1,
      addToolAtLsn = Some(2L * 50 * 30 / 4 + 1))
    val events = BinlogGen.events(cfg)
    // at-least-once transport: a slice of the log is delivered twice
    val dup = events ++ events.filter(_.lsn % 7 == 0)
    val work = tmpDir("sinkdedup")
    // one segment set for all three sinks: the single-table envelope
    // ignores the `table` column the multi-table sink routes on
    val n = substring(col("conv_id"), 6, 8).cast("int")
    BinlogGen.writeSegments(spark,
      spark.createDataset(dup.sortBy(_.lsn)).toDF()
        .withColumn("table", when(n % 2 === 0, "a").otherwise("b")),
      s"$work/binlog", 6)

    val merge = Sink.create(spark,
      SinkConfig("lake-merge", s"$work/lake", numBuckets = 4))
    val raw = new RawAppendSink(s"$work/raw",
      spark.sparkContext.hadoopConfiguration)
    val lakes = Seq("a", "b").map { t =>
      val l = LakeTable(spark, s"$work/lake-$t")
      l.create(graft.model.Schemas.transcript, 4)
      t -> l
    }.toMap
    val multi = new MultiSink(lakes)
    for ((sink, ckpt) <- Seq(merge -> "ckptM", raw -> "ckptR", multi -> "ckptX"))
      Pipeline.startQuery(spark, s"$work/binlog", sink, s"$work/$ckpt",
        maxFilesPerTrigger = 2).awaitTermination()

    // the raw log is the dedup stage's output verbatim: each lsn once
    val lsns = raw.read(spark).select("lsn").as[Long].collect()
    assert(lsns.length == events.size && lsns.distinct.length == events.size)
    val oracle = payloadOf(OracleFold.finalState(events,
      Map("tool" -> cfg.addToolAtLsn.get)))
    assert(payload(raw.normalize(spark)) == oracle)
    assert(payload(merge.read(spark)) == oracle)
    assert(payload(multi.read(spark)) == oracle)
  }

  test("normalize with a narrower configured schema still emits ddl-added columns") {
    // sink configured with transcriptNoTool; the stream's `add tool` ddl
    // must surface tool in BOTH normalize paths (the full fold used to
    // project to the constructor schema and silently drop it)
    val cfg = GenConfig(seed = 67, numConvs = 30, eventsPerConv = 20,
      pctUpdate = 0.3, addToolAtLsn = Some(2L * 30 * 20 / 4 + 1))
    val events = BinlogGen.events(cfg)
    val work = tmpDir("sinknarrow")
    val raw = new RawAppendSink(s"$work/raw",
      spark.sparkContext.hadoopConfiguration,
      schema = graft.model.Schemas.transcriptNoTool, numBuckets = 4)
    raw.applyBatch(spark, spark.createDataset(events.toVector).toDF(), 0L)
    val oracle = payloadOf(OracleFold.finalState(events,
      Map("tool" -> cfg.addToolAtLsn.get)))
    assert(payload(raw.normalize(spark)) == oracle)
    assert(payload(raw.normalizeIncremental(spark)) == oracle)
  }

  test("a quiet table cannot pin the multi-table normalize watermark") {
    import org.apache.spark.sql.functions.{col, lit, substring, when}
    val cfg = GenConfig(seed = 71, numConvs = 20, eventsPerConv = 12)
    val events = BinlogGen.events(cfg)
    val n = substring(col("conv_id"), 6, 8).cast("int")
    val work = tmpDir("sinkquiet")
    val raw = new RawAppendSink(s"$work/raw",
      spark.sparkContext.hadoopConfiguration, numBuckets = 4)
    // batch 0 carries both tables; batches 1..3 carry ONLY table a
    val (h1, rest) = events.splitAt(events.size / 4)
    raw.applyBatch(spark, spark.createDataset(h1.toVector).toDF()
      .withColumn("table", when(n % 2 === 0, "a").otherwise("b")), 0L)
    rest.grouped(rest.size / 3 + 1).zipWithIndex.foreach { case (g, i) =>
      raw.applyBatch(spark, spark.createDataset(
        g.filter(e => e.conv_id != null &&
          e.conv_id.stripPrefix("conv_").toInt % 2 == 0).toVector).toDF()
        .withColumn("table", lit("a")), i + 1L)
    }
    raw.normalizeIncremental(spark)
    // the fold-complete marker advances the watermark past the quiet
    // table 'b': compaction can retire ALL dirs
    assert(raw.normalizeWatermark() >= 3L,
      s"watermark pinned at ${raw.normalizeWatermark()}")
    assert(raw.compactRaw(spark) >= 4)
    // and the fold output is still per-table correct
    val got = raw.normalizeIncremental(spark)
      .select("table", "conv_id").distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(got.forall { case (t, c) =>
      (c.stripPrefix("conv_").toInt % 2 == 0) == (t == "a") })
    // version churn is O(active tables) per fold: further a-only folds
    // must not grow the quiet lake's version (the pre-marker design paid
    // one empty commit per quiet lake per fold)
    val bVer = raw.normalizedTableLakes()("b").snapshot().version
    for (i <- 4 to 6) {
      raw.applyBatch(spark, spark.createDataset(
        events.take(8).toVector).toDF().withColumn("table", lit("a")), i.toLong)
      raw.normalizeIncremental(spark)
    }
    assert(raw.normalizeWatermark() >= 6L)
    assert(raw.normalizedTableLakes()("b").snapshot().version == bVer,
      "quiet lake's version grew with folds it took no part in")
  }

  test("raw-append replay is a no-op; crashed tmp dirs are invisible and reaped") {
    val work = tmpDir("sinkidem")
    val raw = new RawAppendSink(s"$work/raw",
      spark.sparkContext.hadoopConfiguration)
    val cfg = GenConfig(seed = 63, numConvs = 10, eventsPerConv = 5)
    val batch = spark.createDataset(BinlogGen.events(cfg)).toDF()
    raw.applyBatch(spark, batch, 0L)
    val n = raw.read(spark).count()
    raw.applyBatch(spark, batch, 0L) // replay: must not duplicate
    assert(raw.read(spark).count() == n)
    // a crashed write's tmp dir: never read, reaped by vacuumTmp
    val fs = new org.apache.hadoop.fs.Path(raw.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(raw.root, ".tmp-9-dead"))
    assert(raw.read(spark).count() == n)
    assert(raw.vacuumTmp() == 0) // default grace protects a young tmp
    assert(raw.vacuumTmp(graceMs = 0L) == 1)
  }

  test("incremental normalize folds only pending batches; compaction bounds the raw log") {
    val addAt = 2L * 40 * 20 * 3 / 4 + 1 // odd lsn in the second half
    val cfg = GenConfig(seed = 71, numConvs = 40, eventsPerConv = 20,
      pctUpdate = 0.3, pctDelete = 0.1, addToolAtLsn = Some(addAt))
    val events = BinlogGen.events(cfg)
    val cut = events(events.size / 2).lsn
    val (firstHalf, secondHalf) = events.partition(_.lsn < cut)
    val work = tmpDir("sinkincr")
    val raw = new RawAppendSink(s"$work/raw",
      spark.sparkContext.hadoopConfiguration)

    def batchOf(evs: Seq[graft.model.ChangeEvent]) =
      spark.createDataset(evs.toVector).toDF()
    // sync phase 1: two raw batches
    val (b0, b1) = firstHalf.splitAt(firstHalf.size / 2)
    raw.applyBatch(spark, batchOf(b0), 0L)
    raw.applyBatch(spark, batchOf(b1), 1L)
    // first incremental fold: equals the oracle over the first half,
    // and the normalize watermark advanced to the max folded batch id
    assert(payload(raw.normalizeIncremental(spark)) ==
      payloadOf(OracleFold.finalState(firstHalf, Map("tool" -> addAt))))
    assert(raw.normalizedLake(spark).snapshot().batchId == 1L)
    // no new batches -> pure read: no new lake commit happens
    val vBefore = raw.normalizedLake(spark).snapshot().version
    raw.normalizeIncremental(spark)
    assert(raw.normalizedLake(spark).snapshot().version == vBefore)

    // compaction: batches <= watermark coalesce into one dir; replays of
    // compacted ids stay no-ops; the readable event set is unchanged
    val nRaw = raw.read(spark).count()
    assert(raw.compactRaw(spark) == 2)
    assert(raw.compactedUpTo == 1L)
    assert(raw.read(spark).count() == nRaw)
    raw.applyBatch(spark, batchOf(b0), 0L) // replay of compacted batch
    assert(raw.read(spark).count() == nRaw)

    // sync phase 2. Before folding, REMOVE the compacted history: if the
    // second fold touched anything but the pending `batch=` dirs it would
    // now miss data — equality with the full oracle proves the fold read
    // ONLY `(watermark, maxId]`, the reference's normalizer contract.
    val (b2, b3) = secondHalf.splitAt(secondHalf.size / 2)
    raw.applyBatch(spark, batchOf(b2), 2L)
    raw.applyBatch(spark, batchOf(b3), 3L)
    val fs = new org.apache.hadoop.fs.Path(raw.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(raw.root, "compacted-1"), true)
    assert(payload(raw.normalizeIncremental(spark)) ==
      payloadOf(OracleFold.finalState(events, Map("tool" -> addAt))))
    assert(raw.normalizedLake(spark).snapshot().batchId == 3L)
  }

  test("multi-table raw staging normalizes per table (no cross-table key collisions)") {
    import org.apache.spark.sql.functions.{col, substring, when, lit}
    // deliberately OVERLAPPING keys across tables: conv ids repeat in a and
    // b, so the old flat fold would LWW-collide them (the ADVICE finding)
    val cfg = GenConfig(seed = 83, numConvs = 30, eventsPerConv = 20,
      pctUpdate = 0.3, pctDelete = 0.1,
      addToolAtLsn = Some(2L * 30 * 20 / 4 + 1))
    val events = BinlogGen.events(cfg)
    val n = substring(col("conv_id"), 6, 8).cast("int")
    def tag(df: org.apache.spark.sql.DataFrame) = df.withColumn("table",
      when(col("conv_id").isNull, lit("a")) // ddl rows evolve table a
        .when(n % 2 === 0, "a").otherwise("b"))
    def tableOf(c: String) = if (c.stripPrefix("conv_").toInt % 2 == 0) "a" else "b"
    val work = tmpDir("sinkmulti")
    val raw = new RawAppendSink(s"$work/raw",
      spark.sparkContext.hadoopConfiguration)
    val (h1, h2) = events.splitAt(events.size / 2)
    raw.applyBatch(spark, tag(spark.createDataset(h1.toVector).toDF()), 0L)
    assert(raw.isMultiTable, "staged schema must record the table column")
    // flat folds must refuse a multi-table log loudly
    intercept[IllegalArgumentException] { raw.normalize(spark) }

    def liveByTable(): Map[String, Vector[(String, Int, String, String, String, java.sql.Timestamp)]] =
      raw.normalizeIncremental(spark)
        .select("table", "conv_id", "turn_idx", "role", "text", "tool", "ts")
        .as[(String, String, Int, String, String, String, java.sql.Timestamp)]
        .collect().toVector.groupBy(_._1)
        .view.mapValues(_.map(r => (r._2, r._3, r._4, r._5, r._6, r._7))
          .sortBy(t => (t._1, t._2))).toMap
    def oracleFor(evs: Seq[graft.model.ChangeEvent], t: String) =
      payloadOf(OracleFold.finalState(
        evs.filter(e => e.conv_id == null || tableOf(e.conv_id) == t),
        Map("tool" -> cfg.addToolAtLsn.get)))

    // first incremental fold: per-table equality over the first half
    val after1 = liveByTable()
    assert(after1("a") == oracleFor(h1, "a"), "table a diverged after fold 1")
    assert(after1("b") == oracleFor(h1, "b"), "table b diverged after fold 1")
    // watermark = MIN across table lakes; compaction honors it
    assert(raw.compactRaw(spark) == 1)
    assert(raw.compactedUpTo == 0L)

    // second half + a replayed slice; fold is incremental + idempotent
    raw.applyBatch(spark, tag(spark.createDataset(
      (h2 ++ h1.take(15)).sortBy(_.lsn).toVector).toDF()), 1L)
    val after2 = liveByTable()
    assert(after2("a") == oracleFor(events, "a"), "table a diverged after fold 2")
    assert(after2("b") == oracleFor(events, "b"), "table b diverged after fold 2")
    // equality with the per-table MERGE-sink folds (the reference's
    // normalizer-vs-sync contract): route the same events through two
    // single-table merge sinks and compare final payloads
    for (t <- Seq("a", "b")) {
      val mergeSink = Sink.create(spark,
        SinkConfig("lake-merge", s"$work/merge-$t", numBuckets = 4))
      val evs = events.filter(e => e.conv_id == null || tableOf(e.conv_id) == t)
      mergeSink.applyBatch(spark,
        spark.createDataset(evs.toVector).toDF(), 0L)
      assert(payload(mergeSink.read(spark)) ==
        after2(t).map(r => (r._1, r._2, r._3, r._4, r._5, r._6)),
        s"raw-append normalize != merge sink for table $t")
    }
  }

  test("an unsafe destination table name is skipped, not fatal to normalization") {
    import org.apache.spark.sql.functions.{col, substring, when, lit}
    // a traversal-shaped table name must not poison the fold forever
    // (throwing would leave the pending set unchanged, so every retry
    // would re-read the same batch and die again)
    val cfg = GenConfig(seed = 91, numConvs = 12, eventsPerConv = 10)
    val events = BinlogGen.events(cfg)
    val n = substring(col("conv_id"), 6, 8).cast("int")
    val work = tmpDir("sinkunsafe")
    val raw = new RawAppendSink(s"$work/raw",
      spark.sparkContext.hadoopConfiguration)
    raw.applyBatch(spark, spark.createDataset(events.toVector).toDF()
      .withColumn("table",
        when(n % 3 === 0, lit("../evil")).otherwise(lit("good"))), 0L)
    val out = raw.normalizeIncremental(spark)
    assert(out.select("table").distinct().as[String].collect().toSet
      == Set("good"))
    val want = payloadOf(OracleFold.finalState(events.filter(e =>
      e.conv_id != null && e.conv_id.stripPrefix("conv_").toInt % 3 != 0)))
    assert(payload(out.drop("table")) == want)
    // nothing escaped the sink root
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$work/evil")))
    // idempotent: a second fold is a clean no-op, not a rethrow
    assert(payload(raw.normalizeIncremental(spark).drop("table")) == want)
  }

  test("compaction past the normalize watermark cannot lose events") {
    val cfg = GenConfig(seed = 101, numConvs = 20, eventsPerConv = 10)
    val events = BinlogGen.events(cfg)
    val (h1, h2) = events.splitAt(events.size / 2)
    val work = tmpDir("sinkovereager")
    val raw = new RawAppendSink(s"$work/raw",
      spark.sparkContext.hadoopConfiguration)
    raw.applyBatch(spark, spark.createDataset(h1.toVector).toDF(), 0L)
    raw.normalizeIncremental(spark) // watermark -> 0
    raw.applyBatch(spark, spark.createDataset(h2.toVector).toDF(), 1L)
    // over-eager: compact batch 1 away BEFORE it was ever folded
    assert(raw.compactRaw(spark, upTo = 1L) >= 1)
    assert(raw.compactedUpTo == 1L)
    // the fold must recover batch 1's events from the compacted dir
    // (idempotent for batch 0's: the lake's lsn > endLsn filter)
    assert(payload(raw.normalizeIncremental(spark)) ==
      payloadOf(OracleFold.finalState(events)))
    assert(raw.normalizedLake(spark).snapshot().batchId == 1L)
  }

  test("compaction crash windows: readers never lose data, retry completes cleanup") {
    val cfg = GenConfig(seed = 79, numConvs = 20, eventsPerConv = 10)
    val events = BinlogGen.events(cfg)
    val (h1, h2) = events.splitAt(events.size / 2)
    val work = tmpDir("sinkcrash")
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def raw() = new RawAppendSink(s"$work/raw",
      spark.sparkContext.hadoopConfiguration)
    val r0 = raw()
    r0.applyBatch(spark, spark.createDataset(h1.toVector).toDF(), 0L)
    r0.applyBatch(spark, spark.createDataset(h2.toVector).toDF(), 1L)
    val total = r0.read(spark).count()
    r0.normalizeIncremental(spark)
    assert(r0.compactRaw(spark) == 2)

    val r1 = raw() // fresh handle: no caches
    assert(r1.read(spark).count() == total, "view lost after marker crash")
    assert(r1.compactedUpTo == 1L, "replay guard disarmed after marker crash")
    r1.applyBatch(spark, spark.createDataset(h1.toVector).toDF(), 0L)
    assert(r1.read(spark).count() == total, "compacted batch replayed twice")

    // crash window B: a new compacted generation committed but cleanup
    // didn't run (old dir + old batch dirs still present) — readers use
    // only the newest generation; the next compactRaw finishes cleanup
    val shifted = h1.toVector.map(e => e.copy(lsn = e.lsn + 1000000L))
    r1.applyBatch(spark, spark.createDataset(shifted).toDF(), 2L)
    r1.normalizeIncremental(spark)
    // simulate: copy current compacted-1 as a stale older generation 0
    // alongside (as if gen-1's cleanup had crashed)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$work/raw/compacted-1"), fs,
      new org.apache.hadoop.fs.Path(s"$work/raw/compacted-0"), false,
      spark.sparkContext.hadoopConfiguration)
    val r2 = raw()
    val expect = r2.read(spark).count() // newest gen + batch=2 only
    assert(expect == total + h1.size, "stale generation double-read")
    val removed = r2.compactRaw(spark)
    assert(removed >= 2, s"retry must sweep stale dirs, removed=$removed")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$work/raw/compacted-0")))
    assert(raw().read(spark).count() == expect)
  }

  test("daemon-shaped raw-append: inline maintenance bounds the staged dirs") {
    // the long-lived raw-append daemon shape: without inline maintenance a
    // raw-append daemon accumulates one batch= dir per trigger forever
    // (the reference's normalizer+DELETE loop runs continuously for the
    // same reason, normalizer.rs:102-359)
    val cfg = GenConfig(seed = 103, numConvs = 40, eventsPerConv = 20,
      pctUpdate = 0.3, pctDelete = 0.1)
    val events = BinlogGen.events(cfg)
    val work = tmpDir("sinkdaemon")
    BinlogGen.writeSegments(spark,
      spark.createDataset(events).toDF(), s"$work/binlog", 10)
    val raw = new RawAppendSink(s"$work/raw",
      spark.sparkContext.hadoopConfiguration, maintainEvery = 3)
    Pipeline.startQuery(spark, s"$work/binlog", raw, s"$work/ckpt",
      maxFilesPerTrigger = 1).awaitTermination()
    // ~10 triggers with a maintenance pass every 3: the staged-dir count
    // is bounded by the cadence, not the trigger count
    val fs = new org.apache.hadoop.fs.Path(s"$work/raw")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$work/raw"))
      .map(_.getPath.getName).filter(_.startsWith("batch="))
    assert(batchDirs.length <= 3,
      s"staged dirs unbounded under inline maintenance: ${batchDirs.toList}")
    // the normalized table is current through the last maintenance pass
    assert(raw.normalizeWatermark() >= 6L,
      s"normalize watermark stuck at ${raw.normalizeWatermark()}")
    // nothing lost to compaction: the raw view still carries every event,
    // and the final fold equals the full-history oracle
    assert(raw.read(spark).count() == events.size)
    assert(payload(raw.normalizeIncremental(spark)) ==
      payloadOf(OracleFold.finalState(events)))
  }

  test("T13: sink failure halts the stream loudly; restart resumes exactly-once") {
    val cfg = GenConfig(seed = 67, numConvs = 40, eventsPerConv = 20,
      pctUpdate = 0.3, pctDelete = 0.1)
    val events = BinlogGen.events(cfg)
    val work = tmpDir("sinkfail")
    BinlogGen.writeSegments(spark,
      spark.createDataset(events).toDF(), s"$work/binlog", 8)
    val lake = LakeTable(spark, s"$work/lake")
    lake.create(graft.model.Schemas.transcript, 4)

    // a sink that fails once, mid-stream (batch 2), then recovers
    val failing = new Sink {
      var tripped = false
      val inner = new MergeSink(lake)
      def applyBatch(s: SparkSession, b: DataFrame, id: Long): Unit = {
        if (id == 2 && !tripped) {
          tripped = true
          throw new RuntimeException("injected sink failure")
        }
        inner.applyBatch(s, b, id)
      }
      def read(s: SparkSession): DataFrame = inner.read(s)
    }

    // the failure propagates: the query dies, nothing is swallowed
    val ex = intercept[StreamingQueryException] {
      Pipeline.startQuery(spark, s"$work/binlog", failing, s"$work/ckpt",
        maxFilesPerTrigger = 2).awaitTermination()
    }
    assert(ex.getMessage.contains("injected sink failure") ||
      Iterator.iterate(ex.getCause)(_.getCause).takeWhile(_ != null).take(10)
        .exists(_.getMessage.contains("injected sink failure")))
    // the failed batch did NOT advance the table (batches 0,1 only)
    assert(lake.snapshot().batchId < 2)

    // restart against the same checkpoint: the offset WAL replays the
    // failed batch; the run completes with the exact oracle state —
    // no loss, no duplication
    Pipeline.startQuery(spark, s"$work/binlog", failing, s"$work/ckpt",
      maxFilesPerTrigger = 2).awaitTermination()
    assert(payload(lake.read(spark)) == payloadOf(OracleFold.finalState(events)))
  }
}
