package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.binlog.{BinlogGen, GenConfig, OracleFold}
import graft.control.{Control, HttpControl}
import graft.lake.LakeTable
import graft.model.{Schemas, Transcript}
import graft.sink.{MergeSink, MultiSink}

/** The HTTP ops facade (reference control server parity,
  * src/control/mod.rs:19-32): status/metrics/pause/resume/drain/snapshot
  * verbs drive the same Control the programmatic tests cover.
  */
class HttpControlSpec extends SparkSpec {
  import spark.implicits._

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(port: Int, path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("status/drain/metrics/pause verbs over HTTP") {
    val cfg = GenConfig(seed = 83, numConvs = 30, eventsPerConv = 15)
    val events = BinlogGen.events(cfg)
    val work = tmpDir("httpctl")
    BinlogGen.writeSegments(spark,
      spark.createDataset(events).toDF(), s"$work/binlog", 4)
    val lake = LakeTable(spark, s"$work/lake")
    lake.create(Schemas.transcript, 4)
    val ctl = new Control(spark, s"$work/binlog", MergeSink(lake),
      s"$work/ckpt", maxFilesPerTrigger = 2)
    val http = new HttpControl(ctl).start()
    try {
      val port = http.boundPort
      val (c0, s0) = get(port, "/status")
      assert(c0 == 200 && s0.contains("\"running\":false"))

      // GET on a POST-only verb is rejected
      assert(get(port, "/drain")._1 == 405)

      // drain over HTTP: processes the whole backlog, then reports state
      val (c1, s1) = post(port, "/drain")
      assert(c1 == 200 && s1.contains("\"running\":false"))
      val live = lake.read(spark)
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "_lsn", "_op")
        .as[Transcript].collect().toVector.sortBy(t => (t.conv_id, t.turn_idx))
      assert(live == OracleFold.finalState(events))

      // metrics recorded per-batch samples
      val deadline = System.currentTimeMillis() + 10000
      while (ctl.metrics.samples.isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val (c2, s2) = get(port, "/metrics")
      assert(c2 == 200 && s2.startsWith("[") && s2.contains("\"batchId\""))

      // snapshot trigger without a chunk source → a loud 500, not silence
      assert(post(port, "/snapshot")._1 == 500)

      // pause is idempotent when nothing runs
      assert(post(port, "/pause")._1 == 200)

      // no chunk source -> backfill detail is explicitly null in status
      assert(get(port, "/status")._2.contains("\"backfill\":null"))

      // reload round-trip: new knob applies, engine stays paused (it was),
      // a later resume+pause works against the same checkpoint
      val (c3, s3) = post(port, "/reload?maxFilesPerTrigger=4")
      assert(c3 == 200 && s3.contains("\"running\":false"))
      assert(post(port, "/resume")._2.contains("\"running\":true"))
      // reload of a RUNNING engine restarts it against the same checkpoint
      val (c4, s4) = post(port, "/reload?maxFilesPerTrigger=2")
      assert(c4 == 200 && s4.contains("\"running\":true"))
      // a bad knob value on a RUNNING engine is a loud 500 AND leaves the
      // engine running (validation precedes the pause — a rejected reload
      // must not silently stop the stream)
      assert(post(port, "/reload?maxFilesPerTrigger=0")._1 == 500)
      assert(get(port, "/status")._2.contains("\"running\":true"))
      assert(post(port, "/pause")._2.contains("\"running\":false"))
      // same rejection when paused
      assert(post(port, "/reload?maxFilesPerTrigger=0")._1 == 500)

      // liveness probe: GET-able, reflects running state, never touches
      // the lake snapshot
      val (ch, sh) = get(port, "/health")
      assert(ch == 200 && sh.contains("\"status\":\"ok\"") &&
        sh.contains("\"running\":false"))

      // stop verb (reference stop): halts the query like pause; the
      // reference state string tracks the lifecycle
      val s5 = post(port, "/resume")._2
      assert(s5.contains("\"running\":true") && s5.contains("\"state\":\"running\""))
      val s6 = post(port, "/stop")._2
      assert(s6.contains("\"running\":false") && s6.contains("\"state\":\"paused\""))
    } finally {
      http.stop()
      ctl.close()
    }
  }

  test("live rebase: checkpoint dropped mid-soak, replay equality preserved") {
    val cfg = GenConfig(seed = 97, numConvs = 40, eventsPerConv = 20,
      pctUpdate = 0.3, pctDelete = 0.1)
    val events = BinlogGen.events(cfg)
    val work = tmpDir("httprebase")
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // phase 1: first half of the segments
    BinlogGen.writeSegments(spark,
      spark.createDataset(events).toDF(), s"$work/all", 8)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$work/binlog"))
    val segs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$work/all"))
      .map(_.getPath).sortBy(_.getName)
    def addSegs(ps: Seq[org.apache.hadoop.fs.Path]): Unit = ps.foreach(p =>
      org.apache.hadoop.fs.FileUtil.copy(fs, p, fs,
        new org.apache.hadoop.fs.Path(s"$work/binlog", p.getName), false,
        spark.sparkContext.hadoopConfiguration))
    addSegs(segs.take(4).toSeq)
    val lake = LakeTable(spark, s"$work/lake")
    lake.create(Schemas.transcript, 4)
    val ctl = new Control(spark, s"$work/binlog", MergeSink(lake),
      s"$work/ckpt", maxFilesPerTrigger = 2)
    val http = new HttpControl(ctl).start()
    try {
      val port = http.boundPort
      post(port, "/drain")
      val batchBefore = lake.snapshot().batchId
      assert(batchBefore >= 0)

      // mid-soak: run, pause, then drop the checkpoint while paused
      post(port, "/resume")
      post(port, "/pause")
      fs.delete(new org.apache.hadoop.fs.Path(s"$work/ckpt"), true)

      // phase 2: the REST of the segments arrive; the fresh checkpoint
      // re-reads phase-1 segments too (worst-case redelivery) — the lake's
      // lsn guard + shifted batch ids must absorb them exactly-once
      addSegs(segs.drop(4).toSeq)
      post(port, "/drain")
      val live = lake.read(spark)
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "_lsn", "_op")
        .as[Transcript].collect().toVector.sortBy(t => (t.conv_id, t.turn_idx))
      assert(live == OracleFold.finalState(events),
        "replay equality broken across live rebase")
      // batch ids stayed monotone across the rebase (no swallowed batches)
      assert(lake.snapshot().batchId > batchBefore)
    } finally {
      http.stop()
      ctl.close()
    }
  }

  test("multi-table control plane: per-table status rows + verbs + rebase") {
    import org.apache.spark.sql.functions.{col, substring, when}
    val cfg = GenConfig(seed = 101, numConvs = 30, eventsPerConv = 12,
      pctUpdate = 0.3, pctDelete = 0.1)
    val events = BinlogGen.events(cfg)
    val work = tmpDir("httpmulti")
    val n = substring(col("conv_id"), 6, 8).cast("int")
    val tagged = spark.createDataset(events).toDF()
      .withColumn("table", when(n % 2 === 0, "a").otherwise("b"))
    BinlogGen.writeSegments(spark, tagged, s"$work/binlog", 4)
    val lakes = Map(
      "a" -> LakeTable(spark, s"$work/lake-a"),
      "b" -> LakeTable(spark, s"$work/lake-b"))
    lakes.values.foreach(_.create(Schemas.transcript, 4))
    val ctl = new Control(spark, s"$work/binlog", new MultiSink(lakes),
      s"$work/ckpt", maxFilesPerTrigger = 2)
    val http = new HttpControl(ctl).start()
    try {
      val port = http.boundPort
      post(port, "/drain")
      def liveState(lake: LakeTable): Vector[Transcript] =
        lake.read(spark)
          .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "_lsn", "_op")
          .as[Transcript].collect().toVector.sortBy(t => (t.conv_id, t.turn_idx))
      def tableOf(c: String) =
        if (c.stripPrefix("conv_").toInt % 2 == 0) "a" else "b"
      for ((name, lake) <- lakes)
        assert(liveState(lake) == OracleFold.finalState(
          events.filter(e => e.conv_id != null && tableOf(e.conv_id) == name)),
          s"table $name diverged")
      // per-table rows surface in /status (reference per-table progress)
      val st = get(port, "/status")._2
      assert(st.contains(""""tables":[{"name":"a""""), st)
      assert(st.contains(""""name":"b""""), st)
      val rowCountSum = lakes.values.map(_.snapshot().rowCount).sum
      assert(st.contains(s""""rowCount":$rowCountSum,"""), st)
      // pause/resume/reload round-trip on the multi engine
      assert(post(port, "/resume")._2.contains("\"running\":true"))
      assert(post(port, "/reload?maxFilesPerTrigger=4")._2
        .contains("\"running\":true"))
      assert(post(port, "/pause")._2.contains("\"running\":false"))
      // live rebase across the whole table set (checkpoint dropped while
      // paused); a further drain with the re-read log is a per-table no-op
      // (replay equality per lake)
      val before = lakes.map { case (nm, l) => nm -> liveState(l) }
      val ckpt = new org.apache.hadoop.fs.Path(s"$work/ckpt")
      ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(ckpt, true)
      post(port, "/drain")
      assert(lakes.forall { case (nm, l) => liveState(l) == before(nm) },
        "post-rebase redelivery changed a table")
      // no backfill on multi: snapshot trigger is a loud 500
      assert(post(port, "/snapshot")._1 == 500)
    } finally {
      http.stop()
      ctl.close()
    }
  }

  test("backfill progress detail in /status (per-table parity)") {
    val cfg = GenConfig(seed = 89, numConvs = 20, eventsPerConv = 10)
    val events = BinlogGen.events(cfg)
    val work = tmpDir("httpbackfill")
    BinlogGen.writeSegments(spark,
      spark.createDataset(events).toDF(), s"$work/binlog", 2)
    val lake = LakeTable(spark, s"$work/lake")
    lake.create(Schemas.transcript, 4)
    val src = new graft.apply.Backfill.ChunkSource {
      def numChunks: Int = 2
      def chunkRows(s: org.apache.spark.sql.SparkSession, i: Int, lw: Long) = {
        import org.apache.spark.sql.functions._
        spark.createDataset(
          OracleFold.finalState(events.filter(_.lsn <= lw))).toDF()
          .filter(pmod(hash(col("conv_id")), lit(2)) === i)
      }
    }
    val ctl = new Control(spark, s"$work/binlog",
      MergeSink(lake, chunkSource = Some(src)), s"$work/ckpt",
      maxFilesPerTrigger = 2)
    val http = new HttpControl(ctl).start()
    try {
      val port = http.boundPort
      val st0 = get(port, "/status")._2
      assert(st0.contains(
        """"backfill":{"done":0,"total":2,"complete":false}"""))
      // pending chunks -> the engine is in the snapshot stage (reference
      // stage_str)
      assert(st0.contains("\"stage\":\"snapshot\""))
      post(port, "/drain")
      assert(get(port, "/status")._2.contains(
        """"backfill":{"done":2,"total":2,"complete":true}"""))
      // snapshot trigger resets the cursor atomically (engine paused)
      assert(post(port, "/snapshot")._1 == 200)
      assert(get(port, "/status")._2.contains(
        """"backfill":{"done":0,"total":2,"complete":false}"""))

      // snapshot pause holds backfill chunks while the stream still
      // drains (reference snapshot_pause, handlers.rs:233-245)
      assert(post(port, "/snapshot/pause")._2.contains(
        "\"snapshotPaused\":true"))
      post(port, "/drain")
      assert(get(port, "/status")._2.contains(
        """"backfill":{"done":0,"total":2,"complete":false}"""))
      // resume lets chunks interleave again; the next drain finishes them
      assert(post(port, "/snapshot/resume")._2.contains(
        "\"snapshotPaused\":false"))
      post(port, "/drain")
      val stEnd = get(port, "/status")._2
      assert(stEnd.contains(
        """"backfill":{"done":2,"total":2,"complete":true}"""))
      assert(stEnd.contains("\"stage\":\"cdc\"")) // snapshot finished
    } finally {
      http.stop()
      ctl.close()
    }
  }

  test("verbs answer 409 while a drain holds the control lock") {
    // drain() holds the control lock for the whole backlog, so any other
    // verb posted mid-drain would block until the drain ends and then run
    // on a drained engine. The facade must turn that into an immediate
    // 409 while the lock-free reads (status/metrics/health) keep
    // answering. A real mid-drain window is racy to catch, so pin the
    // flag with a stub control.
    import graft.control.{ControlStatus, EngineControl, MetricsSampler}
    val stub = new EngineControl {
      def status(): ControlStatus = ControlStatus(
        running = true, snapshotVersion = 1, batchId = 0, endLsn = 0,
        schemaVersion = 1, backfillDone = 0, rowCount = 0,
        lastBatchWallMs = -1, lastBatchSkippedEvolutions = 0)
      val metrics = new MetricsSampler("stub")
      def isRunning: Boolean = true
      def isDraining: Boolean = true
      def pause(): Unit = fail("verb reached the engine during a drain")
      def resume(): Unit = fail("verb reached the engine during a drain")
      def drain(): Unit = fail("verb reached the engine during a drain")
      def stop(): Unit = fail("verb reached the engine during a drain")
      def reload(n: Option[Int]): Unit =
        fail("verb reached the engine during a drain")
      def triggerSnapshotIfPaused(): Boolean =
        fail("verb reached the engine during a drain")
      def pauseSnapshot(): Unit = fail("verb reached the engine during a drain")
      def resumeSnapshot(): Unit = fail("verb reached the engine during a drain")
      def close(): Unit = ()
    }
    val http = new HttpControl(stub).start()
    try {
      val port = http.boundPort
      for (verb <- Seq("/pause", "/resume", "/drain", "/stop", "/reload",
        "/snapshot", "/snapshot/pause", "/snapshot/resume")) {
        val (code, body) = post(port, verb)
        assert(code == 409 && body.contains("draining"), s"verb $verb")
      }
      // the lock-free reads still answer during the drain
      assert(get(port, "/status")._1 == 200)
      assert(get(port, "/metrics")._1 == 200)
      assert(get(port, "/health")._1 == 200)
    } finally http.stop()
  }
}
