package graft

import org.apache.spark.sql.SparkSession

import graft.binlog.{BinlogGen, GenConfig}
import graft.lake.LakeTable
import graft.model.Schemas
import graft.pipeline.Pipeline

/** The spark-submit-able entry point: synthesize (or point at) a binlog
  * segment directory, then run the CDC pipeline end-to-end into a lake
  * table — the operational analog of the reference daemon's `main`
  * (reference: src/main.rs:1-27). Re-running with the same --checkpoint
  * resumes from the streaming checkpoint (pause/resume semantics).
  *
  * Usage (all args optional):
  *   spark-submit --class graft.CdcRunner ... \
  *     --work /tmp/graft-run --convs 1000 --events-per-conv 50 \
  *     --segments 20 --files-per-trigger 4 [--fresh]
  */
object CdcRunner {
  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val work = opt.getOrElse("--work", "/tmp/graft-cdc-run")
    val convs = opt.getOrElse("--convs", "1000").toInt
    val epc = opt.getOrElse("--events-per-conv", "50").toInt
    val hot = opt.getOrElse("--hot-convs", "3").toInt
    val hotFactor = opt.getOrElse("--hot-factor", "20").toInt
    val segments = opt.getOrElse("--segments", "20").toInt
    val fpt = opt.getOrElse("--files-per-trigger", "4").toInt
    val buckets = opt.getOrElse("--buckets", "32").toInt
    // S15 sink selection: lake-merge (default) | raw-append (sync/normalize
    // split: append-only staging now, normalize fold on demand)
    val sinkKind = opt.getOrElse("--sink", "lake-merge")
    val fresh = args.contains("--fresh")

    // spark-submit injects the master; default to local[*] when run directly
    val builder0 = SparkSession.builder()
    val spark = opt.get("--master")
      .orElse(sys.env.get("SPARK_GRAFT_MASTER"))
      .orElse(sys.props.get("spark.master"))
      .fold(builder0.master("local[*]"))(builder0.master)
      .appName("graft-cdc")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // see ScalingBench: per-file checksum futures serialize state-store IO
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // SPARK_GRAFT_ROCKSDB=1: executor-local RocksDB state store — the
      // right default on a real cluster (per-executor NVMe + changelog
      // checkpointing). Round-5 re-A/B under the bitmap dedup container:
      // 8-core PARITY with in-heap (the round-2 "6.5x slower" verdict was
      // an artifact of the old per-event hash state); in this one-JVM
      // sandbox in-heap stays marginally faster, so it remains the default
      .config("spark.sql.streaming.stateStore.providerClass",
        if (sys.env.get("SPARK_GRAFT_ROCKSDB").contains("1"))
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        else
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        sys.env.get("SPARK_GRAFT_ROCKSDB").contains("1").toString)
      // avoid the FileContext checkpoint manager's per-rename process fork
      // (readlink via Shell — thread-dump-verified in BENCH.md)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.sql.streaming.maxBatchesToRetainInMemory", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fresh) fs.delete(new org.apache.hadoop.fs.Path(work), true)

    val binlogDir = s"$work/binlog"
    val lakeDir = s"$work/lake"
    val ckptDir = s"$work/checkpoint"

    // --rebase-checkpoint: drop ONLY the streaming checkpoint, keep the
    // lake. The migration path for a checkpoint written while the stateful
    // dedup stage ran in front of the lake (Spark refuses to resume it
    // without the stage; Pipeline.startQuery names this remedy). Safe
    // because redelivered pre-endLsn events die on the `lsn > endLsn`
    // guard and the persisted batch-id offset keeps commit ids monotone
    // across the fresh checkpoint. Refused when there is no lake position
    // to guard replays with.
    if (args.contains("--rebase-checkpoint")) {
      val lakeExists = fs.exists(new org.apache.hadoop.fs.Path(lakeDir))
      require(lakeExists, "--rebase-checkpoint needs an existing lake " +
        "(nothing would guard replayed events)")
      fs.delete(new org.apache.hadoop.fs.Path(ckptDir), true)
      println("[cdc] checkpoint rebased: the stream replays from the log " +
        "start; lake position guards replays")
    }

    // add `tool` ~25% in; force odd parity (ddl lsns are odd by convention,
    // and 2*c*e/4+1 is only odd when (c*e)/2 is even)
    val quarterCut = 2L * convs * epc / 4
    val cfg = GenConfig(numConvs = convs, eventsPerConv = epc,
      hotConvs = hot, hotFactor = hotFactor,
      addToolAtLsn = Some(quarterCut - quarterCut % 2 + 1))
    if (!fs.exists(new org.apache.hadoop.fs.Path(binlogDir))) {
      println(s"[cdc] generating ${cfg.totalEvents} events -> $binlogDir")
      BinlogGen.writeSegments(spark,
        BinlogGen.eventsDs(spark, cfg).toDF(), binlogDir, segments)
    }

    if (sinkKind == "raw-append") {
      val raw = graft.sink.Sink.create(spark,
        graft.sink.SinkConfig("raw-append", s"$work/raw"))
        .asInstanceOf[graft.sink.RawAppendSink]
      val t0r = System.nanoTime()
      Pipeline.startQuery(spark, binlogDir, raw, ckptDir,
        maxFilesPerTrigger = fpt).awaitTermination()
      val secs = (System.nanoTime() - t0r) / 1e9
      val rawRows = raw.read(spark).count()
      val liveRows = raw.normalize(spark).count()
      println(f"[cdc] raw-append: staged $rawRows raw events in $secs%.1f s " +
        f"(${rawRows / secs}%.0f events/s); normalize -> $liveRows live rows")
      // production normalize path: fold pending batches into the
      // persistent normalized table, then compact the folded raw history
      val incRows = raw.normalizeIncremental(spark).count()
      val compacted = raw.compactRaw(spark)
      println(s"[cdc] raw-append incremental: normalized table = $incRows " +
        s"live rows (watermark batch " +
        s"${raw.normalizedLake(spark).snapshot().batchId}); " +
        s"compacted $compacted staged dirs")
      spark.stop()
      return
    }

    val lake = LakeTable(spark, lakeDir)
    if (lake.snapshotVersions().isEmpty)
      lake.create(Schemas.transcriptNoTool, buckets)
    else {
      // E6 startup reconcile: configured job schema vs stored lake schema
      val acts = lake.ensureSchema(org.apache.spark.sql.types.StructType(
        Schemas.transcriptNoTool.fields.filterNot(_.name.startsWith("_"))))
      if (acts.nonEmpty) println(s"[cdc] startup schema reconcile: $acts")
    }

    // Daemon shape (the reference's deployment form, src/main.rs:1-27 +
    // control server src/control/mod.rs:19-32): continuous 5 s trigger +
    // HTTP control plane, until killed or --daemon-seconds elapse.
    // Without --daemon-seconds, drain mode processes the available log
    // and exits (the test/bench shape).
    val daemonSecs = opt.get("--daemon-seconds").map(_.toLong)
    val httpPort = opt.get("--http-port").map(_.toInt)
    // inline maintenance cadence (compact + vacuum every N batches on the
    // commit thread); 0 = off. --vacuum-grace-ms shortens the orphan
    // grace for tests/demos (production keeps the 24 h default).
    val maintenance = opt.get("--maintenance-every").map(_.toInt)
      .filter(_ > 0).map(n => graft.sink.Maintenance(
        everyBatches = n,
        vacuumGraceMs = opt.get("--vacuum-grace-ms").map(_.toLong)
          .getOrElse(86400000L)))
    if (daemonSecs.isDefined) {
      val ctl = new graft.control.Control(spark, binlogDir,
        graft.sink.MergeSink(lake, maintenance = maintenance), ckptDir,
        maxFilesPerTrigger = fpt)
      // --http-bind widens past the loopback default (unauthenticated
      // verbs: widening is an explicit operator decision)
      val httpBind = opt.getOrElse("--http-bind", "127.0.0.1")
      val http = httpPort.map(p =>
        new graft.control.HttpControl(ctl, p, httpBind).start())
      http.foreach(h => println(s"[cdc] control listening on :${h.boundPort}"))
      ctl.resume()
      Thread.sleep(daemonSecs.get * 1000L)
      ctl.drain() // finish the backlog before exiting
      http.foreach(_.stop())
      ctl.close()
    } else {
      val t0 = System.nanoTime()
      Pipeline.runAvailable(spark, binlogDir, lake, ckptDir,
        maxFilesPerTrigger = fpt, maintenance = maintenance)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[cdc] applied ${cfg.totalEvents} events in $secs%.1f s " +
        f"(${cfg.totalEvents / secs}%.0f events/s)")
    }

    val snap = lake.snapshot()
    val live = lake.read(spark).count()
    // daemon mode reports state only — its wall includes idle trigger
    // time, so an events/s claim from it would be meaningless
    println(s"[cdc] live rows = $live; " +
      s"snapshot v${snap.version}, schemaVersion ${snap.schemaVersion}, " +
      s"endLsn ${snap.endLsn}")
    println("[cdc] lineage (last 10 commits):")
    lake.lineageDf(spark).orderBy(org.apache.spark.sql.functions
      .col("batch_id").desc).show(10, truncate = false)
    spark.stop()
  }
}
