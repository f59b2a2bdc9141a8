package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.apply.Backfill
import graft.lake.LakeTable
import graft.model.{ChangeEvent, Schemas, Transcript}
import graft.pipeline.Pipeline

/** Sizes of the three workloads; fixed, so every run does the same work. */
object Sizes {
  val convs = 2000           // ~103k events: 2000 convs x 50, 3 hot x20
  val buckets = 32
  val drainSegments = 16
  val drainFilesPerTrigger = 8 // two large micro-batches per round
  val tailPreloadSegments = 8 // preloaded in one trigger
  val tailRatePerS = 10      // live segments landed per second
  val backfillSegments = 4
  val backfillChunks = 4
  val warmScans = 5     // unmeasured scans before the measured ones
  val scansPerRound = 9
  val pollMs = 20L
  // unmeasured full rounds before the timed ones: the first round after a
  // small warmup still runs on a JIT that is far from steady. A traced
  // `tail` run warms too, so its untraced and traced rounds compare fairly.
  def warmRounds(workload: String, traced: Boolean): Int = workload match {
    case "drain" => 1
    case "tail" if traced => 1
    case _ => 0
  }
}

/** What one timed round produced; checked and analysed after the clock. */
final case class Round(
    name: String, setupS: Double, t0: Double, t1: Double, events: Long,
    lagsMs: Seq[Double], lake: LakeTable, lakeRoot: Path, expected: Vector[Transcript],
    withAudit: Boolean, firstVersion: Long, landed: Seq[(Seg, Double)] = Nil,
    genLateMs: Double = 0.0, missing: Int = 0, chunkPlanMs: Double = 0.0,
    priorEvents: Long = 0L, metaBytesBefore: Long = 0L,
    snapshotMs: Seq[Double] = Nil, preloadS: Double = 0.0,
    traced: Boolean = false, heapMb: Double = 0.0, scansMs: Seq[Double] = Nil,
    hashes: Seq[String] = Nil) {
  def wallMs: Double = t1 - t0
}

/** Polls `LakeTable.snapshot()` and records when each segment's last event
  * becomes visible (the snapshot's endLsn covers it).
  */
final class Visibility(spark: SparkSession, lakeRoot: Path, segs: Vector[Seg],
    tracer: Tracer) extends Thread("perfbench-visibility") {
  private val lake = LakeTable(spark, lakeRoot.toString)
  val visibleAt: Array[Double] = Array.fill(segs.size)(Double.NaN)
  val snapshotMs = mutable.ArrayBuffer[Double]()
  @volatile private var stopped = false
  setDaemon(true)

  // read by the landing thread while the poller writes
  def allVisible: Boolean = synchronized(visibleAt.forall(!_.isNaN))

  def poll(): Unit = {
    val a = tracer.nowMs
    val end = lake.snapshot().endLsn
    val b = tracer.nowMs
    synchronized {
      snapshotMs += (b - a)
      for (i <- segs.indices if visibleAt(i).isNaN && segs(i).maxLsn <= end)
        visibleAt(i) = b
    }
  }

  override def run(): Unit =
    while (!stopped && !allVisible) { poll(); Thread.sleep(Sizes.pollMs) }

  def finish(): Unit = { stopped = true; join(); poll() }
}

/** The three workloads over one seeded log. Each round builds a fresh lake
  * (set-up), runs the timed phase through the engine's public entry points
  * and leaves the final table for the checks.
  */
final class Bench(spark: SparkSession, workload: String, seed: Long,
    seconds: Int, work: Path, cache: Path, tracer: Tracer) {
  private val spec = LogSpec(seed, Sizes.convs)

  // ------------------------------------------------------------------ inputs
  lazy val events: Vector[ChangeEvent] = graft.binlog.BinlogGen.events(spec.genConfig)
  private lazy val digest = Inputs.eventDigest(events)
  // the lsn that splits the data events in half
  private lazy val cut: Long = {
    val data = events.filter(_.op < 3)
    data(data.size / 2).lsn
  }
  private def liveSegments: Int = Sizes.tailRatePerS * seconds
  lazy val oracle: Vector[Transcript] = Inputs.oracle(spec, events)
  lazy val oracleHash: String = Check.expectedHash(spark, oracle)

  /** Materialise this workload's cached inputs; returns the entry dir. */
  def prepareInputs(): Path = {
    val key = workload match {
      case "tail" => s"tail-s$seed-${spec.tag}-live$liveSegments"
      case w => s"$w-s$seed-${spec.tag}"
    }
    val identity = Seq(s"workload=$workload", s"seed=$seed",
      s"log=${spec.tag}", s"events=$digest")
    val dir = Inputs.cached(cache, key, identity) { tmp =>
      workload match {
        case "drain" =>
          Inputs.writeSegments(spark, events, tmp.resolve("segs"), Sizes.drainSegments)
        case "tail" =>
          val (pre, live) = events.partition(_.lsn <= cut)
          Inputs.writeSegments(spark, pre, tmp.resolve("pre"), Sizes.tailPreloadSegments)
          Inputs.writeSegments(spark, live, tmp.resolve("live"), liveSegments)
        case "backfill" =>
          Inputs.writeSegments(spark, events.filter(_.lsn > cut),
            tmp.resolve("segs"), Sizes.backfillSegments)
          Inputs.writeSource(spark, oracle, tmp.resolve("source"))
      }
    }
    dir
  }

  // ------------------------------------------------------------------ rounds
  private def fresh(name: String): Path = {
    val d = work.resolve(name)
    Inputs.deleteTree(d)
    Files.createDirectories(d)
    d
  }

  private def newLake(dir: Path, schema: org.apache.spark.sql.types.StructType) =
    tracer.span("LakeTable.create", "lake") {
      val lake = LakeTable(spark, dir.resolve("lake").toString)
      lake.create(schema, Sizes.buckets)
      lake
    }

  /** Closed loops: every segment is due when the timed phase starts. */
  private def closedLoopLags(vis: Visibility, t0: Double): Seq[Double] =
    vis.visibleAt.toSeq.map(_ - t0)

  def drainRound(entry: Path, i: Int): Round = {
    val segs = Inputs.readSegments(entry.resolve("segs"))
    val s0 = tracer.nowMs
    val dir = fresh(s"drain-$i")
    val lake = newLake(dir, Schemas.transcriptNoTool)
    val first = lake.snapshot().version
    val setup = (tracer.nowMs - s0) / 1000
    val meta0 = Main.metaBytes(dir.resolve("lake"))
    val vis = new Visibility(spark, dir.resolve("lake"), segs.segs, tracer)
    val t0 = tracer.nowMs
    vis.start()
    tracer.span("Pipeline.runAvailable", "pipeline") {
      Pipeline.runAvailable(spark, segs.dir.toString, lake,
        dir.resolve("ckpt").toString,
        maxFilesPerTrigger = Sizes.drainFilesPerTrigger)
    }
    val t1 = tracer.nowMs
    vis.finish()
    Round("drain", setup, t0, t1, segs.events, closedLoopLags(vis, t0), lake,
      dir.resolve("lake"), oracle, withAudit = true, first,
      metaBytesBefore = meta0, snapshotMs = vis.snapshotMs.toSeq)
  }

  def backfillRound(entry: Path, i: Int): Round = {
    val segs = Inputs.readSegments(entry.resolve("segs"))
    val source = entry.resolve("source").toString
    val s0 = tracer.nowMs
    val dir = fresh(s"backfill-$i")
    // the source table already has `tool`, so the lake is created with it
    val lake = newLake(dir, Schemas.transcript)
    val first = lake.snapshot().version
    val setup = (tracer.nowMs - s0) / 1000
    val meta0 = Main.metaBytes(dir.resolve("lake"))
    val vis = new Visibility(spark, dir.resolve("lake"), segs.segs, tracer)
    val t0 = tracer.nowMs
    vis.start()
    val bounds = tracer.span("Backfill.planChunkBounds", "apply") {
      Backfill.planChunkBounds(spark.read.parquet(source).select("conv_id"),
        "conv_id", Sizes.backfillChunks)
    }
    val planMs = tracer.nowMs - t0
    val src = new Backfill.ChunkSource {
      def numChunks: Int = Sizes.backfillChunks
      // the source is the final-state fold: at or past any low watermark
      def chunkRows(s: SparkSession, chunk: Int, lwLsn: Long): DataFrame =
        s.read.parquet(source)
          .filter(Backfill.chunkPredicate(bounds, "conv_id", chunk))
    }
    tracer.span("Pipeline.runAvailable", "pipeline") {
      Pipeline.runAvailable(spark, segs.dir.toString, lake,
        dir.resolve("ckpt").toString, maxFilesPerTrigger = 1,
        chunkSource = Some(src), chunksPerBatch = 1)
    }
    val t1 = tracer.nowMs
    vis.finish()
    Round("backfill", setup, t0, t1, segs.events + oracle.size,
      closedLoopLags(vis, t0), lake, dir.resolve("lake"), oracle,
      withAudit = false, first, chunkPlanMs = planMs, metaBytesBefore = meta0,
      snapshotMs = vis.snapshotMs.toSeq)
  }

  def tailRound(entry: Path, i: Int): Round = {
    val pre = Inputs.readSegments(entry.resolve("pre"))
    val live = Inputs.readSegments(entry.resolve("live"))
    val s0 = tracer.nowMs
    val dir = fresh(s"tail-$i")
    val binlog = dir.resolve("binlog")
    Files.createDirectories(binlog)
    pre.files.foreach(f => Files.copy(f, binlog.resolve(f.getFileName),
      StandardCopyOption.COPY_ATTRIBUTES))
    val lake = newLake(dir, Schemas.transcriptNoTool)
    val ckpt = dir.resolve("ckpt").toString
    val p0 = tracer.nowMs
    tracer.span("Pipeline.runAvailable", "pipeline") {
      Pipeline.runAvailable(spark, binlog.toString, lake, ckpt,
        maxFilesPerTrigger = Sizes.tailPreloadSegments)
    }
    val preload = (tracer.nowMs - p0) / 1000
    val first = lake.snapshot().version
    val setup = (tracer.nowMs - s0) / 1000
    val meta0 = Main.metaBytes(dir.resolve("lake"))

    val q = tracer.span("Pipeline.start", "pipeline") {
      Pipeline.start(spark, binlog.toString, lake, ckpt,
        maxFilesPerTrigger = 100000, availableNow = false)
    }
    // The daemon triggers every 5 s on wall-clock multiples of 5 s. The
    // landing schedule starts 50 ms after such a boundary, so segments
    // never race a trigger's file listing and the lag distribution does
    // not depend on where in the trigger period a run happened to start.
    val now = System.currentTimeMillis()
    val boundary = (now / 5000 + 1) * 5000 + (if (now % 5000 > 4000) 5000 else 0)
    val stepMs = 1000.0 / Sizes.tailRatePerS
    val due = live.segs.indices.map(k => boundary + 50 + k * stepMs)
    val vis = new Visibility(spark, dir.resolve("lake"), live.segs, tracer)
    val landedAt = Array.fill(live.segs.size)(Double.NaN)
    vis.start()
    for ((f, k) <- live.files.zipWithIndex) {
      val wait = due(k) - tracer.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      val tmp = binlog.resolve(s".tmp-${f.getFileName}")
      Files.copy(f, tmp)
      Files.move(tmp, binlog.resolve(s"live-${f.getFileName}"),
        StandardCopyOption.ATOMIC_MOVE)
      landedAt(k) = tracer.nowMs
    }
    val deadline = tracer.nowMs + 60000
    while (!vis.allVisible && tracer.nowMs < deadline) Thread.sleep(Sizes.pollMs)
    vis.finish()
    val seen = vis.visibleAt.filterNot(_.isNaN)
    val t1 = if (seen.isEmpty) tracer.nowMs else seen.max
    tracer.span("StreamingQuery.stop", "pipeline") { q.stop() }
    val lags = vis.visibleAt.toSeq.zip(due).collect {
      case (v, d) if !v.isNaN => v - d
    }
    val late = landedAt.zip(due).map { case (l, d) => l - d }
    Round("tail", setup, due.head, t1, live.events, lags, lake,
      dir.resolve("lake"), oracle, withAudit = true, first,
      landed = live.segs.zip(landedAt.toSeq), genLateMs = late.max,
      missing = vis.visibleAt.count(_.isNaN), priorEvents = pre.events,
      metaBytesBefore = meta0, snapshotMs = vis.snapshotMs.toSeq,
      preloadS = preload)
  }

  /** Full rounds whose results are discarded, part of set-up. */
  def warmRounds(entry: Path, traced: Boolean): Unit =
    (0 until Sizes.warmRounds(workload, traced)).foreach { i =>
      val r = round(entry, -1 - i)
      Inputs.deleteTree(r.lakeRoot.getParent)
    }

  private def round(entry: Path, i: Int): Round = workload match {
    case "drain" => drainRound(entry, i)
    case "tail" => tailRound(entry, i)
    case "backfill" => backfillRound(entry, i)
  }

  /** The timed rounds: for the closed loops a fixed count, `--seconds / 5`
    * (at least 1), so every run does the same work; for `tail` one round,
    * whose landing schedule spans `--seconds`. With `traced`, twice as many
    * rounds, untraced and traced in ABBA order so both halves run on an
    * equally warm JVM. After each round, outside its timed phase: the heap
    * still live after a full GC (so a cache that outlives a batch shows) and
    * the content-hash scans.
    */
  def rounds(entry: Path, traced: Boolean): Seq[Round] = {
    val out = mutable.ArrayBuffer[Round]()
    val n = (if (workload == "tail") 1 else math.max(1, seconds / 5)) *
      (if (traced) 2 else 1)
    for (i <- 0 until n) {
      val on = traced && (i % 4 == 1 || i % 4 == 2)
      if (on) tracer.attach(spark)
      val r = tracer.span(s"round $i", "bench") {
        val r = round(entry, i)
        val heap = Main.heapUsedAfterGc()
        (0 until Sizes.warmScans).foreach(_ => Check.contentHash(r.lake.read(spark)))
        val scans = (0 until Sizes.scansPerRound).map { _ =>
          val a = tracer.nowMs
          val h = tracer.span("LakeTable.read", "lake") {
            Check.contentHash(r.lake.read(spark))
          }
          (tracer.nowMs - a, h)
        }
        r.copy(traced = on, heapMb = heap, scansMs = scans.map(_._1),
          hashes = scans.map(_._2))
      }
      if (on) { tracer.drain(spark); tracer.detach(spark) }
      out += r
    }
    out.toSeq
  }
}
