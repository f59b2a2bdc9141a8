package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.apply.Backfill
import graft.lake.LakeTable
import graft.model.Schemas
import graft.pipeline.Pipeline

object Main {
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile; NaN for an empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** Bytes of the lake's commit metadata: snapshot log, manifests, lineage. */
  def metaBytes(lakeRoot: Path): Long =
    Seq("_log", "_manifests", "_lineage").map(d => dirBytes(lakeRoot.resolve(d))).sum

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  def heapUsedAfterGc(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L))
      .sum / (1024.0 * 1024.0)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the session settings CdcRunner ships
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "false")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.sql.streaming.maxBatchesToRetainInMemory", "1")
      // keep everything inside the benchmark's work dir, on loopback
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A small end-to-end pass over the code paths the workload uses
    * (stream, dedup, MERGE, lake read; chunk planning and a chunk commit
    * for backfill), so classes, codegen and JIT are warm before the clock
    * starts. A warmup pays per commit, not per row, so it commits once per
    * path.
    */
  def warmup(spark: SparkSession, work: Path, cache: Path,
      chunks: Boolean): Unit = {
    val spec = LogSpec(7L, 400, eventsPerConv = 10)
    val ev = graft.binlog.BinlogGen.events(spec.genConfig)
    val entry = Inputs.cached(cache, s"warmup-${spec.tag}",
      Seq(s"events=${Inputs.eventDigest(ev)}")) { tmp =>
      Inputs.writeSegments(spark, ev, tmp.resolve("segs"), 2)
      Inputs.writeSource(spark, Inputs.oracle(spec, ev), tmp.resolve("source"))
    }
    val dir = work.resolve("warmup")
    Inputs.deleteTree(dir)
    val lake = LakeTable(spark, dir.resolve("lake").toString)
    lake.create(Schemas.transcript, 8)
    val source = entry.resolve("source").toString
    val src = if (!chunks) None else {
      Backfill.planChunkBounds(
        spark.read.parquet(source).select("conv_id"), "conv_id", 2)
      Some(new Backfill.ChunkSource {
        def numChunks: Int = 1
        def chunkRows(s: SparkSession, chunk: Int, lwLsn: Long): DataFrame =
          s.read.parquet(source)
      })
    }
    Pipeline.runAvailable(spark, entry.resolve("segs").toString, lake,
      dir.resolve("ckpt").toString, maxFilesPerTrigger = 2, chunkSource = src)
    Check.contentHash(lake.read(spark))
    Inputs.deleteTree(dir)
  }

  final case class PassResult(rounds: Seq[Round], e2e: Map[String, Double],
      failed: Int, attempted: Int, problems: Seq[String])

  /** Check every round against the oracle and reduce the rounds to the
    * end-to-end metrics, outside any timed phase. The last round is also
    * compared row by row, and the same comparison must reject it with one
    * row altered (the negative control).
    */
  def verify(spark: SparkSession, bench: Bench, rounds: Seq[Round],
      setupS: Double): PassResult = {
    val problems = mutable.ArrayBuffer[String]()
    val bad = rounds.zipWithIndex.map { case (r, i) =>
      val before = problems.size
      if (r.missing > 0)
        problems += s"${r.name} round $i: ${r.missing} segments never visible"
      r.hashes.filter(_ != bench.oracleHash).distinct.foreach(h =>
        problems += s"${r.name} round $i: content hash $h != oracle ${bench.oracleHash}")
      if (i == rounds.size - 1) {
        val got = Check.collect(spark, r.lake.read(spark))
        Check.compareRows(got, r.expected, r.withAudit).foreach(d =>
          problems += s"${r.name} round $i: $d")
        val broken = Check.corruptOne(got)
        if (Check.compareRows(broken, r.expected, r.withAudit).isEmpty ||
          Check.expectedHash(spark, broken) == bench.oracleHash)
          problems += "negative control: a corrupted row passed the check"
      }
      problems.size > before
    }
    val e2e = Map(
      "events_per_s" -> median(rounds.map(r => r.events / (r.wallMs / 1000))),
      "lag_p50_ms" -> median(rounds.map(r => pct(r.lagsMs, 0.5))),
      "lag_p90_ms" -> median(rounds.map(r => pct(r.lagsMs, 0.9))),
      "scan_ms" -> median(rounds.flatMap(_.scansMs)),
      "write_bytes_per_event" -> median(rounds.map(r =>
        dirBytes(r.lakeRoot).toDouble / (r.events + r.priorEvents))),
      "live_heap_peak_mb" -> rounds.map(_.heapMb).max,
      "setup_s" -> setupS)
    val (attempted, failed) =
      if (rounds.head.name == "tail") {
        val n = rounds.map(_.landed.size).sum
        (n, rounds.zip(bad).map { case (r, b) =>
          if (b) r.landed.size else r.missing }.sum)
      } else (rounds.size, bad.count(identity))
    PassResult(rounds, e2e, failed, attempted, problems.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val mode = opt.getOrElse("--mode", "run")
    val workload = opt.getOrElse("--workload", "drain")
    val seed = opt.getOrElse("--seed", "1").toLong
    val seconds = opt.getOrElse("--seconds", "10").toInt
    val traced = opt.getOrElse("--trace", "0") == "1"
    val cores = opt.getOrElse("--cores", "4").toInt
    val work = Paths.get(opt("--work")).toAbsolutePath
    val cache = Paths.get(opt("--cache")).toAbsolutePath
    val traceOut = opt.get("--trace-out").map(Paths.get(_).toAbsolutePath)
    require(Set("drain", "tail", "backfill")(workload), s"unknown workload $workload")
    Files.createDirectories(work); Files.createDirectories(cache)

    val s0 = System.currentTimeMillis()
    var spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - s0) / 1000.0
    val tracer = new Tracer
    try {
      if (mode == "selftest") { SelfTest.run(spark, work, cache); return }
      // warm up first, so the JVM's first-use costs land in set-up whether
      // or not this seed's inputs are already cached
      val w0 = System.currentTimeMillis()
      warmup(spark, work, cache, chunks = workload == "backfill")
      val w0pass = (System.currentTimeMillis() - w0) / 1000.0
      val bench = new Bench(spark, workload, seed, seconds, work, cache, tracer)
      val g0 = System.currentTimeMillis()
      val entry = bench.prepareInputs()
      val genS = (System.currentTimeMillis() - g0) / 1000.0
      bench.oracleHash // computed outside any timed phase
      val w1 = System.currentTimeMillis()
      bench.warmRounds(entry, traced)
      val warmupS = w0pass + (System.currentTimeMillis() - w1) / 1000.0
      val readyS = (System.currentTimeMillis() - jvmStart) / 1000.0 - genS

      val all = bench.rounds(entry, traced)
      def pass(rs: Seq[Round]) =
        verify(spark, bench, rs, readyS + median(rs.map(_.setupS)))
      val plain = pass(all.filterNot(_.traced))
      val base = Map("rounds" -> all.size, "session_s" -> sessionS,
        "warmup_s" -> warmupS, "binlog.gen_s" -> genS,
        "gen_late_ms" -> all.map(_.genLateMs).max,
        "round_ms" -> all.map(r => math.round(r.wallMs)),
        "scan_ms_all" -> all.map(_.scansMs.map(x => math.round(x))))
      if (!traced) {
        emit(plain.problems.isEmpty, plain.attempted, plain.failed, plain.e2e,
          base, plain.problems)
      } else {
        val tr = pass(all.filter(_.traced))
        val trRounds = tr.rounds
        val layers = Layers.compute(trRounds, tracer) ++ Map(
          "setup.session_s" -> sessionS,
          "setup.warmup_s" -> warmupS,
          "setup.preload_s" -> median(trRounds.map(_.preloadS)),
          "binlog.gen_s" -> genS,
          "gen_late_ms" -> trRounds.map(_.genLateMs).max) ++
          tr.e2e.map { case (k, v) =>
            s"overhead.$k" -> (v - plain.e2e(k)) / plain.e2e(k)
          }
        traceOut.foreach(p =>
          Layers.writeTrace(p, tracer, trRounds, layers, plain.e2e, tr.e2e))
        // single-core scaling context: one drain round at local[1]
        val local1 =
          if (workload != "drain") Map.empty[String, Double]
          else {
            spark.stop()
            spark = session(1, work)
            val b1 = new Bench(spark, workload, seed, seconds, work, cache, tracer)
            val r = b1.drainRound(b1.prepareInputs(), 0)
            val eps = r.events / (r.wallMs / 1000)
            val h = Check.contentHash(r.lake.read(spark))
            if (h != bench.oracleHash)
              throw new IllegalStateException(s"local[1] drain diverged: $h")
            Map("baseline.local1_events_per_s" -> eps,
              "baseline.speedup" -> plain.e2e("events_per_s") / eps)
          }
        emit(plain.problems.isEmpty && tr.problems.isEmpty,
          plain.attempted + tr.attempted, plain.failed + tr.failed, plain.e2e,
          base ++ Map("baseline.local1_events_per_s" -> 0.0,
            "baseline.speedup" -> 0.0) ++ layers ++ local1,
          plain.problems ++ tr.problems)
      }
    } finally {
      spark.stop()
    }
  }

  private def gcInfo: Map[String, Any] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map("gc_count" -> gcs.map(_.getCollectionCount).sum,
      "gc_ms" -> gcs.map(_.getCollectionTime).sum,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))
  }

  private def emit(correct: Boolean, attempted: Int, failed: Int,
      e2e: Map[String, Double], extra: Map[String, Any], problems: Seq[String]): Unit = {
    problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    println("PERFBENCH " + Json(Map("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "e2e" -> e2e, "extra" -> (extra ++ gcInfo),
      "problems" -> problems)))
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => apply(o.toString)
  }
}
