package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.lake.{LineageEntry, Snapshot}

/** Per-layer metrics of a traced pass, derived from the tracer's spans, jobs
  * and progress reports plus the lake's own snapshots and lineage.
  */
object Layers {
  import Main.pct

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def p(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else pct(xs, q)
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    for ((a0, b0) <- iv.map { case (a, b) => (a max lo, b min hi) }
        .filter { case (a, b) => b > a }.sortBy(_._1)) {
      val a = a0 max end
      if (b0 > a) { total += b0 - a; end = b0 }
    }
    total
  }

  /** Commits of one round's timed phase, from the lake's snapshot log. */
  final case class Commit(snap: Snapshot, lin: LineageEntry, chunk: Boolean)

  def commits(r: Round): Seq[Commit] = {
    val versions = r.lake.snapshotVersions().sorted.filter(_ >= r.firstVersion)
    val snaps = versions.map(r.lake.readSnapshot)
    snaps.sliding(2).collect {
      case Seq(prev, s) if s.lineage.exists(_.bucketRows.nonEmpty) =>
        Commit(s, s.lineage.get, s.backfillDone > prev.backfillDone)
    }.toSeq
  }

  def compute(rounds: Seq[Round], t: Tracer): Map[String, Double] = {
    val progress = t.progress.synchronized(t.progress.toVector)
    val jobs = t.jobs.values.asScala.toVector
    val m = mutable.LinkedHashMap[String, Double]()

    val perRound = rounds.map { r =>
      val prog = progress.filter(x =>
        x.inputRows > 0 && x.startMs >= r.t0 - 1 && x.startMs <= r.t1)
      val keys = prog.map(x => (x.queryId, x.batchId)).toSet
      val bj = jobs.filter(j => keys((j.queryId, j.batchId)))
      (r, prog, bj, commits(r))
    }
    val prog = perRound.flatMap(_._2)
    val bjobs = perRound.flatMap(_._3)
    val cms = perRound.flatMap(_._4)
    val stream = cms.filterNot(_.chunk)
    val chunks = cms.filter(_.chunk)
    val nCommits = cms.size.toDouble
    val inputRows = prog.map(_.inputRows).sum.toDouble
    val events = rounds.map(_.events).sum.toDouble

    // ---- pipeline
    m("pipeline.batches") = Main.pct(perRound.map(_._2.size.toDouble), 0.5)
    m("pipeline.trigger_ms_p50") = p(prog.map(_.triggerMs.toDouble), 0.5)
    m("pipeline.offsets_ms_p50") = p(prog.map(x => (x.d("latestOffset") +
      x.d("getBatch") + x.d("walCommit") + x.d("commitOffsets")).toDouble), 0.5)
    m("pipeline.planning_ms_p50") = p(prog.map(_.d("queryPlanning").toDouble), 0.5)
    // tail: segment landed -> start of the trigger whose commit covered it
    val waits = perRound.flatMap { case (r, pr, _, cs) =>
      r.landed.flatMap { case (seg, landed) =>
        cs.filterNot(_.chunk).find(c => c.lin.endLsn >= seg.maxLsn)
          .flatMap(c => pr.find(_.batchId == c.lin.batchId))
          .map(b => math.max(0.0, b.startMs - landed))
      }
    }
    m("pipeline.wait_ms_p50") = p(waits, 0.5)
    m("pipeline.source_reads_per_event") =
      ratio(bjobs.map(_.dedupRowsIn).sum.toDouble, inputRows)
    m("pipeline.self_ms_per_batch") = mean(perRound.flatMap { case (_, pr, bj, _) =>
      pr.map { b =>
        val end = b.startMs + b.triggerMs
        val mine = bj.filter(j => j.queryId == b.queryId && j.batchId == b.batchId)
        b.triggerMs - covered(mine.map(j => (j.startMs, j.endMs)), b.startMs, end)
      }
    })

    // ---- dedup (the IntervalDedup state operator's own progress numbers)
    m("dedup.update_ms_per_batch") = mean(prog.map(_.stateUpdMs.toDouble))
    m("dedup.commit_ms_per_batch") = mean(prog.map(_.stateCommitMs.toDouble))
    val lastProg = progress.filter(x => x.startMs <= rounds.last.t1)
      .sortBy(_.startMs).lastOption
    m("dedup.state_rows") = lastProg.map(_.stateRows.toDouble).getOrElse(0.0)
    m("dedup.state_mb") =
      lastProg.map(_.stateBytes / (1024.0 * 1024.0)).getOrElse(0.0)

    // ---- apply
    val streamWall = stream.map(_.lin.wallMs.toDouble)
    m("apply.commit_ms_p50") = p(streamWall, 0.5)
    m("apply.commit_ms_p90") = p(streamWall, 0.9)
    m("apply.chunk_commit_ms_p50") = p(chunks.map(_.lin.wallMs.toDouble), 0.5)
    m("apply.chunk_plan_ms") = p(rounds.map(_.chunkPlanMs), 0.5)
    m("apply.jobs_per_commit") = ratio(bjobs.size, nCommits)
    m("apply.stages_per_commit") = ratio(bjobs.map(_.stages).sum, nCommits)
    m("apply.tasks_per_commit") = ratio(bjobs.map(_.tasks).sum, nCommits)
    m("apply.task_ms_per_event") = ratio(bjobs.map(_.taskMs).sum, events)
    m("apply.shuffle_bytes_per_event") =
      ratio(bjobs.map(_.shuffleWriteBytes).sum, events)
    m("apply.driver_ms_per_commit") = ratio(perRound.flatMap {
      case (_, pr, bj, _) => pr.map { b =>
        val add = b.d("addBatch").toDouble
        val mine = bj.filter(j => j.queryId == b.queryId && j.batchId == b.batchId)
        val span = mine.map(j => (j.startMs, j.endMs))
        add - covered(span, b.startMs, b.startMs + b.triggerMs)
      }
    }.sum, nCommits)
    m("apply.rows_rewritten_per_change") = ratio(
      stream.map(_.lin.bucketRows.values.sum).sum.toDouble,
      stream.map(c => c.lin.inserted + c.lin.updated + c.lin.deleted).sum.toDouble)

    // ---- jobs, tasks and time by the module whose code launched them
    m("module.dedup.task_ms_per_commit") =
      ratio(bjobs.map(_.dedupTaskMs).sum, nCommits)
    for (mod <- Seq("apply", "lake")) {
      val mj = bjobs.filter(_.module == mod)
      m(s"module.$mod.jobs_per_commit") = ratio(mj.size, nCommits)
      m(s"module.$mod.tasks_per_commit") = ratio(mj.map(_.tasks).sum, nCommits)
      m(s"module.$mod.job_ms_per_commit") =
        ratio(mj.map(j => j.endMs - j.startMs).sum, nCommits)
      m(s"module.$mod.shuffle_bytes_per_commit") =
        ratio(mj.map(j => j.shuffleWriteBytes + j.shuffleReadBytes).sum, nCommits)
    }

    // ---- lake
    val dataBytes = perRound.flatMap { case (r, _, _, cs) =>
      val versions = cs.map(_.snap.version).toSet
      dataFiles(r.lakeRoot).filter(f => versions(f._1))
    }
    m("lake.bytes_written_per_commit") = ratio(dataBytes.map(_._3).sum, nCommits)
    m("lake.files_written_per_commit") =
      ratio(dataBytes.count(_._2.endsWith(".parquet")), nCommits)
    m("lake.meta_bytes_per_commit") = ratio(rounds.map(r =>
      Main.metaBytes(r.lakeRoot) - r.metaBytesBefore).sum, nCommits)
    m("lake.touched_bucket_share") = mean(stream.map(c =>
      c.lin.bucketRows.size.toDouble / c.snap.numBuckets))
    m("lake.snapshot_ms_p50") = p(rounds.flatMap(_.snapshotMs), 0.5)
    m("lake.live_files") = rounds.last.lake.snapshot().files.size.toDouble
    m.toMap
  }

  /** (commit version, file name, bytes) of every file under `data/`. */
  private def dataFiles(lakeRoot: Path): Seq[(Long, String, Long)] = {
    val data = lakeRoot.resolve("data")
    if (!Files.exists(data)) return Nil
    Files.walk(data).iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      val commitDir = data.relativize(f).getName(0).toString
      (commitDir.drop(1).takeWhile(_.isDigit).toLong, f.getFileName.toString,
        Files.size(f))
    }.toSeq
  }

  /** The span tree of the traced rounds: bench spans and synthesized phase
    * spans per round (setup, timed, verify), micro-batches from progress
    * reports and Spark jobs under their micro-batch. Each span's parent is
    * its micro-batch (jobs that carry a batch id) or else the smallest span
    * that contains it; self time is its duration minus what its children
    * cover.
    */
  def writeTrace(out: Path, t: Tracer, rounds: Seq[Round],
      layers: Map[String, Double], untraced: Map[String, Double],
      traced: Map[String, Double]): Unit = {
    final case class Node(id: String, name: String, var module: String,
        start: Double, end: Double, var parent: String = "")
    val nodes = mutable.ArrayBuffer[Node]()
    val bench = t.spans.synchronized(t.spans.toVector)
    bench.foreach(s => nodes += Node(s"s${s.id}", s.name, s.module, s.startMs, s.endMs))
    if (bench.nonEmpty)
      nodes += Node("run", "run", "bench", bench.map(_.startMs).min - 0.001,
        bench.map(_.endMs).max + 0.001)
    val roundSpans = bench.filter(_.name.startsWith("round ")).sortBy(_.startMs)
    for ((r, i) <- rounds.zipWithIndex) {
      val rs = roundSpans.lift(i)
      rs.foreach(s => nodes += Node(s"setup$i", "phase:setup", "bench", s.startMs, r.t0))
      nodes += Node(s"timed$i", "phase:timed", "bench", r.t0, r.t1)
      rs.foreach(s => nodes += Node(s"verify$i", "phase:verify", "bench", r.t1, s.endMs))
    }
    val progress = t.progress.synchronized(t.progress.toVector)
    val batchNode = progress.map { b =>
      val n = Node(s"b${b.runId.take(8)}-${b.batchId}", s"micro-batch ${b.batchId}",
        "pipeline", b.startMs, b.startMs + b.triggerMs)
      nodes += n
      (b.queryId, b.batchId) -> n
    }.toMap
    val jobNodes = t.jobs.values.asScala.toVector.sortBy(_.jobId).map { j =>
      val n = Node(s"j${j.jobId}", s"job ${j.jobId} ${j.callSite}".trim, j.module, j.startMs,
        if (j.endMs.isNaN) j.startMs else j.endMs)
      batchNode.get((j.queryId, j.batchId)).foreach(b => n.parent = b.id)
      nodes += n
      n
    }
    val containers = nodes.filterNot(n => jobNodes.contains(n))
    for (n <- nodes if n.parent.isEmpty && n.id != "run") {
      val c = containers.filter(c => (c ne n) && c.start <= n.start &&
        c.end >= n.end && (c.end - c.start) > (n.end - n.start))
      n.parent = if (c.isEmpty) "run" else c.minBy(c => c.end - c.start).id
    }
    // a job outside any micro-batch belongs to the benchmark call around it,
    // e.g. the scans under `LakeTable.read`
    val byId = nodes.map(n => n.id -> n).toMap
    jobNodes.filter(_.module == "other").foreach(n =>
      byId.get(n.parent).foreach(p => n.module = p.module))
    val kids = nodes.groupBy(_.parent)
    val spans = nodes.map { n =>
      val self = (n.end - n.start) - covered(
        kids.getOrElse(n.id, Nil).map(k => (k.start, k.end)).toSeq, n.start, n.end)
      Map("id" -> n.id, "parent" -> n.parent, "name" -> n.name,
        "module" -> n.module, "start_ms" -> n.start, "end_ms" -> n.end,
        "self_ms" -> self)
    }
    val selfByModule = spans.groupBy(_("module").toString).map { case (k, v) =>
      k -> v.map(_("self_ms").asInstanceOf[Double]).sum
    }
    val doc = Map(
      "per_layer" -> layers,
      "end_to_end_untraced" -> untraced,
      "end_to_end_traced" -> traced,
      "self_ms_by_module" -> selfByModule,
      "jobs" -> t.jobs.values.asScala.toVector.sortBy(_.jobId).map(j => Map(
        "job" -> j.jobId, "batch" -> j.batchId, "call_site" -> j.callSite,
        "module" -> j.module, "stages" -> j.stages, "tasks" -> j.tasks,
        "task_ms" -> j.taskMs, "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "dedup_rows_in" -> j.dedupRowsIn, "dedup_task_ms" -> j.dedupTaskMs)),
      "spans" -> spans.sortBy(_("start_ms").asInstanceOf[Double]))
    Files.createDirectories(out.getParent)
    Files.write(out, Json(doc).getBytes(UTF_8))
    ()
  }
}
