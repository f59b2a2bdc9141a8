package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, max, substring, when}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.binlog.{BinlogGen, GenConfig, OracleFold}
import graft.dedup.IntervalDedup
import graft.lake.LakeTable
import graft.model.{ChangeEvent, Schemas, Transcript}
import graft.pipeline.Pipeline
import graft.sink.{MergeSink, MultiSink, RawAppendSink, Sink}

/** How the streaming path meets its transport: each micro-batch executes
  * its source once, whatever the sink, and the merge path stays exact
  * without the stateful dedup stage — under disordered and redelivered
  * segments, and across a deleted checkpoint (the rebase a checkpoint
  * written with the stage on needs).
  */
class StreamDeliverySpec extends SparkSpec {
  import spark.implicits._

  private def liveState(lake: LakeTable): Vector[Transcript] =
    lake.read(spark)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "_lsn", "_op")
      .as[Transcript].collect().toVector.sortBy(t => (t.conv_id, t.turn_idx))

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write `events` as ONE parquet segment file at `to`, modified at
    * `mtime` (the file source replays files in mtime order).
    */
  private def writeSegment(events: Seq[ChangeEvent], to: Path,
      mtime: Long): Unit = {
    val f = fs(to.toString)
    val tmp = new Path(to.getParent, s".tmp-${to.getName}")
    spark.createDataset(events).toDF().coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = f.listStatus(tmp).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    require(f.rename(part, to), s"rename $part -> $to")
    f.setTimes(to, mtime, -1)
    f.delete(tmp, true)
    ()
  }

  /** Counts what the binlog file scan of every streaming micro-batch
    * outputs: the scan nodes whose location lies under `binlogDir`, found
    * in each SQL execution's physical plan, and their "number of output
    * rows" metric summed over task updates.
    */
  private final class SourceScanCounter(binlogDir: String) extends SparkListener {
    private val scanMetricIds =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    private val rows = new java.util.concurrent.atomic.AtomicLong(0L)

    def scannedRows: Long = rows.get()

    private def collect(p: SparkPlanInfo): Unit = {
      if (p.nodeName.startsWith("Scan") &&
          p.metadata.get("Location").exists(_.contains(binlogDir)))
        p.metrics.filter(_.name == "number of output rows")
          .foreach(m => scanMetricIds.add(m.accumulatorId))
      p.children.foreach(collect)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => collect(s.sparkPlanInfo)
      case _ =>
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      e.taskInfo.accumulables.foreach { a =>
        if (scanMetricIds.contains(a.id))
          a.update.foreach(u => rows.addAndGet(u.toString.toLong))
      }
  }

  /** Summed `numInputRows` of every progress event, per query id. */
  private final class InputRows extends StreamingQueryListener {
    private val byQuery = ArrayBuffer[(java.util.UUID, Long)]()
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      byQuery.synchronized {
        byQuery += e.progress.id -> e.progress.numInputRows; ()
      }
    def of(q: StreamingQuery): Long =
      byQuery.synchronized(byQuery.filter(_._1 == q.id).map(_._2).sum)
  }

  /** Wait until the async listener bus has delivered the task events of
    * everything run so far: a marker job's end reaches a listener only
    * after every earlier event of its queue.
    */
  private def drainListenerBus(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    @volatile var seen = false
    val marker = new SparkListener {
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        seen = true
    }
    spark.sparkContext.addSparkListener(marker)
    try {
      spark.range(1).count()
      while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally spark.sparkContext.removeSparkListener(marker)
  }

  test("each micro-batch executes its source once, for every sink") {
    val cfg = GenConfig(seed = 113, numConvs = 40, eventsPerConv = 15,
      pctUpdate = 0.3, pctDelete = 0.1)
    val events = BinlogGen.events(cfg)
    val work = tmpDir("oneread")
    // one segment set for all three sinks: the single-table envelope
    // ignores the `table` column the multi-table sink routes on
    val n = substring(col("conv_id"), 6, 8).cast("int")
    BinlogGen.writeSegments(spark,
      spark.createDataset(events).toDF()
        .withColumn("table", when(n % 2 === 0, "a").otherwise("b")),
      s"$work/binlog", 6)
    val merge = MergeSink({
      val l = LakeTable(spark, s"$work/lake")
      l.create(Schemas.transcript, 4)
      l
    })
    val multi = new MultiSink(Seq("a", "b").map { t =>
      val l = LakeTable(spark, s"$work/lake-$t")
      l.create(Schemas.transcript, 4)
      t -> l
    }.toMap)
    val raw = new RawAppendSink(s"$work/raw",
      spark.sparkContext.hadoopConfiguration)
    val inputRows = new InputRows
    spark.streams.addListener(inputRows)
    try {
      for ((sink, name) <- Seq[(Sink, String)](
          merge -> "merge", multi -> "multi", raw -> "raw")) {
        val scans = new SourceScanCounter(s"$work/binlog")
        spark.sparkContext.addSparkListener(scans)
        val q = try {
          val q = Pipeline.startQuery(spark, s"$work/binlog", sink,
            s"$work/ckpt-$name", maxFilesPerTrigger = 2)
          q.awaitTermination()
          drainListenerBus()
          // progress events ride the streaming queue: wait for the count
          val deadline = System.currentTimeMillis() + 10000
          while (inputRows.of(q) < events.size &&
            System.currentTimeMillis() < deadline) Thread.sleep(50)
          q
        } finally spark.sparkContext.removeSparkListener(scans)
        assert(inputRows.of(q) == events.size,
          s"$name: progress numInputRows ${inputRows.of(q)} for ${events.size} events")
        assert(scans.scannedRows == events.size,
          s"$name: the source scan output ${scans.scannedRows} rows for " +
            s"${events.size} events")
      }
    } finally spark.streams.removeListener(inputRows)
    // and every sink applied the log exactly
    val oracle = OracleFold.finalState(events)
    assert(liveState(merge.lake) == oracle)
    raw.normalizeIncremental(spark)
    assert(liveState(raw.normalizedLake(spark)) == oracle)
  }

  /** Lineage rows of stream commits, in commit order. */
  private def lineage(lake: LakeTable): Seq[(Long, Long, Long, Long, Long, Long)] =
    lake.lineageDf(spark).filter("start_lsn >= 0").orderBy("snapshot_version")
      .select("batch_id", "start_lsn", "end_lsn", "inserted", "updated",
        "deleted")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq

  test("non-monotone segments through MergeSink equal the clean log, " +
      "lineage counts included") {
    // The delivery contract of an lsn-ordered, at-least-once transport:
    // each trigger (here: one group of segments, one micro-batch) delivers
    // the next lsn range, and may redeliver anything already delivered.
    // Within a trigger the segments are disordered: their lsn ranges
    // overlap, a segment holding lower lsns lands after one holding
    // higher lsns (a late segment whose events were never seen), and
    // redelivered segments carry events of earlier triggers and of this
    // one. No dedup stage runs; the lake must still equal the clean log's
    // lake commit by commit, and the oracle fold.
    for (seed <- Seq(7L, 8L)) {
      val cfg = GenConfig(seed = seed, numConvs = 30, eventsPerConv = 16,
        pctUpdate = 0.35, pctDelete = 0.12,
        addToolAtLsn = Some(2L * 30 * 16 / 3 + 1))
      val events = BinlogGen.events(cfg)
      val rnd = new scala.util.Random(seed)
      val groups = 4
      val bounds = (0 to groups).map(g => events.size * g / groups)
      val ranges = (0 until groups).map(g =>
        events.slice(bounds(g), bounds(g + 1)))
      val work = tmpDir(s"disorder$seed")

      def run(name: String, segsOf: Int => Seq[Seq[ChangeEvent]]): LakeTable = {
        val binlog = s"$work/$name-binlog"
        fs(binlog).mkdirs(new Path(binlog))
        val lake = LakeTable(spark, s"$work/$name-lake")
        lake.create(Schemas.transcriptNoTool, 4)
        for (g <- 0 until groups) {
          for ((seg, k) <- segsOf(g).zipWithIndex)
            writeSegment(seg, new Path(binlog, f"g$g%02d-$k%02d.parquet"),
              BinlogGen.BaseMs + g * 100000L + k * 1000L)
          Pipeline.runAvailable(spark, binlog, lake, s"$work/$name-ckpt",
            maxFilesPerTrigger = 1000)
        }
        lake
      }

      val clean = run("clean", g => Seq(ranges(g)))
      val messy = run("messy", { g =>
        // overlapping segments: the group's events scattered over 3 files
        val scattered = ranges(g).groupBy(_ => rnd.nextInt(3)).toSeq
          .sortBy(_._1).map(_._2.sortBy(_.lsn))
        // late segment: the highest-lsn file lands first
        val late = scattered.sortBy(s => -s.map(_.lsn).max)
        // redelivery: a slice of every earlier group, plus of this one
        val earlier = (0 until g).map(h => ranges(h).filter(_ => rnd.nextInt(4) == 0))
        val again = ranges(g).filter(_ => rnd.nextInt(5) == 0)
        late ++ earlier.filter(_.nonEmpty) ++ Seq(again).filter(_.nonEmpty)
      })

      val addLsn = Map("tool" -> cfg.addToolAtLsn.get)
      assert(liveState(messy) == liveState(clean), s"seed $seed: lake diverged")
      assert(liveState(messy) == OracleFold.finalState(events, addLsn),
        s"seed $seed: lake differs from the oracle fold")
      val lin = lineage(messy)
      assert(lin.size == groups, s"seed $seed: one commit per trigger: $lin")
      assert(lin == lineage(clean), s"seed $seed: lineage diverged")
    }
  }

  test("a checkpoint written with the dedup stage is refused with the " +
      "rebase remedy; a deleted checkpoint restarts over the same lake") {
    val cfg = GenConfig(seed = 127, numConvs = 40, eventsPerConv = 18,
      pctUpdate = 0.3, pctDelete = 0.1)
    val events = BinlogGen.events(cfg)
    val work = tmpDir("ckptshape")
    val binlog = s"$work/binlog"
    val ckpt = s"$work/ckpt"
    BinlogGen.writeSegments(spark,
      spark.createDataset(events).toDF(), s"$work/all", 9)
    val segs = fs(work).listStatus(new Path(s"$work/all")).map(_.getPath)
      .sortBy(_.getName).toSeq
    def deliver(ps: Seq[Path]): Unit = ps.foreach { p =>
      val to = new Path(binlog, p.getName)
      FileUtil.copy(fs(work), p, fs(work), to, false,
        spark.sparkContext.hadoopConfiguration)
      fs(work).setTimes(to, fs(work).getFileStatus(p).getModificationTime, -1)
    }
    def upTo(k: Int) = {
      val last = spark.read.parquet(segs.take(k).map(_.toString): _*)
        .agg(max("lsn")).head().getLong(0)
      events.filter(_.lsn <= last)
    }
    val lake = LakeTable(spark, s"$work/lake")
    lake.create(Schemas.transcript, 4)
    fs(binlog).mkdirs(new Path(binlog))

    // phase 1: the query shape that ran the stateful stage in front of
    // every sink — file source → IntervalDedup → observe → foreachBatch
    deliver(segs.take(3))
    val sink = MergeSink(lake)
    val off = Pipeline.batchIdOffset(spark, ckpt, sink.lastBatchId(spark))
    IntervalDedup.stage(spark.readStream.schema(Schemas.changeEvent)
        .option("maxFilesPerTrigger", 1).parquet(binlog),
        IntervalDedup.DefaultShift)
      .observe("graft_event_time", max(col("ts")).as("max_ts"))
      .writeStream.queryName("graft-cdc")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        sink.applyBatch(b.sparkSession, b, id + off)
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(fs(ckpt).exists(new Path(ckpt, "state")),
      "phase 1 must leave dedup state in the checkpoint")
    assert(liveState(lake) == OracleFold.finalState(upTo(3)))

    // phase 2: the next segments plus a redelivered one from phase 1. Spark
    // cannot resume a checkpoint whose stateful operators changed, so the
    // current query refuses it up front and names the remedy
    deliver(segs.slice(3, 6))
    val redelivered = new Path(binlog, "again-" + segs(1).getName)
    FileUtil.copy(fs(work), segs(1), fs(work), redelivered, false,
      spark.sparkContext.hadoopConfiguration)
    fs(work).setTimes(redelivered,
      fs(work).getFileStatus(segs(5)).getModificationTime + 500L, -1)
    val refused = intercept[IllegalStateException] {
      Pipeline.runAvailable(spark, binlog, lake, ckpt, maxFilesPerTrigger = 1)
    }
    assert(refused.getMessage.contains("dedup state") &&
      refused.getMessage.contains("--rebase-checkpoint"), refused.getMessage)
    assert(liveState(lake) == OracleFold.finalState(upTo(3)),
      "a refused start must not touch the lake")
    // the remedy (what --rebase-checkpoint does): drop the checkpoint,
    // keep the lake; the fresh checkpoint replays the log from its start
    fs(ckpt).delete(new Path(ckpt), true)
    Pipeline.runAvailable(spark, binlog, lake, ckpt, maxFilesPerTrigger = 1)
    assert(liveState(lake) == OracleFold.finalState(upTo(6)))

    // phase 3: the checkpoint is lost; a fresh one over the same lake
    // replays the whole log, then applies the rest
    fs(ckpt).delete(new Path(ckpt), true)
    deliver(segs.drop(6))
    Pipeline.runAvailable(spark, binlog, lake, ckpt, maxFilesPerTrigger = 2)
    assert(liveState(lake) == OracleFold.finalState(events))

    // every commit took a new, higher batch id across both restarts
    val ids = lake.lineageDf(spark).orderBy("snapshot_version")
      .select("batch_id").as[Long].collect().toSeq.filter(_ >= 0)
    assert(ids.nonEmpty && ids == ids.distinct.sorted,
      s"batch ids not monotone: $ids")
    // the merge query keeps no state in its checkpoint
    assert(!fs(ckpt).exists(new Path(ckpt, "state")))
  }
}
