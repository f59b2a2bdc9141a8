package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** A span around one benchmark call. Times are epoch ms; the parent is
  * assigned when the tree is written (the smallest span that contains it).
  */
final case class Span(
    id: Long, name: String, module: String, startMs: Double, var endMs: Double)

/** One Spark job as the listener saw it, plus the counters of its tasks. */
final class JobRec(
    val jobId: Int, val startMs: Double, val queryId: String,
    val batchId: Long, val callSite: String, val module: String) {
  var dedupTaskMs = 0L // task time of the stateful dedup stage
  @volatile var endMs: Double = Double.NaN
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var dedupRowsIn = 0L // rows read by tasks of the stateful dedup stage
}

/** One micro-batch progress report, reduced to what the metrics use. */
final case class Progress(
    queryId: String, runId: String, batchId: Long, startMs: Double,
    inputRows: Long, durations: Map[String, Long],
    stateUpdMs: Long, stateCommitMs: Long, stateRows: Long, stateBytes: Long) {
  def d(k: String): Long = durations.getOrElse(k, 0L)
  def triggerMs: Long = d("triggerExecution")
}

/** In-memory tracer: spans around the benchmark's own calls into the engine,
  * a `SparkListener` for jobs/stages/tasks and a `StreamingQueryListener`
  * for micro-batch progress. Nothing is recorded until [[attach]]; all of it
  * is written out once, by the caller, when the run ends.
  */
final class Tracer {
  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val statefulStages = ConcurrentHashMap.newKeySet[Int]()
  val progress = mutable.ArrayBuffer[Progress]()
  private val runsStarted = ConcurrentHashMap.newKeySet[String]()
  private val runsEnded = ConcurrentHashMap.newKeySet[String]()
  @volatile private var markerSeen = ""
  @volatile var enabled = false

  // epoch-ms clock with sub-ms resolution
  private val baseEpoch = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def nowMs: Double = baseEpoch + (System.nanoTime() - baseNano) / 1e6

  def span[T](name: String, module: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(ids.incrementAndGet(), name, module, nowMs, Double.NaN)
      try f
      finally {
        s.endMs = nowMs
        spans.synchronized { spans += s; () }
      }
    }

  // SQL executions whose plan writes files: the lake commit's write job
  private val writeExecutions = ConcurrentHashMap.newKeySet[Long]()

  /** Module of a job. Jobs inside a micro-batch all carry the stream's start
    * call site, so the module comes from the job's SQL plan instead: the
    * job that writes data files (the MERGE join feeding the lake write) is
    * `lake`, every other job of the batch (pre-scans, chunk folds) `apply`.
    */
  private def moduleOf(executionId: Option[Long], batchId: Long): String =
    if (executionId.exists(writeExecutions.contains)) "lake"
    else if (batchId >= 0) "apply"
    else "other"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val desc = prop("spark.job.description").getOrElse("")
      if (desc.startsWith("perfbench-marker-")) { markerSeen = desc; return }
      if (!enabled) return
      val batch = prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L)
      val r = new JobRec(e.jobId, e.time.toDouble,
        prop("sql.streaming.queryId").getOrElse(""), batch,
        prop("callSite.short").getOrElse(""),
        moduleOf(prop("spark.sql.execution.id").map(_.toLong), batch))
      jobs.put(e.jobId, r)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
          if enabled && (x.physicalPlanDescription.contains("InsertIntoHadoopFsRelation") ||
            x.physicalPlanDescription.contains("WriteFiles")) =>
        writeExecutions.add(x.executionId); ()
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val si = e.stageInfo
      Option(jobs.get(stageJob.getOrDefault(si.stageId, -1))).foreach { j =>
        j.synchronized { j.stages += 1 }
        if (si.rddInfos.exists(_.name.contains("StateStore")))
          statefulStages.add(si.stageId)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(jobs.get(stageJob.getOrDefault(e.stageId, -1))).foreach { j =>
        val m = e.taskMetrics
        j.synchronized {
          j.tasks += 1
          if (m != null) {
            j.taskMs += m.executorRunTime
            j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            if (statefulStages.contains(e.stageId)) {
              j.dedupRowsIn += m.shuffleReadMetrics.recordsRead
              j.dedupTaskMs += m.executorRunTime
            }
          }
        }
      }
  }

  private val queryListener = new StreamingQueryListener {
    def onQueryStarted(e: QueryStartedEvent): Unit = {
      runsStarted.add(e.runId.toString); ()
    }
    def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val so = p.stateOperators.headOption
      val rec = Progress(p.id.toString, p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        so.map(_.allUpdatesTimeMs).getOrElse(0L),
        so.map(_.commitTimeMs).getOrElse(0L),
        so.map(_.numRowsTotal).getOrElse(0L),
        so.map(_.memoryUsedBytes).getOrElse(0L))
      progress.synchronized { progress += rec; () }
    }
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
      runsEnded.add(e.runId.toString); ()
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
    enabled = true
  }

  def detach(spark: SparkSession): Unit = {
    enabled = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }

  /** Block until both listener buses have delivered everything posted so
    * far: a marker job for the Spark bus, terminated events for every
    * started query on the streaming bus.
    */
  def drain(spark: SparkSession): Unit = {
    val marker = s"perfbench-marker-${ids.incrementAndGet()}"
    spark.sparkContext.setJobDescription(marker)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.setJobDescription(null)
    val deadline = System.currentTimeMillis() + 30000
    while ((markerSeen != marker ||
        !runsStarted.asScala.forall(runsEnded.contains)) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
  }
}
