package graft.control

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One progress observation per micro-batch (the reference samples
  * events/sec and `lag = now − last_commit_ts` once per second,
  * src/control/metrics_sampler.rs:1-67, src/control/state.rs:170-224; in
  * Spark the per-batch StreamingQueryProgress IS the sampler — rate and
  * event-time high watermark come with every batch, no polling thread).
  *
  * `lagMs` = batch wall-clock timestamp − max event time in the batch:
  * how far the applied stream trails the source, the first number an
  * operator of a live pipeline looks at. −1 when the batch carried no
  * event-time (heartbeat/no-data batches).
  */
case class MetricsSample(
    batchId: Long,
    tsMs: Long,
    inputRows: Long,
    eventsPerSec: Double,
    lagMs: Long,
    // process resources, the reference sampler's second pair
    // (metrics_sampler.rs:52-55 + cpu_metrics.rs): CPU as millicores over
    // the interval since the previous sample (-1 on the first sample),
    // memory as used JVM heap
    cpuMillicores: Long = -1L,
    memoryBytes: Long = -1L)

/** Collects [[MetricsSample]]s for queries matching `queryName` — attach
  * via `spark.streams.addListener` (Control does this on construction).
  *
  * The buffer is a ring of the last `maxSamples` batches (default 10k ≈
  * 14 h of 5 s triggers): a long-lived continuous query must not grow
  * driver heap one sample per batch forever; durable per-batch history
  * lives in the lake's lineage commits, not here.
  */
final class MetricsSampler(queryName: String, maxSamples: Int = 10000)
    extends StreamingQueryListener {
  require(maxSamples > 0, "maxSamples must be positive")

  private val buf = scala.collection.mutable.ArrayDeque[MetricsSample]()

  // cumulative-process-CPU deltas between samples, exactly how the
  // reference's CpuTracker derives millicores from /proc ticks
  // (cpu_metrics.rs): sampling is per batch here, so the interval is the
  // batch cadence rather than a fixed 1 s
  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => Some(b)
    case _ => None
  }
  private var lastCpuNs = -1L
  private var lastWallNs = -1L

  private def resourceSample(): (Long, Long) = {
    val mem = Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory
    val cpu = osBean.fold(-1L) { b =>
      val nowNs = System.nanoTime()
      val cpuNs = b.getProcessCpuTime // cumulative, -1 if unsupported
      val mc =
        if (cpuNs < 0 || lastCpuNs < 0 || nowNs <= lastWallNs) -1L
        else (cpuNs - lastCpuNs) * 1000L / (nowNs - lastWallNs)
      if (cpuNs >= 0) { lastCpuNs = cpuNs; lastWallNs = nowNs }
      mc
    }
    (cpu, mem)
  }

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.name == queryName) {
      val ts = Instant.parse(p.timestamp).toEpochMilli
      // event-time high mark: the pipeline's CollectMetrics observation
      val lag = Option(p.observedMetrics.get("graft_event_time"))
        .flatMap(r => Option(r.getAs[java.sql.Timestamp]("max_ts")))
        .map(ts - _.getTime)
        .getOrElse(-1L)
      val rate =
        if (p.processedRowsPerSecond.isNaN || p.processedRowsPerSecond.isInfinite) 0.0
        else p.processedRowsPerSecond
      synchronized {
        val (cpu, mem) = resourceSample()
        buf += MetricsSample(p.batchId, ts, p.numInputRows, rate, lag,
          cpu, mem)
        if (buf.size > maxSamples) { buf.removeHead(); () }
      }
    }
  }

  def samples: Seq[MetricsSample] = synchronized(buf.toVector)

  def latest: Option[MetricsSample] = synchronized(buf.lastOption)

  def metricsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    samples.toDF()
  }
}
