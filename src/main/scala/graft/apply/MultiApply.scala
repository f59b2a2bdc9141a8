package graft.apply

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.LakeTable

/** Multi-table routing: one change stream carrying rows for many
  * destination tables, applied as one MERGE per table present in the batch
  * (reference: `TableRef{schema,name}` on every record,
  * src/core/record.rs:61-77, and the per-table normalizer fan-out,
  * src/connectors/sinks/postgres/normalizer.rs:231-240).
  *
  * Events for tables without a registered lake are dropped — the reference's
  * tracked-table filter (P1, src/pipeline/mod.rs:83-99) — and surfaced via
  * the returned skip count rather than failing the stream.
  */
object MultiApply {

  // Per-batch bound on concurrent per-table MERGE jobs, so a wide table
  // set can't oversubscribe the scheduler.
  private val MaxConcurrent = 8

  // One long-lived daemon pool shared by every multi-table apply: at a 5 s
  // trigger, creating and tearing down a pool per micro-batch was constant
  // allocator churn (round-4 audit). Sized to the host; per-call
  // concurrency is bounded separately by a semaphore so MaxConcurrent
  // still holds per batch.
  private lazy val pool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-multiapply-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })

  /** Apply one micro-batch to every routed lake. Returns the number of
    * events skipped because their table is untracked. The batch must carry
    * a `table` column; each lake keeps its own batchId guard, so replaying
    * a batch is a per-table no-op exactly as in the single-table path.
    *
    * Per-table MERGEs run as CONCURRENT Spark jobs (destination lakes are
    * independent snapshot logs, so their commits don't contend): at
    * reference-like 25 tables, sequential apply paid 25 serial commit
    * rounds of small-stage job time per micro-batch — the serial floor the
    * round-3 audit flagged. At most `MaxConcurrent` run at once.
    *
    * Every tracked table re-reads `batch` for its own filtered MERGE, so
    * callers pass a persisted batch (the streaming path persists each
    * micro-batch in [[graft.pipeline.Pipeline.startQuery]]); otherwise each
    * table re-runs the batch's source scan.
    */
  def applyBatch(
      spark: SparkSession,
      lakes: Map[String, LakeTable],
      batch: DataFrame,
      batchId: Long): Long = {
    // one pre-scan: destination tables present + untracked-event count
    // (reference A5: DISTINCT dst tables per flush). NULL `table` counts
    // as untracked too — `!isInCollection` alone is NULL for NULL input,
    // which would silently understate the drop count.
    val tracked = lakes.keySet
    val untracked =
      col("table").isNull || !col("table").isInCollection(tracked)
    val pre = batch.select(
      collect_set(col("table")).as("tables"),
      count(when(untracked, 1)).as("skipped"))
      .head()
    val present = pre.getSeq[String](0)
    val skipped = pre.getLong(1)
    // surface drops even when the caller ignores the return value (the
    // streaming path does) — a typo'd/unregistered table must not lose
    // events invisibly
    if (skipped > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"multi-table apply batch $batchId: $skipped events dropped " +
          s"(untracked destination tables; tracked=${lakes.keySet.toSeq.sorted.mkString(",")})")
    val targets = present.filter(tracked).sorted
    if (targets.size <= 1) {
      for (t <- targets)
        MergeApply.applyBatch(spark, lakes(t),
          batch.filter(col("table") === t).drop("table"), batchId)
    } else {
      val gate = new java.util.concurrent.Semaphore(MaxConcurrent)
      val futures = targets.map { t =>
        // throttle at SUBMISSION, not inside the task: a wide table set
        // (hundreds of targets) must not fan out one parked pool thread
        // per target — with the permit held before submit, the shared
        // cached pool never holds more than MaxConcurrent threads
        gate.acquire()
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            try {
              MergeApply.applyBatch(spark, lakes(t),
                batch.filter(col("table") === t).drop("table"), batchId)
              ()
            } finally gate.release()
        })
      }
      // propagate the FIRST failure (unwrapped) — a failing table must
      // halt the stream exactly as in the sequential path; cancel the
      // rest (the pool is shared now, so no shutdownNow to sweep them)
      try {
        futures.foreach { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        }
      } catch {
        case e: Throwable =>
          futures.foreach(_.cancel(true))
          throw e
      }
    }
    skipped
  }
}
