package graft.sink

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.apply.{Backfill, MergeApply, MultiApply}
import graft.dedup.Dedup
import graft.lake.LakeTable
import graft.model.{Op, Schemas}

/** A destination for CDC micro-batches — the Spark-side analog of the
  * reference's sink abstraction (`create_sink(&SinkConfig) -> Box<dyn
  * Sink>` dispatching StarRocks / PostgreSQL / Snowflake,
  * reference: src/connectors/sinks/mod.rs:57-148). Three kinds ship:
  *
  *   - [[MergeSink]] (`lake-merge`): the default — LWW reduce +
  *     exactly-once COW MERGE into a [[LakeTable]] (the reference's
  *     MERGE-upsert sinks), plus the interleaved backfill and inline
  *     maintenance;
  *   - [[MultiSink]]: one MERGE per destination lake, routed by the
  *     stream's `table` column;
  *   - [[RawAppendSink]] (`raw-append`): append-only staging of the raw
  *     change events with a later `normalize` fold — the reference's
  *     sync/normalize split (raw-table mode + normalizer,
  *     src/connectors/sinks/postgres/raw_table.rs:298-318,
  *     normalizer.rs:169-216), for targets where upserts are expensive
  *     but bulk appends are cheap.
  *
  * [[graft.pipeline.Pipeline.startQuery]] feeds every kind through the same
  * source → observe front end and hands each micro-batch, persisted once,
  * to [[applyBatch]]; anything a sink does per batch beyond the apply
  * (backfill chunks, maintenance) happens inside that call, on the commit
  * thread, so the sink's single-writer rule holds by construction. Only a
  * [[RawAppendSink]] gets the stateful transport-dedup stage in front: its
  * raw log stores events verbatim. The merge sinks need no carried dedup
  * state — their apply drops every event at or below the lake's applied
  * lsn.
  *
  * Contract: [[applyBatch]] must be idempotent per batchId (a replayed
  * batch is a no-op) and must THROW on failure — the pipeline never
  * swallows sink errors, so a failing sink halts the stream with no
  * silent loss (reference invariant: src/pipeline/mod.rs:169-185).
  */
trait Sink extends Serializable {

  /** Apply one micro-batch of change events. Idempotent by `batchId`. */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long): Unit

  /** The sink's current queryable state: for `lake-merge` the live table,
    * for `raw-append` the raw change log appended so far.
    */
  def read(spark: SparkSession): DataFrame

  /** Highest batch id this sink has durably committed (−1 = none): the
    * anchor for [[graft.pipeline.Pipeline.batchIdOffset]]'s shift, so a
    * fresh checkpoint's restarted batch ids can never collide with (and be
    * swallowed by) this sink's replay guard.
    */
  def lastBatchId(spark: SparkSession): Long = -1L

  /** The change-event envelope the source reads for this sink. */
  def inputSchema: StructType = Schemas.changeEvent
}

/** Inline lake maintenance on the commit thread (the COW analog of the
  * reference normalizer's DELETE-after-processing cleanup loop,
  * src/connectors/sinks/postgres/normalizer.rs:169-216): every
  * `everyBatches` micro-batches, one bucket-selective compaction pass
  * (bounded by `maxBucketsPerPass`, resumable — the next pass walks the
  * remaining dirty buckets) plus a vacuum of superseded snapshot metas
  * and unreferenced files. Tombstones at or below the stream's applied
  * endLsn are dropped: safe because (a) the `lsn > endLsn` replay guard
  * means no stream event at or below it can ever re-apply, and (b)
  * backfill chunks re-read the CURRENT source state, which no longer
  * contains deleted keys — neither path can resurrect a compacted
  * delete. Runs inside the sink's applyBatch, so it serializes with
  * commits and the lake's single-writer rule holds by construction (a
  * long-lived daemon never needs an external maintenance job racing it).
  */
case class Maintenance(
    everyBatches: Int = 16,
    fileThreshold: Int = 4,
    maxBucketsPerPass: Int = 64,
    keepVersions: Int = 2,
    vacuumGraceMs: Long = 86400000L) {
  require(everyBatches > 0, "everyBatches must be positive")

  /** True on the batches that get a maintenance pass. */
  def due(batchId: Long): Boolean = batchId > 0 && batchId % everyBatches == 0

  /** One pass over `lake`: compaction, vacuum, lineage fold. */
  def run(spark: SparkSession, lake: LakeTable): Unit = {
    lake.compact(spark, lake.snapshot().endLsn, fileThreshold, maxBucketsPerPass)
    lake.vacuum(keepVersions, vacuumGraceMs)
    // the per-commit lineage appends (one small json per batch) must not
    // accumulate one file per commit forever — fold them here too
    lake.compactLineage()
    ()
  }
}

/** Declarative sink selection (the reference's `SinkConfig`,
  * src/connectors/sinks/mod.rs:57-83).
  */
case class SinkConfig(
    kind: String, // "lake-merge" | "raw-append"
    path: String,
    schema: StructType = Schemas.transcript,
    numBuckets: Int = 16)

object Sink {

  /** The factory (reference: `create_sink`, sinks/mod.rs:57-148). Creates
    * the backing storage on first use; reattaches to existing state
    * otherwise (resume).
    */
  def create(spark: SparkSession, cfg: SinkConfig): Sink = cfg.kind match {
    case "lake-merge" =>
      val lake = LakeTable(spark, cfg.path)
      if (lake.snapshotVersions().isEmpty)
        lake.create(cfg.schema, cfg.numBuckets)
      new MergeSink(lake)
    case "raw-append" =>
      new RawAppendSink(cfg.path, spark.sparkContext.hadoopConfiguration,
        cfg.schema, cfg.numBuckets)
    case other =>
      throw new IllegalArgumentException(
        s"unknown sink kind '$other' (expected lake-merge | raw-append)")
  }
}

/** The default sink: the full reconcile → LWW → COW MERGE apply into a
  * [[LakeTable]], followed on the same commit thread by its per-batch
  * extras.
  *
  * @param chunkSource when set, concurrent chunked backfill (reference T7):
  *   after each micro-batch apply, up to `chunksPerBatch` pending snapshot
  *   chunks are merged under the stream's current applied position as
  *   their low watermark (the reference's snapshot/stream scheduling,
  *   src/engine/mod.rs:199-254). Progress persists in the lake snapshot
  *   (`backfillDone`), so a restart resumes at the next chunk.
  * @param backfillGate consulted before each interleaved backfill step:
  *   false pauses the snapshot while the CDC stream keeps flowing
  *   (reference snapshot_pause, handlers.rs:233-245).
  * @param maintenance inline compaction + vacuum every N batches.
  */
final case class MergeSink(
    lake: LakeTable,
    chunkSource: Option[Backfill.ChunkSource] = None,
    chunksPerBatch: Int = 1,
    backfillGate: () => Boolean = () => true,
    maintenance: Option[Maintenance] = None) extends Sink {

  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long): Unit = {
    MergeApply.applyBatch(spark, lake, batch, batchId)
    chunkSource.foreach { src =>
      var n = 0
      while (n < chunksPerBatch && backfillGate() &&
        Backfill.step(spark, lake, src)) n += 1
    }
    maintenance.filter(_.due(batchId)).foreach(_.run(spark, lake))
  }

  /** Apply every backfill chunk still pending (while the gate is open):
    * a drain completes the snapshot after the stream has caught up.
    */
  def finishBackfill(spark: SparkSession): Unit =
    chunkSource.foreach { src =>
      while (backfillGate() && Backfill.step(spark, lake, src)) ()
    }

  def read(spark: SparkSession): DataFrame = lake.read(spark)
  override def lastBatchId(spark: SparkSession): Long = lake.snapshot().batchId
}

/** Multi-table routing sink: the stream carries a `table` column and each
  * micro-batch fans out to one MERGE per tracked destination lake via
  * [[MultiApply]] (reference: per-table normalizer,
  * src/connectors/sinks/postgres/normalizer.rs:231-240). Untracked tables
  * are dropped (P1 tracked-table filter).
  *
  * Maintenance is staggered: ONE lake per eligible batch, round-robin over
  * the tracked tables, so the commit-thread tax stays O(one table) no
  * matter how wide the fan-out — every lake still gets a pass every
  * `everyBatches × numTables` batches.
  */
final class MultiSink(
    val lakes: Map[String, LakeTable],
    maintenance: Option[Maintenance] = None) extends Sink {
  require(lakes.nonEmpty, "MultiSink needs at least one destination lake")

  private val maintOrder = lakes.keys.toSeq.sorted

  override def inputSchema: StructType = Schemas.changeEventMulti

  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long): Unit = {
    MultiApply.applyBatch(spark, lakes, batch, batchId)
    maintenance.filter(_.due(batchId)).foreach { m =>
      val pass = (batchId / m.everyBatches) % maintOrder.size
      m.run(spark, lakes(maintOrder(pass.toInt)))
    }
  }

  /** Live rows of every lake, tagged with their `table`. */
  def read(spark: SparkSession): DataFrame =
    maintOrder.map(t => lakes(t).read(spark).withColumn("table", lit(t)))
      .reduce(_.unionByName(_, allowMissingColumns = true))

  /** The MAX committed id across lakes: a fresh checkpoint's shifted batch
    * ids must clear every lake's replay guard.
    */
  override def lastBatchId(spark: SparkSession): Long =
    lakes.values.map(_.snapshot().batchId).foldLeft(-1L)(math.max)
}

/** Append-only raw staging: each micro-batch lands as an immutable
  * `batch=<id>` parquet directory of unmodified change events (ddl rows
  * included — the raw log is faithful). The streaming path runs the
  * stateful [[graft.dedup.IntervalDedup]] stage in front of this sink only,
  * so the staged log holds each lsn once. Exactly-once comes from the
  * directory-per-batch commit: data is written to a hidden temp dir and
  * renamed to its final name with no-overwrite semantics, so a replayed
  * batch is a no-op and a crashed write leaves only an invisible `.tmp-*`
  * dir (reaped by [[vacuumTmp]]).
  *
  * Two normalize paths mirror the reference's sync/normalize split
  * (src/connectors/sinks/postgres/raw_table.rs:298-318,
  * normalizer.rs:102-359):
  *   - [[normalize]] — the on-demand full fold (one map-side-combined LWW
  *     aggregation over the whole raw log), for ad-hoc inspection;
  *   - [[normalizeIncremental]] — the production path: maintains a
  *     persistent normalized [[LakeTable]] and folds ONLY the raw batches
  *     in `(normalized.batchId, max committed batch]` — the reference's
  *     `(normalize_batch_id, sync_batch_id]` watermark pair
  *     (normalizer.rs:169-216, setup.rs:111-127). The normalized table's
  *     own `batchId` IS the normalize watermark: it advances atomically
  *     with the fold commit, and a crash between fold and commit replays
  *     idempotently (batchId guard + per-key `_lsn` guard).
  *
  * [[compactRaw]] bounds staged-history growth: batch dirs at or below the
  * normalize watermark coalesce into one `compacted-<id>` dir (the COW
  * analog of the reference's DELETE-after-normalize,
  * normalizer.rs:169-216), keeping the read path's directory union flat.
  *
  * @param maintainEvery run [[maintain]] on the commit thread every N
  *   micro-batches (0 = off) — a long-lived daemon's staged dirs stay
  *   bounded by the cadence, not the trigger count.
  */
final class RawAppendSink(
    val root: String,
    hadoopConf: Configuration,
    schema: StructType = Schemas.transcript,
    numBuckets: Int = 16,
    maintainEvery: Int = 0)
    extends Sink {

  @transient private lazy val fs: FileSystem =
    new Path(root).getFileSystem(hadoopConf)

  @transient private lazy val atomicFs =
    new graft.lake.AtomicFs(fs, hadoopConf)

  private def batchDir(id: Long) = new Path(root, f"batch=$id%d")
  private def schemaPath = new Path(root, "_schema.json")

  /** No-overwrite directory commit; true = this attempt won, false = a
    * concurrent/earlier attempt already committed `target` (tmp cleaned).
    */
  private def commitDir(tmp: Path, target: Path): Boolean =
    atomicFs.renameNoOverwrite(tmp, target)

  /** The staged envelope schema: recorded on the first commit so the read
    * and compaction paths preserve EVERY staged column (a multi-table
    * stream carries `table` beyond the base envelope — hardcoding
    * Schemas.changeEvent would silently drop it, and compaction would
    * destroy it). Falls back to the base envelope for pre-existing logs.
    */
  // _schema.json is write-once (recordSchema), so the decoded value is
  // cacheable for the handle's lifetime — only the pre-record DEFAULT must
  // not be frozen (the file may appear after the first applyBatch). Same
  // cost class as compactedUpToCache: several fs.exists+open round-trips
  // per fold/read otherwise.
  @transient @volatile private var stagedSchemaCache: StructType = null

  private[graft] def stagedSchema: StructType = {
    val c = stagedSchemaCache
    if (c != null) c
    else if (!fs.exists(schemaPath)) Schemas.changeEvent // don't cache
    else {
      val in = fs.open(schemaPath)
      val json =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val parsed = org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[StructType]
      stagedSchemaCache = parsed
      parsed
    }
  }

  private def recordSchema(schema: StructType): Unit =
    if (!fs.exists(schemaPath)) {
      val tmp = new Path(root, s".tmp-schema-${UUID.randomUUID().toString.take(8)}")
      val o = fs.create(tmp, true)
      try o.write(schema.json.getBytes("UTF-8")) finally o.close()
      // cache only on WIN: a lost no-overwrite race means someone else's
      // schema is authoritative — the next stagedSchema read picks it up
      if (atomicFs.renameNoOverwrite(tmp, schemaPath))
        stagedSchemaCache = schema
      ()
    }

  /** Highest batch id folded into a fully-committed compacted dir (−1 =
    * none). The committed `compacted-<id>` DIRS are the source of truth —
    * each is only visible after an atomic rename, and `compacted-N`
    * contains everything `compacted-M` (M < N) did — so a crash anywhere
    * in [[compactRaw]]'s later steps (superseded-dir deletes) cannot lose
    * data or disable the replay guard.
    */
  private[graft] def compactedUpTo: Long =
    compactedDirs().lastOption.map(_._1).getOrElse(-1L)

  /** Committed compacted dirs as (upToId, path), ascending. */
  private def compactedDirs(): Seq[(Long, Path)] =
    if (!fs.exists(new Path(root))) Seq.empty
    else fs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("compacted-"))
      .map(s => s.getPath.getName.stripPrefix("compacted-").toLong -> s.getPath)
      .sortBy(_._1)

  // applyBatch runs once per micro-batch: cache the compaction floor
  // instead of re-listing per trigger (a metadata RPC per batch on an
  // object store). compactRaw (same single-writer process) refreshes it.
  @transient @volatile private var compactedUpToCache: Long = Long.MinValue
  private def compactedUpToCached: Long = {
    if (compactedUpToCache == Long.MinValue) compactedUpToCache = compactedUpTo
    compactedUpToCache
  }

  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long): Unit = {
    stage(batch, batchId)
    if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0)
      maintain(spark)
  }

  private def stage(batch: DataFrame, batchId: Long): Unit = {
    if (batchId <= compactedUpToCached) return // replay of a compacted batch
    val target = batchDir(batchId)
    if (fs.exists(target)) return // replayed batch: already committed
    fs.mkdirs(new Path(root))
    recordSchema(batch.schema)
    val tmp = new Path(root, s".tmp-$batchId-${UUID.randomUUID().toString.take(8)}")
    batch.write.mode("overwrite").parquet(tmp.toString)
    commitDir(tmp, target)
    ()
  }

  override def lastBatchId(spark: SparkSession): Long =
    math.max(compactedUpTo,
      committedBatches().lastOption.map(_._1).getOrElse(-1L))

  /** Committed batch dirs as (batchId, path), ascending. */
  private def committedBatches(): Seq[(Long, Path)] =
    if (!fs.exists(new Path(root))) Seq.empty
    else fs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(s => s.getPath.getName.stripPrefix("batch=").toLong -> s.getPath)
      .sortBy(_._1)

  /** All committed raw events (no tmp dirs, no partial writes): the
    * NEWEST compacted dir, if any, plus batch dirs above its id. A crash
    * mid-compaction can't double-read (superseded dirs are excluded by id,
    * whether or not their deletes ran) and can't lose data (the newest
    * compacted dir subsumes every older one).
    */
  def read(spark: SparkSession): DataFrame = {
    val upTo = compactedUpTo
    val compacted =
      if (upTo < 0) Seq.empty
      else Seq(new Path(root, s"compacted-$upTo").toString)
    val dirs = compacted ++
      committedBatches().filter(_._1 > upTo).map(_._2.toString)
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        stagedSchema)
    else spark.read.schema(stagedSchema).parquet(dirs: _*)
  }

  /** True when the staged envelope carries a destination-table column —
    * the reference's multi-table raw staging (`_dst_table` on every staged
    * row, src/connectors/sinks/postgres/raw_table.rs:132-191). Normalize
    * then fans out per table.
    */
  private[graft] def isMultiTable: Boolean =
    stagedSchema.fieldNames.contains("table")

  /** Normalize pass (on-demand form): fold the ENTIRE raw log into live
    * final-table rows — schema-evolution ddl events in the log contribute
    * their add-lsn so pre-add events don't carry the column (same
    * semantics as the streaming MERGE path). O(history); use
    * [[normalizeIncremental]] for repeated production folds. Single-table
    * logs only: a multi-table staged log MUST go through the per-table
    * incremental fold — folding it flat would LWW-collide rows from
    * different tables that share (conv_id, turn_idx).
    */
  def normalize(spark: SparkSession): DataFrame = {
    require(!isMultiTable,
      "staged log carries a `table` column: use normalizeIncremental " +
        "(per-table fan-out) — a flat fold would collide keys across tables")
    val raw = read(spark)
    val addLsn: Map[String, Long] = raw
      .filter(col("op") === Op.SchemaChange && col("ddl").startsWith("add:"))
      .select(col("ddl"), col("lsn"))
      .collect()
      .map(r => r.getString(0).split(":", 3)(1) -> r.getLong(1))
      .toMap
    val base = Schemas.payloadCols(schema)
    // ddl-ADDED columns live in the staged envelope physically (the raw
    // log is faithful) but may be missing from the CONSTRUCTOR schema —
    // include them so this full fold returns the same evolved columns as
    // normalizeIncremental (whose lake evolves through MergeApply)
    val payload = base ++ addLsn.keys.toSeq.sorted
      .filterNot(base.contains).filter(raw.columns.contains)
    Dedup.lwwReduce(raw.filter(col("op") < Op.SchemaChange), payload, addLsn)
      .filter(col("op") =!= Op.Delete)
      .select((Schemas.keys ++ payload).map(col): _*)
  }

  // one handle for the table's lifetime: LakeTable memoizes manifest
  // resolution per handle, so a fresh handle per fold would re-open
  // O(numBuckets) manifest files every call
  @transient private lazy val normLakeHandle =
    new LakeTable(s"$root/_normalized", hadoopConf)

  /** The persistent normalized table (created on first use). */
  def normalizedLake(spark: SparkSession): LakeTable = {
    if (normLakeHandle.snapshotVersions().isEmpty)
      normLakeHandle.create(schema, numBuckets)
    normLakeHandle
  }

  // per-destination-table normalized lakes (multi-table staging); handles
  // are cached so each table's manifest-resolution memoization survives
  // across folds, same as normLakeHandle
  private def tablesDir = new Path(root, "_normalized_tables")

  @transient private lazy val tableLakeHandles =
    new java.util.concurrent.ConcurrentHashMap[String, LakeTable]()

  // table names become path components: refuse anything that could
  // escape the sink root (data-driven directory traversal)
  private def isSafeTableName(t: String): Boolean =
    t != null && t.nonEmpty && t.matches("[A-Za-z0-9_.\\-]+") &&
      t != "." && t != ".."

  private def tableLakeHandle(t: String): LakeTable = {
    require(isSafeTableName(t), s"unsafe destination table name '$t'")
    tableLakeHandles.computeIfAbsent(t,
      t => new LakeTable(new Path(tablesDir, t).toString, hadoopConf))
  }

  /** Per-table normalized lakes created so far (multi-table staging).
    * Dirs with NO committed snapshot are excluded: a crash inside a first
    * `create` (log dir made, v1 meta never renamed) must not poison every
    * later fold's watermark scan — the fold's own create step heals such
    * a dir the next time its table has rows.
    */
  def normalizedTableLakes(): Map[String, LakeTable] =
    if (!fs.exists(tablesDir)) Map.empty
    else fs.listStatus(tablesDir).toSeq.filter(_.isDirectory)
      .map(s => s.getPath.getName -> tableLakeHandle(s.getPath.getName))
      .filter(_._2.snapshotVersions().nonEmpty)
      .toMap

  // Multi-table normalize watermark marker: the bound of the last COMPLETE
  // fold, written ONCE per fold cycle — replacing the previous
  // one-empty-commit-per-quiet-lake advance (O(tables) tiny commits per
  // fold at reference-like 25+ tables). Loss/corruption degrades to the
  // conservative per-lake MIN (extra refold work, replayed idempotently
  // through the batchId + lsn guards), never to wrongness.
  private def nwMarkerPath = new Path(root, "_normalize_watermark")

  private def readNwMarker(): Long =
    if (!fs.exists(nwMarkerPath)) -1L
    else {
      val in = fs.open(nwMarkerPath)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      try text.toLong catch { case _: NumberFormatException => -1L }
    }

  private def writeNwMarker(bound: Long): Unit = {
    val tmp = new Path(root, s".tmp-nwmark-${UUID.randomUUID().toString.take(8)}")
    val o = fs.create(tmp, true)
    try o.write(bound.toString.getBytes("UTF-8")) finally o.close()
    // atomic overwrite-rename: the marker slot must never be observed
    // absent — since quiet lakes no longer get empty commits, the
    // per-lake MIN fallback is permanently stale, and a crash inside a
    // delete+rename pair would silently trigger a refold of the entire
    // compacted history on the next normalize pass
    atomicFs.renameOverwrite(tmp, nwMarkerPath)
  }

  /** Highest batch id every normalized lake has folded (−1 = none): the
    * compaction bound. Multi-table takes the marker of the last complete
    * fold, falling back to the MIN across per-table lakes (a batch is only
    * "normalized" once every table saw it).
    */
  private[graft] def normalizeWatermark(): Long =
    if (isMultiTable) {
      val lakes = normalizedTableLakes()
      val fromLakes =
        if (lakes.isEmpty) -1L
        else lakes.values.map(_.snapshot().batchId).min
      math.max(readNwMarker(), fromLakes)
    } else if (normLakeHandle.snapshotVersions().isEmpty) -1L
    else normLakeHandle.snapshot().batchId

  /** Incremental normalize: fold only the raw batches newer than the
    * normalize watermark into the persistent normalized table(s), advance
    * the watermark with the same commit, and return the normalized live
    * rows. Repeated calls with no new raw batches are pure reads — no
    * fold job at all.
    *
    * A staged log carrying a `table` column fans out per destination
    * table into one normalized lake each (the reference normalizer's
    * per-`_dst_table` routing, normalizer.rs:231-240): lakes are created
    * on first sight of a table, the fold applies through [[MultiApply]]
    * (concurrent per-table MERGEs, per-lake batchId idempotence), and the
    * watermark is the MIN across table lakes so a crash mid-fan-out
    * replays idempotently. Returns the union of per-table live rows
    * tagged with their `table`.
    */
  def normalizeIncremental(spark: SparkSession): DataFrame = {
    if (isMultiTable) return normalizeIncrementalMulti(spark)
    val lake = normalizedLake(spark)
    val done = lake.snapshot().batchId // the normalize watermark
    val pending = committedBatches().filter(_._1 > done)
    // If compaction ran past the watermark (explicit compactRaw(upTo) or a
    // pre-watermark crash recovery), un-folded events now live only in the
    // compacted dir. Folding the WHOLE compacted dir is safe — events the
    // table already applied die on its `lsn > endLsn` filter — so nothing
    // is ever lost to over-eager compaction.
    val cUpTo = compactedUpTo
    val compactedPending =
      if (cUpTo > done) Seq(new Path(root, s"compacted-$cUpTo").toString)
      else Seq.empty
    val srcs = compactedPending ++ pending.map(_._2.toString)
    if (srcs.nonEmpty) {
      val df = spark.read.schema(stagedSchema).parquet(srcs: _*)
        .select(Schemas.changeEvent.fieldNames.toIndexedSeq.map(col): _*)
      // one fold over all pending batches (the reference's batch-range
      // coalescing, normalizer.rs:170-216); idempotent via batchId guard
      MergeApply.applyBatch(spark, lake, df,
        math.max(cUpTo, pending.map(_._1).foldLeft(-1L)(math.max)))
    }
    val cols = Schemas.payloadCols(lake.snapshot().schema)
    lake.read(spark).select(
      (Schemas.keys ++ cols).map(col): _*)
  }

  private def normalizeIncrementalMulti(spark: SparkSession): DataFrame = {
    val done = normalizeWatermark()
    val pending = committedBatches().filter(_._1 > done)
    val cUpTo = compactedUpTo
    val compactedPending =
      if (cUpTo > done) Seq(new Path(root, s"compacted-$cUpTo").toString)
      else Seq.empty
    val srcs = compactedPending ++ pending.map(_._2.toString)
    if (srcs.nonEmpty) {
      // persisted: the table pre-scan below and every per-table MERGE in
      // MultiApply re-read it
      val df = spark.read.schema(stagedSchema).parquet(srcs: _*)
        .select((Schemas.changeEvent.fieldNames.toSeq :+ "table").map(col): _*)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // destination tables present in the pending range get their lakes
        // created up front; MultiApply then routes per table. An UNSAFE
        // table name must be skipped with a warning, not thrown on —
        // throwing here would poison normalization forever (the pending set
        // never advances, every retry re-reads the same batch and dies);
        // skipped names fall through to MultiApply's untracked-drop path.
        val present = df.filter(col("table").isNotNull)
          .select(collect_set(col("table"))).head().getSeq[String](0)
        present.filterNot(isSafeTableName).foreach(t =>
          System.err.println(
            s"[sink] skipping unsafe destination table name '$t'" +
              " (rows drop as untracked)"))
        present.filter(isSafeTableName).foreach { t =>
          val lk = tableLakeHandle(t)
          if (lk.snapshotVersions().isEmpty) lk.create(schema, numBuckets)
        }
        val bound = math.max(cUpTo, pending.map(_._1).foldLeft(-1L)(math.max))
        MultiApply.applyBatch(spark, normalizedTableLakes(), df, bound)
        // MultiApply advances only tables PRESENT in the folded range; a
        // table quiet in this range would otherwise pin the MIN watermark
        // forever (every later fold re-reads all batches, compaction never
        // progresses). ONE marker write per fold records the completed
        // bound — not one empty commit per quiet lake, which at
        // reference-like 25+ tables was O(tables) version churn per fold.
        // Written AFTER the fan-out returns (all per-table commits durable);
        // a crash before it just refolds the range idempotently.
        writeNwMarker(bound)
      } finally { df.unpersist(); () }
    }
    val lakes = normalizedTableLakes()
    if (lakes.isEmpty) {
      val empty = org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(_.name.startsWith("_")))
        .add("table", org.apache.spark.sql.types.StringType)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty)
    }
    lakes.toSeq.sortBy(_._1).map { case (t, lk) =>
      val cols = Schemas.payloadCols(lk.snapshot().schema)
      lk.read(spark)
        .select((Schemas.keys ++ cols).map(col): _*)
        .withColumn("table", lit(t))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Coalesce batch dirs at or below `upTo` (default: the normalize
    * watermark) plus any earlier compacted dir into one
    * `compacted-<upTo>` dir. Kill-safe because committed `compacted-<id>`
    * dirs are the source of truth (see [[compactedUpTo]]): the ordering is
    * write+rename the new dir (atomic visibility) → delete superseded
    * dirs. A crash after the rename leaves both generations on disk but
    * readers use only the newest; the next compactRaw call finishes the
    * cleanup (and treats an already-existing target as a completed
    * predecessor, not an error). Returns the number of superseded dirs
    * removed.
    */
  def compactRaw(spark: SparkSession, upTo: Long = Long.MinValue): Int = {
    val prev = compactedUpTo
    // resume-cleanup from a previous crashed run FIRST (before any early
    // return): batch dirs and compacted generations superseded by the
    // current floor are invisible to readers already — remove them
    // regardless of whether new work exists or a normalized lake does
    var removed = 0
    for ((id, p) <- committedBatches() if id <= prev) {
      fs.delete(p, true); removed += 1
    }
    for ((id, p) <- compactedDirs() if id < prev) {
      fs.delete(p, true); removed += 1
    }
    val bound =
      if (upTo != Long.MinValue) upTo
      else normalizeWatermark() // -1 before any fold: nothing eligible
    val eligible = committedBatches().filter { case (id, _) =>
      id > prev && id <= bound }
    if (eligible.isEmpty) return removed
    val newUpTo = eligible.map(_._1).max
    val srcDirs =
      (if (prev >= 0) Seq(new Path(root, s"compacted-$prev").toString)
       else Seq.empty) ++ eligible.map(_._2.toString)
    val tmp = new Path(root, s".tmp-compact-${UUID.randomUUID().toString.take(8)}")
    spark.read.schema(stagedSchema).parquet(srcDirs: _*)
      .write.mode("overwrite").parquet(tmp.toString)
    // an already-existing target means a previous attempt committed this
    // exact generation and crashed before cleanup — proceed as a replay
    commitDir(tmp, new Path(root, s"compacted-$newUpTo"))
    compactedUpToCache = newUpTo
    // now invisible to readers: superseded batch dirs + old compacted dir
    for ((_, p) <- eligible) { fs.delete(p, true); removed += 1 }
    if (prev >= 0) { fs.delete(new Path(root, s"compacted-$prev"), true); removed += 1 }
    removed
  }

  /** Inline maintenance (daemon shape): fold pending raw batches into the
    * normalized table(s), coalesce the folded batch dirs, reap expired tmp
    * leftovers. Without this, a long-lived raw-append daemon
    * accumulates one `batch=` dir per trigger forever (the reference's
    * normalizer loop runs continuously for the same reason,
    * normalizer.rs:102-359). Each step is independently idempotent and
    * crash-safe, so a kill mid-maintenance just leaves work for the next
    * pass.
    */
  def maintain(spark: SparkSession): Unit = {
    normalizeIncremental(spark) // folds eagerly; returned frame unused
    compactRaw(spark)
    vacuumTmp()
    ()
  }

  /** Reap crashed-write leftovers. `graceMs` (default 24 h, like
    * LakeTable.vacuum) protects the tmp dir of an IN-FLIGHT applyBatch or
    * compactRaw write — deleting that mid-write would commit a partial
    * batch.
    */
  def vacuumTmp(graceMs: Long = 86400000L): Int = {
    if (!fs.exists(new Path(root))) return 0
    val cutoff = System.currentTimeMillis() - graceMs
    val tmps = fs.listStatus(new Path(root)).toSeq
      .filter(t => t.getPath.getName.startsWith(".tmp-") &&
        t.getModificationTime < cutoff)
    tmps.foreach(t => fs.delete(t.getPath, true))
    tmps.size
  }
}
