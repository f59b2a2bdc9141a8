package graft.lake

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Per-commit lineage record (one per micro-batch apply), the Spark-side
  * replacement for the reference's `dbmazz_checkpoints` + `_dbmazz._metadata`
  * watermark pair + metrics sampler
  * (reference: src/state_store.rs:83-89,
  * src/connectors/sinks/postgres/setup.rs:111-127,
  * src/control/metrics_sampler.rs:1-67).
  */
case class LineageEntry(
    batchId: Long,
    startLsn: Long,
    endLsn: Long,
    inserted: Long,
    updated: Long,
    deleted: Long,
    wallMs: Long,
    bucketRows: Map[Int, Long],
    // schema evolutions the batch requested but policy rejected (E5: the
    // engine degrades — keeps the old type, casts what it can — and counts,
    // reference: src/connectors/sinks/starrocks/mod.rs:384-432)
    skippedEvolutions: Long = 0)

/** One data file tracked by a snapshot. `schemaVersion` records the schema
  * the file was written with so widened columns can be cast on read.
  */
case class DataFileEntry(bucket: Int, schemaVersion: Int, relPath: String)

/** An immutable committed table version. */
case class Snapshot(
    version: Long,
    batchId: Long, // highest applied streaming batch id (idempotence guard)
    schemaVersion: Int,
    endLsn: Long,
    numBuckets: Int,
    schemas: Map[Int, StructType], // all schema versions ever committed
    colAddLsn: Map[String, Long],  // column -> lsn at which it joined the stream
    lineage: Option[LineageEntry],
    files: Seq[DataFileEntry],
    // cumulative per-bucket row counts (incl. tombstones), maintained across
    // COW commits from each write's observed stats aggregate — the A3
    // row-count estimate (reference: footer-count probe,
    // src/engine/snapshot/chunker.rs:96-158)
    bucketRowCounts: Map[Int, Long] = Map.empty,
    // number of concurrent-backfill chunks completed (chunks finish in
    // order), the resume cursor of the reference's chunk-state store
    // (src/control/state.rs:200-310)
    backfillDone: Int = 0,
    // Iceberg-style manifest-list indirection: bucket -> relPath of the
    // per-bucket manifest file listing that bucket's data files. Every data
    // file is covered: the meta file carries O(numBuckets) manifest lines
    // and no file lines, and a commit rewrites ONLY the touched buckets'
    // manifests — the 10^5-commits × 10^6-files metadata wall flagged in
    // round 2. `files` holds the RESOLVED list in memory (readSnapshot
    // resolves manifests); buckets without files are absent.
    bucketManifests: Map[Int, String] = Map.empty,
    // per-bucket MIN `_lsn` among delete tombstones (buckets with none are
    // absent) — maintained across COW commits from the same observed
    // aggregate as bucketRowCounts. This
    // is what lets compaction SELECT dirty buckets (minTombLsn <= horizon)
    // instead of rewriting the whole table — the COW analog of the
    // reference's O(processed-range) DELETE-after-normalize
    // (src/connectors/sinks/postgres/normalizer.rs:169-216).
    bucketTombMinLsn: Map[Int, Long] = Map.empty) {
  def schema: StructType = schemas(schemaVersion)
  def rowCount: Long = bucketRowCounts.values.sum
}

/** A from-scratch transactional lake table: hash-bucketed parquet data files
  * plus an atomic snapshot log — the Spark-side equivalent of the
  * reference's staging-table + MERGE machinery
  * (reference: src/connectors/sinks/postgres/, snowflake/stage.rs:1-473),
  * built directly because no Iceberg/Delta runtime jar ships with this
  * environment.
  *
  * Layout:
  * {{{
  *   <root>/_log/v%012d.meta     — snapshot log, one file per commit
  *   <root>/_manifests/m%012d-<b>-<uuid>.mf — one bucket's file list
  *   <root>/_lineage/v%012d.json — one row per commit that carries
  *                                 lineage (folded into c-<uuid>.json
  *                                 by compactLineage)
  *   <root>/data/cNNN-<uuid>/_bucket=<b>/part-*.parquet   — one dir per commit
  * }}}
  *
  * Commit protocol (kill-safe at any point, mirroring the reference's
  * checkpoint-before-ack invariant, src/engine/replication/postgres.rs:86-125):
  *   1. write data files under a commit-unique directory (attempt-unique
  *      names: orphans from a failed commit are invisible — no manifest
  *      references them — and a retry can never collide with them);
  *   2. write one new manifest per touched bucket (invisible until a meta
  *      references it);
  *   3. write the snapshot meta to a temp name and rename it to v%012d.meta
  *      with no-overwrite semantics. Readers only ever see fully-committed
  *      versions;
  *   4. append the commit's lineage row (see `appendLineage`).
  *
  * Scale path: the meta holds O(numBuckets) lines — one manifest path,
  * row count and tombstone min per bucket — and never a per-file line, so
  * a commit's metadata IO is O(touched buckets) however many files the
  * table holds (10^5-10^6 at 100 TB). Per-bucket stats come from the
  * write job itself (see `writeDataFiles`).
  */
final class LakeTable(val root: String, hadoopConf: Configuration)
    extends Serializable {

  @transient private lazy val fs: FileSystem =
    new Path(root).getFileSystem(hadoopConf)

  /** Test-only crash injection: when non-null, invoked at named points of
    * the commit protocol (`after-write-data`, `after-write-manifests`,
    * `before-meta-rename`, `after-meta-rename`,
    * `before-vacuum-meta-deletes`); a test throws from it to simulate a
    * kill at exactly that step (SURVEY §7.4's injected-failure testing).
    * Production cost: one null check per point.
    */
  @transient @volatile private[graft] var failpoint: String => Unit = null
  private def fp(name: String): Unit = {
    val f = failpoint
    if (f != null) f(name)
  }

  private def logDir = new Path(root, "_log")
  private def dataDir = new Path(root, "data")
  private def manifestsDir = new Path(root, "_manifests")
  private def lineageDir = new Path(root, "_lineage")
  private def metaPath(v: Long) = new Path(logDir, f"v$v%012d.meta")

  // ---------------------------------------------------------------- reads

  /** Latest committed snapshot. */
  def snapshot(): Snapshot = {
    val versions = listVersions()
    require(versions.nonEmpty, s"no committed snapshot under $root")
    readSnapshot(versions.max)
  }

  def snapshotVersions(): Seq[Long] = listVersions()

  private def listVersions(): Seq[Long] = {
    if (!fs.exists(logDir)) return Seq.empty
    fs.listStatus(logDir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".meta"))
      .map(n => n.stripPrefix("v").stripSuffix(".meta").toLong)
  }

  // Manifest files are immutable and content-addressed by name (a commit
  // writes NEW manifests for touched buckets, never rewrites one), so
  // their parsed entries are cached per table handle: without this, every
  // snapshot() — once per micro-batch apply plus once per backfill chunk —
  // re-opened ALL bucket manifests sequentially on the driver (10^4-10^5
  // FS opens per batch at 10^4-10^5 buckets). With the cache, a commit's
  // snapshot read opens only the manifests that commit replaced.
  // Bounded: superseded entries accumulate one generation per touched
  // bucket per commit, so the cache is cleared when it outgrows a few
  // generations of the table's bucket count.
  @transient private lazy val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[DataFileEntry]]()

  /** Count of actual manifest-file opens (cache misses) — test/diagnostic
    * hook for the O(touched) read-path guarantee.
    */
  @transient @volatile private[graft] var manifestFileReads: Long = 0L

  /** Count of snapshot meta-file opens — test/diagnostic hook proving
    * metrics paths (lineageDf) don't scale with version count.
    */
  @transient @volatile private[graft] var metaFileReads: Long = 0L

  def readSnapshot(version: Long): Snapshot = {
    metaFileReads += 1
    val snap = SnapshotCodec.decode(readTextFile(metaPath(version)))
    if (manifestCache.size > math.max(1024, 4 * snap.numBuckets))
      manifestCache.clear()
    val resolved = snap.bucketManifests.toSeq.sortBy(_._1)
      .flatMap { case (b, rel) =>
        manifestCache.computeIfAbsent(rel, { _ =>
          manifestFileReads += 1
          readTextFile(new Path(root, rel)).split('\n').filter(_.nonEmpty)
            .toSeq.map { line =>
              val i = line.indexOf('|')
              DataFileEntry(b, line.substring(0, i).toInt,
                line.substring(i + 1))
            }
        })
      }
    snap.copy(files = resolved)
  }

  private def readTextFile(p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Read the current table state (latest schema). Delete tombstones
    * (`_op = 2`) are filtered out unless `includeTombstones`.
    */
  def read(spark: SparkSession, includeTombstones: Boolean = false): DataFrame = {
    val df = readFiles(spark, snapshot(), None)
    if (includeTombstones) df else df.filter(col("_op") =!= 2)
  }

  /** Read only the given buckets' files (partition-pruned read for the
    * copy-on-write MERGE). `as` overrides the projection schema (used when
    * the same batch also evolves the schema).
    */
  def readBuckets(
      spark: SparkSession, snap: Snapshot, buckets: Set[Int],
      as: Option[StructType] = None): DataFrame =
    readFiles(spark, snap, Some(buckets), as)

  private def readFiles(
      spark: SparkSession, snap: Snapshot, buckets: Option[Set[Int]],
      as: Option[StructType] = None): DataFrame = {
    val target = as.getOrElse(snap.schema)
    val wanted = snap.files.filter(f => buckets.forall(_.contains(f.bucket)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], target)
    if (wanted.isEmpty) return empty
    // Group by written-with schema version; cast each group up to the latest
    // schema (widened columns), add nulls for later-added columns, union.
    wanted.groupBy(_.schemaVersion).toSeq.sortBy(_._1).map { case (sv, fse) =>
      val written = snap.schemas(sv)
      val df = spark.read.schema(written)
        .parquet(fse.map(f => new Path(root, f.relPath).toString): _*)
      df.select(target.fields.toSeq.map { fld =>
        if (written.fieldNames.contains(fld.name))
          col(fld.name).cast(fld.dataType).as(fld.name)
        else lit(null).cast(fld.dataType).as(fld.name)
      }: _*)
    }.reduce(_.unionByName(_))
  }

  /** Bucket assignment expression — co-locates a conversation's turns so the
    * MERGE join and per-key windows shuffle by the same partitioning.
    */
  def bucketExpr(numBuckets: Int) =
    pmod(hash(col("conv_id")), lit(numBuckets)).cast("int")

  // --------------------------------------------------------------- commits

  /** Create the table with an initial empty snapshot (version 1). */
  def create(schema: StructType, numBuckets: Int): Snapshot = {
    require(!fs.exists(logDir) || listVersions().isEmpty,
      s"table already exists at $root")
    fs.mkdirs(logDir); fs.mkdirs(dataDir)
    val snap = Snapshot(1L, -1L, 1, -1L, numBuckets,
      Map(1 -> schema), Map.empty, None, Seq.empty)
    writeSnapshot(snap)
    snap
  }

  /** Commit a rewrite of `touchedBuckets`: the new content of those buckets
    * is `newData` (already reduced/merged, includes all surviving rows of
    * those buckets); files of untouched buckets carry over unchanged.
    * `newSchema`, when set, bumps the schema version (evolution commit).
    * Returns the committed snapshot.
    */
  def commitRewrite(
      spark: SparkSession,
      base: Snapshot,
      touchedBuckets: Set[Int],
      newData: DataFrame,
      batchId: Long,
      endLsn: Long,
      lineage: LineageEntry,
      newSchema: Option[StructType] = None,
      newColAdds: Map[String, Long] = Map.empty,
      lineageFn: Option[() => LineageEntry] = None,
      backfillDone: Option[Int] = None): Snapshot = {

    val sv = if (newSchema.isDefined) base.schemaVersion + 1 else base.schemaVersion
    val schemas = newSchema.fold(base.schemas)(s => base.schemas + (sv -> s))
    val schema = schemas(sv)

    val (newFiles, rowsByBucket, tombMinByBucket) = writeDataFiles(spark,
      newData, schema, base.numBuckets, touchedBuckets, sv, base.version + 1)
    fp("after-write-data")

    val carried = base.files.filterNot(f => touchedBuckets.contains(f.bucket))
    // Manifest-list indirection: each touched bucket's file list goes to
    // its own manifest file; untouched buckets keep their existing
    // manifest paths untouched. Commit metadata IO is therefore
    // O(touched buckets + numBuckets meta lines), independent of the
    // table's total file count.
    val newManifests = writeManifests(newFiles, base.version + 1)
    fp("after-write-manifests")
    val manifests = (base.bucketManifests -- touchedBuckets) ++ newManifests
    // lineageFn reads the merge Observation's results — only valid after
    // the write action above materialized the plan.
    val lin = lineageFn.map(_.apply()).getOrElse(lineage)
    val next = Snapshot(
      version = base.version + 1,
      batchId = math.max(batchId, base.batchId),
      schemaVersion = sv,
      endLsn = math.max(math.max(endLsn, lin.endLsn), base.endLsn),
      numBuckets = base.numBuckets,
      schemas = schemas,
      colAddLsn = base.colAddLsn ++ newColAdds,
      lineage = Some(lin.copy(bucketRows = rowsByBucket)),
      files = carried ++ newFiles,
      // COW: touched buckets' counts are replaced, untouched carry over
      bucketRowCounts = (base.bucketRowCounts -- touchedBuckets) ++ rowsByBucket,
      backfillDone = backfillDone.getOrElse(base.backfillDone),
      bucketManifests = manifests,
      bucketTombMinLsn =
        (base.bucketTombMinLsn -- touchedBuckets) ++ tombMinByBucket)
    writeSnapshot(next)
    next
  }

  /** One manifest file per bucket present in `files`: lines of
    * `<schemaVersion>|<relPath>`. Written before the meta that references
    * them (same crash-invisibility as data files: no meta → no reader).
    */
  private def writeManifests(
      files: Seq[DataFileEntry], version: Long): Map[Int, String] = {
    if (files.isEmpty) return Map.empty
    fs.mkdirs(manifestsDir)
    files.groupBy(_.bucket).map { case (b, fse) =>
      val name =
        f"m$version%012d-$b-${UUID.randomUUID().toString.take(8)}.mf"
      val sorted = fse.sortBy(_.relPath)
      val out = fs.create(new Path(manifestsDir, name), true)
      try out.write(sorted
        .map(f => s"${f.schemaVersion}|${f.relPath}\n")
        .mkString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      // warm the resolution cache: the committer's own next snapshot()
      // then opens zero manifest files
      manifestCache.put(s"_manifests/$name", sorted)
      b -> s"_manifests/$name"
    }
  }

  /** Backfill-progress-only commit (an empty chunk still completes). */
  def commitBackfillProgress(base: Snapshot, done: Int): Snapshot = {
    val next = base.copy(version = base.version + 1, backfillDone = done,
      lineage = None)
    writeSnapshot(next)
    next
  }

  /** Heartbeat / ddl-only commit: advances batchId (and optionally schema)
    * with no data rewrite — no-op batches still advance lineage
    * (reference T9, src/core/record.rs:38-40).
    */
  def commitEmpty(
      base: Snapshot, batchId: Long,
      newSchema: Option[StructType] = None,
      newColAdds: Map[String, Long] = Map.empty,
      skippedEvolutions: Long = 0): Snapshot = {
    val sv = if (newSchema.isDefined) base.schemaVersion + 1 else base.schemaVersion
    val next = base.copy(
      version = base.version + 1,
      batchId = math.max(batchId, base.batchId),
      schemaVersion = sv,
      schemas = newSchema.fold(base.schemas)(s => base.schemas + (sv -> s)),
      colAddLsn = base.colAddLsn ++ newColAdds,
      lineage = Some(LineageEntry(batchId, -1, -1, 0, 0, 0, 0, Map.empty,
        skippedEvolutions)))
    writeSnapshot(next)
    next
  }

  /** Schema-only commit (evolution with no data rewrite). */
  def commitSchema(
      base: Snapshot, newSchema: StructType,
      newColAdds: Map[String, Long]): Snapshot = {
    val sv = base.schemaVersion + 1
    val next = base.copy(
      version = base.version + 1,
      schemaVersion = sv,
      schemas = base.schemas + (sv -> newSchema),
      colAddLsn = base.colAddLsn ++ newColAdds,
      lineage = None)
    writeSnapshot(next)
    next
  }

  /** Write `df` (rows of `schema` + any extra helper cols dropped here) as
    * per-bucket parquet files; returns the new file entries plus per-bucket
    * row counts and min tombstone lsns. One shuffle, partitioned by bucket,
    * so each task writes one bucket directory.
    *
    * The stats ride the WRITE job as its only `observe` metric: one
    * [[BucketStats]] aggregate whose update is O(1) per row at any bucket
    * count, so no second job reads the written files back.
    *
    * Files land under a commit-unique directory and keep the final names
    * Spark gave them — no driver rename pass (serial at 10^4-10^5 files, and
    * a copy on object stores), and a crashed-then-retried commit can never
    * collide with its own orphans (each attempt writes a fresh directory;
    * orphans are invisible because no manifest references them).
    */
  private def writeDataFiles(
      spark: SparkSession, df: DataFrame, schema: StructType, numBuckets: Int,
      touched: Set[Int], sv: Int, version: Long)
      : (Seq[DataFileEntry], Map[Int, Long], Map[Int, Long]) = {
    val dirName = f"c$version%012d-${UUID.randomUUID().toString.take(8)}"
    val out = new Path(dataDir, dirName)
    val cols = schema.fieldNames.toSeq.map(col) :+
      bucketExpr(numBuckets).as("_bucket")
    val parts = math.max(1, math.min(touched.size,
      spark.sessionState.conf.numShufflePartitions))
    val obs = new org.apache.spark.sql.Observation()
    val tombLsn = coalesce(when(col("_op") === 2, col("_lsn")),
      lit(BucketStats.NoTomb))
    // the observe node sits ABOVE the repartition exchange, i.e. in the
    // WRITE (result) stage: result-stage accumulator updates are applied
    // exactly once per task even under retries/speculation, while a
    // map-stage CollectMetrics would double-count rows whose shuffle
    // output is recomputed after a fetch failure
    df.select(cols: _*)
      .repartition(parts, col("_bucket"))
      .observe(obs,
        udaf(new BucketStats(numBuckets)).apply(col("_bucket"), tombLsn)
          .as("stats"))
      .write.partitionBy("_bucket").mode("overwrite")
      .parquet(out.toString)
    val bucketDirs = fs.listStatus(out).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("_bucket="))
    // an EMPTY write may lose its CollectMetrics node to
    // PropagateEmptyRelation (the observation then completes without the
    // metric): no bucket dirs ⇒ empty stats, correct by construction
    val stats: Array[Long] = obs.get.get("stats") match {
      case Some(a: scala.collection.Seq[_]) => a.map(_.asInstanceOf[Long]).toArray
      case _ if bucketDirs.isEmpty => new BucketStats(numBuckets).zero
      case other => throw new IllegalStateException(
        s"write stats missing for $out (observed: $other)")
    }
    val rowsByBucket = (0 until numBuckets).collect {
      case b if stats(b) > 0 => b -> stats(b)
    }.toMap
    val tombMinByBucket = (0 until numBuckets).collect {
      case b if stats(numBuckets + b) != BucketStats.NoTomb =>
        b -> stats(numBuckets + b)
    }.toMap
    val entries = bucketDirs.flatMap { bd =>
      val b = bd.getPath.getName.stripPrefix("_bucket=").toInt
      fs.listStatus(bd.getPath).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
        .map(f => DataFileEntry(b, sv,
          s"data/$dirName/${bd.getPath.getName}/${f.getPath.getName}"))
    }
    (entries, rowsByBucket, tombMinByBucket)
  }

  /** Atomic snapshot commit (step 3 of the protocol): temp write, then a
    * no-overwrite rename via FileContext (Options.Rename.NONE) — two racing
    * committers cannot both succeed; the loser gets FileAlreadyExists
    * instead of silently clobbering the winner's manifest. Single-writer is
    * still the operating assumption (as in the reference daemon); this guard
    * turns a violated assumption into a loud error, not lost commits.
    *
    * The rename machinery lives in the shared [[AtomicFs]] helper (also
    * used by the raw-append sink's dir commits): FileContext with
    * `Options.Rename.NONE` when available, a narrower exists-check+rename
    * fallback otherwise. Losing the race (target exists) is a loud
    * IllegalStateException here — a snapshot version can never be
    * silently re-pointed.
    */
  @transient private lazy val atomicFs = new AtomicFs(fs, hadoopConf)

  private def writeSnapshot(snap: Snapshot): Unit = {
    fs.mkdirs(logDir)
    val target = metaPath(snap.version)
    val tmp = new Path(logDir, s".tmp-${UUID.randomUUID().toString}")
    val o = fs.create(tmp, true)
    try o.write(SnapshotCodec.encode(snap).getBytes(StandardCharsets.UTF_8))
    finally o.close()
    fp("before-meta-rename")
    val won =
      try atomicFs.renameNoOverwrite(tmp, target)
      catch { case e: Throwable => fs.delete(tmp, false); throw e }
    if (!won)
      throw new IllegalStateException(
        s"commit race: $target already exists")
    fp("after-meta-rename")
    appendLineage(snap)
  }

  /** Append this commit's lineage row to the append-only `_lineage/` table
    * (one tiny JSON-lines file per commit — same driver-side cost class as
    * the meta write; SURVEY §1.4's design). Written AFTER the meta rename:
    * a row can never claim a version that didn't commit; the rarer inverse
    * crash window (committed version missing its row) is repairable from
    * the meta, which still carries the lineage redundantly. This is what
    * makes [[lineageDf]] one distributed scan instead of O(versions)
    * sequential driver meta decodes, and makes lineage history survive
    * [[vacuum]] (the reference's metrics history outlives checkpoint GC,
    * src/control/metrics_sampler.rs:1-67).
    *
    * Written via the same tmp + no-overwrite-rename as every other
    * metadata file: a direct create could crash mid-write and leave a
    * truncated row that PERMISSIVE json reads as all-null and
    * [[compactLineage]] splices onto its neighbor. A lost rename race
    * means a retry already appended this version's row — idempotent.
    */
  private def appendLineage(snap: Snapshot): Unit =
    snap.lineage.foreach { l =>
      fs.mkdirs(lineageDir)
      val row =
        s"""{"snapshot_version":${snap.version},"batch_id":${l.batchId},""" +
          s""""start_lsn":${l.startLsn},"end_lsn":${l.endLsn},""" +
          s""""inserted":${l.inserted},"updated":${l.updated},""" +
          s""""deleted":${l.deleted},"wall_ms":${l.wallMs},""" +
          s""""rows_after":${l.bucketRows.values.sum},""" +
          s""""schema_version":${snap.schemaVersion},""" +
          s""""skipped_evolutions":${l.skippedEvolutions}}\n"""
      val tmp = new Path(lineageDir, s".tmp-${UUID.randomUUID().toString.take(12)}")
      val o = fs.create(tmp, true)
      try o.write(row.getBytes(StandardCharsets.UTF_8)) finally o.close()
      atomicFs.renameNoOverwrite(tmp, new Path(lineageDir, f"v${snap.version}%012d.json"))
      ()
    }

  /** Time travel: read the table as of an older committed version (the
    * snapshot log is immutable, so every version stays readable until its
    * files are compacted away — the Spark-side analog of replaying the
    * reference's staged batches).
    */
  def readVersion(spark: SparkSession, version: Long,
      includeTombstones: Boolean = false): DataFrame = {
    val df = readFiles(spark, readSnapshot(version), None)
    if (includeTombstones) df else df.filter(col("_op") =!= 2)
  }

  /** Maintenance commit: rewrite ONLY the buckets that need it, dropping
    * delete tombstones at or below `horizonLsn` (safe once the source can
    * no longer replay below that lsn) and coalescing multi-file buckets.
    * Bucket selection is O(metadata) — no data scan:
    *
    *   - tombstone-dirty: `bucketTombMinLsn(b) <= horizonLsn` (the
    *     snapshot's write-time-maintained index, exact);
    *   - file-dirty: the bucket has more than `fileThreshold` data files
    *     (counted from the in-memory manifest).
    *
    * `maxBuckets` bounds one commit's rewrite; repeated calls walk the
    * remaining dirty buckets in ascending order — resumable maintenance,
    * exactly like backfill chunks. Cost is O(dirty buckets), never
    * O(table): the COW equivalent of the reference's
    * O(processed-range) raw-table DELETE-after-normalize
    * (reference: src/connectors/sinks/postgres/normalizer.rs:169-216).
    * Returns the committed snapshot (unchanged when nothing is dirty).
    */
  def compact(spark: SparkSession, horizonLsn: Long,
      fileThreshold: Int = 1, maxBuckets: Int = Int.MaxValue): Snapshot =
    compactIncremental(spark, horizonLsn, fileThreshold, maxBuckets)._1

  /** [[compact]] plus the set of buckets this call actually rewrote (the
    * observability hook for the O(dirty) guarantee).
    */
  def compactIncremental(
      spark: SparkSession, horizonLsn: Long,
      fileThreshold: Int = 1,
      maxBuckets: Int = Int.MaxValue): (Snapshot, Set[Int]) = {
    val snap = snapshot()
    val filesPerBucket = snap.files.groupBy(_.bucket).view.mapValues(_.size)
    val tombDirty = snap.bucketTombMinLsn.collect {
      case (b, minLsn) if minLsn <= horizonLsn => b
    }.toSet
    val fileDirty = filesPerBucket.collect {
      case (b, n) if n > fileThreshold => b
    }.toSet
    val selected = (tombDirty ++ fileDirty).toSeq.sorted.take(maxBuckets).toSet
    if (selected.isEmpty) return (snap, Set.empty)
    val kept = readFiles(spark, snap, Some(selected))
      .filter(!(col("_op") === 2 && col("_lsn") <= horizonLsn))
    val next = commitRewrite(spark, snap, selected, kept, snap.batchId,
      endLsn = snap.endLsn,
      lineage = LineageEntry(snap.batchId, -1, -1, 0, 0, 0, 0, Map.empty))
    (next, selected)
  }

  /** Maintenance: physically delete (a) snapshot metas older than the
    * newest `keepVersions` (bounding the time-travel horizon) and (b) data
    * files referenced by NO retained snapshot — compaction leftovers and
    * orphans of crashed commits.
    *
    * In-flight-commit safety is structural, not mtime-based: data files
    * land under a commit-unique `cNNN-…` directory BEFORE the commit's
    * meta appears, so a file whose directory version is ≥ the oldest
    * retained snapshot version may belong to a commit still in flight and
    * is never touched. Files below that version line are additionally
    * given `graceMs` (default 24h — an in-flight COW write job must never
    * outlive it; Iceberg's remove_orphan_files defaults to 3 days for the
    * same reason). Returns (metasDeleted, filesDeleted). Single-writer
    * assumption, like commits.
    */
  def vacuum(keepVersions: Int = 2, graceMs: Long = 86400000L): (Int, Int) = {
    require(keepVersions >= 1, "must retain at least the current snapshot")
    val versions = listVersions().sorted
    val retained = versions.takeRight(keepVersions)
    val oldestRetained = retained.min
    val referenced = retained
      .flatMap(v => readSnapshot(v).files.map(_.relPath)).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    // data/cNNNNNNNNNNNN-xxxx/... -> commit version N, or None if foreign
    def dirVersion(rel: String): Option[Long] =
      rel.split('/').drop(1).headOption
        .flatMap(d => "^c(\\d+)-".r.findFirstMatchIn(d))
        .map(_.group(1).toLong)
    var files = 0
    if (fs.exists(dataDir)) {
      val rootQual = fs.makeQualified(new Path(root)).toString
      val it = fs.listFiles(dataDir, true)
      while (it.hasNext) {
        val f = it.next()
        val rel = f.getPath.toString.stripPrefix(rootQual).stripPrefix("/")
        val preHorizon = dirVersion(rel).exists(_ < oldestRetained)
        if (!referenced.contains(rel) && preHorizon &&
            f.getModificationTime < cutoff) {
          fs.delete(f.getPath, false)
          files += 1
        }
      }
    }
    // superseded manifest files: same rule (unreferenced + version below
    // the retained horizon + past grace)
    val referencedManifests = retained
      .flatMap(v => readSnapshot(v).bucketManifests.values).toSet
    if (fs.exists(manifestsDir)) {
      for (m <- fs.listStatus(manifestsDir)) {
        val name = m.getPath.getName
        val mVer = "^m(\\d+)-".r.findFirstMatchIn(name).map(_.group(1).toLong)
        if (!referencedManifests.contains(s"_manifests/$name") &&
            mVer.exists(_ < oldestRetained) &&
            m.getModificationTime < cutoff) {
          fs.delete(m.getPath, false)
          files += 1
        }
      }
    }
    // crashed-write leftovers in the metadata dirs (writeSnapshot and
    // compactLineage tmp files orphaned between create and rename): same
    // grace as data files, else a periodically-crashing daemon leaks one
    // file per crash in exactly the dirs maintenance keeps flat
    for (dir <- Seq(logDir, lineageDir) if fs.exists(dir);
         t <- fs.listStatus(dir)
         if t.getPath.getName.startsWith(".tmp-") &&
           t.getModificationTime < cutoff) {
      fs.delete(t.getPath, false)
      files += 1
    }
    fp("before-vacuum-meta-deletes")
    val dropped = versions.dropRight(keepVersions)
    dropped.foreach(v => fs.delete(metaPath(v), false))
    (dropped.size, files)
  }

  private val lineageSchema = StructType(Seq(
    StructField("snapshot_version", org.apache.spark.sql.types.LongType),
    StructField("batch_id", org.apache.spark.sql.types.LongType),
    StructField("start_lsn", org.apache.spark.sql.types.LongType),
    StructField("end_lsn", org.apache.spark.sql.types.LongType),
    StructField("inserted", org.apache.spark.sql.types.LongType),
    StructField("updated", org.apache.spark.sql.types.LongType),
    StructField("deleted", org.apache.spark.sql.types.LongType),
    StructField("wall_ms", org.apache.spark.sql.types.LongType),
    StructField("rows_after", org.apache.spark.sql.types.LongType),
    StructField("schema_version", org.apache.spark.sql.types.IntegerType),
    StructField("skipped_evolutions", org.apache.spark.sql.types.LongType)))

  /** Lineage/metrics as a DataFrame. Reads the append-only `_lineage/`
    * table — ONE distributed scan, no driver-side decode of every snapshot
    * meta (the round-4 audit's O(versions)-sequential-FS-reads wall) — and
    * history survives [[vacuum]], which GCs metas but never lineage.
    * Retained metas below the table's floor (or all of them, while no
    * `_lineage/` dir exists) contribute meta-derived rows: a kill between
    * a first commit's meta rename and its lineage append leaves that row
    * only in the meta.
    */
  def lineageDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // decode retained snapshot metas (versions below the lineage floor)
    def fromMetas(versions: Seq[Long]): DataFrame =
      versions.sorted.map(readSnapshot).flatMap { s =>
        s.lineage.map(l => (s.version, l.batchId, l.startLsn, l.endLsn,
          l.inserted, l.updated, l.deleted, l.wallMs,
          l.bucketRows.values.sum, s.schemaVersion, l.skippedEvolutions))
      }.toDF("snapshot_version", "batch_id", "start_lsn", "end_lsn",
        "inserted", "updated", "deleted", "wall_ms", "rows_after",
        "schema_version", "skipped_evolutions")
    if (!fs.exists(lineageDir)) return fromMetas(listVersions())
    // dropDuplicates: a crashed compactLineage can leave a row in both
    // the combined file and a not-yet-deleted original — reads stay
    // exact through every crash window
    // the isNotNull guard drops any all-null row a PERMISSIVE read makes
    // of a corrupt/torn file, so it can never shadow a real
    // version inside dropDuplicates
    val t = spark.read.schema(lineageSchema).json(lineageDir.toString)
      .filter(col("snapshot_version").isNotNull)
      .dropDuplicates("snapshot_version")
    // commits below the lineage table's floor exist only in their snapshot
    // metas — merge the retained ones instead of silently truncating
    // history (vacuumed metas stay gone)
    val floorRow = t.agg(min(col("snapshot_version"))).head()
    val floor = if (floorRow.isNullAt(0)) Long.MaxValue else floorRow.getLong(0)
    // v1 is always the lineage-less create commit: skipping it keeps the
    // common case (lineage table born with the lake, floor = 2) at ZERO
    // meta opens
    val belowFloor = listVersions().filter(v => v < floor && v > 1L)
    (if (belowFloor.isEmpty) t else t.unionByName(fromMetas(belowFloor)))
      .orderBy(col("snapshot_version"))
  }

  /** Maintenance: coalesce per-commit lineage files into one combined
    * JSON-lines file (bounding `_lineage/` at one file per compaction
    * cycle plus the commits since — at a 5 s trigger a day adds ~17k tiny
    * files, which this folds away). Pure driver-side string IO; crash-safe
    * because the combined file commits via no-overwrite rename BEFORE the
    * originals are deleted, and [[lineageDf]] dedups on snapshot_version,
    * so every crash window reads exactly once. Returns files folded.
    */
  def compactLineage(): Int = {
    if (!fs.exists(lineageDir)) return 0
    val parts = fs.listStatus(lineageDir).toSeq
      .filter(s => s.getPath.getName.endsWith(".json") &&
        !s.getPath.getName.startsWith(".")) // crashed .tmp- leftovers
      .sortBy(_.getPath.getName)
    if (parts.size <= 1) return 0
    val combined = new StringBuilder
    parts.foreach { p =>
      combined ++= readTextFile(p.getPath)
      // a torn part may lack its trailing newline: splice a separator so
      // the NEXT part's first record doesn't concatenate onto the partial
      // one
      if (combined.nonEmpty && combined.last != '\n') combined += '\n'
    }
    val name = s"c-${UUID.randomUUID().toString.take(12)}.json"
    val tmp = new Path(lineageDir, s".tmp-$name")
    val o = fs.create(tmp, true)
    try o.write(combined.result().getBytes(StandardCharsets.UTF_8))
    finally o.close()
    require(atomicFs.renameNoOverwrite(tmp, new Path(lineageDir, name)),
      s"lineage compaction target $name already exists")
    parts.foreach(p => fs.delete(p.getPath, false))
    parts.size
  }

  /** Startup schema reconcile (E6, reference:
    * src/connectors/sinks/postgres/setup.rs:140-170): diff the job's
    * configured schema against the stored one at engine start; adds/widens
    * commit immediately, incompatible changes are kept-old (degraded) and
    * returned so the caller can count/log them.
    */
  def ensureSchema(configured: StructType): Seq[graft.schema.SchemaAction] = {
    val snap = snapshot()
    val declared = StructType(
      snap.schema.fields.filterNot(_.name.startsWith("_")))
    val plan = graft.schema.Reconcile(declared, configured)
    if (plan.changed) {
      val merged = StructType(plan.merged.fields ++
        snap.schema.fields.filter(_.name.startsWith("_")))
      commitSchema(snap, merged, Map.empty)
    }
    plan.actions
  }
}

object LakeTable {
  // deliberately NO session tuning here: constructing a table handle in
  // someone else's SparkSession must not mutate their SQL conf — the
  // engine's own entry points (Pipeline.startQuery and its callers,
  // the declared queries) call SessionTuning.tune themselves
  def apply(spark: SparkSession, root: String): LakeTable =
    new LakeTable(root, spark.sparkContext.hadoopConfiguration)

  /** Scale-adaptive bucket count for a new table (guide §2.2/§6: derive
    * partitioning from input size, not a constant tuned for one scale):
    * ~`rowsPerBucket` keys per bucket, clamped to [4, 4096] and rounded
    * up to a power of two. A 10^5-row bench table gets 4 buckets (files
    * worth opening); a 10^10-key production table gets 4096 (the COW
    * rewrite and compaction granularity). The count is fixed at table
    * creation — like Iceberg bucket transforms — so callers size it from
    * the EXPECTED steady-state key count, not the first batch.
    */
  def bucketsFor(estimatedKeys: Long, rowsPerBucket: Long = 50000L): Int = {
    val raw = math.max(1L, estimatedKeys / math.max(1L, rowsPerBucket))
    val pow2 = java.lang.Long.highestOneBit(math.max(1L, raw * 2 - 1))
    math.min(4096L, math.max(4L, pow2)).toInt
  }
}

/** Per-bucket write stats as one typed aggregate over `(bucket, tombLsn)`
  * rows, where `tombLsn` is the row's `_lsn` for a delete tombstone and
  * [[BucketStats.NoTomb]] otherwise. Buffer slot `b` counts bucket `b`'s
  * rows; slot `numBuckets + b` holds its min tombstone `_lsn` (`NoTomb` =
  * none). The per-row update is two array writes at any bucket count.
  */
private[lake] final class BucketStats(numBuckets: Int)
    extends Aggregator[(Int, Long), Array[Long], Array[Long]] {
  def zero: Array[Long] = {
    val a = new Array[Long](2 * numBuckets)
    java.util.Arrays.fill(a, numBuckets, 2 * numBuckets, BucketStats.NoTomb)
    a
  }
  def reduce(buf: Array[Long], in: (Int, Long)): Array[Long] = {
    buf(in._1) += 1
    val t = numBuckets + in._1
    if (in._2 < buf(t)) buf(t) = in._2
    buf
  }
  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numBuckets) { a(i) += b(i); i += 1 }
    while (i < 2 * numBuckets) { a(i) = math.min(a(i), b(i)); i += 1 }
    a
  }
  def finish(buf: Array[Long]): Array[Long] = buf
  def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}

private[lake] object BucketStats {
  val NoTomb: Long = Long.MaxValue
}

/** Line-oriented snapshot codec. Schemas serialize via Spark's own
  * StructType JSON (single line); everything else is `key=value`. Data
  * files are never inlined: each lives in its bucket's manifest
  * (`bmanifest=` lines), and decoding leaves `files` empty for
  * [[LakeTable.readSnapshot]] to resolve.
  */
object SnapshotCodec {
  def encode(s: Snapshot): String = {
    val uncovered = s.files.filterNot(f => s.bucketManifests.contains(f.bucket))
    require(uncovered.isEmpty,
      s"snapshot v${s.version}: files outside every bucket manifest: " +
        uncovered.take(3).mkString(", "))
    val b = new StringBuilder
    b ++= s"version=${s.version}\n"
    b ++= s"batchId=${s.batchId}\n"
    b ++= s"schemaVersion=${s.schemaVersion}\n"
    b ++= s"endLsn=${s.endLsn}\n"
    b ++= s"numBuckets=${s.numBuckets}\n"
    b ++= s"backfillDone=${s.backfillDone}\n"
    s.schemas.toSeq.sortBy(_._1).foreach { case (v, sch) =>
      b ++= s"schema=$v|${sch.json}\n"
    }
    s.colAddLsn.toSeq.sorted.foreach { case (c, l) => b ++= s"coladd=$c|$l\n" }
    s.lineage.foreach { l =>
      b ++= s"lineage=${l.batchId}|${l.startLsn}|${l.endLsn}|${l.inserted}|${l.updated}|${l.deleted}|${l.wallMs}|${l.skippedEvolutions}\n"
      l.bucketRows.toSeq.sorted.foreach { case (bk, n) =>
        b ++= s"bucketrows=$bk|$n\n"
      }
    }
    s.bucketRowCounts.toSeq.sorted.foreach { case (bk, n) =>
      b ++= s"brows=$bk|$n\n"
    }
    s.bucketManifests.toSeq.sorted.foreach { case (bk, rel) =>
      b ++= s"bmanifest=$bk|$rel\n"
    }
    s.bucketTombMinLsn.toSeq.sorted.foreach { case (bk, l) =>
      b ++= s"btmin=$bk|$l\n"
    }
    b.result()
  }

  def decode(text: String): Snapshot = {
    var version = 0L; var batchId = -1L; var schemaVersion = 1
    var endLsn = -1L; var numBuckets = 16; var backfillDone = 0
    val schemas = scala.collection.mutable.Map[Int, StructType]()
    val colAdd = scala.collection.mutable.Map[String, Long]()
    var lin: Option[LineageEntry] = None
    val bucketRows = scala.collection.mutable.Map[Int, Long]()
    val brows = scala.collection.mutable.Map[Int, Long]()
    val bmanifests = scala.collection.mutable.Map[Int, String]()
    val btmin = scala.collection.mutable.Map[Int, Long]()
    text.split('\n').filter(_.nonEmpty).foreach { line =>
      val i = line.indexOf('=')
      val (k, v) = (line.substring(0, i), line.substring(i + 1))
      k match {
        case "version"       => version = v.toLong
        case "batchId"       => batchId = v.toLong
        case "schemaVersion" => schemaVersion = v.toInt
        case "endLsn"        => endLsn = v.toLong
        case "numBuckets"    => numBuckets = v.toInt
        case "backfillDone"  => backfillDone = v.toInt
        case "schema" =>
          val j = v.indexOf('|')
          schemas(v.substring(0, j).toInt) =
            DataType.fromJson(v.substring(j + 1)).asInstanceOf[StructType]
        case "coladd" =>
          val Array(c, l) = v.split('|'); colAdd(c) = l.toLong
        case "lineage" =>
          val a = v.split('|')
          lin = Some(LineageEntry(a(0).toLong, a(1).toLong, a(2).toLong,
            a(3).toLong, a(4).toLong, a(5).toLong, a(6).toLong, Map.empty,
            a(7).toLong))
        case "bucketrows" =>
          val Array(bk, n) = v.split('|'); bucketRows(bk.toInt) = n.toLong
        case "brows" =>
          val Array(bk, n) = v.split('|'); brows(bk.toInt) = n.toLong
        case "bmanifest" =>
          val i2 = v.indexOf('|')
          bmanifests(v.substring(0, i2).toInt) = v.substring(i2 + 1)
        case "btmin" =>
          val Array(bk, l) = v.split('|'); btmin(bk.toInt) = l.toLong
        case _ => // forward compatibility: ignore unknown keys
      }
    }
    Snapshot(version, batchId, schemaVersion, endLsn, numBuckets,
      schemas.toMap, colAdd.toMap,
      lin.map(_.copy(bucketRows = bucketRows.toMap)), Nil,
      brows.toMap, backfillDone, bmanifests.toMap, btmin.toMap)
  }
}
