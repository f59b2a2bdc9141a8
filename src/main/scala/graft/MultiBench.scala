package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.binlog.{BinlogGen, GenConfig}
import graft.lake.LakeTable
import graft.model.Schemas

/** Wide-fan-out daemon measurement for multi-table routing (the reference
  * ran 40 single-table daemons per host in its multitenant footprint
  * benchmark; here ONE streaming query fans out to all lakes): N
  * micro-batches through
  * [[graft.pipeline.Pipeline.startQuery]] and a [[graft.sink.MultiSink]]
  * over `--tables` destination lakes with staggered
  * inline maintenance, reporting wall, events/s, per-lake version counts
  * (bounded by the stagger + vacuum) and total live rows. The per-table
  * correctness of this exact shape is HttpControlSpec's multi-table test;
  * this measures whether the shared-pool fan-out + O(one-table)
  * maintenance tax hold at 100+ tables. (Sequential vs concurrent
  * per-table apply is settled: BENCH.md "Multi-table fan-out A/B".)
  *
  *   scripts/run.sh graft.MultiBench --tables 120 --convs 24000
  */
object MultiBench {
  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val tables = opt.getOrElse("--tables", "8").toInt
    val convs = opt.getOrElse("--convs", "8000").toInt
    val epc = opt.getOrElse("--events-per-conv", "30").toInt
    val cpus = opt.getOrElse("--cpus", "8").toInt
    val work = opt.getOrElse("--work", "/tmp/graft-multibench")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (2 * cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val segments = opt.getOrElse("--segments", "16").toInt
    val fpt = opt.getOrElse("--files-per-trigger", "2").toInt
    val maintEvery = opt.getOrElse("--maintenance-every", "2").toInt
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$work/daemon"), true)

    val cfg = GenConfig(seed = 42, numConvs = convs, eventsPerConv = epc)
    val n = substring(col("conv_id"), 6, 8).cast("int")
    BinlogGen.writeSegments(spark,
      BinlogGen.eventsDs(spark, cfg).toDF()
        .withColumn("table", concat(lit("t"), (n % tables).cast("string"))),
      s"$work/daemon/binlog", segments)
    val lakes = (0 until tables).map { i =>
      val l = LakeTable(spark, s"$work/daemon/lake-$i")
      l.create(Schemas.transcript, 4)
      s"t$i" -> l
    }.toMap

    val t0 = System.nanoTime()
    val sink = new graft.sink.MultiSink(lakes, Some(graft.sink.Maintenance(
      everyBatches = maintEvery, keepVersions = 2, vacuumGraceMs = 0L)))
    graft.pipeline.Pipeline.startQuery(spark, s"$work/daemon/binlog", sink,
      s"$work/daemon/ckpt", maxFilesPerTrigger = fpt, availableNow = true)
      .awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9

    // accounting: live rows + an order-insensitive content hash across the
    // whole table set (replay equality across repeat runs — same input
    // must print the same pair), and per-lake version counts, which the
    // stagger + vacuum must keep bounded
    val rows = lakes.values.map(_.read(spark).count()).toSeq
    val versions = lakes.values.map(_.snapshotVersions().size).toSeq
    val hash = lakes.values.map(_.read(spark)).reduce(_ unionByName _)
      .selectExpr("CAST(sum(CAST(xxhash64(conv_id, turn_idx, text) " +
        "AS DECIMAL(38,0))) AS STRING) AS h").head().getString(0)
    println(s"""{"bench":"multi-daemon","tables":$tables,""" +
      s""""events":${cfg.totalEvents},"batches":${segments / fpt},""" +
      f""""wallSec":$sec%.2f,"eventsPerSec":${cfg.totalEvents / sec}%.0f,""" +
      s""""liveRows":${rows.sum},"contentHash":"$hash",""" +
      s""""minRowsPerTable":${rows.min},"maxRowsPerTable":${rows.max},""" +
      s""""maxVersionsPerLake":${versions.max},""" +
      s""""maintenanceEvery":$maintEvery}""")
    spark.stop()
  }
}
