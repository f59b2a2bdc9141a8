package graft

import org.apache.spark.sql.functions._

import graft.apply.MultiApply
import graft.binlog.{BinlogGen, GenConfig, OracleFold}
import graft.lake.LakeTable
import graft.model.{Schemas, Transcript}
import graft.pipeline.Pipeline
import graft.sink.{Maintenance, MultiSink}

/** Multi-table routing (reference TableRef per record, record.rs:61-77):
  * one stream, one MERGE per tracked destination table, untracked tables
  * dropped (P1) without failing the stream.
  */
class MultiTableSpec extends SparkSpec {
  import spark.implicits._

  private def liveState(lake: LakeTable): Vector[Transcript] =
    lake.read(spark)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "_lsn", "_op")
      .as[Transcript].collect().toVector.sortBy(t => (t.conv_id, t.turn_idx))

  // route per conversation: %5==0 → untracked ghost, else parity → a / b
  private def tableOf(conv: String): String = {
    val n = conv.stripPrefix("conv_").toInt
    if (n % 5 == 0) "ghost" else if (n % 2 == 0) "a" else "b"
  }

  test("streamed multi-table routing: per-table fold equality + untracked drop") {
    val cfg = GenConfig(seed = 31, numConvs = 50, eventsPerConv = 30,
      pctUpdate = 0.3, pctDelete = 0.1)
    val events = BinlogGen.events(cfg)
    val work = tmpDir("multi")
    val n = substring(col("conv_id"), 6, 8).cast("int")
    val tagged = spark.createDataset(events).toDF()
      .withColumn("table",
        when(n % 5 === 0, "ghost").when(n % 2 === 0, "a").otherwise("b"))
    BinlogGen.writeSegments(spark, tagged, s"$work/binlog", 6)

    val lakes = Map(
      "a" -> LakeTable(spark, s"$work/lake-a"),
      "b" -> LakeTable(spark, s"$work/lake-b"))
    lakes.values.foreach(_.create(Schemas.transcript, 4))
    val q = Pipeline.startQuery(spark, s"$work/binlog", new MultiSink(lakes),
      s"$work/ckpt", maxFilesPerTrigger = 2)
    q.awaitTermination()

    for ((name, lake) <- lakes) {
      val want = OracleFold.finalState(
        events.filter(e => e.conv_id != null && tableOf(e.conv_id) == name))
      assert(liveState(lake) == want, s"table $name diverged")
    }
    // ghost conversations reached no lake
    val all = lakes.values.flatMap(liveState).map(_.conv_id).toSet
    assert(all.forall(c => tableOf(c) != "ghost"))

    // replayed batch is a per-table no-op (idempotence guard holds per lake)
    val before = lakes.map { case (n, l) => n -> liveState(l) }
    MultiApply.applyBatch(spark, lakes, tagged, 0L)
    assert(lakes.forall { case (n, l) => liveState(l) == before(n) })
  }

  test("staggered maintenance over multi-table lakes: equality + pruning, one table per pass") {
    val cfg = GenConfig(seed = 37, numConvs = 40, eventsPerConv = 25,
      pctUpdate = 0.3, pctDelete = 0.15)
    val events = BinlogGen.events(cfg)
    val work = tmpDir("multimaint")
    val n = substring(col("conv_id"), 6, 8).cast("int")
    val tagged = spark.createDataset(events).toDF()
      .withColumn("table", when(n % 2 === 0, "a").otherwise("b"))
    BinlogGen.writeSegments(spark, tagged, s"$work/binlog", 6)

    def runInto(suffix: String, maint: Option[Maintenance]) = {
      val lakes = Map(
        "a" -> LakeTable(spark, s"$work/lake-a$suffix"),
        "b" -> LakeTable(spark, s"$work/lake-b$suffix"))
      lakes.values.foreach(_.create(Schemas.transcript, 4))
      Pipeline.startQuery(spark, s"$work/binlog", new MultiSink(lakes, maint),
        s"$work/ckpt$suffix", maxFilesPerTrigger = 2).awaitTermination()
      lakes
    }
    val plain = runInto("P", None)
    val kept = runInto("K", Some(Maintenance(everyBatches = 1,
      fileThreshold = 1, keepVersions = 2, vacuumGraceMs = 0L)))

    // routing + fold equality unchanged under maintenance
    for ((name, lake) <- kept)
      assert(liveState(lake) == liveState(plain(name)), s"table $name")
    // the round-robin reached both lakes (3 batches, everyBatches=1 →
    // passes at bids 1 and 2 land on different tables), so both pruned
    for ((name, lake) <- kept)
      assert(lake.snapshotVersions().size <
        plain(name).snapshotVersions().size, s"table $name not pruned")
  }

  test("8-table fan-out: concurrent per-table commits equal the oracle; failures propagate") {
    val cfg = GenConfig(seed = 37, numConvs = 64, eventsPerConv = 15)
    val events = BinlogGen.events(cfg)
    val work = tmpDir("multi8")
    val n = substring(col("conv_id"), 6, 8).cast("int")
    val tagged = spark.createDataset(events).toDF()
      .withColumn("table", concat(lit("t"), (n % 8).cast("string")))
    val lakes = (0 until 8).map(i =>
      s"t$i" -> LakeTable(spark, s"$work/lake-$i")).toMap
    lakes.values.foreach(_.create(Schemas.transcript, 4))

    val skipped = MultiApply.applyBatch(spark, lakes, tagged, 0L)
    assert(skipped == 0)
    for (i <- 0 until 8) {
      val want = OracleFold.finalState(events.filter(e =>
        e.conv_id != null && e.conv_id.stripPrefix("conv_").toInt % 8 == i))
      assert(liveState(lakes(s"t$i")) == want, s"table t$i diverged")
    }

    // a failing table's error propagates out of the concurrent fan-out
    val bad = lakes + ("t3" -> LakeTable(spark, s"$work/nonexistent"))
    val ex = intercept[Exception] {
      MultiApply.applyBatch(spark, bad, tagged, 1L)
    }
    assert(ex != null)
  }
}
