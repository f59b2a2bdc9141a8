package graft

import java.sql.Timestamp
import scala.util.Random

import graft.apply.MergeApply
import graft.binlog.{BinlogGen, OracleFold}
import graft.lake.LakeTable
import graft.model.{ChangeEvent, Op, Schemas, Transcript}

/** Randomized replay-equality properties (the ScalaCheck-style upgrade over
  * the reference's two integration tests, SURVEY §5): for random event
  * interleavings, random batch splits, and random batch replays, the
  * engine's final table equals the sequential oracle fold.
  */
class ReplayPropertySpec extends SparkSpec {
  import spark.implicits._

  private def randomLog(seed: Long, n: Int): Vector[ChangeEvent] = {
    val rnd = new Random(seed)
    val convs = Vector("a", "b", "c", "hot")
    (1 to n).map { i =>
      val lsn = 2L * i
      // "hot" conv takes 40% of events — skew baked into the property
      val conv = if (rnd.nextDouble() < 0.4) "hot" else convs(rnd.nextInt(3))
      val turn = rnd.nextInt(5)
      val roll = rnd.nextDouble()
      val op = if (roll < 0.5) Op.Insert else if (roll < 0.85) Op.Update else Op.Delete
      val unchanged = op == Op.Update && rnd.nextBoolean()
      ChangeEvent(lsn, op, conv, turn,
        if (op == Op.Delete) null else s"role${rnd.nextInt(3)}",
        if (op == Op.Delete || unchanged) null else s"t$lsn-${rnd.nextInt(100)}",
        if (op == Op.Delete || rnd.nextBoolean()) null else s"tool${rnd.nextInt(3)}",
        new Timestamp(BinlogGen.BaseMs + lsn * 1000), unchanged, lsn / 8, null)
    }.toVector
  }

  private def liveState(lake: LakeTable): Vector[Transcript] =
    lake.read(spark)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "_lsn", "_op")
      .as[Transcript].collect().toVector.sortBy(t => (t.conv_id, t.turn_idx))

  test("random logs, random batch splits, random replays == oracle fold") {
    for (seed <- 1L to 6L) {
      val rnd = new Random(seed * 101)
      val events = randomLog(seed, 120)
      // random split into 1..5 lsn-ordered batches
      val nb = 1 + rnd.nextInt(5)
      val cuts = (Vector.fill(nb - 1)(rnd.nextInt(events.size)).sorted
        :+ events.size)
      val batches = (0 +: cuts).sliding(2).map { case Seq(a, b) =>
        events.slice(a, b)
      }.filter(_.nonEmpty).toVector
      val lake = LakeTable(spark, tmpDir(s"prop$seed"))
      lake.create(Schemas.transcript, 4)
      var id = 0L
      for (b <- batches) {
        MergeApply.applyBatch(spark, lake, spark.createDataset(b).toDF(), id)
        // randomly replay the batch we just applied (at-least-once)
        if (rnd.nextBoolean())
          MergeApply.applyBatch(spark, lake, spark.createDataset(b).toDF(), id)
        id += 1
      }
      assert(liveState(lake) == OracleFold.finalState(events),
        s"seed=$seed batches=${batches.map(_.size)}")
    }
  }

  test("random maintenance interleaving: compact/vacuum between batches, replays after == oracle") {
    // the sharpest ordering: maintenance retires a batch's tombstones and
    // prunes old versions, THEN the transport replays that very batch —
    // the batch-id and `lsn > endLsn` guards must absorb it even though
    // the tombstones it would re-delete against are physically gone
    for (seed <- 11L to 16L) {
      val rnd = new Random(seed * 131)
      val events = randomLog(seed, 140)
      val nb = 2 + rnd.nextInt(4)
      val cuts = (Vector.fill(nb - 1)(rnd.nextInt(events.size)).sorted
        :+ events.size)
      val batches = (0 +: cuts).sliding(2).map { case Seq(a, b) =>
        events.slice(a, b)
      }.filter(_.nonEmpty).toVector
      val lake = LakeTable(spark, tmpDir(s"maintprop$seed"))
      lake.create(Schemas.transcript, 4)
      var id = 0L
      for (b <- batches) {
        MergeApply.applyBatch(spark, lake, spark.createDataset(b).toDF(), id)
        if (rnd.nextBoolean()) {
          lake.compact(spark, lake.snapshot().endLsn, fileThreshold = 1)
          lake.vacuum(keepVersions = 2, graceMs = 0L)
        }
        if (rnd.nextBoolean())
          MergeApply.applyBatch(spark, lake, spark.createDataset(b).toDF(), id)
        id += 1
      }
      assert(liveState(lake) == OracleFold.finalState(events),
        s"seed=$seed batches=${batches.map(_.size)}")
    }
  }

  test("random ddl placement: add-gated column under random splits/replays == oracle") {
    import org.apache.spark.sql.types.StringType
    for (seed <- 1L to 6L) {
      val rnd = new Random(seed * 977)
      val pre = rnd.nextBoolean() // table pre-created WITH the column?
      val addLsn = 2L * (1 + rnd.nextInt(130)) - 1 // odd (ddl convention)
      // Realistic stream: below the add the source does not emit the
      // column. When the table is NOT pre-created we instead plant junk
      // values there, so suppression must come from the add-lsn gate (and
      // from payload projection before the ddl arrives), not by accident.
      val events = randomLog(seed + 50, 120).map { e =>
        if (e.lsn < addLsn && e.op != Op.Delete)
          e.copy(tool = if (pre) null else s"junk${e.lsn}")
        else e
      }
      val ddl = ChangeEvent(addLsn, Op.SchemaChange, null, 0, null, null,
        null, new Timestamp(BinlogGen.BaseMs), false, 0L,
        s"add:tool:${StringType.json}")
      // a replayed/duplicate add at a later lsn must NOT move the gate
      val dup = ddl.copy(lsn = addLsn + 2 * (1 + rnd.nextInt(50)))
      val all = (events :+ ddl) ++ (if (rnd.nextBoolean()) Seq(dup) else Nil)
      val sorted = all.sortBy(_.lsn).toVector
      val nb = 1 + rnd.nextInt(5)
      val cuts = (Vector.fill(nb - 1)(rnd.nextInt(sorted.size)).sorted
        :+ sorted.size)
      val batches = (0 +: cuts).sliding(2).map { case Seq(a, b) =>
        sorted.slice(a, b)
      }.filter(_.nonEmpty).toVector
      val lake = LakeTable(spark, tmpDir(s"ddlprop$seed"))
      lake.create(if (pre) Schemas.transcript else Schemas.transcriptNoTool, 4)
      var id = 0L
      for (b <- batches) {
        MergeApply.applyBatch(spark, lake, spark.createDataset(b).toDF(), id)
        if (rnd.nextBoolean()) // at-least-once: replay ddl batches too
          MergeApply.applyBatch(spark, lake, spark.createDataset(b).toDF(), id)
        id += 1
      }
      val expect = OracleFold.finalState(all, Map("tool" -> addLsn))
      assert(liveState(lake) == expect,
        s"seed=$seed pre=$pre addLsn=$addLsn batches=${batches.map(_.size)}")
      // bookkeeping: first add wins; the duplicate ddl cannot move it
      assert(lake.snapshot().colAddLsn.get("tool").contains(addLsn),
        s"seed=$seed colAddLsn=${lake.snapshot().colAddLsn}")
    }
  }
}
