package perfbench

import java.nio.file.{Files, Path}

import graft.lake.LakeTable
import graft.model.Schemas
import graft.pipeline.Pipeline

/** The benchmark's own test: the correctness gate must pass a real final
  * table and reject the same table with one row altered or dropped, and the
  * input cache must refuse an entry whose files or generator changed.
  */
object SelfTest {
  private def expect(cond: Boolean, what: String): Unit = {
    if (!cond) throw new AssertionError(s"self-test failed: $what")
    println(s"[selftest] ok: $what")
  }

  private def throws(f: => Any): Boolean =
    try { f; false } catch { case _: IllegalStateException => true }

  def run(spark: org.apache.spark.sql.SparkSession, work: Path, cache: Path): Unit = {
    val spec = LogSpec(11L, 300, eventsPerConv = 10)
    val ev = graft.binlog.BinlogGen.events(spec.genConfig)
    val oracle = Inputs.oracle(spec, ev)
    val entry = Inputs.cached(cache, s"selftest-${spec.tag}",
      Seq(s"events=${Inputs.eventDigest(ev)}")) { tmp =>
      Inputs.writeSegments(spark, ev, tmp.resolve("segs"), 3)
    }
    val dir = work.resolve("selftest")
    Inputs.deleteTree(dir)
    val lake = LakeTable(spark, dir.resolve("lake").toString)
    lake.create(Schemas.transcriptNoTool, 4)
    Pipeline.runAvailable(spark, entry.resolve("segs").toString, lake,
      dir.resolve("ckpt").toString, maxFilesPerTrigger = 2)

    val got = Check.collect(spark, lake.read(spark))
    val hash = Check.expectedHash(spark, oracle)
    expect(Check.compareRows(got, oracle, withAudit = true).isEmpty,
      "final table equals the oracle fold")
    expect(Check.contentHash(lake.read(spark)) == hash,
      "content hash of the table equals the oracle's")
    val broken = Check.corruptOne(got)
    expect(Check.compareRows(broken, oracle, withAudit = true).nonEmpty,
      "row check rejects one altered row")
    expect(Check.compareRows(broken, oracle, withAudit = false).nonEmpty,
      "declared-column check rejects one altered row")
    expect(Check.expectedHash(spark, broken) != hash,
      "content hash rejects one altered row")
    expect(Check.compareRows(got.tail, oracle, withAudit = true).nonEmpty,
      "row check rejects a missing row")
    val lsnOnly = got.updated(0, got(0).copy(_lsn = got(0)._lsn - 2))
    expect(Check.compareRows(lsnOnly, oracle, withAudit = true).nonEmpty &&
      Check.compareRows(lsnOnly, oracle, withAudit = false).isEmpty,
      "_lsn is compared except for backfilled tables")

    val key = "selftest-stale"
    Inputs.deleteTree(cache.resolve(key))
    val e = Inputs.cached(cache, key, Seq("id=1")) { tmp =>
      Files.write(tmp.resolve("f"), Array[Byte](1, 2, 3)); ()
    }
    expect(Inputs.cached(cache, key, Seq("id=1"))(_ => ()) == e,
      "an intact cache entry is reused")
    expect(throws(Inputs.cached(cache, key, Seq("id=2"))(_ => ())),
      "a cache entry built from other generator output is refused")
    Files.write(e.resolve("f"), Array[Byte](1, 2, 4))
    expect(throws(Inputs.cached(cache, key, Seq("id=1"))(_ => ())),
      "a cache entry whose files changed is refused")
    Inputs.deleteTree(e)
    Inputs.deleteTree(dir)
    println("[selftest] all checks passed")
  }
}
