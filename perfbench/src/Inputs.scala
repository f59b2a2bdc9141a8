package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, input_file_name, max, when}

import graft.binlog.{BinlogGen, GenConfig, OracleFold}
import graft.model.{ChangeEvent, Transcript}

/** The transcript change log every workload draws from: `BinlogGen` with 3
  * hot conversations and the mid-stream `add tool` ddl a quarter in.
  */
final case class LogSpec(seed: Long, convs: Int, eventsPerConv: Int = 50,
    hotConvs: Int = 3, hotFactor: Int = 20) {
  def genConfig: GenConfig = {
    // ddl lsns are odd; 2*c*e/4 is not always even, so force the parity
    val quarter = 2L * convs * eventsPerConv / 4
    GenConfig(seed = seed, numConvs = convs, eventsPerConv = eventsPerConv,
      hotConvs = hotConvs, hotFactor = hotFactor,
      addToolAtLsn = Some(quarter - quarter % 2 + 1))
  }
  def addLsn: Map[String, Long] = genConfig.addToolAtLsn.map("tool" -> _).toMap
  def tag: String = s"c$convs-e$eventsPerConv-h$hotConvs-x$hotFactor"
}

/** One segment file: its name, highest lsn and event count. */
final case class Seg(name: String, maxLsn: Long, events: Long)

/** A directory of segment files, in replay order. */
final case class Segments(dir: Path, segs: Vector[Seg]) {
  def files: Vector[Path] = segs.map(s => dir.resolve(s.name))
  def events: Long = segs.map(_.events).sum
}

/** Seeded, cached inputs. A cache entry is keyed by (workload, seed, size)
  * and carries a manifest with a digest of the generated events and of every
  * file; a mismatch on reuse fails the run instead of silently changing what
  * is measured.
  */
object Inputs {
  def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString

  def eventDigest(events: Seq[ChangeEvent]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    events.foreach { e =>
      md.update((s"${e.lsn}|${e.op}|${e.conv_id}|${e.turn_idx}|${e.role}|" +
        s"${e.text}|${e.tool}|${e.ts}|${e.text_unchanged}|${e.xid}|${e.ddl}\n")
        .getBytes(UTF_8))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private def listFiles(dir: Path): Vector[Path] =
    if (!Files.isDirectory(dir)) Vector.empty
    else Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p)).toVector.sortBy(_.toString)

  private def fileDigests(root: Path): Vector[String] =
    listFiles(root).filterNot(_.getFileName.toString == "MANIFEST")
      .map(p => s"${root.relativize(p)} ${sha256(Files.readAllBytes(p))}")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toVector.reverse.foreach(Files.delete)

  /** Return the cache entry `key`, building it with `build` when absent.
    * `identity` names what the entry must have been built from.
    */
  def cached(cacheRoot: Path, key: String, identity: Seq[String])(
      build: Path => Unit): Path = {
    val dir = cacheRoot.resolve(key)
    val manifest = dir.resolve("MANIFEST")
    if (Files.exists(manifest)) {
      val lines = Files.readAllLines(manifest, UTF_8).asScala.toVector
      val want = identity ++ fileDigests(dir)
      if (lines != want)
        throw new IllegalStateException(s"stale or corrupt input cache $dir: " +
          "its manifest does not match the generator output or its files; " +
          "delete the directory to regenerate it")
      dir
    } else {
      deleteTree(dir)
      val tmp = cacheRoot.resolve(s".tmp-$key-${System.nanoTime()}")
      deleteTree(tmp)
      Files.createDirectories(tmp)
      build(tmp)
      Files.write(tmp.resolve("MANIFEST"),
        (identity ++ fileDigests(tmp)).asJava, UTF_8)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      dir
    }
  }

  /** Write `events` as `n` lsn-ordered segments under `dir` (BinlogGen's
    * segment writer) plus an index of each file's highest lsn beside it
    * (`<dir>.idx`), so the segment directory holds segments only.
    */
  def writeSegments(spark: SparkSession, events: Seq[ChangeEvent],
      dir: Path, n: Int): Unit = {
    import spark.implicits._
    BinlogGen.writeSegments(spark, spark.createDataset(events).toDF(),
      dir.toString, n)
    val idx = spark.read.parquet(dir.toString)
      .groupBy(input_file_name().as("f"))
      .agg(max(col("lsn")).as("m"), count(when(col("op") < 3, 1)).as("n"))
      .collect().map(r => Seg(Paths.get(new java.net.URI(r.getString(0)))
        .getFileName.toString, r.getLong(1), r.getLong(2)))
      .sortBy(_.name)
    Files.write(indexOf(dir),
      idx.map(g => s"${g.name} ${g.maxLsn} ${g.events}").toSeq.asJava, UTF_8)
    ()
  }

  private def indexOf(dir: Path): Path =
    dir.resolveSibling(dir.getFileName.toString + ".idx")

  def readSegments(dir: Path): Segments = Segments(dir,
    Files.readAllLines(indexOf(dir), UTF_8).asScala.toVector
      .map { l =>
        val Array(f, m, n) = l.split(' ')
        Seg(f, m.toLong, n.toLong)
      })

  /** The backfill source table: the final-state fold as full rows. */
  def writeSource(spark: SparkSession, rows: Seq[Transcript], dir: Path): Unit = {
    import spark.implicits._
    spark.createDataset(rows).toDF()
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .coalesce(4).write.mode(SaveMode.Overwrite).parquet(dir.toString)
  }

  def oracle(spec: LogSpec, events: Seq[ChangeEvent]): Vector[Transcript] =
    OracleFold.finalState(events, spec.addLsn)
}
