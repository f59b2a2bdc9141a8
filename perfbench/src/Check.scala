package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Transcript

/** The correctness gate: a final table must equal `OracleFold.finalState` of
  * the generated events, row by row and by an order-insensitive content hash
  * over the declared columns. Backfilled rows carry the chunk's low
  * watermark as `_lsn` (and `_op` = insert), so the backfill workload
  * compares declared columns only.
  */
object Check {
  val declared: Seq[String] =
    Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
  private val audit = declared ++ Seq("_lsn", "_op")

  /** Row count plus the sum of per-row xxhash64 over the declared columns
    * (summed as DECIMAL(38,0) so 64-bit hashes cannot overflow).
    */
  def contentHash(df: DataFrame): String = {
    val r = df.selectExpr("count(1)",
      "CAST(sum(CAST(xxhash64(" + declared.mkString(", ") +
        ") AS DECIMAL(38,0))) AS STRING)").head()
    s"${r.getLong(0)}:${Option(r.getString(1)).getOrElse("0")}"
  }

  def expectedHash(spark: SparkSession, rows: Seq[Transcript]): String = {
    import spark.implicits._
    contentHash(spark.createDataset(rows).toDF())
  }

  def collect(spark: SparkSession, df: DataFrame): Vector[Transcript] = {
    import spark.implicits._
    df.select(audit.map(df.col): _*).as[Transcript].collect().toVector
      .sortBy(t => (t.conv_id, t.turn_idx))
  }

  /** None when equal, else a description of the first difference. */
  def compareRows(actual: Vector[Transcript], expected: Vector[Transcript],
      withAudit: Boolean): Option[String] = {
    def view(t: Transcript): Product =
      if (withAudit) t else (t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts)
    if (actual.size != expected.size)
      return Some(s"row count ${actual.size} != oracle ${expected.size}")
    actual.iterator.zip(expected.iterator).zipWithIndex.collectFirst {
      case ((a, e), i) if view(a) != view(e) =>
        s"row $i differs: ${view(a)} != oracle ${view(e)}"
    }
  }

  /** The negative control: one row with its text altered. */
  def corruptOne(rows: Vector[Transcript]): Vector[Transcript] = {
    require(rows.nonEmpty, "nothing to corrupt")
    val i = rows.size / 2
    rows.updated(i, rows(i).copy(text = String.valueOf(rows(i).text) + "#"))
  }
}
