package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.{Op, Schemas}

/** Deduplication + last-writer-wins reduction of a change-event micro-batch.
  *
  * The reference resolves LWW with
  * `ROW_NUMBER() OVER (PARTITION BY pk ORDER BY _timestamp DESC) = 1`
  * executed by the target DB
  * (reference: src/connectors/sinks/postgres/merge_generator.rs:98-113).
  * We instead reduce with `max_by` aggregates: unlike a window (which
  * shuffles *every* event of a hot key to one partition), hash aggregation
  * gets map-side partial combine from Catalyst, so a key with millions of
  * duplicate events collapses to ≤ numPartitions partial rows before the
  * shuffle — the skew-defusal the north rule asks for, for free.
  *
  * TOAST/"unchanged" semantics (reference: Value::Unchanged,
  * src/core/record.rs:130-131; per-combination MERGE arms,
  * merge_generator.rs:157-189): an UPDATE with `text_unchanged=true` does
  * not carry `text`; the last *carried* value per column wins, and a column
  * nobody in the batch carried coalesces with the target row at MERGE time.
  * Schema evolution interacts here too: events with `lsn < addLsn(col)`
  * predate the column and never carry it (the reference's Relation-message
  * schema registry, src/pipeline/schema_cache.rs:31-100).
  */
object Dedup {

  /** Transport-level dedup within a batch: the source offset (lsn) is unique
    * per change event, so at-least-once redelivery collapses here
    * (reference: at-least-once + idempotent MERGE = effectively-once,
    * docs/architecture.md).
    */
  def transportDedup(df: DataFrame): DataFrame = df.dropDuplicates("lsn")

  /** Does event row carry column `c`? DELETE carries every column (as null —
    * a reset); otherwise the column must exist at this lsn, and `text` is
    * additionally withheld by UPDATE rows flagged `text_unchanged`.
    */
  private def carries(c: String, addLsn: Map[String, Long]): Column = {
    val existed = col("lsn") >= lit(addLsn.getOrElse(c, 0L))
    val base =
      if (c == "text")
        existed && (col("op") =!= Op.Update ||
          !coalesce(col("text_unchanged"), lit(false)))
      else existed
    (col("op") === Op.Delete) || base
  }

  /** Reduce a batch to one row per key: the LWW winner per column.
    *
    * Output schema: keys ++ (lsn, op) ++ payload columns ++ one boolean
    * `<c>__carried` per payload column.
    */
  def lwwReduce(
      df: DataFrame,
      payload: Seq[String],
      addLsn: Map[String, Long] = Map.empty): DataFrame = {
    val data = df.filter(col("op") < Op.SchemaChange)
    val aggs: Seq[Column] =
      Seq(max(col("lsn")).as("lsn"), max_by(col("op"), col("lsn")).as("op")) ++
      payload.flatMap { c =>
        val when_ = when(carries(c, addLsn), col("lsn"))
        Seq(
          max_by(col(c), when_).as(c),
          max(when_).isNotNull.as(s"${c}__carried"))
      }
    data.groupBy(Schemas.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
