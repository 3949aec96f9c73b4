package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pivot operator (SURVEY §2.4 A5; reference: silver/processor.py:624-642).
  *
  * The reference pre-aggregates `(key, status) → count`, pivots, renames
  * the dynamic columns driver-side and fills nulls with 0. Here the pivot
  * is ONE aggregation: a conditional count per pivot value, so the counts
  * sit beside any other per-key aggregate in the same `groupBy` and read
  * 0, never null, for a key with no row of that value. Pivot values are
  * EXPLICIT: a fixed list skips the distinct-values job and pins the
  * output schema (critical at scale and for oracle comparison; dynamic
  * schemas drift with data). [[pivotValues]] is that job, for callers that
  * want the reference's dynamic columns.
  */
object Pivots {

  /** One `<prefix><value><suffix>` LongType column per pivot value: the
    * group's row count with `pivotCol` equal to the value.
    */
  def countColumns(pivotCol: String, values: Seq[String],
                   prefix: String, suffix: String): Seq[Column] =
    values.map { v =>
      sum(when(col(pivotCol) === v, 1L).otherwise(0L))
        .alias(prefix + Projections.sanitizeName(v) + suffix)
    }

  /** count-per-value pivot: one row per `key`, one [[countColumns]]
    * column per pivot value.
    */
  def pivotCount(df: DataFrame, key: String, pivotCol: String,
                 values: Seq[String], prefix: String = "", suffix: String = "_count"): DataFrame = {
    val counts = countColumns(pivotCol, values, prefix, suffix)
    df.groupBy(col(key)).agg(counts.head, counts.tail: _*)
  }

  /** The distinct non-null values of `pivotCol`, sorted for a
    * deterministic column order (one job). Mirrors the reference's dynamic
    * pivot columns. Null is left out: `=== null` is never true, so its
    * count column could only ever read 0.
    */
  def pivotValues(df: DataFrame, pivotCol: String): Seq[String] =
    df.select(pivotCol).where(col(pivotCol).isNotNull).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
}
