package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Projection / scalar-expression operators (SURVEY §2.2 P1-P7, P10-P15).
  *
  * All pure `Column` algebra — fully codegen'd, pushdown-friendly. No UDFs.
  */
object Projections {

  /** P1: append literal lineage columns (reference: feeder_csv.py:108-111). */
  def withLineage(df: DataFrame, ingestDate: String, sourceSystem: String): DataFrame =
    df.withColumn("ingest_date", lit(ingestDate))
      .withColumn("source_system", lit(sourceSystem))

  /** P2: narrow-and-rename projection (reference: gold/processor.py:139-157).
    * Column pruning reaches the parquet scan (`ReadSchema` shrinks).
    */
  def renameProject(df: DataFrame, mapping: Seq[(String, String)]): DataFrame =
    df.select(mapping.map { case (from, to) => col(from).alias(to) }: _*)

  /** P3: alias every column to lowercase (reference: datamart_extended.py:78-103). */
  def lowercaseAll(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).alias(c.toLowerCase)).toIndexedSeq: _*)

  /** P4: sanitize a column name the way the reference sanitizes pivot headers
    * (lower, spaces/dashes → underscore; silver/processor.py:636-642).
    */
  def sanitizeName(name: String): String =
    name.toLowerCase.replace(" ", "_").replace("-", "_")

  /** P6: safe cast — only applied when the column exists (the reference's
    * `if col in df.columns` drift tolerance, silver/processor.py:103-113).
    * Invalid values → null (non-ANSI cast semantics).
    */
  def safeCast(df: DataFrame, casts: Map[String, DataType]): DataFrame =
    casts.foldLeft(df) { case (acc, (name, dt)) =>
      if (acc.columns.contains(name)) acc.withColumn(name, col(name).try_cast(dt))
      else acc
    }

  /** P7: conditional value mapping (reference: CODE_GENDER XNA → Unknown,
    * silver/processor.py:116-122).
    */
  def mapValue(df: DataFrame, column: String, from: String, to: String): DataFrame =
    df.withColumn(column, when(col(column) === lit(from), lit(to)).otherwise(col(column)))

  /** P12: guarded division — denominator <= 0 (or null) → `default`
    * (reference: silver/processor.py:481-487, gold/processor.py:171-176).
    */
  def guardedDiv(num: Column, den: Column, default: Column = lit(null)): Column =
    when(den > 0, num / den).otherwise(default)

  /** Filter that is PINNED above the projections defining its inputs.
    *
    * Catalyst's filter pushdown substitutes a predicate's attribute
    * references with their defining expressions and pushes the result
    * below the projection — for predicates over cheap columns that is
    * pure win, but when the column is an expensive derivation (a token
    * split feeding a per-element lambda), substitution re-evaluates the
    * derivation inside the lambda body and turns a linear projection
    * into a quadratic filter (measured 10× on the curation pipeline,
    * 3 s → 30 s at sf0.1). Conjunct splitting defeats a simple
    * barrier-column AND, so the whole condition is wrapped into ONE
    * expression gated on a nondeterministic column: non-splittable and
    * non-pushable, evaluated as a plain filter over the projected
    * attributes. Stays inside whole-stage codegen — no typed-filter
    * deserialization fence.
    *
    * Tradeoff: the nondeterministic column is also a barrier for
    * UNRELATED predicates applied downstream — they stop short of it
    * instead of reaching the scan. Place pinnedFilter as close to the
    * expensive projection as the semantics allow, with any cheap,
    * scan-pushable filters applied UPSTREAM of it.
    */
  def pinnedFilter(df: DataFrame, cond: Column): DataFrame =
    // the gate must not be constant-foldable: monotonically_increasing_id
    // is non-nullable (isNotNull folds to true and the wrapper dissolves),
    // but its VALUE is unknown to the optimizer, so `>= 0` survives
    df.withColumn("__pin", monotonically_increasing_id())
      .filter(when(col("__pin") >= 0, cond).otherwise(lit(false)))
      .drop("__pin")

  /** P14: threshold-bucket case expression (reference risk segmentation,
    * gold/processor.py:184-200). `thresholds` are (label, predicate) pairs
    * evaluated in order; `default` labels the rest.
    */
  def bucketize(thresholds: Seq[(String, Column)], default: String): Column =
    thresholds.foldRight(lit(default): Column) { case ((label, cond), rest) =>
      when(cond, lit(label)).otherwise(rest)
    }
}
