package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.ops.{Pivots, Projections, SetOps, Validation}

/** Silver-layer builders: the reference pipeline's four client-feature
  * tables, re-expressed as composable DataFrame functions
  * (reference: spark/silver/processor.py — semantics cited per builder).
  *
  * Deviations from the reference are performance-only, never semantic:
  *  - validation metrics come from ONE conditional-sum pass, not one
  *    count() job per rule (7 rescans → 1);
  *  - previous applications are ONE per-client aggregation (counts,
  *    amount averages and a conditional count per status) where the
  *    reference runs three and joins them back;
  *  - the status pivot accepts explicit values to skip the distinct job
  *    and fix the output schema (pass None to match the reference's
  *    dynamic columns);
  *  - the bureau summary skips the reference's latest-month join, and
  *    payment behavior its timeline sequence: no output column reads
  *    them (DECISIONS.md "Bureau summary without the latest-month join").
  */
object Silver {

  /** The 7 validation rules of silver_client_application
    * (silver/processor.py:127-168). Null predicates count as failures,
    * matching PySpark filter semantics.
    */
  val clientApplicationRules: Seq[Validation.Rule] = Seq(
    Validation.Rule("sk_id_null", col("SK_ID_CURR").isNotNull),
    Validation.Rule("income_invalid",
      col("AMT_INCOME_TOTAL").isNotNull && col("AMT_INCOME_TOTAL") > 0),
    Validation.Rule("credit_invalid",
      col("AMT_CREDIT").isNotNull && col("AMT_CREDIT") > 0),
    Validation.Rule("age_under_18",
      col("DAYS_BIRTH").isNotNull && (abs(col("DAYS_BIRTH")) / 365.0) >= 18),
    Validation.Rule("annuity_invalid",
      col("AMT_ANNUITY").isNull || col("AMT_ANNUITY") > 0),
    Validation.Rule("credit_lt_annuity",
      col("AMT_CREDIT").isNull || col("AMT_ANNUITY").isNull ||
        col("AMT_CREDIT") >= col("AMT_ANNUITY")),
    Validation.Rule("gender_invalid",
      col("CODE_GENDER").isin("M", "F", "Unknown")))

  /** Normalization preceding validation: safe numeric casts + XNA gender
    * mapping (silver/processor.py:103-122). Drift-tolerant: casts apply
    * only to present columns.
    */
  def normalizeApplication(df: DataFrame): DataFrame = {
    val casted = Projections.safeCast(df, Map(
      "AMT_INCOME_TOTAL" -> DoubleType,
      "AMT_CREDIT" -> DoubleType,
      "AMT_ANNUITY" -> DoubleType,
      "DAYS_BIRTH" -> IntegerType))
    if (casted.columns.contains("CODE_GENDER"))
      Projections.mapValue(casted, "CODE_GENDER", "XNA", "Unknown")
    else casted
  }

  /** silver_client_application: train ∪ test (TARGET null for test rows),
    * normalize, keep rows passing all 7 rules (silver/processor.py:73-191).
    */
  def clientApplication(train: DataFrame, test: DataFrame): DataFrame = {
    val unioned = SetOps.unionByNameTolerant(train, test)
    Validation.validate(normalizeApplication(unioned), clientApplicationRules)
  }

  /** Per-rule failure metrics for the union — one scan
    * (vs silver/processor.py:147-153's seven).
    */
  def clientApplicationMetrics(train: DataFrame, test: DataFrame): DataFrame =
    Validation.failureCounts(
      normalizeApplication(SetOps.unionByNameTolerant(train, test)),
      clientApplicationRules)

  /** silver_bureau_summary: client-level rollup of `bureau`
    * (silver/processor.py:286-347). No output column depends on
    * `bureauBalance`: the reference left-joins each loan's latest balance
    * month, unique per `SK_ID_BUREAU`, and no aggregate reads it.
    */
  def bureauSummary(bureau: DataFrame, bureauBalance: DataFrame): DataFrame =
    bureauSummaryUnfiltered(bureau).filter(col("SK_ID_CURR").isNotNull)

  /** [[bureauSummary]] before the null-key keep-filter — the intermediate
    * the reference validates with separate count jobs
    * (silver/processor.py:349-358); exposed for shape-faithful replay.
    */
  def bureauSummaryUnfiltered(bureau: DataFrame): DataFrame =
    bureau.groupBy("SK_ID_CURR")
      .agg(
        count(lit(1)).alias("bureau_credit_count"),
        sum(when(col("CREDIT_ACTIVE") === "Active", 1).otherwise(0))
          .alias("bureau_active_credit_count"),
        sum(col("AMT_CREDIT_SUM_DEBT")).alias("bureau_total_debt"),
        max(col("CREDIT_DAY_OVERDUE")).alias("bureau_max_days_overdue"),
        sum(col("AMT_CREDIT_SUM_OVERDUE")).alias("bureau_total_overdue"))

  /** silver_payment_behavior: installment delay + client rollup with
    * guarded payment ratio (silver/processor.py:430-487).
    */
  def paymentBehavior(installments: DataFrame): DataFrame =
    paymentBehaviorUnfiltered(installments).filter(col("SK_ID_CURR").isNotNull)

  /** [[paymentBehavior]] before the null-key keep-filter
    * (silver/processor.py:489-498); exposed for shape-faithful replay.
    */
  def paymentBehaviorUnfiltered(installments: DataFrame): DataFrame = {
    val withDelay = installments.withColumn("payment_delay_days",
      coalesce(
        col("DAYS_ENTRY_PAYMENT").cast("int") - col("DAYS_INSTALMENT").cast("int"),
        lit(0)))
    withDelay.groupBy("SK_ID_CURR")
      .agg(
        avg(col("payment_delay_days")).alias("payment_avg_delay_days"),
        sum(when(col("payment_delay_days") > 0, 1).otherwise(0))
          .alias("payment_late_count"),
        sum(coalesce(col("AMT_PAYMENT"), lit(0))).alias("payment_total_paid"),
        sum(coalesce(col("AMT_INSTALMENT"), lit(0))).alias("payment_total_installment"))
      .withColumn("payment_ratio",
        Projections.guardedDiv(col("payment_total_paid"), col("payment_total_installment")))
  }

  /** silver_previous_applications: counts + rejection rate + average
    * amounts + status pivot per client (silver/processor.py:588-651), as
    * ONE aggregation — the reference's three per-client aggregates and
    * two joins give the same rows. Only the amount averages are
    * drift-tolerant (each is built when its column is present);
    * `NAME_CONTRACT_STATUS` is required.
    *
    * `statusValues`: pass the known status set to pin the schema and skip
    * the distinct-values job; None reproduces the reference's dynamic
    * pivot columns.
    */
  def previousApplications(prev: DataFrame,
                           statusValues: Option[Seq[String]] = None): DataFrame = {
    val status = "NAME_CONTRACT_STATUS"
    val amountAggs = Seq(
      "AMT_APPLICATION" -> "previous_avg_requested",
      "AMT_CREDIT" -> "previous_avg_granted"
    ).collect { case (src, dst) if prev.columns.contains(src) => avg(col(src)).alias(dst) }
    val statusCounts = Pivots.countColumns(status,
      statusValues.getOrElse(Pivots.pivotValues(prev, status)),
      "prev_status_", "_count")

    val rejected = sum(when(col(status).isin("Refused", "Refused by client"), 1).otherwise(0))
      .alias("previous_rejected_count")
    val perClient = prev.groupBy("SK_ID_CURR")
      .agg(count(lit(1)).alias("previous_app_count"), rejected +: (amountAggs ++ statusCounts): _*)
    val rate = Projections.guardedDiv(
      col("previous_rejected_count"), col("previous_app_count"), lit(0.0))
      .alias("previous_rejection_rate")
    // the rate sits after the two counts, where the reference's withColumn put it
    val (keyAndCounts, features) = perClient.columns.toSeq.map(col).splitAt(3)
    perClient.select(keyAndCounts ++ (rate +: features): _*)
      .filter(col("SK_ID_CURR").isNotNull)
  }
}
