package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gold-layer builders: client risk profile + portfolio rollup
  * (reference: spark/gold/processor.py:108-271).
  */
object Gold {

  /** Rule thresholds (gold/processor.py:80-88). */
  final case class RiskThresholds(
      debtRatioHigh: Double = 0.5, debtRatioMedium: Double = 0.2,
      lateCountHigh: Int = 3, avgDelayHigh: Double = 14,
      lateCountMedium: Int = 1, avgDelayMedium: Double = 1,
      rejectionHigh: Double = 0.5, rejectionMedium: Double = 0.2)

  /** gold_client_risk_profile: one row per client — star left-join of the
    * four Silver tables, zero-filled metrics, derived ratios, rule-based
    * segment, presentation rounding (gold/processor.py:108-223).
    *
    * All three feature sides join on SK_ID_CURR: one hash partitioning is
    * reused across the chain (single exchange of the application side); at
    * cluster scale the small client-level summaries broadcast under AQE.
    */
  def clientRiskProfile(app: DataFrame, bureauSummary: DataFrame,
                        paymentBehavior: DataFrame, previousApps: DataFrame,
                        th: RiskThresholds = RiskThresholds()): DataFrame = {
    val appSel = app.select(
      col("SK_ID_CURR"),
      col("AMT_INCOME_TOTAL").alias("income"),
      col("AMT_CREDIT").alias("credit_exposure"),
      col("TARGET").alias("default_flag"))
    val bureauSel = bureauSummary.select("SK_ID_CURR", "bureau_total_debt")
    val paymentSel = paymentBehavior.select(
      "SK_ID_CURR", "payment_avg_delay_days", "payment_late_count")
    val prevSel = previousApps.select("SK_ID_CURR", "previous_rejection_rate")

    val joined = appSel
      .join(bureauSel, Seq("SK_ID_CURR"), "left")
      .join(paymentSel, Seq("SK_ID_CURR"), "left")
      .join(prevSel, Seq("SK_ID_CURR"), "left")
      .withColumn("bureau_total_debt", coalesce(col("bureau_total_debt"), lit(0)))
      .withColumn("payment_avg_delay_days", coalesce(col("payment_avg_delay_days"), lit(0)))
      .withColumn("payment_late_count", coalesce(col("payment_late_count"), lit(0)))
      .withColumn("previous_rejection_rate", coalesce(col("previous_rejection_rate"), lit(0.0)))

    val derived = joined
      .withColumn("bureau_debt_ratio",
        when(col("credit_exposure").isNotNull && col("credit_exposure") > 0,
          col("bureau_total_debt") / col("credit_exposure")).otherwise(lit(null)))
      .withColumn("payment_delay_score",
        col("payment_avg_delay_days") + col("payment_late_count") * 5.0)

    val debtHigh = coalesce(col("bureau_debt_ratio"), lit(0)) >= th.debtRatioHigh
    val debtMedium = coalesce(col("bureau_debt_ratio"), lit(0)) >= th.debtRatioMedium
    val lateHigh = col("payment_late_count") >= th.lateCountHigh ||
      col("payment_avg_delay_days") >= th.avgDelayHigh
    val lateMedium = col("payment_late_count") >= th.lateCountMedium ||
      col("payment_avg_delay_days") >= th.avgDelayMedium
    val rejHigh = col("previous_rejection_rate") >= th.rejectionHigh
    val rejMedium = col("previous_rejection_rate") >= th.rejectionMedium

    derived
      .withColumn("risk_segment",
        when(debtHigh || lateHigh || rejHigh, lit("HIGH"))
          .when(debtMedium || lateMedium || rejMedium, lit("MEDIUM"))
          .otherwise(lit("LOW")))
      // presentation rounding (gold/processor.py:202-209)
      .withColumn("income", round(col("income"), 0))
      .withColumn("credit_exposure", round(col("credit_exposure"), 0))
      .withColumn("payment_avg_delay_days", round(col("payment_avg_delay_days"), 2))
      .withColumn("payment_delay_score", round(col("payment_delay_score"), 2))
      .withColumn("bureau_debt_ratio", round(col("bureau_debt_ratio"), 3))
      .withColumn("previous_rejection_rate", round(col("previous_rejection_rate"), 3))
  }

  /** gold_portfolio_risk: one row per segment; avg(default_flag) is the
    * SQL null-skipping average, i.e. the default rate over TRAIN rows only
    * (test rows carry null TARGET) — load-bearing semantics
    * (gold/processor.py:242-257).
    */
  def portfolioRisk(profiles: DataFrame): DataFrame =
    profiles.groupBy("risk_segment")
      .agg(
        count(lit(1)).alias("client_count"),
        sum(coalesce(col("credit_exposure"), lit(0))).alias("total_exposure"),
        avg(col("default_flag")).alias("avg_default_rate"),
        avg(col("income")).alias("avg_income"))
      .withColumn("total_exposure", round(col("total_exposure"), 0))
      .withColumn("avg_default_rate", round(col("avg_default_rate"), 3))
      .withColumn("avg_income", round(col("avg_income"), 0))
}
