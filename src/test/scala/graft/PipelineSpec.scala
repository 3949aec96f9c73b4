package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.{Bronze, Gold, Medallion, Silver}
import graft.queries.MedallionQueries

/** Home-Credit-shaped micro-fixtures pinning the reference's exact
  * semantics (FIXTURES.md §B edge rows; reference behavior cited in the
  * builders' scaladoc).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def appSchema = StructType(Seq(
    StructField("SK_ID_CURR", LongType), StructField("TARGET", IntegerType),
    StructField("AMT_INCOME_TOTAL", DoubleType), StructField("AMT_CREDIT", DoubleType),
    StructField("AMT_ANNUITY", DoubleType), StructField("DAYS_BIRTH", IntegerType),
    StructField("CODE_GENDER", StringType)))

  private def mkApp(rows: Seq[Row], dropTarget: Boolean = false) = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), appSchema)
    if (dropTarget) df.drop("TARGET") else df
  }

  private val validAdult: Int = -30 * 365

  test("clientApplication: union tolerates missing TARGET; 7 rules drop edge rows") {
    val train = mkApp(Seq(
      Row(1L, 1, 100000.0, 500000.0, 20000.0, validAdult, "M"),   // valid
      Row(2L, 0, 100000.0, 500000.0, null, validAdult, "F"),      // null annuity → passes rule 5 & 6
      Row(3L, 0, 100000.0, 500000.0, 20000.0, validAdult, "XNA"), // XNA → Unknown → passes rule 7
      Row(4L, 0, 100000.0, 10000.0, 20000.0, validAdult, "M"),    // credit < annuity → dropped
      Row(5L, 0, 100000.0, 500000.0, 20000.0, -17 * 365, "F"),    // age < 18 → dropped
      Row(6L, 0, 0.0, 500000.0, 20000.0, validAdult, "M"),        // income 0 → dropped
      Row(7L, 0, 100000.0, 500000.0, 20000.0, validAdult, "Q")))  // bad gender → dropped
    val test = mkApp(Seq(
      Row(100L, 0, 90000.0, 300000.0, 15000.0, validAdult, "F")), dropTarget = true)

    val out = Silver.clientApplication(train, test)
    val kept = out.select("SK_ID_CURR").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 100L))
    // test-side TARGET must be null after the tolerant union
    assert(out.filter(col("SK_ID_CURR") === 100L).head().isNullAt(out.columns.indexOf("TARGET")))
    // XNA normalized
    assert(out.filter(col("SK_ID_CURR") === 3L).select("CODE_GENDER").head().getString(0) == "Unknown")
  }

  test("clientApplicationMetrics: per-rule failure counts in one pass") {
    val train = mkApp(Seq(
      Row(1L, 1, 100000.0, 500000.0, 20000.0, validAdult, "M"),
      Row(4L, 0, 100000.0, 10000.0, 20000.0, validAdult, "M"),
      Row(5L, 0, 100000.0, 500000.0, 20000.0, -17 * 365, "F")))
    val test = mkApp(Seq.empty[Row], dropTarget = true)
    val m = Silver.clientApplicationMetrics(train, test).head()
    assert(m.getAs[Long]("fail_credit_lt_annuity") == 1L)
    assert(m.getAs[Long]("fail_age_under_18") == 1L)
    assert(m.getAs[Long]("total_rows") == 3L)
    assert(m.getAs[Long]("passed_rows") == 1L)
  }

  test("bureauSummary: latest-month dedup, left-join nulls, client rollup") {
    val bureau = Seq(
      // (SK_ID_CURR, SK_ID_BUREAU, CREDIT_ACTIVE, CREDIT_DAY_OVERDUE, debt, overdue)
      (10L, 100L, "Active", 0, Double.box(1000.0), 0.0),
      (10L, 101L, "Closed", 30, Double.box(500.0), 50.0),
      (10L, 102L, "Active", 5, null.asInstanceOf[java.lang.Double], 0.0), // null debt → sum skips
      (20L, 200L, "Active", 0, Double.box(700.0), 0.0))
      .toDF("SK_ID_CURR", "SK_ID_BUREAU", "CREDIT_ACTIVE", "CREDIT_DAY_OVERDUE",
        "AMT_CREDIT_SUM_DEBT", "AMT_CREDIT_SUM_OVERDUE")
    val balance = Seq(
      (100L, -3, "C"), (100L, -1, "0"), (100L, -2, "1"), // latest = month -1
      (101L, -5, "X"))                                    // 102, 200: no balance rows
      .toDF("SK_ID_BUREAU", "MONTHS_BALANCE", "STATUS")

    val out = Silver.bureauSummary(bureau, balance).collect()
      .map(r => r.getAs[Long]("SK_ID_CURR") -> r).toMap
    val c10 = out(10L)
    assert(c10.getAs[Long]("bureau_credit_count") == 3L)
    assert(c10.getAs[Long]("bureau_active_credit_count") == 2L)
    assert(c10.getAs[Double]("bureau_total_debt") == 1500.0) // null row skipped by sum
    assert(c10.getAs[Int]("bureau_max_days_overdue") == 30)
    assert(out(20L).getAs[Long]("bureau_credit_count") == 1L)
  }

  test("paymentBehavior: delay coalesce, late count, guarded ratio") {
    val inst = Seq(
      // (SK_ID_PREV, SK_ID_CURR, DAYS_INSTALMENT, DAYS_ENTRY_PAYMENT, AMT_INSTALMENT, AMT_PAYMENT)
      (1L, 10L, -30.0, Double.box(-25.0), 1000.0, Double.box(1000.0)), // 5 days late
      (2L, 10L, -60.0, Double.box(-62.0), 1000.0, Double.box(900.0)),  // 2 days early
      (3L, 10L, -90.0, null.asInstanceOf[java.lang.Double], 1000.0,
        null.asInstanceOf[java.lang.Double]),    // null entry → delay 0, payment 0
      (4L, 20L, -10.0, Double.box(-10.0), 0.0, Double.box(0.0)))       // zero installments → ratio null
      .toDF("SK_ID_PREV", "SK_ID_CURR", "DAYS_INSTALMENT", "DAYS_ENTRY_PAYMENT",
        "AMT_INSTALMENT", "AMT_PAYMENT")
    val out = Silver.paymentBehavior(inst).collect()
      .map(r => r.getAs[Long]("SK_ID_CURR") -> r).toMap
    val c10 = out(10L)
    assert(math.abs(c10.getAs[Double]("payment_avg_delay_days") - 1.0) < 1e-12) // (5-2+0)/3
    assert(c10.getAs[Long]("payment_late_count") == 1L)
    assert(c10.getAs[Double]("payment_total_paid") == 1900.0)
    assert(c10.getAs[Double]("payment_total_installment") == 3000.0)
    assert(out(20L).isNullAt(out(20L).fieldIndex("payment_ratio")))
  }

  test("previousApplications: rejection rate, averages, sanitized pivot columns") {
    val prev = Seq(
      (1L, 10L, "Approved", 10000.0, 8000.0),
      (2L, 10L, "Refused", 15000.0, 0.0),
      (3L, 10L, "Unused offer", 5000.0, 0.0),
      (4L, 20L, "Refused by client", 9000.0, 0.0))
      .toDF("SK_ID_PREV", "SK_ID_CURR", "NAME_CONTRACT_STATUS",
        "AMT_APPLICATION", "AMT_CREDIT")
    val out = Silver.previousApplications(prev)
    // 'Unused offer' → prev_status_unused_offer_count (spaces sanitized)
    assert(out.columns.contains("prev_status_unused_offer_count"))
    assert(out.columns.contains("prev_status_refused_by_client_count"))
    val rows = out.collect().map(r => r.getAs[Long]("SK_ID_CURR") -> r).toMap
    val c10 = rows(10L)
    assert(c10.getAs[Long]("previous_app_count") == 3L)
    assert(c10.getAs[Long]("previous_rejected_count") == 1L)
    assert(math.abs(c10.getAs[Double]("previous_rejection_rate") - 1.0 / 3.0) < 1e-12)
    assert(math.abs(c10.getAs[Double]("previous_avg_requested") - 10000.0) < 1e-9)
    assert(rows(20L).getAs[Double]("previous_rejection_rate") == 1.0)
    // explicit-values variant pins the schema without a distinct job
    val pinned = Silver.previousApplications(prev,
      Some(Seq("Approved", "Refused", "Refused by client", "Unused offer")))
    assert(pinned.columns.count(_.startsWith("prev_status_")) == 4)
  }

  test("gold clientRiskProfile: zero-fills, ratios, segment rules, rounding") {
    val app = Seq(
      (1L, Long.box(1L), 100000.0, 200000.0),          // debt ratio 0.6 → HIGH
      (2L, Long.box(0L), 100000.0, 200000.0),          // no silver features → LOW
      (3L, null.asInstanceOf[java.lang.Long], 100000.0, 200000.0)) // test row: null TARGET
      .toDF("SK_ID_CURR", "TARGET", "AMT_INCOME_TOTAL", "AMT_CREDIT")
    val bureauSum = Seq((1L, 120000.0)).toDF("SK_ID_CURR", "bureau_total_debt")
    val payment = Seq((1L, 0.5, 0L)).toDF("SK_ID_CURR", "payment_avg_delay_days", "payment_late_count")
    val prev = Seq((3L, 0.25)).toDF("SK_ID_CURR", "previous_rejection_rate")

    val out = Gold.clientRiskProfile(app, bureauSum, payment, prev).collect()
      .map(r => r.getAs[Long]("SK_ID_CURR") -> r).toMap
    assert(out(1L).getAs[String]("risk_segment") == "HIGH")   // 0.6 ≥ 0.5
    assert(out(2L).getAs[String]("risk_segment") == "LOW")    // all zero-filled
    assert(out(3L).getAs[String]("risk_segment") == "MEDIUM") // rejection 0.25 ≥ 0.2
    assert(out(1L).getAs[Double]("bureau_debt_ratio") == 0.6)
    assert(out(2L).getAs[Double]("bureau_total_debt") == 0.0)
  }

  test("gold portfolioRisk: null-skipping default rate over train rows only") {
    val profiles = Seq(
      ("HIGH", Long.box(1L), 200000.0, 100000.0),
      ("HIGH", Long.box(0L), 200000.0, 100000.0),
      ("HIGH", null.asInstanceOf[java.lang.Long], 200000.0, 100000.0)) // excluded from avg
      .toDF("risk_segment", "default_flag", "credit_exposure", "income")
    val r = Gold.portfolioRisk(profiles).head()
    assert(r.getAs[Long]("client_count") == 3L)
    assert(r.getAs[Double]("total_exposure") == 600000.0)
    assert(r.getAs[Double]("avg_default_rate") == 0.5) // (1+0)/2, null skipped
  }

  test("medallion round-trip: partitioned write then pruned read") {
    val dir = java.nio.file.Files.createTempDirectory("medallion").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val date = Medallion.PartitionDate(2026, 8, 12)
    Medallion.writePartitioned(df, dir, "t1", date)
    val back = Medallion.readPartition(spark, dir, "t1", date)
    assert(back.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(back.columns.toSet == Set("id", "v"))
    // partition pruning reaches the scan
    val plan = Medallion.readPartition(spark, dir, "t1", date)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || !plan.contains("year=2025"))
  }

  test("fused pipeline produces both gold tables") {
    val train = mkApp(Seq(Row(1L, 1, 100000.0, 200000.0, 10000.0, validAdult, "M")))
    val test = mkApp(Seq(Row(2L, 0, 90000.0, 150000.0, 9000.0, validAdult, "F")), dropTarget = true)
    val bureau = Seq((1L, 100L, "Active", 0, 150000.0, 0.0))
      .toDF("SK_ID_CURR", "SK_ID_BUREAU", "CREDIT_ACTIVE", "CREDIT_DAY_OVERDUE",
        "AMT_CREDIT_SUM_DEBT", "AMT_CREDIT_SUM_OVERDUE")
    val balance = Seq((100L, -1, "0")).toDF("SK_ID_BUREAU", "MONTHS_BALANCE", "STATUS")
    val inst = Seq((1L, 1L, -30.0, -20.0, 1000.0, 1000.0))
      .toDF("SK_ID_PREV", "SK_ID_CURR", "DAYS_INSTALMENT", "DAYS_ENTRY_PAYMENT",
        "AMT_INSTALMENT", "AMT_PAYMENT")
    val prev = Seq((1L, 1L, "Approved", 10000.0, 8000.0))
      .toDF("SK_ID_PREV", "SK_ID_CURR", "NAME_CONTRACT_STATUS", "AMT_APPLICATION", "AMT_CREDIT")

    val (profiles, portfolio) = Medallion.runFused(train, test, bureau, balance, inst, prev)
    assert(profiles.count() == 2)
    val segs = portfolio.select("risk_segment").as[String].collect().toSet
    assert(segs.nonEmpty && segs.subsetOf(Set("HIGH", "MEDIUM", "LOW")))
  }

  test("a warm medallion batch compiles no new generated class") {
    // GraftSession sizes Spark's JVM-wide generated-class cache above one
    // batch's working set; at Spark's default (100 entries) LRU eviction
    // drops most of them before the next batch asks for them again
    val dir = java.nio.file.Files.createTempDirectory("medallion-warm").toString
    val (day, date) = ("2026-08-12", Medallion.PartitionDate(2026, 8, 12))
    val sources = Seq[(String, (SparkSession, String) => DataFrame)](
      "application_train" -> MedallionQueries.train, "application_test" -> MedallionQueries.test,
      "bureau" -> MedallionQueries.bureau, "bureau_balance" -> MedallionQueries.bureauBalance,
      "installments_payments" -> MedallionQueries.installments,
      "previous_application" -> MedallionQueries.previousApps)
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    /** New classes compiled and their compile ms, for one batch. */
    def batch(): (Long, Double) = {
      val (n0, ns0) = (compiles, CodeGenerator.compileTime)
      sources.foreach { case (t, f) => Bronze.ingestFrame(f(spark, sf001), s"$dir/bronze", t, day, "test") }
      val Seq(train, testApps, bureau, balance, installments, previous) = sources.map { case (t, _) =>
        Bronze.readIngestDate(spark, s"$dir/bronze", t, day).drop("ingest_date", "source_system")
      }
      val (profiles, portfolio) = Medallion.runFused(train, testApps, bureau, balance, installments,
        previous, Some(MedallionQueries.statuses))
      Medallion.writePartitioned(profiles, s"$dir/gold", "gold_client_risk_profile", date)
      Medallion.writePartitioned(portfolio, s"$dir/gold", "gold_portfolio_risk", date)
      (compiles - n0, (CodeGenerator.compileTime - ns0) / 1e6)
    }
    val cold = batch()
    // AQE numbers codegen stages in the order they become ready, and the
    // stage number is part of the class name: a warm batch whose stages
    // finish in a new order compiles that variant once, then the cache
    // holds it too. So the first warm batches may each add a few classes;
    // with the cache too small, every warm batch recompiles them all.
    var warm = List(batch())
    while (warm.head._1 > 0 && warm.size < 3) warm = batch() :: warm
    assert(warm.head == ((0L, 0.0)),
      s"every warm batch compiled classes (count, ms): ${warm.reverse}; the cold one: $cold")
  }
}
