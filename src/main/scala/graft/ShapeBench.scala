package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Pivots, Projections, Validation, Windows}
import graft.pipeline.{Gold, Medallion, Silver}
import graft.queries.MedallionQueries

/** Matched-scale benchmark: the reference pipeline's LITERAL plan shapes
  * vs this library's plan shapes, on the SAME fixture-derived frames, the
  * SAME hardware, producing the SAME deliverables (4 Silver parquet
  * tables, 2 Gold parquet tables, per-rule validation metrics).
  *
  * The reference publishes only full-Home-Credit wall times, so a direct
  * number-vs-number compare is scale-confounded. This closes the gap by
  * re-enacting the reference's execution shape — one `count()` job per
  * negated validation rule (spark/silver/processor.py:147-153,169),
  * input-count jobs before each build (processor.py:91-97,253-254,419,566),
  * a dynamic-pivot distinct job (processor.py:624-642), cache+count of
  * installments (processor.py:422-424), and disk handoffs between layers
  * (gold/processor.py:127-140,234-237 re-read Silver/Gold parquet) — and
  * timing it against the library shape on identical inputs. The library
  * shape is [[Medallion.runBatch]] itself, not a copy of it.
  *
  * Both shapes are verified to produce identical Gold outputs
  * (ShapeBenchSpec), so the timing ratio compares plans, not answers.
  * [[Bench]] times and meters each shape through [[Measure]].
  */
object ShapeBench {

  /** The Gold row counts a shape produced. */
  final case class ShapeResult(profileRows: Long, portfolioRows: Long)

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft_shape_$tag").toString

  private def deleteRecursively(path: String): Unit = {
    import java.nio.file.{Files => F, Paths}
    import java.util.Comparator
    val root = Paths.get(path)
    if (F.exists(root))
      F.walk(root).sorted(Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { F.deleteIfExists(p); () })
  }

  /** The partition both shapes write their tables into. */
  private[graft] val Date = Medallion.PartitionDate(2026, 8, 12)

  // -------------------------------------------------------------------------
  // Reference shape: every job the reference runs, in its order.
  // -------------------------------------------------------------------------

  /** Mirrors spark/silver/processor.py + spark/gold/processor.py job
    * structure on the HC-shaped fixture frames. Deviations: none —
    * including the parts the library deliberately does differently.
    */
  def referenceShape(spark: SparkSession, sfDir: String): ShapeResult = {
    val out = freshDir("ref")
    try referenceShapeAt(spark, sfDir, out) finally deleteRecursively(out)
  }

  private[graft] def referenceShapeAt(spark: SparkSession, sfDir: String, out: String): ShapeResult = {
    // ---- silver_client_application (processor.py:73-191) ----
    val train = MedallionQueries.train(spark, sfDir)
    val test = MedallionQueries.test(spark, sfDir)
    train.count(); test.count()                      // processor.py:91-92
    val unioned = graft.ops.SetOps.unionByNameTolerant(train, test)
    unioned.count()                                  // processor.py:97
    val normalized = Silver.normalizeApplication(unioned)
    val rules = Silver.clientApplicationRules
    rules.foreach { r =>                             // processor.py:147-153
      normalized.filter(!coalesce(r.predicate, lit(false))).count()
    }
    val validApp = Validation.validate(normalized, rules)
    validApp.count()                                 // processor.py:169
    Medallion.writePartitioned(validApp, out, "silver_client_application", Date)

    // ---- silver_bureau_summary (processor.py:243-375) ----
    val bureau = MedallionQueries.bureau(spark, sfDir)
    val balance = MedallionQueries.bureauBalance(spark, sfDir)
    bureau.count(); balance.count()                  // processor.py:253-254
    val bureauAgg = Silver.bureauSummaryUnfiltered(referenceBureauWithLatest(bureau, balance))
    bureauAgg.count()                                // processor.py:349
    bureauAgg.filter(col("SK_ID_CURR").isNull).count() // processor.py:354
    val bureauValid = bureauAgg.filter(col("SK_ID_CURR").isNotNull)
    bureauValid.count()                              // processor.py:358
    Medallion.writePartitioned(bureauValid, out, "silver_bureau_summary", Date)

    // ---- silver_payment_behavior (processor.py:407-519) ----
    val inst = MedallionQueries.installments(spark, sfDir)
    inst.count()                                     // processor.py:419
    val instCached = inst.cache()
    instCached.count()                               // processor.py:423-424 cache trigger
    val payAgg = Silver.paymentBehaviorUnfiltered(instCached)
    payAgg.count()                                   // processor.py:489
    payAgg.filter(col("SK_ID_CURR").isNull).count()  // processor.py:494
    val payValid = payAgg.filter(col("SK_ID_CURR").isNotNull)
    payValid.count()                                 // processor.py:498
    Medallion.writePartitioned(payValid, out, "silver_payment_behavior", Date)
    instCached.unpersist()                           // processor.py:519

    // ---- silver_previous_applications (processor.py:556-679) ----
    val prev = MedallionQueries.previousApps(spark, sfDir)
    prev.count()                                     // processor.py:566
    val prevAgg = referencePreviousApplications(prev)
    prevAgg.count()                                  // processor.py:653
    prevAgg.filter(col("SK_ID_CURR").isNull).count() // processor.py:658 (post-filter in lib, count 0)
    Medallion.writePartitioned(prevAgg, out, "silver_previous_applications", Date)

    // ---- gold_client_risk_profile (gold/processor.py:108-223): re-read Silver ----
    val part = s"year=${Date.year}/month=${Date.month}/day=${Date.day}"
    val appS = spark.read.parquet(s"$out/silver_client_application/$part")
    val burS = spark.read.parquet(s"$out/silver_bureau_summary/$part")
    val payS = spark.read.parquet(s"$out/silver_payment_behavior/$part")
    val prvS = spark.read.parquet(s"$out/silver_previous_applications/$part")
    val profile = Gold.clientRiskProfile(appS, burS, payS, prvS)
    val nProfile = profile.count()                   // gold/processor.py:216
    Medallion.writePartitioned(profile, out, "gold_client_risk_profile", Date)

    // ---- gold_portfolio_risk (gold/processor.py:226-271): re-read Gold ----
    val profBack = spark.read.parquet(s"$out/gold_client_risk_profile/$part")
    profBack.count()                                 // gold/processor.py:240
    val portfolio = Gold.portfolioRisk(profBack)
    Medallion.writePartitioned(portfolio, out, "gold_portfolio_risk", Date)
    val nPortfolio = spark.read.parquet(s"$out/gold_portfolio_risk/$part").count() // :270

    ShapeResult(nProfile, nPortfolio)
  }

  /** The reference's step-2 input (processor.py:286-313): each loan's
    * latest `bureau_balance` month (W1) left-joined onto `bureau`, which
    * the library's builder skips; ShapeBenchSpec pins the same rows.
    */
  private[graft] def referenceBureauWithLatest(bureau: DataFrame, balance: DataFrame): DataFrame =
    bureau.join(Windows.topOnePerGroup(balance, Seq("SK_ID_BUREAU"), Seq(col("MONTHS_BALANCE").desc)),
      Seq("SK_ID_BUREAU"), "left")

  /** The reference's step-4 builder as it runs (processor.py:588-651):
    * counts and amount averages as two per-client aggregates, the dynamic
    * status pivot as a distinct job plus a `(client, status)`
    * pre-aggregate → `.pivot` → rename → `na.fill(0)`, all left-joined
    * back onto the counts. Stated here rather than through
    * [[Silver.previousApplications]], so the replay does not move when the
    * library's builder does; ShapeBenchSpec pins that both give the same
    * rows.
    */
  private[graft] def referencePreviousApplications(prev: DataFrame): DataFrame = {
    val status = "NAME_CONTRACT_STATUS"
    val counts = prev.groupBy("SK_ID_CURR")
      .agg(count(lit(1)).alias("previous_app_count"),
        sum(when(col(status).isin("Refused", "Refused by client"), 1).otherwise(0))
          .alias("previous_rejected_count"))
      .withColumn("previous_rejection_rate", Projections.guardedDiv(
        col("previous_rejected_count"), col("previous_app_count"), lit(0.0)))
    val amounts = prev.groupBy("SK_ID_CURR").agg(
      avg(col("AMT_APPLICATION")).alias("previous_avg_requested"),
      avg(col("AMT_CREDIT")).alias("previous_avg_granted"))
    val values = Pivots.pivotValues(prev, status)
    val names = values.map(v => s"prev_status_${Projections.sanitizeName(v)}_count")
    val pivoted = prev.groupBy(col("SK_ID_CURR"), col(status)).agg(count(lit(1)).alias("__n"))
      .groupBy("SK_ID_CURR").pivot(status, values).sum("__n")
    val statusCounts = values.zip(names)
      .foldLeft(pivoted) { case (df, (v, n)) => df.withColumnRenamed(v, n) }
      .na.fill(0L, names)
    counts.join(amounts, Seq("SK_ID_CURR"), "left")
      .join(statusCounts, Seq("SK_ID_CURR"), "left")
      .filter(col("SK_ID_CURR").isNotNull)
  }

  // -------------------------------------------------------------------------
  // Library shape: the batch the library runs.
  // -------------------------------------------------------------------------

  /** Same six parquet tables and the same validation metrics, produced by
    * [[Medallion.runBatch]]: metrics ride the write jobs as `observe`
    * telemetry, the pivot schema is pinned, and Gold consumes the persisted
    * Silver frames — nothing is read back from disk mid-pipeline.
    */
  def graftShape(spark: SparkSession, sfDir: String): ShapeResult = {
    val out = freshDir("graft")
    try {
      val r = Medallion.runBatch(MedallionQueries.sources(spark, sfDir), out, out, Date,
        MedallionQueries.statuses)
      r.validation.get                               // the metrics, a deliverable of both shapes
      ShapeResult(r.profileRows, r.portfolioRows)
    } finally deleteRecursively(out)
  }
}
