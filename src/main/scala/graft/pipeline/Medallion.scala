package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{SetOps, Validation}
import graft.sources.Tables

/** Layer plumbing (partitioned writes, partition reads, catalog
  * registration) and the one statement of a medallion batch: which Silver
  * builders feed which Gold builders, in what order, and how each layer is
  * persisted and written.
  *
  * [[runBatch]] is the batch the library runs; [[clientRiskProfile]] is the
  * same composition as one in-memory plan with nothing written, the plan
  * the q60/q61 oracle checks. Both go through [[silverLayer]] and [[gold]],
  * so they cannot drift apart.
  */
object Medallion {

  final case class PartitionDate(year: Int, month: Int, day: Int)

  /** The six source tables of one batch (the reference's Bronze layer). */
  final case class Sources(train: DataFrame, test: DataFrame, bureau: DataFrame,
                           bureauBalance: DataFrame, installments: DataFrame,
                           previousApps: DataFrame)

  /** What a batch reports: the client-application validation metrics
    * (filled in by the Silver write job) and the Gold row counts.
    */
  final case class BatchResult(validation: Observation, profileRows: Long,
                               portfolioRows: Long)

  /** Silver table names, in the order [[silverLayer]] returns the frames. */
  val SilverTables: Seq[String] = Seq("silver_client_application", "silver_bureau_summary",
    "silver_payment_behavior", "silver_previous_applications")

  /** S6: partitioned overwrite under `<base>/<table>/year=/month=/day=`
    * (reference: silver/processor.py:179-188).
    */
  def writePartitioned(df: DataFrame, base: String, table: String,
                       date: PartitionDate): Unit =
    df.withColumn("year", lit(date.year))
      .withColumn("month", lit(date.month))
      .withColumn("day", lit(date.day))
      .write.mode("overwrite")
      .partitionBy("year", "month", "day")
      .parquet(s"${base.stripSuffix("/")}/$table")

  /** S4: one partition's rows, read from its directory
    * `<base>/<table>/year=/month=/day=` as the reference builds the path
    * (gold/processor.py:117-130). Only that directory is listed, however
    * many partitions the table holds; the frame has the data columns in
    * file order and no partition columns. A missing partition raises
    * Spark's missing-path error, as the reference's read does
    * (DECISIONS.md "Partition reads open the partition").
    */
  def readPartition(spark: SparkSession, base: String, table: String,
                    date: PartitionDate): DataFrame =
    Tables.parquet(spark,
      s"${base.stripSuffix("/")}/$table/year=${date.year}/month=${date.month}/day=${date.day}")

  /** S9: register external parquet tables in the session catalog
    * (reference: spark/common/register_hive_tables.py:61-91).
    */
  def registerTable(spark: SparkSession, db: String, table: String, path: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $db.$table")
    spark.sql(s"CREATE TABLE $db.$table USING PARQUET LOCATION '$path'")
  }

  /** Silver steps 2-4 beside the validated client application, in
    * [[SilverTables]] order. `statuses` pins the previous-application
    * pivot columns, so no distinct-values job runs.
    */
  private def silverLayer(app: DataFrame, src: Sources, statuses: Seq[String]): Seq[DataFrame] =
    Seq(app, Silver.bureauSummary(src.bureau, src.bureauBalance),
      Silver.paymentBehavior(src.installments),
      Silver.previousApplications(src.previousApps, Some(statuses)))

  /** The Gold star join over the four Silver frames. */
  private def gold(silver: Seq[DataFrame]): DataFrame = {
    val Seq(app, bureau, payment, previous) = silver
    Gold.clientRiskProfile(app, bureau, payment, previous)
  }

  /** gold_client_risk_profile of one batch as one in-memory plan: plain
    * [[Validation.validate]], nothing persisted or written.
    */
  def clientRiskProfile(src: Sources, statuses: Seq[String]): DataFrame =
    gold(silverLayer(Silver.clientApplication(src.train, src.test), src, statuses))

  /** One Bronze→Gold batch: the four Silver tables under `silverBase`, the
    * two Gold tables under `goldBase`, all in the `date` partition.
    *
    * Each Silver frame is persisted once, written, and fed to Gold from the
    * persisted blocks: no recompute, and no write-then-re-read handoff
    * (the reference re-reads its own parquet, gold/processor.py:127-140,
    * 234-237). The profile is persisted too, since the portfolio rollup
    * reads it again. Validation metrics and Gold row counts are `observe`
    * metrics of the write jobs, so no job runs only to count.
    */
  def runBatch(src: Sources, silverBase: String, goldBase: String,
               date: PartitionDate, statuses: Seq[String]): BatchResult = {
    val (app, validation) = Validation.validateObserved(
      Silver.normalizeApplication(SetOps.unionByNameTolerant(src.train, src.test)),
      Silver.clientApplicationRules)
    val silver = silverLayer(app, src, statuses).map(_.persist(StorageLevel.MEMORY_AND_DISK))
    val profile = gold(silver).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      SilverTables.zip(silver).foreach { case (t, df) => writePartitioned(df, silverBase, t, date) }
      BatchResult(validation,
        writeCounted(profile, goldBase, "gold_client_risk_profile", date),
        writeCounted(Gold.portfolioRisk(profile), goldBase, "gold_portfolio_risk", date))
    } finally (silver :+ profile).foreach(_.unpersist(false))
  }

  /** [[writePartitioned]], returning the rows written as observed by the
    * write job.
    */
  private def writeCounted(df: DataFrame, base: String, table: String,
                           date: PartitionDate): Long = {
    val rows = new Observation(table)
    writePartitioned(df.observe(rows, count(lit(1)).alias("rows")), base, table, date)
    rows.get("rows").asInstanceOf[Long]
  }
}
