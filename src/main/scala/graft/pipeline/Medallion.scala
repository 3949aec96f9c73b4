package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Layer plumbing: partitioned writes, partition-pruned reads, catalog
  * registration, and the fused end-to-end pipeline.
  *
  * The reference materializes every layer and re-reads it (the lakehouse
  * restartability contract); [[runFused]] exposes the same computation as
  * one in-memory plan for benchmarking / single-shot runs — at 100 TB the
  * difference is two full write+read round-trips of the Silver layer.
  */
object Medallion {

  final case class PartitionDate(year: Int, month: Int, day: Int)

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

  /** S4: partition-selected read. The reference concatenates the partition
    * path by hand (gold/processor.py:117-130); we read the table root and
    * let Catalyst prune (`PartitionFilters` in the scan) — same I/O, but
    * the partition columns stay queryable and multi-partition reads stay
    * one scan.
    */
  def readPartition(spark: SparkSession, base: String, table: String,
                    date: PartitionDate): DataFrame =
    Tables.parquet(spark, s"${base.stripSuffix("/")}/$table")
      .where(col("year") === date.year && col("month") === date.month &&
        col("day") === date.day)
      .drop("year", "month", "day")

  /** S9: register external parquet tables in the session catalog
    * (reference: spark/common/register_hive_tables.py:61-91).
    */
  def registerTable(spark: SparkSession, db: String, table: String, path: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $db.$table")
    spark.sql(s"CREATE TABLE $db.$table USING PARQUET LOCATION '$path'")
  }

  /** Fused Bronze→Gold pipeline: all four Silver tables + both Gold tables
    * from in-memory frames, no intermediate materialization. The Silver
    * profile feeding two consumers (profile + portfolio) is the one place
    * a cache pays for itself (the reference instead re-reads its own
    * parquet output, gold/processor.py:234-237).
    */
  def runFused(train: DataFrame, test: DataFrame, bureau: DataFrame,
               bureauBalance: DataFrame, installments: DataFrame,
               previousApps: DataFrame,
               statusValues: Option[Seq[String]] = None): (DataFrame, DataFrame) = {
    val app = Silver.clientApplication(train, test)
    val bureauSum = Silver.bureauSummary(bureau, bureauBalance)
    val payment = Silver.paymentBehavior(installments)
    val prev = Silver.previousApplications(previousApps, statusValues)
    val profiles = Gold.clientRiskProfile(app, bureauSum, payment, prev)
    (profiles, Gold.portfolioRisk(profiles))
  }
}
