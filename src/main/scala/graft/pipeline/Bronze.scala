package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Projections
import graft.sources.Tables

/** Bronze-layer ingestion (reference: spark/bronze/feeder_csv.py,
  * feeder_postgres.py): source → lineage columns → partitioned parquet.
  *
  * Scale notes vs the reference:
  *  - schema should be EXPLICIT in production (inference is an extra full
  *    scan and sample-dependent — Tables.csv takes an optional schema);
  *  - the row count the reference logs comes from `observe` metrics here,
  *    not a separate count() job (zero extra scans);
  *  - JDBC reads should pass partitioning options (Tables.jdbc) — the
  *    reference's single-connection read serializes 300k rows through one
  *    task.
  */
object Bronze {

  final case class IngestResult(rowsWritten: Long, outputPath: String)

  /** CSV → Bronze parquet partitioned by ingest_date (feeder_csv.py:95-125). */
  def ingestCsv(spark: SparkSession, csvPath: String, bronzeBase: String,
                table: String, ingestDate: String, sourceSystem: String = "csv",
                schema: Option[org.apache.spark.sql.types.StructType] = None): IngestResult = {
    val raw = Tables.csv(spark, csvPath, schema)
    ingestFrame(raw, bronzeBase, table, ingestDate, sourceSystem)
  }

  /** Any-source → Bronze parquet with lineage + ingest_date partition. */
  def ingestFrame(df: DataFrame, bronzeBase: String, table: String,
                  ingestDate: String, sourceSystem: String): IngestResult = {
    val observation = new org.apache.spark.sql.Observation(s"bronze_$table")
    val withLineage = Projections
      .withLineage(df, ingestDate, sourceSystem)
      .observe(observation, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).alias("rows"))
    val out = s"${bronzeBase.stripSuffix("/")}/$table"
    withLineage.write.mode("overwrite").partitionBy("ingest_date").parquet(out)
    IngestResult(observation.get("rows").asInstanceOf[Long], out)
  }

  /** Partition-pruned Bronze read for one ingest_date. It reads the table
    * root, not the `ingest_date=` directory, so the frame keeps the
    * inferred `ingest_date` column, which a directory read would restate.
    */
  def readIngestDate(spark: SparkSession, bronzeBase: String, table: String,
                     ingestDate: String): DataFrame =
    Tables.parquet(spark, s"${bronzeBase.stripSuffix("/")}/$table")
      .where(org.apache.spark.sql.functions.col("ingest_date") === ingestDate)
}
