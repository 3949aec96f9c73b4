package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Sinks (SURVEY §2.1 S6-S8). Partitioned parquet lives in
  * graft.pipeline.Medallion.writePartitioned; these are the remaining
  * writer shapes.
  */
object Sinks {

  /** S6 without partitioning: plain overwrite parquet. */
  def parquet(df: DataFrame, path: String, coalesceTo: Option[Int] = None): Unit = {
    val out = coalesceTo.map(df.coalesce).getOrElse(df)
    out.write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** S7: overwrite into an explicit partition directory (the reference's
    * Postgres feeder bakes `ingest_date=<d>` into the PATH instead of
    * using partitionBy — feeder_postgres.py:94-105). Kept for layout
    * parity; prefer partitionBy for catalog-visible partitions.
    */
  def parquetIntoPartitionDir(df: DataFrame, base: String, table: String,
                              partition: (String, String)): Unit =
    df.write.mode(SaveMode.Overwrite)
      .parquet(s"${base.stripSuffix("/")}/$table/${partition._1}=${partition._2}")

  /** DYNAMIC partition overwrite — the lakehouse incremental-write
    * semantic the static mode can't express: overwrite ONLY the
    * partitions present in this batch, leave every other partition
    * untouched (static mode would wipe the whole table root first). The
    * writer option fixes the mode for this write in any session;
    * `GraftSession` also sets it session-wide (DECISIONS.md "Session
    * defaults"). At scale this is how per-day/per-source re-ingestion
    * stays idempotent without rewriting history.
    */
  def parquetOverwriteDynamic(df: DataFrame, path: String,
                              partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** S8: JDBC overwrite (drop+recreate semantics, reference:
    * gold/processor.py:284-313). `numPartitions` bounds concurrent
    * connections; `batchsize` amortizes round-trips — a single-connection
    * unbatched JDBC write is the classic datamart bottleneck. `props`
    * passes driver-specific options (e.g. `driver` for databases not
    * auto-discovered from the url). Integration-tested against embedded
    * Derby (JdbcSpec), including overwrite-with-schema-change.
    */
  def jdbcOverwrite(df: DataFrame, url: String, table: String,
                    user: String, password: String,
                    numPartitions: Int = 8, batchSize: Int = 10000,
                    props: Map[String, String] = Map.empty): Unit = {
    val w = df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("user", user)
      .option("password", password)
      .option("numPartitions", numPartitions.toString)
      .option("batchsize", batchSize.toString)
    props.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }
      .mode(SaveMode.Overwrite)
      .save()
  }

  /** CSV export sink (header, overwrite). */
  def csv(df: DataFrame, path: String, coalesceTo: Option[Int] = Some(1)): Unit = {
    val out = coalesceTo.map(df.coalesce).getOrElse(df)
    out.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }
}
