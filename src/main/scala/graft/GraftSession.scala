package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Design notes (100 TB posture):
  *  - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  *    and dynamic broadcast conversion replace hand-tuned partition counts.
  *  - `spark.sql.shuffle.partitions` defaults to the local core count here;
  *    on a real cluster this is overridden to ~2-3x total executor cores and
  *    AQE coalesces down from there.
  *  - The `events` fixture stores `ts` as parquet TIMESTAMP(MICROS,
  *    isAdjustedToUTC=false) (NTZ). With `inferTimestampNTZ` disabled and a
  *    UTC session timezone it reads as microsecond TimestampType with the
  *    identical instant; [[graft.sources.Tables.events]] also keeps a
  *    dynamic branch for legacy nanos-long fixtures (`nanosAsLong`).
  *  - UTC session timezone so timestamp semantics match the DuckDB oracle.
  *  - Every other setting that departs from Spark's default is explained
  *    in DECISIONS.md, section "Session defaults".
  */
object GraftSession {

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // no session-wide growth ceiling: scoped per operator (DECISIONS.md "Session defaults")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // zstd: about half lz4's shuffle-file bytes (DECISIONS.md "Session defaults")
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "zstd"))
      // below the G1 humongous threshold (DECISIONS.md "Session defaults")
      .config("spark.buffer.pageSize", "4m")
      // local-mode liveness, env-escaped (DECISIONS.md "Session defaults")
      .config("spark.executor.heartbeatInterval",
        sys.env.getOrElse("SPARK_GRAFT_HEARTBEAT_INTERVAL", "60s"))
      .config("spark.network.timeout",
        sys.env.getOrElse("SPARK_GRAFT_NETWORK_TIMEOUT", "1800s"))
      // its inferred filter re-runs derived-array chains (DECISIONS.md "Session defaults")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // holds a warm batch's generated classes; fixed (DECISIONS.md "Session defaults")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // fixtures annotate timestamps isAdjustedToUTC=false (parquet NTZ);
      // read them as session-TZ TimestampType — with the UTC session TZ the
      // instant is identical, and the whole engine (unix_micros arithmetic,
      // window binning, the DuckDB oracle dump) stays on one timestamp type
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // dynamic: overwriting one ingest_date/year-month-day partition
      // replaces ONLY that partition — static overwrite (the default)
      // would truncate the whole table on an incremental re-run
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.ui.enabled", "false")

  /** Local session; core count from SPARK_GRAFT_CPUS (driver contract).
    * SPARK_GRAFT_SHUFFLE_PARTITIONS still overrides the non-AQE shuffle
    * default AND the AQE initial partition count for deployments that
    * want an explicit ceiling, but since round 13 it is a tuning
    * override, not a correctness-of-scale requirement: the AQE
    * initialPartitionNum growth path (see [[builder]]) sizes every
    * adaptive shuffle from runtime statistics.
    */
  def local(): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val b = builder(cores)
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .foreach { p =>
        b.config("spark.sql.shuffle.partitions", p)
        b.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", p)
      }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
