package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Fixture-table loaders (SURVEY §2.1 S3: parquet scans).
  *
  * Parquet loads go through [[parquet]]: the same relation as
  * `spark.read.parquet`, with the schema resolved on the driver. Catalyst
  * keeps full pushdown/pruning freedom — callers `.select`/`.filter` and
  * the parquet scan shows `PushedFilters`/narrowed `ReadSchema`.
  */
object Tables {

  /** `spark.read.parquet(path)` without its schema-inference job, listed once.
    *
    * With `mergeSchema` off Spark infers the schema from one footer —
    * `_common_metadata`, else `_metadata`, else the first data file by
    * path — but reads that footer in a one-task Spark job on every call.
    * This picks the same file from the same listing, reads its footer on
    * the driver with the conversion the inference task uses, and builds
    * the relation `spark.read.parquet` builds from that listing, so the
    * path is listed once, not again by the reader. Nothing is cached, so
    * a table overwritten between reads resolves afresh.
    *
    * Falls through to `spark.read.parquet(path)` (so the caller gets
    * Spark's own relation or error) when there is no file to read, the
    * footer cannot be read, the path is a streaming sink's output (Spark
    * then lists the sink's log, not the directory), or two columns share
    * a name (a data column named like a partition column keeps its place
    * in Spark's relation; two alike data columns make Spark raise).
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val index = new InMemoryFileIndex(
      spark, Seq(root.getFileSystem(hadoopConf).makeQualified(root)), Map.empty, None)
    footerSchema(spark, path, index, hadoopConf) match {
      // the fields DataSource.resolveRelation gives spark.read.parquet(path)'s relation
      case Some(schema) => spark.baseRelationToDataFrame(HadoopFsRelation(index,
        index.partitionSchema, GraftBridge.asNullable(schema), None, new ParquetFileFormat,
        Map("path" -> path))(spark))
      case None => spark.read.parquet(path)
    }
  }

  private def footerSchema(spark: SparkSession, path: String, index: InMemoryFileIndex,
                           hadoopConf: Configuration): Option[StructType] = {
    val conf = spark.sessionState.conf
    val leaves = index.allFiles().sortBy(_.getPath.toString)
    if (leaves.isEmpty || FileStreamSink.hasMetadata(Seq(path), hadoopConf, conf)) return None
    import ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE => common, PARQUET_METADATA_FILE => meta}
    def first(p: String => Boolean) = leaves.find(f => p(f.getPath.getName))
    val picked = first(_ == common).orElse(first(_ == meta)).orElse(first(n => n != common && n != meta))
    // the settings Spark's inference task passes; it leaves the rest at their defaults
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val schema = picked.flatMap { f =>
      try {
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)
        Some(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter))
      } catch { case NonFatal(_) => None }
    }
    // two columns alike under the resolver: Spark's relation raises, or keeps a data column in place
    schema.filterNot(s => (s.fieldNames ++ index.partitionSchema.fieldNames)
      .combinations(2).exists(p => conf.resolver(p(0), p(1))))
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  def region(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** `events.ts` is TIMESTAMP(MICROS, isAdjustedToUTC=false) in the current
    * fixtures — already a timestamp on read (the `case _` branch). The
    * LongType branch handles legacy nanos-long fixtures (read as raw longs
    * under `spark.sql.legacy.parquet.nanosAsLong=true`) by truncating to
    * microseconds (floor division — matches DuckDB's
    * `CAST(ts_ns AS TIMESTAMP)` truncation in the oracle SQL).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division — double division on int64 nanos loses precision
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw // already a timestamp (micro/milli precision)
    }
  }

  /** CSV source with header + schema inference (SURVEY §2.1 S1 —
    * reference: spark/bronze/feeder_csv.py:95-100). Explicit schema
    * overload for production paths: inference costs an extra scan and is
    * sample-dependent — at 100 TB always pass the schema.
    */
  def csv(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", "true")
    schema match {
      case Some(s) => r.schema(s).csv(path)
      case None    => r.option("inferSchema", "true").csv(path)
    }
  }

  /** JSON-lines source — the de-facto interchange format for LLM training
    * corpora (one JSON document per line, splittable, append-friendly).
    * Explicit schema for production paths (inference scans the data and is
    * sample-dependent — at 100 TB always pass the schema); inference
    * overload for exploration.
    */
  def jsonl(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).json(path)
      case None    => spark.read.json(path)
    }

  /** ORC source — the second columnar format the engine round-trips
    * (Spark ships the ORC reader/writer natively). Same pushdown/pruning
    * properties as parquet: predicates and column selection reach the
    * stripe reader, so a narrow projection never pays for unread columns.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JDBC source (SURVEY §2.1 S2 — reference: spark/bronze/feeder_postgres.py:68-77).
    * `partitionColumn`/bounds enable parallel reads; a single-connection JDBC
    * scan is a driver-side bottleneck at scale.
    */
  def jdbc(spark: SparkSession, url: String, dbtable: String,
           props: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("jdbc").option("url", url).option("dbtable", dbtable)
    props.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  // Memoized per (session, dir) so SQL-surface queries (q107/q126) that
  // call registerAll defensively don't pay catalog work inside a timed
  // bench rep (round-7 ADVICE: q126's measured time included
  // re-registering every view, skewing the q62-vs-q126 comparison the
  // query exists to make). Weak keys: stopped test sessions must not leak.
  private val registeredDir =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** Register all fixture tables as temp views for `spark.sql` use.
    * Idempotent per (session, dir): a repeat call with the same dir is a
    * no-op; a different dir re-registers.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    if (sfDir == registeredDir.get(spark)) return
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
      table(spark, sfDir, t).createOrReplaceTempView(t)
    }
    events(spark, sfDir).createOrReplaceTempView("events")
    registeredDir.put(spark, sfDir)
  }
}
