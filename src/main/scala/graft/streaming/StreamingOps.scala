package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Structured Streaming counterparts of the batch time-series operators
  * (SURVEY §2.9): the same logical queries runnable as incremental
  * streams. The reference's "incremental" story is re-running batch jobs
  * per ingest_date; these are the Spark-native continuous versions.
  *
  * Scale notes: watermarks bound state; tumbling/session aggregation state
  * is per (window × key), dropped once the watermark passes; the stateful
  * user-profile op keys state by user only.
  */
object StreamingOps {

  /** Schema of the events fixture (the file source needs an explicit
    * schema — no inference on streams). `ts` is parquet TIMESTAMP(MICROS,
    * isAdjustedToUTC=false); requesting TimestampType here makes the
    * parquet reader surface it as a UTC instant under the engine's UTC
    * session TZ — `inferTimestampNTZ=false` is irrelevant on this path
    * (it only affects schema INFERENCE, i.e. the batch/inferred read in
    * graft.sources.Tables.events).
    *
    * This is the CURRENT fixture layout (micros-NTZ `ts`);
    * [[eventsStream]] handles the legacy nanos-long layout too by
    * resolving the physical type from a footer read at stream-setup time.
    */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream of the events table — [[graft.sources.Tables.events]]'
    * dynamic-format discipline on the streaming path: file streams cannot
    * infer, so ONE batch-side footer read at setup resolves whether the
    * fixture stores `ts` as micros-NTZ timestamp (current) or legacy
    * nanos-long, and the stream reads under the matching schema (the
    * nanos branch converting to TimestampType post-read, integer-division
    * exact like the batch reader).
    */
  def eventsStream(spark: SparkSession, path: String,
                   maxFilesPerTrigger: Int = 1): DataFrame = {
    // The footer sniff needs at least one file; an existing-but-empty
    // source directory (stream declared before any files arrive — the
    // normal streaming bootstrap) falls back to the current micros-NTZ
    // layout rather than failing setup (round-10 ADVICE).
    val tsIsLong = scala.util.Try(
      Tables.parquet(spark, path).schema("ts").dataType == LongType
    ).getOrElse(false)
    val readSchema =
      if (tsIsLong)
        StructType(eventsRawSchema.map {
          case f if f.name == "ts" => f.copy(dataType = LongType)
          case f                   => f
        })
      else eventsRawSchema
    val raw = spark.readStream
      .schema(readSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)
    if (tsIsLong) raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** Incremental file ingest, the batch-stream unification shape: each
    * invocation processes exactly the files that arrived in `srcDir`
    * since the last run (the checkpoint's file log is the source of
    * truth), appends the transformed rows to `destDir`, and STOPS
    * (`Trigger.AvailableNow`). Re-running after a crash or with no new
    * files is safe — the commit log makes the append exactly-once per
    * source file. This replaces the reference's "re-run the batch job
    * per ingest_date" discipline with no bookkeeping columns: at 100 TB
    * the per-run cost is the NEW files only, never a rescan.
    *
    * `schema` must be explicit (file streams cannot infer); pass the
    * writer's schema or derive it once from a seed file.
    */
  def incrementalParquetIngest(spark: SparkSession, srcDir: String,
                               destDir: String, checkpointDir: String,
                               schema: StructType)
                              (transform: DataFrame => DataFrame): Unit = {
    val q = transform(spark.readStream.schema(schema).parquet(srcDir))
      .writeStream.format("parquet")
      .option("path", destDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming NEAR-dup-filtered corpus ingestion — the streaming face of
    * the q93 incremental near-dup shape, closing the dedup family's
    * streaming tier (exact dedup streams via [[dedupStream]]; this is the
    * MinHash tier). Each micro-batch of arriving documents is:
    *
    *   1. deduplicated WITHIN the batch (greedy min-id keeper over the
    *      batch's near-dup pairs: any doc paired with a smaller-id doc
    *      drops, so one representative per duplicate chain survives);
    *   2. probed against the PERSISTED signature index with the
    *      asymmetric batch x corpus band join
    *      ([[graft.ops.Dedup.minHashNearDupAgainst]] — cost ∝ batch,
    *      never corpus);
    *   3. survivors land in `destDir/batch=<id>/` and their signatures in
    *      `indexDir/batch=<id>/` — the index the NEXT batch probes.
    *
    * Exactly-once posture: both writes are per-batch-partition dynamic
    * overwrites keyed on the deterministic micro-batch id, so a replayed
    * batch (crash between the two writes, retry) overwrites its own
    * partitions instead of duplicating rows — the same idempotence
    * discipline as [[jdbcUpsertSink]]'s staging MERGE. The index is read
    * BEFORE this batch's signatures append, so a batch never probes
    * itself (within-batch pairs are step 1's job).
    *
    * At 100 TB: per-run cost is the new files only (file-stream source),
    * the band join touches corpus signatures — a few hundred bytes per
    * document, not the documents — and AQE's skew split handles
    * boilerplate-hot bands (ScaleOpsSpec pins the marker on this join).
    * Defaults are the q49 exactness-grade layout (shingleK=1, 16x3,
    * banding miss ~8.6e-10 at t=0.9).
    */
  def nearDupIngest(spark: SparkSession, srcDir: String, destDir: String,
                    checkpointDir: String, indexDir: String,
                    schema: StructType, idCol: String, textCol: String,
                    threshold: Double = 0.9, shingleK: Int = 1,
                    bands: Int = 16, rowsPerBand: Int = 3,
                    estMargin: Double = 0.35): Unit = {
    import graft.ops.Dedup
    nearDupIngestLoop(spark, srcDir, destDir, checkpointDir, indexDir, schema, idCol)(
      batch => Dedup.minHashNearDup(batch, idCol, textCol,
        threshold, shingleK, bands, rowsPerBand, estMargin),
      (corpusSig, kept) => Dedup.minHashNearDupAgainst(corpusSig, kept,
        idCol, textCol, threshold, shingleK, bands, rowsPerBand, estMargin),
      survivors => Dedup.minHashSignatures(survivors, idCol, textCol,
        shingleK, bands * rowsPerBand))
  }

  /** Embedding-modality twin of [[nearDupIngest]]: streaming ingestion of
    * vectors with cosine near-dup filtering against the persisted
    * [[graft.ops.Dedup.embeddingIndex]]. Same per-batch discipline —
    * within-batch greedy min-id filter, asymmetric batch x corpus probe
    * ([[graft.ops.Dedup.embeddingNearDupAgainst]], which fail-louds on an
    * index built with a different sketch width via the persisted
    * `__nbits`), survivors + their index rows as per-batch
    * dynamic-overwrite partitions. `planes = 0, bands = 1` defaults to
    * the prefilter-only layout (exhaustive band, hamming prefilter does
    * the pruning) — callers at corpus scale pass a
    * `LshParams.hyperplaneForCorpus` layout instead.
    */
  def embeddingNearDupIngest(spark: SparkSession, srcDir: String,
                             destDir: String, checkpointDir: String,
                             indexDir: String, schema: StructType,
                             idCol: String, vecCol: String,
                             threshold: Double, dim: Int,
                             planes: Int = 0, bands: Int = 1,
                             prefilterBits: Int = 512): Unit = {
    import graft.ops.Dedup
    nearDupIngestLoop(spark, srcDir, destDir, checkpointDir, indexDir, schema, idCol)(
      batch => Dedup.embeddingNearDup(batch, idCol, vecCol,
        threshold, dim, planes, bands, prefilterBits),
      (index, kept) => Dedup.embeddingNearDupAgainst(index, kept, idCol, vecCol,
        threshold, dim, planes, bands, prefilterBits),
      survivors => Dedup.embeddingIndex(survivors, idCol, vecCol, dim, prefilterBits))
  }

  /** The micro-batch loop of [[nearDupIngest]] and
    * [[embeddingNearDupIngest]]. Each batch is persisted; the ids `within`
    * pairs as `id_b` (the batch's near-dup pairs) drop; once `indexDir`
    * holds a `batch=` partition, the ids `against` pairs as `new_id` (the
    * survivors probed against the persisted index) drop too; the
    * survivors and their `indexRows` land as batch-id dynamic-overwrite
    * partitions of `destDir` and `indexDir`.
    */
  private def nearDupIngestLoop(spark: SparkSession, srcDir: String,
                                destDir: String, checkpointDir: String,
                                indexDir: String, schema: StructType,
                                idCol: String)(
      within: DataFrame => DataFrame,
      against: (DataFrame, DataFrame) => DataFrame,
      indexRows: DataFrame => DataFrame): Unit = {
    def dropPaired(rows: DataFrame, pairs: DataFrame, pairCol: String) =
      rows.join(pairs.select(col(pairCol).alias("__drop")).distinct(),
        col(idCol) === col("__drop"), "left_anti")
    val q = spark.readStream.schema(schema).parquet(srcDir)
      .writeStream.foreachBatch { (batch0: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val batch = batch0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val keptWithin = dropPaired(batch, within(batch), "id_b")
          // through the path's own FileSystem: a URI index (file:, hdfs:,
          // s3a:) must probe like a local one
          val indexExists = {
            val dir = new org.apache.hadoop.fs.Path(indexDir)
            val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
            fs.exists(dir) && fs.listStatus(dir).exists(_.getPath.getName.startsWith("batch="))
          }
          val survivors =
            if (!indexExists) keptWithin
            else dropPaired(keptWithin,
              against(Tables.parquet(spark, indexDir), keptWithin), "new_id")
          // dynamic partition overwrite (GraftSession default) keyed on the
          // micro-batch id: replays rewrite their own partition, idempotent
          survivors.withColumn("batch", lit(batchId))
            .write.mode("overwrite").partitionBy("batch").parquet(destDir)
          indexRows(survivors)
            .withColumn("batch", lit(batchId))
            .write.mode("overwrite").partitionBy("batch").parquet(indexDir)
        } finally { batch.unpersist(false); () }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming sketch profiling — the q243/q246 mergeable-sketch tier on
    * the ingest path. Each micro-batch is reduced to per-group sketch
    * PARTIAL rows (theta distinct-set sketch of `distinctCol`, KLL
    * quantile sketch of `valueCol`, row count) landed at
    * `sketchDir/batch=<id>/` via the per-batch dynamic-overwrite
    * discipline of [[nearDupIngest]] (a replayed batch rewrites its own
    * partition — idempotent). No corpus-wide state anywhere: each batch
    * pays only its own aggregation, and the profile store grows by
    * |groups| kilobyte rows per batch.
    *
    * The read path ([[sketchProfile]]) merges all partials. Because the
    * serialized sketches ARE the aggregation monoid's partial states, the
    * merged profile is EXACTLY what a batch job over the whole corpus
    * would produce — for theta, byte-identically (StreamingSpec pins the
    * stream≡batch equality) — without ever rescanning ingested data.
    * This is the streaming answer the exact tier cannot give: a
    * continuously-maintained distinct/quantile profile whose read cost is
    * independent of stream history.
    */
  def sketchIngest(spark: SparkSession, srcDir: String, sketchDir: String,
                   checkpointDir: String, schema: StructType,
                   groupCols: Seq[String], distinctCol: String,
                   valueCol: String, lgK: Int = 12, kllK: Int = 200): Unit = {
    import graft.functions.SketchAggs
    val q = spark.readStream.schema(schema).parquet(srcDir)
      .writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.groupBy(groupCols.map(col): _*)
          .agg(
            SketchAggs.thetaSketch(col(distinctCol), lgK).alias("theta"),
            SketchAggs.kllSketch(col(valueCol).cast("double"), kllK).alias("kll"),
            count(lit(1)).alias("n_rows"))
          // the store is SELF-DESCRIBING: the sketch parameters ride along
          // as columns so the read/compact paths can recover them instead
          // of trusting the caller to repeat them (r12 ADVICE: compacting
          // a lgK=14 store with the default 12 silently downsampled the
          // union and changed distinct estimates)
          .withColumn("lgk", lit(lgK))
          .withColumn("kll_k", lit(kllK))
          .withColumn("batch", lit(batchId))
          .write.mode("overwrite").partitionBy("batch").parquet(sketchDir)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Recover the (lgK, kllK) a sketch store was built with from its
    * self-describing columns ([[sketchIngest]] since round 13); a legacy
    * store without them falls back to the caller's arguments. A store
    * holding MIXED parameters (two ingests with different lgK) fails loud
    * — merging across lgK silently downsamples to the smallest. Rows with
    * NULL parameter columns (legacy partials union-read alongside
    * self-describing ones) are treated as legacy: they defer to the
    * store's single non-null parameter pair, or to the caller's arguments
    * if the whole store is legacy (r13 ADVICE: getInt on a null lgk threw
    * an opaque NPE instead of either intended path).
    */
  private def storeParams(store: DataFrame, lgK: Int, kllK: Int): (Int, Int) =
    if (store.columns.contains("lgk") && store.columns.contains("kll_k")) {
      val ps = store.select(col("lgk"), col("kll_k")).distinct().collect()
        .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      require(ps.length <= 1,
        s"sketch store holds mixed parameters ${ps.map(r => (r.getInt(0), r.getInt(1))).mkString(", ")}; " +
          "compact each parameter generation separately")
      ps.headOption.map(r => (r.getInt(0), r.getInt(1))).getOrElse((lgK, kllK))
    } else (lgK, kllK)

  /** Read path of [[sketchIngest]]: merge every batch's partial sketches
    * to one profile row per group — distinct estimate, quantiles at
    * `ranks`, exact n/min/max, total rows. Cost ∝ |groups × batches|
    * sketch rows; the ingested corpus is never touched.
    */
  def sketchProfile(spark: SparkSession, sketchDir: String,
                    groupCols: Seq[String], ranks: Seq[Double],
                    lgK: Int = 12, kllK: Int = 200): DataFrame = {
    import graft.functions.SketchAggs
    val store = Tables.parquet(spark, sketchDir)
    val (lgKUse, kllKUse) = storeParams(store, lgK, kllK)
    store
      .groupBy(groupCols.map(col): _*)
      .agg(
        SketchAggs.thetaUnion(col("theta"), lgKUse).alias("theta"),
        SketchAggs.kllMerge(col("kll"), kllKUse).alias("kll"),
        sum(col("n_rows")).alias("n_rows"))
      .select(groupCols.map(col) ++ Seq(
        SketchAggs.thetaEstimate(col("theta")).alias("distinct_est"),
        col("theta"),
        SketchAggs.kllSummary(col("kll"), ranks).alias("value_summary"),
        col("n_rows")): _*)
  }

  /** Compaction of [[sketchIngest]]'s per-batch partials — the
    * maintenance step that keeps the profile read O(groups) as history
    * accumulates: merge the groups×batches partial rows into ONE
    * consolidated row per group and rewrite the store. Correct by the
    * monoid property ([[sketchProfile]] merges either form to the same
    * answer — theta byte-identically, StreamingSpec pins it); after
    * compaction the read cost no longer grows with batch count. Writes
    * to a separate `compactDir` (a store cannot be overwritten while
    * being read); the caller swaps directories once the write commits.
    */
  def sketchCompact(spark: SparkSession, sketchDir: String,
                    compactDir: String, groupCols: Seq[String],
                    lgK: Int = 12, kllK: Int = 200): Unit = {
    import graft.functions.SketchAggs
    val store = Tables.parquet(spark, sketchDir)
    // parameters come from the store itself, so a compaction can never
    // silently downsample a higher-lgK store through the defaults (r12
    // ADVICE); the compacted store stays self-describing
    val (lgKUse, kllKUse) = storeParams(store, lgK, kllK)
    store
      .groupBy(groupCols.map(col): _*)
      .agg(
        SketchAggs.thetaUnion(col("theta"), lgKUse).alias("theta"),
        SketchAggs.kllMerge(col("kll"), kllKUse).alias("kll"),
        sum(col("n_rows")).alias("n_rows"))
      .withColumn("lgk", lit(lgKUse))
      .withColumn("kll_k", lit(kllKUse))
      .write.mode("overwrite").parquet(compactDir)
  }

  /** Hourly tumbling aggregation with a watermark (late data beyond the
    * watermark is dropped; state for closed windows is evicted).
    */
  def tumblingAgg(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).alias("n_events"), sum(col("value")).alias("total_value"))
      .select(col("window.start").alias("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** SLIDING window aggregation: each event lands in windowSize/slide
    * overlapping windows (window() emits one row per covering window —
    * state per (window × key), watermark-evicted like the tumbling case).
    */
  def slidingAgg(events: DataFrame, windowSize: String = "1 hour",
                 slide: String = "30 minutes",
                 watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowSize, slide), col("event_type"))
      .agg(count(lit(1)).alias("n_events"), sum(col("value")).alias("total_value"))
      .select(col("window.start").alias("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Event-time sessionization with the built-in session_window (gap-based
    * merging windows; state bounded by the watermark).
    */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).alias("n_events"), sum(col("value")).alias("total_value"))
      .select(col("session_window.start").alias("session_start"),
        col("session_window.end").alias("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Exactly-once JDBC upsert sink for a streaming query, via
    * `foreachBatch`: each micro-batch lands in a staging table
    * (idempotent overwrite), then one transactional `MERGE` folds it into
    * the target keyed on `keyCols` — re-delivered batches (failure/retry
    * replays) merge to the same final state instead of duplicating rows,
    * which is exactly the guarantee append-mode JDBC writes lack. This is
    * the streaming face of the reference's gold→datamart write
    * (gold/processor.py:284-313).
    *
    * The target table is created from the staging schema on first use.
    * Works against any MERGE-capable JDBC database (tested on embedded
    * Derby). Returns the configured `DataStreamWriter` — caller starts it.
    */
  def jdbcUpsertSink(stream: DataFrame, url: String, table: String,
                     keyCols: Seq[String], user: String = "app",
                     password: String = "pw",
                     props: Map[String, String] = Map.empty): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val staging = s"${table}_staging"
    stream.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      // within-batch dedup on the key (last write wins is arbitrary here;
      // upstream should emit one row per key per batch)
      val deduped = batch.dropDuplicates(keyCols)
      graft.sources.Sinks.jdbcOverwrite(deduped, url, staging, user, password,
        numPartitions = 2, props = props)
      val cols = deduped.columns
      val nonKeys = cols.filterNot(keyCols.contains)
      val conn = java.sql.DriverManager.getConnection(url, user, password)
      try {
        val st = conn.createStatement()
        try {
          // probe existence with a zero-row query — works for schema-
          // qualified and case-folded names alike, unlike a getTables
          // name-pattern match
          val exists =
            try { st.executeQuery(s"SELECT 1 FROM $table WHERE 1=0").close(); true }
            catch { case _: java.sql.SQLException => false }
          if (!exists)
            st.executeUpdate(s"CREATE TABLE $table AS SELECT * FROM $staging WITH NO DATA")
          // Spark's JDBC writer creates case-preserved QUOTED identifiers;
          // the MERGE must quote to match
          def q(c: String) = "\"" + c + "\""
          val on = keyCols.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
          val setClause = nonKeys.map(c => s"t.${q(c)} = s.${q(c)}").mkString(", ")
          val insertCols = cols.map(q).mkString(", ")
          val insertVals = cols.map(c => s"s.${q(c)}").mkString(", ")
          val matched = if (nonKeys.nonEmpty) s"WHEN MATCHED THEN UPDATE SET $setClause " else ""
          st.executeUpdate(
            s"""MERGE INTO $table t USING $staging s ON $on
               |${matched}WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)""".stripMargin)
          // drop the staging table so the datamart schema stays clean;
          // the next batch's overwrite recreates it
          try st.executeUpdate(s"DROP TABLE $staging")
          catch { case _: java.sql.SQLException => () }
        } finally st.close()
      } finally conn.close()
      () // foreachBatch wants Unit; executeUpdate returns a count
    }
  }

  /** Streaming exact dedup on a content key: keeps the FIRST arrival of
    * each key and drops later duplicates, with state bounded by the event-
    * time watermark (`dropDuplicatesWithinWatermark` — duplicates arriving
    * within the watermark window of the kept row are removed; state for
    * keys older than the watermark is evicted, so an infinite stream
    * doesn't accumulate infinite state). The key is the 64-bit xxhash64
    * of the content under [[graft.functions.TextFunctions.normalizeText]],
    * the normalization [[graft.ops.Dedup.exactDedup]] groups on.
    */
  def dedupStream(rows: DataFrame, textCol: String, tsCol: String,
                  watermark: String = "1 hour"): DataFrame =
    rows
      .withColumn("content_hash",
        xxhash64(graft.functions.TextFunctions.normalizeText(col(textCol))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming URL-keyed dedup (the incremental form of
    * [[graft.ops.Boilerplate.urlDedup]]): canonicalize each arriving
    * row's URL with the SAME rule chain as the batch op, keep the
    * first-seen row per canonical within the watermark horizon. Rows
    * whose URL canonicalizes to NULL (non-URLs) bypass the dedup state
    * entirely — the batch op's "never grouped" rule; routing them
    * through dropDuplicates would collapse ALL of them onto the one
    * NULL key. State is bounded by the watermark, cost ∝ batch.
    */
  def urlDedupStream(rows: DataFrame, urlCol: String, tsCol: String,
                     watermark: String = "1 hour"): DataFrame = {
    val canon = rows.withColumn("canonical_url",
      graft.ops.Boilerplate.canonicalUrl(col(urlCol)))
    canon.filter(col("canonical_url").isNotNull)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("canonical_url")
      .unionByName(canon.filter(col("canonical_url").isNull))
  }

  /** Stream-stream attribution join: each click is matched to same-user
    * signups that happened AT OR BEFORE the click, within `maxDelay`. The
    * event-time interval condition plus watermarks on BOTH sides is what
    * lets Spark bound the join state: a signup row can be dropped once the
    * watermark passes `signup.ts + maxDelay` (no future click can match
    * it), and a click row once the watermark passes its own timestamp —
    * without the interval bound, stream-stream join state grows forever.
    */
  def attributionJoin(clicks: DataFrame, signups: DataFrame,
                      maxDelay: String = "1 hour",
                      watermark: String = "1 hour"): DataFrame =
    attributionJoinAs(clicks, signups, maxDelay, watermark, "inner")

  /** LEFT-OUTER variant of [[attributionJoin]]: every click surfaces —
    * matched clicks immediately, never-matched clicks as a null-padded
    * row once the watermark proves no qualifying signup can still arrive
    * (the signup-side watermark passing the click's match window). This
    * is the "conversion or known-no-conversion" feed an attribution
    * consumer needs; the inner form silently drops non-converting
    * clicks. Same state bound: the interval condition + both-side
    * watermarks let Spark evict join state, outer rows emit on eviction.
    */
  def attributionJoinOuter(clicks: DataFrame, signups: DataFrame,
                           maxDelay: String = "1 hour",
                           watermark: String = "1 hour"): DataFrame =
    attributionJoinAs(clicks, signups, maxDelay, watermark, "left_outer")

  private def attributionJoinAs(clicks: DataFrame, signups: DataFrame,
                                maxDelay: String, watermark: String,
                                joinType: String): DataFrame = {
    val c = clicks.select(col("event_id").alias("click_id"),
      col("user_id"), col("ts").alias("click_ts"))
      .withWatermark("click_ts", watermark)
    val s = signups.select(col("event_id").alias("signup_id"),
      col("user_id").alias("s_user_id"), col("ts").alias("signup_ts"))
      .withWatermark("signup_ts", watermark)
    c.join(s,
      col("user_id") === col("s_user_id") &&
        col("signup_ts") <= col("click_ts") &&
        col("signup_ts") >= col("click_ts") - expr(s"INTERVAL $maxDelay"),
      joinType)
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("signup_id"), col("signup_ts"))
  }

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionAcc(startMs: Long, endMs: Long, n: Long, total: Double)
  final case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
                                 session_end: java.sql.Timestamp,
                                 n_events: Long, total_value: Double)

  /** Gap-based sessionization that emits a session only when it CLOSES —
    * the flatMapGroupsWithState + event-time-timeout pattern that
    * session_window cannot express when the consumer needs exactly one
    * final row per session (e.g. feeding the JDBC upsert sink). State per
    * user is one open session; the timeout fires once the watermark
    * passes `session end + gap`, at which point the session is emitted
    * and its state dropped — bounded state on an infinite stream.
    *
    * Within a micro-batch, events are sorted by event time before
    * folding (micro-batch iterators carry no order guarantee).
    */
  def closedSessions(events: DataFrame, gapSeconds: Long = 1800,
                     watermark: String = "1 hour"): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapSeconds * 1000L
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), col("value")).as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionAcc]) =>
          def close(s: SessionAcc) = ClosedSession(user,
            new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.endMs),
            s.n, s.total)
          if (state.hasTimedOut) {
            val out = Iterator.single(close(state.get))
            state.remove()
            out
          } else {
            // Interval-gap merge over the open session (if any) plus this
            // batch's events, all treated as [start,end] atoms sorted by
            // start time. This keeps late cross-batch events honest: an
            // event within `gap` BEFORE the open session extends
            // session_start backward (min), and an event more than `gap`
            // before it forms its own earlier session instead of being
            // silently absorbed — the exact case the watermark allowance
            // admits.
            val atoms = (state.getOption.toIndexedSeq ++
              rows.map(e => SessionAcc(e.ts.getTime, e.ts.getTime, 1L, e.value)))
              .sortBy(a => (a.startMs, a.endMs))
            val merged = scala.collection.mutable.ArrayBuffer.empty[SessionAcc]
            atoms.foreach { a =>
              merged.lastOption match {
                case Some(p) if a.startMs <= p.endMs + gapMs =>
                  merged(merged.size - 1) = SessionAcc(p.startMs,
                    math.max(p.endMs, a.endMs), p.n + a.n, p.total + a.total)
                case _ => merged += a
              }
            }
            // Every session but the last is followed by a > gap silence
            // before a LATER observed event — close inline. This is
            // BEST-EFFORT for within-watermark late data: a late event in a
            // subsequent batch can still land inside that silence and would
            // have bridged the already-emitted session (emitting a split
            // pair instead of one merged session). Holding provisionally-
            // closed sessions in state until the watermark passes
            // session_end + gap would make it exact, at the cost of keeping
            // every closed session in state for the allowance window.
            val closed = merged.dropRight(1).map(close)
            merged.lastOption.foreach { s =>
              state.update(s)
              // the timeout must sit strictly beyond the current watermark;
              // a session already older than the watermark fires next batch
              state.setTimeoutTimestamp(
                math.max(s.endMs + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  final case class UserEvent(user_id: Long, value: Double)
  final case class UserTotal(user_id: Long, n: Long, total: Double)

  /** Custom keyed state via mapGroupsWithState: running per-user totals,
    * emitted each micro-batch (Update mode). The pattern the reference
    * would need for any cross-batch incremental metric.
    */
  def runningUserTotals(events: DataFrame): Dataset[UserTotal] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotal, UserTotal](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[UserEvent], state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(user, 0L, 0.0))
          val batch = rows.toSeq
          val next = UserTotal(user, prev.n + batch.size, prev.total + batch.map(_.value).sum)
          state.update(next)
          next
      }
  }
}
