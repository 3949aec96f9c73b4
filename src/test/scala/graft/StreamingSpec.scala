package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.ops.TimeSeries
import graft.sources.Tables
import graft.streaming.StreamingOps

/** Streaming queries driven synchronously over the bounded events fixture
  * (memory sink + processAllAvailable), cross-checked against the batch
  * operators where the semantics coincide.
  */
class StreamingSpec extends SparkSpec {

  // the file source requires a DIRECTORY; stage the fixture file into one
  private lazy val eventsPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("eventsStream reads a legacy nanos-long fixture via the dynamic branch") {
    // the batch reader (Tables.events) has always handled both fixture
    // layouts; this pins the STREAMING path's footer-resolved schema
    // branch: a nanos-long ts must surface as the identical microsecond
    // TimestampType instant the batch reader produces
    val dir = java.nio.file.Files.createTempDirectory("events_nanos_stream").toString
    val orig = Tables.events(spark, sf001).filter(col("event_id") < 100)
    orig.withColumn("ts", unix_micros(col("ts")) * 1000L)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir)
    val stream = StreamingOps.eventsStream(spark, dir)
    assert(stream.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val q = stream.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("nanos_stream_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("nanos_stream_out").select("event_id", "ts")
    val want = orig.select("event_id", "ts")
    assert(got.count() == want.count() && got.except(want).isEmpty &&
      want.except(got).isEmpty,
      "nanos-long stream did not reproduce the batch instants")
  }

  test("streaming tumbling agg matches batch tumblingAgg exactly") {
    val stream = StreamingOps.eventsStream(spark, eventsPath)
    val q = StreamingOps.tumblingAgg(stream)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("tumbling_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // watermark never closes windows in a bounded run until no more data;
    // Append emits finalized windows after the final empty micro-batch
    val got = spark.table("tumbling_out")
      .select("window_start", "event_type", "n_events", "total_value")

    val batch = TimeSeries.tumblingAgg(Tables.events(spark, sf001), "ts", "hour",
      Seq("event_type"),
      Seq(count(lit(1)).alias("n_events"), sum(col("value")).alias("total_value")))

    // streaming append emits only windows older than the watermark; every
    // emitted row must match its batch counterpart exactly
    val joined = got.alias("s").join(batch.alias("b"),
      col("s.window_start") === col("b.window_start") &&
        col("s.event_type") === col("b.event_type"))
    assert(got.count() > 0, "no windows finalized")
    assert(joined.count() == got.count(), "streaming row missing from batch result")
    assert(joined.filter(col("s.n_events") =!= col("b.n_events")).count() == 0)
  }

  test("streaming sliding windows match the batch window() expansion exactly") {
    val stream = StreamingOps.eventsStream(spark, eventsPath)
    val q = StreamingOps.slidingAgg(stream)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sliding_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("sliding_out")

    // batch reference: the same window(size, slide) expansion
    val batch = Tables.events(spark, sf001)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).alias("n_events"))
      .select(col("window.start").alias("window_start"), col("event_type"),
        col("n_events"))
    val joined = got.alias("s").join(batch.alias("b"),
      col("s.window_start") === col("b.window_start") &&
        col("s.event_type") === col("b.event_type"))
    assert(got.count() > 0, "no sliding windows finalized")
    assert(joined.count() == got.count(), "streaming window missing from batch result")
    assert(joined.filter(col("s.n_events") =!= col("b.n_events")).count() == 0)
    // sliding windows must outnumber the tumbling hour windows (overlap);
    // tumbling_out only exists when the tumbling test ran in this session
    if (spark.catalog.tableExists("tumbling_out")) {
      val tumbling = spark.table("tumbling_out")
      if (tumbling.count() > 0) assert(got.count() > tumbling.count())
    }
  }

  test("streaming session_window agrees with batch lag-gap sessionization on session count") {
    val stream = StreamingOps.eventsStream(spark, eventsPath)
    val q = StreamingOps.sessionAgg(stream)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sessions_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("sessions_out")

    val batchSessions = TimeSeries.sessionStats(
      Tables.events(spark, sf001), "user_id", "ts", gapSeconds = 1800,
      tieBreak = Seq(col("event_id")))

    // compare per-user session counts on users whose last activity is
    // clearly before the stream's watermark cutoff (all finalized)
    val streamCounts = streamed.groupBy("user_id").count()
    val batchCounts = batchSessions.groupBy("user_id").count()
    val diff = streamCounts.alias("s")
      .join(batchCounts.alias("b"), Seq("user_id"))
      .filter(col("s.count") > col("b.count")) // streaming can emit fewer (unfinalized), never more
    assert(streamed.count() > 0)
    assert(diff.count() == 0)
  }

  test("mapGroupsWithState accumulates running user totals across micro-batches") {
    val stream = StreamingOps.eventsStream(spark, eventsPath)
    val q = StreamingOps.runningUserTotals(stream)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("totals_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // last update per user = full totals; compare against batch groupBy
    val finalTotals = spark.table("totals_out")
      .groupBy("user_id").agg(max(col("n")).alias("n"))
    val batch = Tables.events(spark, sf001).groupBy("user_id")
      .agg(count(lit(1)).alias("n"))
    val mismatch = finalTotals.alias("s").join(batch.alias("b"), Seq("user_id"))
      .filter(col("s.n") =!= col("b.n"))
    assert(mismatch.count() == 0)
    assert(finalTotals.count() == batch.count())
  }

  test("dedupStream keeps one row per content key across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val stream = StreamingOps.dedupStream(
      in.toDF().toDF("doc_id", "text", "ts"), "text", "ts", watermark = "1 hour")
    val q = stream.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_out").start()
    try {
      in.addData((1L, "Hello  World", ts(0)), (2L, "other doc", ts(1)))
      q.processAllAvailable()
      // same normalized content in a later micro-batch, within the watermark
      in.addData((3L, "hello world", ts(2)), (4L, "third", ts(3)))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("dedup_out").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // doc 3 duplicates doc 1 (case/whitespace-normalized) and is dropped
    assert(kept == Set(1L, 2L, 4L))
  }

  test("urlDedupStream keeps first-seen per canonical URL, passes every non-URL") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val stream = StreamingOps.urlDedupStream(
      in.toDF().toDF("doc_id", "url", "ts"), "url", "ts", watermark = "1 hour")
    val q = stream.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("urldedup_out").start()
    try {
      in.addData(
        (1L, "https://www.example.com/a?utm_source=x", ts(0)),
        (2L, "junk one", ts(1)))
      q.processAllAvailable()
      // same canonical arriving in a LATER micro-batch → dropped;
      // a second non-URL must NOT collapse onto the first's null key
      in.addData(
        (3L, "https://example.com:443/a", ts(2)),
        (4L, "junk two", ts(3)),
        (5L, "https://example.com/b", ts(4)))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("urldedup_out").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 4L, 5L))
  }

  test("the stateless curation ops run UNCHANGED on a stream (batch/stream unification)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val in = MemoryStream[(Long, String)]
    // mojibake repair + the Gopher rule gate are pure per-row expression
    // chains, so the SAME operator code plans on an unbounded source
    val stream = graft.ops.TextAnalysis.gopherRules(
      graft.ops.TextAnalysis.fixMojibake(in.toDF().toDF("doc_id", "text"), "text"),
      "text_fixed", minWords = 3)
      .select("doc_id", "changed", "n_words", "keep_gopher")
    val q = stream.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("curation_out").start()
    try {
      in.addData(
        (1L, "the cat and cafÃ© dog have fun with it"),
        (2L, "## #"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("curation_out").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(3)))).toMap
    assert(out(1L) == ((true, true)))  // mojibake fixed AND gate passes
    assert(out(2L) == ((false, false)))
  }

  test("stream-static DSIR scoring equals the batch scorer bit-for-bit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // fit the model ONCE on a static corpus, collect its B rows
    val corpus = Seq(
      (1L, "spark table join window agg", true),
      (2L, "spark table join window agg", false),
      (3L, "der hund und die katze", false),
      (4L, "la casa de los gatos", false))
      .toDF("doc_id", "text", "is_en")
    val model = graft.ops.TextAnalysis
      .dsirModel(corpus, "doc_id", "text", col("is_en"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the batch scorer over the same corpus = ground truth
    val batch = graft.ops.TextAnalysis
      .dsirSignals(corpus, "doc_id", "text", col("is_en"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap

    // the STATELESS scorer over a stream of the same docs
    val in = MemoryStream[(Long, String)]
    val q = graft.ops.TextAnalysis.dsirScoreStateless(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", model)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dsir_stream_out").start()
    try {
      in.addData((1L, "spark table join window agg"),
        (3L, "der hund und die katze"))
      q.processAllAvailable()
      in.addData((4L, "la casa de los gatos"))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("dsir_stream_out").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    Seq(1L, 3L, 4L).foreach { id =>
      assert(streamed(id) == batch(id),
        s"doc $id: stream ${streamed(id)} vs batch ${batch(id)}")
    }
  }

  test("the DSIR model survives a parquet round trip (the shippable-artifact claim)") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark table join window agg", true),
      (2L, "der hund und die katze", false))
      .toDF("doc_id", "text", "is_en")
    val model = graft.ops.TextAnalysis
      .dsirModel(corpus, "doc_id", "text", col("is_en"))
    val dir = java.nio.file.Files
      .createTempDirectory("dsir_model").toString + "/model"
    model.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val direct = model.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(reloaded == direct, "model must round-trip bit-exactly")
    // scoring from the RELOADED artifact equals scoring from the live fit
    val a = graft.ops.TextAnalysis.dsirScoreStateless(
      corpus, "doc_id", "text", reloaded).collect().map(_.toSeq).toSet
    val b = graft.ops.TextAnalysis.dsirScoreStateless(
      corpus, "doc_id", "text", direct).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("stream-stream attribution join matches within the interval, drops outside it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Int, min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")

    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val signups = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = StreamingOps.attributionJoin(
      clicks.toDF().toDF("event_id", "user_id", "ts"),
      signups.toDF().toDF("event_id", "user_id", "ts"),
      maxDelay = "1 hour")
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("attr_out").start()
    try {
      signups.addData((100L, 1L, ts(10, 0)), (101L, 2L, ts(10, 5)))
      clicks.addData(
        (200L, 1L, ts(10, 30)), // within 1h of signup 100 → matches
        (201L, 1L, ts(12, 0)),  // 2h after signup 100 → outside interval
        (202L, 3L, ts(10, 15))) // no signup for user 3
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("attr_out")
      .select("click_id", "signup_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((200L, 100L)))
  }

  test("outer attribution join emits unmatched clicks null-padded after the watermark closes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Int, min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")

    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val signups = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = StreamingOps.attributionJoinOuter(
      clicks.toDF().toDF("event_id", "user_id", "ts"),
      signups.toDF().toDF("event_id", "user_id", "ts"),
      maxDelay = "1 hour")
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("attr_outer_out").start()
    try {
      signups.addData((100L, 1L, ts(10, 0)))
      clicks.addData(
        (200L, 1L, ts(10, 30)), // matches signup 100
        (202L, 3L, ts(10, 15))) // no signup for user 3 → outer row later
      q.processAllAvailable()
      // push BOTH watermarks far past the match windows so unmatched
      // state evicts and the null-padded row emits
      signups.addData((900L, 9L, ts(20, 0)))
      clicks.addData((901L, 9L, ts(20, 0)))
      q.processAllAvailable()
      clicks.addData((902L, 9L, ts(20, 1)))
      signups.addData((903L, 9L, ts(20, 1)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("attr_outer_out")
      .select("click_id", "signup_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(rows(200L).contains(100L), s"matched click wrong: $rows")
    assert(rows.get(202L).exists(_.isEmpty), s"unmatched click must surface null-padded: $rows")
  }

  test("closedSessions emits one final row per session once the watermark passes the gap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Int, min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")

    val in = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val sessions = StreamingOps.closedSessions(
      in.toDF().toDF("user_id", "ts", "value"), gapSeconds = 1800, watermark = "1 hour")
    val q = sessions.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("closed_out").start()
    try {
      // user 1: two events 10 min apart = one session
      in.addData((1L, ts(10, 0), 1.0), (1L, ts(10, 10), 2.0))
      q.processAllAvailable()
      assert(spark.table("closed_out").count() == 0,
        "session emitted before the watermark closed it")
      // an unrelated late-hour event pushes the watermark to 13:00 - 1h =
      // 12:00, past user 1's timeout at 10:10 + 30 min → session closes
      in.addData((9L, ts(13, 0), 0.0))
      q.processAllAvailable()
      // one more empty-ish advance so the timed-out state is processed
      in.addData((9L, ts(13, 1), 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val closed = spark.table("closed_out")
      .filter(col("user_id") === 1L)
      .select("session_start", "session_end", "n_events", "total_value").collect()
    assert(closed.length == 1, s"expected exactly one closed session, got ${closed.length}")
    val r = closed.head
    assert(r.getTimestamp(0) == ts(10, 0) && r.getTimestamp(1) == ts(10, 10))
    assert(r.getLong(2) == 2L && r.getDouble(3) == 3.0)
  }

  test("closedSessions splits a gap-exceeding batch into separate sessions inline") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Int, min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")

    val in = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val sessions = StreamingOps.closedSessions(
      in.toDF().toDF("user_id", "ts", "value"), gapSeconds = 1800, watermark = "1 hour")
    val q = sessions.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("split_out").start()
    try {
      // both sessions for user 1 arrive in ONE batch, 2h apart: the first
      // closes inline (gap exceeded within the fold), no watermark needed
      in.addData((1L, ts(9, 0), 1.0), (1L, ts(9, 5), 1.0), (1L, ts(11, 30), 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val closed = spark.table("split_out").filter(col("user_id") === 1L)
      .select("session_start", "n_events", "total_value").collect()
    assert(closed.length == 1)
    assert(closed.head.getTimestamp(0) == ts(9, 0))
    assert(closed.head.getLong(1) == 2L && closed.head.getDouble(2) == 2.0)
  }

  test("closedSessions handles late cross-batch events: extends start within gap, separates beyond gap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Int, min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")

    val in = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val sessions = StreamingOps.closedSessions(
      in.toDF().toDF("user_id", "ts", "value"), gapSeconds = 1800, watermark = "2 hours")
    val q = sessions.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("late_out").start()
    try {
      // batch 1 opens a session at 10:00
      in.addData((1L, ts(10, 0), 1.0))
      q.processAllAvailable()
      // batch 2 delivers two LATE events: 9:45 is within the 30-min gap
      // BEFORE the open session (must extend session_start backward);
      // 8:30 is > gap before it (must become its own earlier session,
      // not be absorbed into [10:00, …]) and sits safely inside the
      // watermark allowance (the operator drops rows at/below watermark)
      in.addData((1L, ts(9, 45), 2.0), (1L, ts(8, 30), 4.0))
      q.processAllAvailable()
      // advance watermark past 10:00 + gap to close the open session
      in.addData((9L, ts(13, 0), 0.0))
      q.processAllAvailable()
      in.addData((9L, ts(13, 1), 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val closed = spark.table("late_out").filter(col("user_id") === 1L)
      .select("session_start", "session_end", "n_events", "total_value")
      .orderBy("session_start").collect()
    assert(closed.length == 2, s"expected 2 sessions, got ${closed.length}")
    assert(closed(0).getTimestamp(0) == ts(8, 30) && closed(0).getTimestamp(1) == ts(8, 30))
    assert(closed(0).getLong(2) == 1L && closed(0).getDouble(3) == 4.0)
    assert(closed(1).getTimestamp(0) == ts(9, 45) && closed(1).getTimestamp(1) == ts(10, 0),
      "late event within gap must extend session_start backward")
    assert(closed(1).getLong(2) == 2L && closed(1).getDouble(3) == 3.0)
  }

  test("incrementalParquetIngest processes only new files, exactly once per run") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("incr_ingest")
    val (src, dest, ckpt) = (s"$base/src", s"$base/dest", s"$base/ckpt")
    def docs(ids: Range) = ids.map(i => (i.toLong, s"doc number $i body")).toDF("doc_id", "text")
    val schema = docs(0 until 1).schema
    def ingest(): Unit = StreamingOps.incrementalParquetIngest(
      spark, src, dest, ckpt, schema)(
      df => df.select(col("doc_id"), length(col("text")).alias("n_chars")))

    docs(0 until 100).write.mode("append").parquet(src)
    ingest()
    assert(spark.read.parquet(dest).count() == 100)
    // second batch of files: ONLY these are processed on the next run
    docs(100 until 150).write.mode("append").parquet(src)
    ingest()
    val out = spark.read.parquet(dest)
    assert(out.count() == 150, "second run must append exactly the new files")
    assert(out.select("doc_id").distinct().count() == 150, "no row ingested twice")
    // no new files → a run is a no-op, not a re-ingest
    ingest()
    assert(spark.read.parquet(dest).count() == 150)
  }

  test("sketchIngest: merged stream partials equal the whole-corpus batch sketch") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sketch_ingest")
    val (src, skd, ckpt) = (s"$base/src", s"$base/sketches", s"$base/ckpt")
    def rows(ids: Range) = ids.map(i =>
      (s"g${i % 3}", i.toLong % 40, i.toDouble)).toDF("grp", "key", "v")
    val schema = rows(0 until 1).schema
    def ingest(): Unit = StreamingOps.sketchIngest(
      spark, src, skd, ckpt, schema, Seq("grp"), "key", "v")

    rows(0 until 120).write.mode("append").parquet(src)
    ingest()
    rows(120 until 200).write.mode("append").parquet(src)
    ingest()

    val profile = StreamingOps.sketchProfile(spark, skd, Seq("grp"),
      ranks = Seq(0.5)).collect().map(r => r.getString(0) -> r).toMap
    val whole = rows(0 until 200)
    // theta: the merged stream profile must be BYTE-identical to sketching
    // the whole corpus in one batch job (canonical ordered-compact form)
    val batchSketches = graft.ops.Profiling.thetaSketch(whole, Seq("grp"), "key")
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("sketch")).toMap
    val exact = whole.groupBy("grp").agg(
      countDistinct("key").alias("nd"), count(lit(1)).alias("n"),
      min("v").alias("mn"), max("v").alias("mx")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(profile.keySet == exact.keySet)
    profile.foreach { case (g, r) =>
      assert(java.util.Arrays.equals(
        r.getAs[Array[Byte]]("theta"), batchSketches(g)), s"theta bytes $g")
      assert(r.getAs[Double]("distinct_est") == exact(g).getAs[Long]("nd").toDouble, g)
      val vs = r.getAs[org.apache.spark.sql.Row]("value_summary")
      assert(vs.getAs[Long]("n") == exact(g).getAs[Long]("n"), g)
      assert(vs.getAs[Double]("min_value") == exact(g).getAs[Double]("mn"), g)
      assert(vs.getAs[Double]("max_value") == exact(g).getAs[Double]("mx"), g)
      assert(r.getAs[Long]("n_rows") == exact(g).getAs[Long]("n"), g)
    }

    // no new files → a run is a no-op: same batches, same profile
    ingest()
    val again = StreamingOps.sketchProfile(spark, skd, Seq("grp"), Seq(0.5))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_rows")).toMap
    assert(again == exact.map { case (g, r) => g -> r.getAs[Long]("n") })
  }

  test("sketchCompact: compacted store profiles identically (theta byte-equal), O(groups) rows") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sketch_compact")
    val (src, skd, ckpt, cpd) =
      (s"$base/src", s"$base/sketches", s"$base/ckpt", s"$base/compacted")
    def rows(ids: Range) = ids.map(i =>
      (s"g${i % 3}", i.toLong % 40, i.toDouble)).toDF("grp", "key", "v")
    val schema = rows(0 until 1).schema
    def ingest(): Unit = StreamingOps.sketchIngest(
      spark, src, skd, ckpt, schema, Seq("grp"), "key", "v")

    // three batches → 3 groups × 3 batches = 9 partial rows
    rows(0 until 80).write.mode("append").parquet(src); ingest()
    rows(80 until 150).write.mode("append").parquet(src); ingest()
    rows(150 until 200).write.mode("append").parquet(src); ingest()
    assert(spark.read.parquet(skd).count() == 9L)

    StreamingOps.sketchCompact(spark, skd, cpd, Seq("grp"))
    // compaction collapses history to ONE row per group — the profile
    // read is O(groups) no matter how many batches accumulated
    assert(spark.read.parquet(cpd).count() == 3L)

    def profile(dir: String) = StreamingOps.sketchProfile(
      spark, dir, Seq("grp"), ranks = Seq(0.25, 0.5, 0.75))
      .collect().map(r => r.getString(0) -> r).toMap
    val raw = profile(skd); val compacted = profile(cpd)
    assert(raw.keySet == compacted.keySet && raw.keySet.size == 3)
    raw.foreach { case (g, r) =>
      val c = compacted(g)
      // theta is canonical → byte-identical through the compaction
      assert(java.util.Arrays.equals(
        r.getAs[Array[Byte]]("theta"), c.getAs[Array[Byte]]("theta")), g)
      assert(r.getAs[Double]("distinct_est") ==
        c.getAs[Double]("distinct_est"), g)
      assert(r.getAs[Long]("n_rows") == c.getAs[Long]("n_rows"), g)
      // KLL merge order may differ internally, but the exact-by-
      // construction fields must survive compaction unchanged
      val (vr, vc) = (r.getAs[org.apache.spark.sql.Row]("value_summary"),
        c.getAs[org.apache.spark.sql.Row]("value_summary"))
      assert(vr.getAs[Long]("n") == vc.getAs[Long]("n"), g)
      assert(vr.getAs[Double]("min_value") == vc.getAs[Double]("min_value"), g)
      assert(vr.getAs[Double]("max_value") == vc.getAs[Double]("max_value"), g)
    }
  }

  test("sketchCompact recovers the store's own lgK: a non-default ingest survives default-arg compaction") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sketch_params")
    val (src, skd, ckpt, cpd) =
      (s"$base/src", s"$base/sketches", s"$base/ckpt", s"$base/compacted")
    // > 2^12 distinct keys so an lgK=14 sketch is past lgK=12's exact
    // mode: compacting through the DEFAULT would downsample the union and
    // CHANGE the estimate (the r12 ADVICE failure this pins)
    def rows(ids: Range) = ids.map(i => ("g0", i.toLong, i.toDouble)).toDF("grp", "key", "v")
    val schema = rows(0 until 1).schema
    rows(0 until 30000).write.mode("append").parquet(src)
    StreamingOps.sketchIngest(spark, src, skd, ckpt, schema,
      Seq("grp"), "key", "v", lgK = 14, kllK = 128)
    // store is self-describing
    val p = spark.read.parquet(skd).select("lgk", "kll_k").distinct().collect()
    assert(p.length == 1 && p(0).getInt(0) == 14 && p(0).getInt(1) == 128)
    // compact with DEFAULT args (12/200): parameters come from the store
    StreamingOps.sketchCompact(spark, skd, cpd, Seq("grp"))
    val pc = spark.read.parquet(cpd).select("lgk", "kll_k").distinct().collect()
    assert(pc.length == 1 && pc(0).getInt(0) == 14 && pc(0).getInt(1) == 128)
    def est(dir: String): Double = StreamingOps.sketchProfile(spark, dir,
      Seq("grp"), Seq(0.5)).collect()(0).getAs[Double]("distinct_est")
    assert(est(cpd) == est(skd),
      "default-arg compaction must not downsample a lgK=14 store")
  }

  test("sketchProfile tolerates legacy null-parameter partials mixed into a self-describing store") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sketch_nullp")
    val (src, skd, ckpt) = (s"$base/src", s"$base/sketches", s"$base/ckpt")
    def rows(ids: Seq[Int]) = ids.map(i => ("g0", i.toLong, i.toDouble)).toDF("grp", "key", "v")
    val schema = rows(Seq(0)).schema
    def ingest(): Unit = StreamingOps.sketchIngest(
      spark, src, skd, ckpt, schema, Seq("grp"), "key", "v")
    rows(0 until 40).write.mode("append").parquet(src)
    ingest()
    rows(40 until 80).write.mode("append").parquet(src)
    ingest()
    val store = spark.read.parquet(skd)
    def est(df: org.apache.spark.sql.DataFrame, dir: String): Double = {
      df.write.mode("overwrite").parquet(dir)
      StreamingOps.sketchProfile(spark, dir, Seq("grp"), Seq(0.5))
        .collect()(0).getAs[Double]("distinct_est")
    }
    val full = est(store, s"$base/asis")
    // one batch's parameter columns nulled (a legacy partial union-read
    // next to self-describing ones): r13 ADVICE — getInt on the null row
    // NPE'd instead of deferring to the store's single non-null pair
    val mixed = store
      .withColumn("lgk", when(col("batch") === 0, lit(null)).otherwise(col("lgk")))
      .withColumn("kll_k", when(col("batch") === 0, lit(null)).otherwise(col("kll_k")))
    assert(est(mixed, s"$base/mixed") == full)
    // a fully-legacy store (every parameter row null) defers to the
    // caller's arguments, same as a store without the columns at all
    val legacy = store
      .withColumn("lgk", lit(null).cast("int"))
      .withColumn("kll_k", lit(null).cast("int"))
    assert(est(legacy, s"$base/legacy") == full)
  }

  test("sketchIngest partials answer the batch-over-batch ingest delta via thetaDiff") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sketch_delta")
    val (src, skd, ckpt) = (s"$base/src", s"$base/sketches", s"$base/ckpt")
    def rows(ids: Seq[Int]) = ids.map(i => ("g0", i.toLong, i.toDouble)).toDF("grp", "key", "v")
    val schema = rows(Seq(0)).schema
    def ingest(): Unit = StreamingOps.sketchIngest(
      spark, src, skd, ckpt, schema, Seq("grp"), "key", "v")

    // batch 0: keys 0..49; batch 1: keys 30..79 (20 returning, 30 new)
    rows(0 until 50).write.mode("append").parquet(src)
    ingest()
    rows(30 until 80).write.mode("append").parquet(src)
    ingest()

    // the per-batch partial rows ARE the delta model: diff/intersect the
    // two batches' theta columns without re-reading any source data
    val sk = spark.read.parquet(skd)
      .select(col("batch"), col("theta")).collect()
      .map(r => r.getAs[Long]("batch") -> r.getAs[Array[Byte]]("theta")).toMap
    val pair = Seq((sk(1L), sk(0L))).toDF("n", "o").select(
      graft.functions.SketchAggs.thetaDiff(col("n"), col("o")).alias("new_keys"),
      graft.functions.SketchAggs.thetaPair(col("n"), col("o"))
        .getField("intersect_est").alias("returning")).head()
    assert(pair.getDouble(0) == 30.0, s"new keys: ${pair.getDouble(0)}")
    assert(pair.getDouble(1) == 20.0, s"returning: ${pair.getDouble(1)}")
  }

  test("nearDupIngest drops near-dups within and across batches, replay-safe") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("neardup_ingest")
    val (src, dest, ckpt, idx) =
      (s"$base/src", s"$base/dest", s"$base/ckpt", s"$base/index")
    def doc(id: Long, vocab: String, swap: Int = 0) =
      (id, (1 to 50).map(i => if (i <= swap) s"sw${vocab}$i" else s"$vocab$i").mkString(" "))
    val schema = Seq(doc(0L, "a")).toDF("doc_id", "text").schema
    def ingest(): Unit = StreamingOps.nearDupIngest(
      spark, src, dest, ckpt, idx, schema, "doc_id", "text")

    // batch 1: doc 2 is a near-dup of doc 1 (48/50 shared tokens →
    // jaccard 48/52 ≈ 0.923 ≥ 0.9); docs 3-5 disjoint vocabularies
    Seq(doc(1, "a"), doc(2, "a", swap = 2), doc(3, "b"), doc(4, "c"), doc(5, "d"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    ingest()
    val after1 = spark.read.parquet(dest).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(after1 == Set(1L, 3L, 4L, 5L), s"within-batch near-dup must drop: $after1")

    // batch 2: doc 6 near-dups doc 3 ACROSS batches (index probe), doc 7 fresh
    Seq(doc(6, "b", swap = 2), doc(7, "e"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    ingest()
    val after2 = spark.read.parquet(dest).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(after2 == Set(1L, 3L, 4L, 5L, 7L), s"cross-batch near-dup must drop: $after2")

    // the index holds exactly the survivors' signatures
    assert(spark.read.parquet(idx).select("__id")
      .collect().map(_.getLong(0)).toSet == after2)

    // no new files → a run commits nothing and rewrites nothing
    ingest()
    val out = spark.read.parquet(dest)
    assert(out.count() == 5 && out.select("doc_id").distinct().count() == 5,
      "replay with no new files must be a no-op")
  }

  test("embeddingNearDupIngest drops cosine near-dups within and across batches") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("emb_ingest")
    val (src, dest, ckpt, idx) =
      (s"$base/src", s"$base/dest", s"$base/ckpt", s"$base/index")
    def basis(axis: Int, noise: Float = 0f) =
      Array.tabulate(8)(i => (if (i == axis) 1f else 0f) + (if (i == (axis + 1) % 8) noise else 0f))
    val schema = Seq((0L, basis(0))).toDF("vec_id", "embedding").schema
    def ingest(): Unit = StreamingOps.embeddingNearDupIngest(
      spark, src, dest, ckpt, idx, schema, "vec_id", "embedding",
      threshold = 0.9, dim = 8)

    // batch 1: vec 2 is a noisy copy of vec 1 (cosine ≈ 0.995); 3-4 orthogonal
    Seq((1L, basis(0)), (2L, basis(0, 0.1f)), (3L, basis(2)), (4L, basis(4)))
      .toDF("vec_id", "embedding").write.mode("append").parquet(src)
    ingest()
    assert(spark.read.parquet(dest).select("vec_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L))

    // batch 2: vec 5 near-dups vec 3 across batches; vec 6 fresh
    Seq((5L, basis(2, 0.1f)), (6L, basis(6)))
      .toDF("vec_id", "embedding").write.mode("append").parquet(src)
    ingest()
    assert(spark.read.parquet(dest).select("vec_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L, 6L))
    assert(spark.read.parquet(idx).select("__id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L, 6L))

    // no new files → a run commits nothing and rewrites nothing
    ingest()
    val out = spark.read.parquet(dest)
    assert(out.count() == 4 && out.select("vec_id").distinct().count() == 4,
      "replay with no new files must be a no-op")
  }

  test("streaming corpus ingest: dedup then chunk matches the batch pipeline") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

    // a micro-corpus arriving over two batches, with a cross-batch dup
    val b1 = Seq((1L, (1 to 50).map(i => s"w$i").mkString(" "), ts(0)),
      (2L, "short doc here", ts(1)))
    val b2 = Seq((3L, (1 to 50).map(i => s"w$i").mkString(" "), ts(2)), // dup of 1
      (4L, (1 to 70).map(i => s"x$i").mkString(" "), ts(3)))
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    // the streaming face of the batch prep pipeline: watermarked exact
    // dedup, then context-window chunking on the surviving docs — the
    // chunk expressions compose onto the stream unchanged because
    // chunkDocuments is pure per-row projection (no shuffle, no state)
    val deduped = StreamingOps.dedupStream(
      in.toDF().toDF("doc_id", "text", "ts"), "text", "ts")
    val chunked = graft.ops.Packing.chunkDocuments(
      deduped, "doc_id", "text", maxTokens = 16, stride = 16)
    val q = chunked.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ingest_out").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ingest_out")
      .select("doc_id", "chunk_ix", "n_chunk_tokens", "chunk_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet

    // batch reference: same dedup (keep first id per normalized content)
    // then same chunking over the kept docs
    val all = (b1 ++ b2).toDF("doc_id", "text", "ts")
    val kept = all.withColumn("__k",
        xxhash64(graft.functions.TextFunctions.normalizeText(col("text"))))
      .groupBy("__k").agg(min("doc_id").alias("keep"))
      .join(all, col("keep") === col("doc_id"))
      .select("doc_id", "text")
    val batch = graft.ops.Packing.chunkDocuments(kept, "doc_id", "text", 16, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet

    assert(streamed == batch)
    assert(streamed.map(_._1) == Set(1L, 2L, 4L), "doc 3 must dedup away")
    assert(streamed.count(_._1 == 4L) == 5, "70 tokens at window 16 → 5 chunks")
  }

  test("batch session_window agrees with lag-gap sessionization (q57 vs q23)") {
    val events = graft.sources.Tables.events(spark, sf001)
    val native = TimeSeries.sessionWindowAgg(events, "user_id", "ts", 1800)
      .select(col("user_id"), col("session_start"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    val lagGap = TimeSeries.sessionStats(events, "user_id", "ts", 1800,
      tieBreak = Seq(col("event_id")))
      .select(col("user_id"), col("session_start"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    // no fixture gap lands exactly on the 1800s boundary, so the two
    // boundary conventions produce identical sessions
    assert(native == lagGap)
    assert(native.nonEmpty)
  }
}
