package graft

import org.apache.spark.sql.functions._

import graft.functions.{SimHash64, TextFunctions}
import graft.sources.Tables

/** AQE skew splitting and the native SimHash expression.
  */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("AQE splits a skewed join partition at runtime (the no-salt scale path)") {
    // the skew fix this library leans on at scale is AQE's
    // OptimizeSkewedJoin — prove it fires: one key holds ~95% of the left
    // side, thresholds are lowered to fixture scale, broadcast is disabled
    // so the join is sort-merge, and the executed plan must carry the
    // skew=true marker.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(200000)
        .select((when(col("id") % 20 =!= 0, lit(0L)).otherwise(col("id"))).alias("k"),
          concat(lit("payload_"), col("id")).alias("v"))
      val right = spark.range(2000).select(col("id").alias("k"),
        concat(lit("dim_"), col("id")).alias("w"))
      // count() would spawn its own QueryExecution — collect() executes
      // THIS frame's plan, which is where AQE finalizes the skew split
      val joined = left.join(right, "k")
      assert(joined.collect().length > 0)
      val p = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("skew=true"),
        s"OptimizeSkewedJoin did not split the skewed partition:\n$p")
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
    }
  }

  test("AQE skew-split fires inside minHashNearDupAgainst on a boilerplate-heavy " +
      "corpus and results still match the constructed truth") {
    // The Dedup scaladoc's skew claim, validated where it holds: the
    // ASYMMETRIC incremental band join (small batch × large corpus). 19500
    // of 20000 corpus docs share the boilerplate shingle set (identical or
    // one-token variants → the same/overlapping band buckets), so the
    // corpus side of every hot (band, key) partition is fat while the
    // batch side is thin — exactly the shape AQE's OptimizeSkewedJoin can
    // split (it replicates the thin side). NOTE the SYMMETRIC self-join
    // variant is NOT split by AQE — both sides of the hot bucket are
    // skewed, and a both-sides split would need a chunk-pair cartesian;
    // the scaladoc documents exact-dedup-first ordering as the mitigation
    // there. Ground truth is constructed: token sets are namespaced per
    // doc except the boilerplate, so the qualifying pair set is known in
    // closed form (batch boiler × corpus boiler-or-variant, J = 1 or
    // 16/17 ≈ 0.941 ≥ 0.9; all other pairs share zero tokens).
    // minHashNearDupAgainst returns a localCheckpoint'd frame, so the
    // internal band-join plan is captured via a QueryExecutionListener.
    val boiler = "standard legal disclaimer footer all rights reserved " +
      "confidential do not distribute intended only for the addressee"
    require(boiler.split(" ").distinct.length == 16)
    val corpus = (0 until 20000).map { i =>
      val text =
        if (i < 19000) boiler                      // identical boilerplate
        else if (i < 19500) s"$boiler variant${i}x" // one-token variant, J = 16/17
        else s"unique${i}a word${i}b token${i}c filler${i}d content${i}e " +
          s"item${i}f extra${i}g more${i}h tail${i}i end${i}j"
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val batch = (0 until 40).map { i =>
      val id = 100000L + i
      val text = if (i < 10) boiler
        else s"batchuniq${i}a bword${i}b btok${i}c bfill${i}d bcont${i}e " +
          s"bitem${i}f bextra${i}g bmore${i}h btail${i}i bend${i}j"
      (id, text)
    }.toDF("doc_id", "text")
    val expected = (for {
      b <- 0 until 10
      c <- 0 until 19500
    } yield (100000L + b, c.toLong)).toSet

    val plans = new scala.collection.concurrent.TrieMap[Long, String]
    val seq = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit =
        // formatted mode — the skew marker (AQEShuffleRead skew=true) does
        // not appear in the simple treeString
        plans.put(seq.incrementAndGet(), qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions").map(k => k -> conf.getOption(k))
    spark.listenerManager.register(listener)
    try {
      // the suite session runs 4 shuffle partitions; skew DETECTION needs
      // partition-count contrast (hot vs median) — at 4 partitions every
      // partition holds hot band keys and none exceeds 2x the median
      conf.set("spark.sql.shuffle.partitions", "32")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // q93's exactness-grade layout: banding miss ≈ 1e-11 per pair at
      // J ≥ 0.9, so the LSH pair set equals the constructed truth
      val corpusSig = graft.ops.Dedup.minHashSignatures(
        corpus, "doc_id", "text", shingleK = 1, numHashes = 48)
      val got = graft.ops.Dedup
        .minHashNearDupAgainst(corpusSig, batch, "doc_id", "text",
          threshold = 0.9, shingleK = 1, bands = 16, rowsPerBand = 3,
          estMargin = 0.35)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      assert(plans.values.exists(_.contains("skew=true")),
        s"no executed plan carried AQE's skew split marker " +
          s"(${plans.size} plans captured):\n" +
          plans.values.map(p => p.linesIterator.filter(l =>
            l.contains("Join") || l.contains("ShuffleRead") || l.contains("Exchange"))
            .mkString("\n")).mkString("\n=== plan ===\n"))
      assert(got == expected,
        s"skew-split band join diverged from constructed truth: " +
          s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    } finally {
      spark.listenerManager.unregister(listener)
      saved.foreach { case (k, v) =>
        v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
      }
    }
  }

  test("SimHash64 expression matches a reference implementation and runs under codegen") {
    def refSimhash(toks: Seq[String]): Long = {
      val votes = new Array[Int](64)
      toks.foreach { t =>
        val bs = t.getBytes("UTF-8")
        var h = 0xcbf29ce484222325L
        bs.foreach { b => h ^= (b & 0xffL); h *= 0x100000001b3L }
        (0 until 64).foreach { j =>
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        }
      }
      (0 until 64).foldLeft(0L)((acc, j) => if (votes(j) > 0) acc | (1L << j) else acc)
    }
    val docs = Tables.documents(spark, sf001).limit(50)
    val got = docs.select(col("doc_id"),
        SimHash64(TextFunctions.tokens(col("text"))).alias("sh"))
      .as[(Long, Long)].collect().toMap
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect()
    texts.foreach { case (id, text) =>
      val toks = text.trim.toLowerCase.split("\\s+").toSeq
      assert(got(id) == refSimhash(toks), s"doc $id simhash mismatch")
    }
    // interpreted path (eval) must agree with codegen
    val one = Seq(Seq("alpha", "beta", "gamma")).toDF("toks")
    val viaExpr = one.select(SimHash64(col("toks"))).head().getLong(0)
    assert(viaExpr == refSimhash(Seq("alpha", "beta", "gamma")))
  }

  test("SimHash64 registers as a SQL function") {
    SimHash64.register(spark)
    val r = spark.sql("SELECT simhash64(array('a','b')) AS h").head().getLong(0)
    assert(r != 0L)
  }

  test("GraftFunctions.registerAll installs the SQL surface in a live session") {
    GraftFunctions.registerAll(spark)
    assert(spark.sql("SELECT simhash64(array('x')) AS h").head().getLong(0) != 0L)
    assert(spark.sql(
      "SELECT size(hyperplane_sketch(array(CAST(1.0 AS DOUBLE)), 7, 64, 1)) AS n")
      .head().getInt(0) == 1)
    val top = spark.sql(
      """SELECT top_k_pairs(id, s, 1) AS t FROM VALUES (5L, 0.2), (6L, 0.8) AS v(id, s)""")
      .selectExpr("t[0].neighbor_id").head().getLong(0)
    assert(top == 6L)
  }

  test("rangeJoinBinned equals the naive inequality join on fixture events") {
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.events(spark, sf001)
    val incidents = ev.filter(col("event_type") === "error" && col("event_id") % 17 === 0)
      .select(col("event_id").alias("incident_id"), col("ts").alias("w_start"),
        (col("ts") + expr("INTERVAL 45 MINUTES")).alias("w_end"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("incident_id", "event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = canon(incidents.join(ev,
      col("ts") >= col("w_start") && col("ts") < col("w_end")))
    val binned = canon(graft.ops.Joins.rangeJoinBinned(incidents, ev,
      "w_start", "w_end", "ts", binSeconds = 1800))
    assert(binned == naive)
    assert(binned.nonEmpty)
  }

  test("rangeJoinBinned yields zero rows for inverted intervals, not a bin explosion") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // end BEFORE start: sequence(a, b) would descend into a huge array
    val intervals = Seq((1L, "2024-06-01 00:00:00", "2024-01-01 00:00:00"))
      .toDF("iid", "s", "e")
      .select(col("iid"), to_timestamp(col("s")).alias("w_start"),
        to_timestamp(col("e")).alias("w_end"))
    val points = Seq((10L, "2024-03-01 00:00:00"))
      .toDF("pid", "t").select(col("pid"), to_timestamp(col("t")).alias("ts"))
    val got = graft.ops.Joins.rangeJoinBinned(intervals, points,
      "w_start", "w_end", "ts", binSeconds = 60)
    assert(got.count() == 0)
  }

  test("rangeJoinBinned boundary semantics: start inclusive, end exclusive, long spans") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val intervals = Seq((1L, "2024-01-01 00:00:00", "2024-01-01 10:00:00"))
      .toDF("iid", "s", "e")
      .select(col("iid"), to_timestamp(col("s")).alias("w_start"),
        to_timestamp(col("e")).alias("w_end"))
    val points = Seq(
      (10L, "2024-01-01 00:00:00"),  // == start: included
      (11L, "2024-01-01 05:30:00"),  // mid-span (bin 11 of 20): included
      (12L, "2024-01-01 10:00:00"),  // == end: excluded
      (13L, "2023-12-31 23:59:59")   // before: excluded
    ).toDF("pid", "t").select(col("pid"), to_timestamp(col("t")).alias("ts"))
    val got = graft.ops.Joins.rangeJoinBinned(intervals, points,
      "w_start", "w_end", "ts", binSeconds = 1800)
      .select("pid").collect().map(_.getLong(0)).toSet
    assert(got == Set(10L, 11L))
  }

  test("withWideShuffle is reference-counted: nested and concurrent scopes restore the ceiling once") {
    import graft.ops.DedupMinHash.WideShuffle
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val before = spark.conf.getOption(key)
    val wide = WideShuffle.target(spark).toString

    // deterministic interleaving (the r13 race, replayed single-threaded):
    // a naive set/restore would restore `before` at the INNER exit and run
    // the rest of the outer scope un-widened
    WideShuffle.enter(spark)
    assert(spark.conf.getOption(key).contains(wide))
    WideShuffle.enter(spark)
    WideShuffle.exit(spark)
    assert(spark.conf.getOption(key).contains(wide),
      "inner exit must not restore while the outer scope is still active")
    WideShuffle.exit(spark)
    assert(spark.conf.getOption(key) == before, "last exit restores the pre-entry value")

    // a session whose ceiling is already above the target is registered
    // without being modified — exit must not clobber the user's value
    spark.conf.set(key, (WideShuffle.target(spark) * 4).toString)
    val userSet = spark.conf.getOption(key)
    WideShuffle.enter(spark); WideShuffle.exit(spark)
    assert(spark.conf.getOption(key) == userSet)
    before match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }

    // end-to-end: two scoped operators racing on one session produce the
    // same pairs as a solo run and leave the ceiling exactly as found
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val docs = (0 until 60)
      .map(i => (i.toLong, s"alpha beta gamma delta epsilon${i % 6} zeta eta theta"))
      .toDF("doc_id", "text")
    val solo = graft.ops.Dedup.minHashNearDup(docs, "doc_id", "text").count()
    val racing = (1 to 2).map(_ =>
      Future(graft.ops.Dedup.minHashNearDup(docs, "doc_id", "text").count()))
    racing.foreach(f => assert(Await.result(f, 180.seconds) == solo))
    assert(spark.conf.getOption(key) == before)
  }
}
