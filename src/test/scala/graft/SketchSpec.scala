package graft

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.kll.KllSketch
import org.apache.datasketches.memory.Memory

import org.apache.spark.sql.functions._

import graft.functions.{SketchAggs, TextFunctions}
import graft.ops.Profiling
import graft.sources.Tables

/** The q243/q245/q246 sketch-tier guarantees, pinned against exact
  * computations on the same data. Theta and frequent-items are fully
  * deterministic families, so their pins are equalities and hard
  * brackets; KLL is randomized internally (compactor coin flips), so its
  * pins are the exact-by-construction fields (n/min/max) plus a rank
  * bound far looser than the 99%-confidence eps(k).
  */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  private def orders = Tables.orders(spark, sf001)

  test("theta: exact-mode estimates equal exact distinct, per group and rolled up") {
    val perGroup = Profiling.thetaSketch(orders, Seq("o_orderstatus"), "o_custkey")
    val exact = orders.groupBy("o_orderstatus")
      .agg(countDistinct("o_custkey").alias("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perGroup.collect().foreach { r =>
      val est = r.getAs[Double]("estimate")
      assert(est == exact(r.getString(0)).toDouble,
        s"exact-mode theta estimate must be exact: ${r.getString(0)}")
    }
    val rolled = Profiling.thetaRollup(perGroup).head()
    val globalExact = orders.select(countDistinct("o_custkey")).head().getLong(0)
    assert(rolled.getAs[Double]("estimate") == globalExact.toDouble)
    assert(rolled.getAs[Long]("n_rows") == orders.count())
  }

  test("theta: union of per-group partials is BYTE-identical to the whole-corpus sketch") {
    val perGroup = Profiling.thetaSketch(orders, Seq("o_orderstatus"), "o_custkey")
    val merged = perGroup
      .agg(SketchAggs.thetaUnion(col("sketch"), 12).alias("sketch"))
      .head().getAs[Array[Byte]]("sketch")
    val whole = orders.agg(
      SketchAggs.thetaSketch(col("o_custkey"), 12).alias("sketch"))
      .head().getAs[Array[Byte]]("sketch")
    // the ordered compact form is canonical: same retained hash set →
    // same bytes, regardless of how the build was partitioned
    assert(java.util.Arrays.equals(merged, whole))
  }

  test("theta: overlap matrix agrees with the exact overlap in exact mode") {
    val thetaM = Profiling.thetaOverlapMatrix(
      Profiling.thetaSketch(orders, Seq("o_orderstatus"), "o_custkey"),
      "o_orderstatus")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val exactM = Profiling.overlapMatrixExact(orders, "o_orderstatus", "o_custkey")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(thetaM.keySet == exactM.keySet)
    exactM.foreach { case (k, e) =>
      val t = thetaM(k)
      assert(t.getAs[Double]("intersect_est") == e.getAs[Long]("n_shared").toDouble, k)
      assert(t.getAs[Double]("union_est") == e.getAs[Long]("n_union").toDouble, k)
    }
  }

  test("theta: A-NOT-B agrees with the exact set difference in exact mode") {
    val perGroup = Profiling.thetaSketch(orders, Seq("o_orderstatus"), "o_custkey")
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("sketch")).toMap
    val sets = orders.select(col("o_orderstatus"), col("o_custkey")).distinct()
      .collect().groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val spark2 = spark
    import spark2.implicits._
    for (a <- perGroup.keys; b <- perGroup.keys if a != b) {
      val est = Seq((perGroup(a), perGroup(b))).toDF("a", "b")
        .select(SketchAggs.thetaDiff(col("a"), col("b")).alias("d"))
        .head().getDouble(0)
      assert(est == (sets(a) -- sets(b)).size.toDouble, s"$a \\ $b")
    }
  }

  test("theta: new-vs-returning report equals the exact anti/semi counts in exact mode") {
    val cut = to_date(lit("1998-07-01"))
    val report = Profiling.thetaNewKeys(
      Profiling.thetaSketch(orders.filter(col("o_orderdate") < cut),
        Seq("o_orderpriority"), "o_custkey"),
      Profiling.thetaSketch(orders.filter(col("o_orderdate") >= cut),
        Seq("o_orderpriority"), "o_custkey"),
      "o_orderpriority")
      .collect().map(r => r.getString(0) -> r).toMap
    def dset(p: org.apache.spark.sql.Column) = orders.filter(p)
      .select(col("o_orderpriority"), col("o_custkey")).distinct()
    val newD = dset(col("o_orderdate") >= cut)
    val oldD = dset(col("o_orderdate") < cut)
    val exact = newD.join(oldD, Seq("o_orderpriority", "o_custkey"), "left_anti")
      .groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report.keySet == exact.keySet && report.nonEmpty)
    exact.foreach { case (k, n) =>
      assert(report(k).getAs[Double]("est_new_keys") == n.toDouble, k)
    }
  }

  test("theta: the gold sketch table reads back partition-PRUNED and exact-mode exact") {
    val dir = s"${graft.queries.Fixtures.targetDir}/graft_part/spec/cust_sketch_monthly"
    Profiling.thetaSketch(
        orders.withColumn("month", date_format(col("o_orderdate"), "yyyy-MM")),
        Seq("month"), "o_custkey")
      .write.mode("overwrite").partitionBy("month").parquet(dir)
    val readback = spark.read.parquet(dir)
      .where(col("month") >= "1998-07" && col("month") <= "1998-09")
    // the quarter filter must prune at the LISTING (q73's discipline):
    // a partition filter on the scan, not a post-scan Filter
    val plan = readback.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("month"), plan)
    val est = Profiling.thetaRollup(readback).head().getAs[Double]("estimate")
    val exact = orders
      .filter(date_format(col("o_orderdate"), "yyyy-MM").between("1998-07", "1998-09"))
      .select(countDistinct("o_custkey")).head().getLong(0)
    assert(est == exact.toDouble, s"quarter estimate $est vs exact $exact")
  }

  test("theta store lifecycle: append = rebuild byte-exact, old partitions untouched, read exact") {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def dataFiles(dir: String): Map[String, (Long, Long)] = {
      val out = scala.collection.mutable.Map[String, (Long, Long)]()
      val it = fs.listFiles(new Path(dir), true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          out += f.getPath.toString -> ((f.getLen, f.getModificationTime))
      }
      out.toMap
    }
    val o = orders.withColumn("month",
      date_format(col("o_orderdate"), "yyyy-MM"))
    val incr = s"${graft.queries.Fixtures.targetDir}/graft_part/spec/cust_sketch_incr"
    val full = s"${graft.queries.Fixtures.targetDir}/graft_part/spec/cust_sketch_full"

    // bootstrap history, snapshot its files, then append September
    Profiling.thetaStoreBuild(o.filter(col("month") < "1998-09"),
      "month", "o_custkey", incr)
    val before = dataFiles(incr)
    Profiling.thetaStoreAppend(o.filter(col("month") === "1998-09"),
      "month", "o_custkey", incr)
    val after = dataFiles(incr)

    // the append wrote ONLY the new month: every pre-existing file is
    // still there with identical length and mtime, and the only new
    // files sit under month=1998-09
    val missing = before.keySet -- after.keySet
    val changed = before.collect {
      case (p, meta) if after.contains(p) && after(p) != meta =>
        s"$p: $meta -> ${after(p)}"
    }
    assert(missing.isEmpty && changed.isEmpty,
      s"append touched pre-existing files; missing=$missing changed=$changed")
    val newFiles = after.keySet -- before.keySet
    assert(newFiles.nonEmpty && newFiles.forall(_.contains("month=1998-09")),
      s"unexpected new files: $newFiles")

    // append-then-merge EQUALS rebuild-from-scratch over the same
    // ingested history, byte-for-byte per month (theta's
    // ordered-compact form is canonical)
    Profiling.thetaStoreBuild(o.filter(col("month") <= "1998-09"),
      "month", "o_custkey", full)
    def bytesByMonth(dir: String): Map[String, Array[Byte]] =
      spark.read.parquet(dir).select(col("month"), col("sketch"))
        .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val a = bytesByMonth(incr); val b = bytesByMonth(full)
    assert(a.keySet == b.keySet)
    a.foreach { case (m, bs) =>
      assert(java.util.Arrays.equals(bs, b(m)), s"month $m bytes differ") }

    // idempotent replay: re-appending the same batch leaves the same bytes
    Profiling.thetaStoreAppend(o.filter(col("month") === "1998-09"),
      "month", "o_custkey", incr)
    assert(java.util.Arrays.equals(
      bytesByMonth(incr)("1998-09"), b("1998-09")))

    // the quarter readback off the incrementally-built store is
    // exact-mode exact vs the fact table (the q253 twin equality)
    val est = Profiling.thetaRollup(
      spark.read.parquet(incr)
        .where(col("month").between("1998-07", "1998-09")))
      .head().getAs[Double]("estimate")
    val exact = orders
      .filter(date_format(col("o_orderdate"), "yyyy-MM")
        .between("1998-07", "1998-09"))
      .select(countDistinct("o_custkey")).head().getLong(0)
    assert(est == exact.toDouble, s"quarter estimate $est vs exact $exact")
  }

  test("freq: every reported count is bracketed and nothing above max-error is missed") {
    val docs = Tables.documents(spark, sf001)
    val toksDf = docs.select(col("lang"),
      explode(TextFunctions.tokens(col("text"))).alias("token"))
    val exact = toksDf.groupBy("lang", "token").count().collect()
      .groupBy(_.getString(0))
      .map { case (lang, rows) =>
        lang -> rows.map(r => r.getString(1) -> r.getLong(2)).toMap
      }
    val sketched = Profiling.freqSketch(toksDf, Seq("lang"), "token", 256).collect()
    assert(sketched.nonEmpty)
    sketched.foreach { r =>
      val lang = r.getString(0)
      val st = SketchAggs.freqDecode(r.getAs[Array[Byte]]("sketch"))
      val sk = st.sk
      assert(st.totalWeight == exact(lang).values.sum)
      val reported = sk.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
      // hard deterministic bracket on every reported item
      reported.foreach { row =>
        val truth = exact(lang).getOrElse(row.getItem, 0L)
        assert(row.getLowerBound <= truth && truth <= row.getUpperBound,
          s"$lang/${row.getItem}: [${row.getLowerBound},${row.getUpperBound}] vs $truth")
      }
      // NO_FALSE_NEGATIVES: any item with true count above the sketch's
      // maximum error MUST appear
      val reportedSet = reported.map(_.getItem).toSet
      val maxErr = st.maxError
      exact(lang).foreach { case (tok, n) =>
        if (n > maxErr) assert(reportedSet.contains(tok), s"missed $lang/$tok ($n > $maxErr)")
      }
    }
  }

  test("freq: merged per-group sketches still bracket the global exact counts") {
    val docs = Tables.documents(spark, sf001)
    val toksDf = docs.select(col("lang"),
      explode(TextFunctions.tokens(col("text"))).alias("token"))
    val globalExact = toksDf.groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val mergedBytes = Profiling.freqSketch(toksDf, Seq("lang"), "token", 256)
      .agg(SketchAggs.freqMerge(col("sketch"), 256).alias("sketch"))
      .head().getAs[Array[Byte]]("sketch")
    val st = SketchAggs.freqDecode(mergedBytes)
    val sk = st.sk
    assert(st.totalWeight == globalExact.values.sum)
    val reported = sk.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
    assert(reported.nonEmpty)
    reported.foreach { row =>
      val truth = globalExact.getOrElse(row.getItem, 0L)
      assert(row.getLowerBound <= truth && truth <= row.getUpperBound, row.getItem)
    }
  }

  test("freq envelope: self-identifying magic, raw-library fallback, clear failure on garbage") {
    // round-trip: the envelope is magic-prefixed and restores weight/error
    val sk = new org.apache.datasketches.frequencies.ItemsSketch[String](64)
    (1 to 100).foreach(i => sk.update(s"tok${i % 7}"))
    val st = new SketchAggs.FreqState(sk, 5L, 3L)
    val bytes = SketchAggs.freqEncode(st)
    assert(bytes(0) == 'G'.toByte && bytes(1) == 1.toByte)
    val back = SketchAggs.freqDecode(bytes)
    assert(back.totalWeight == st.totalWeight && back.maxError == st.maxError)
    // raw DataSketches bytes (a store persisted with the library directly,
    // the pre-envelope on-disk format): decoded via the fallback with
    // lost = 0, not misread as a garbage weight header
    val raw = sk.toByteArray(new org.apache.datasketches.common.ArrayOfStringsSerDe)
    val legacy = SketchAggs.freqDecode(raw)
    assert(legacy.totalWeight == sk.getStreamLength && legacy.lostWeight == 0L)
    // version-0 envelope (the round-12 headerless on-disk form:
    // [8B weight][8B maxError][library bytes], no magic) keeps decoding —
    // the format is documented as persistable, so a store written under
    // it must not be orphaned (r13 ADVICE)
    val v0 = java.nio.ByteBuffer.allocate(16 + raw.length)
      .putLong(st.totalWeight).putLong(st.maxError).put(raw).array()
    val backV0 = SketchAggs.freqDecode(v0)
    assert(backV0.totalWeight == st.totalWeight && backV0.maxError == st.maxError)
    assert(backV0.lostWeight == 5L && backV0.lostError == 3L)
    // garbage fails with the clear message, not a BufferUnderflowException
    val e = intercept[IllegalArgumentException] {
      SketchAggs.freqDecode(Array[Byte](9, 9, 9, 9, 9, 9, 9, 9, 9))
    }
    assert(e.getMessage.contains("not a graft freq envelope"), e.getMessage)
    val short = intercept[IllegalArgumentException] {
      SketchAggs.freqDecode(Array[Byte](1, 2, 3))
    }
    assert(short.getMessage.contains("not a graft freq envelope"), short.getMessage)
  }

  test("kmv: bottom-k is a monoid (per-group minima union to the whole-corpus minima)") {
    val perGroup = Profiling.kmvSketch(orders, Seq("o_orderstatus"), "o_custkey", k = 32)
      .collect().map(_.getAs[scala.collection.Seq[Long]]("mins"))
    val mergedByHand = perGroup.flatten.distinct.sorted.take(32).toSeq
    val whole = Profiling.kmvSketch(
      orders.withColumn("__all", lit(1)), Seq("__all"), "o_custkey", k = 32)
      .head()
    assert(whole.getAs[scala.collection.Seq[Long]]("mins").toSeq == mergedByHand,
      "merge order / partitioning must not change the k minima")
  }

  test("kmv: exact below k, inside the deterministic rsd bound above it") {
    import spark.implicits._
    // 20 distinct values with k=32: the sketch holds every hash, the
    // estimate IS the exact count
    val small = (1 to 200).map(i => ("g", (i % 20).toLong)).toDF("g", "v")
    val ex = Profiling.kmvSketch(small, Seq("g"), "v", k = 32).head()
    assert(ex.getAs[Long]("n_kept") == 20L)
    assert(ex.getAs[Double]("est_distinct") == 20.0)

    // estimation mode on the fixture: 999 distinct custkeys, k=32 →
    // rsd ≈ 1/sqrt(30) ≈ 18%; the draw is deterministic but assert the
    // 3-sigma envelope the estimator guarantees in distribution
    val whole = Profiling.kmvSketch(
      orders.withColumn("__all", lit(1)), Seq("__all"), "o_custkey", k = 32)
      .head()
    val exact = orders.select(countDistinct("o_custkey")).head().getLong(0)
    val est = whole.getAs[Double]("est_distinct")
    val rsd = 1.0 / math.sqrt(30.0)
    assert(math.abs(est - exact) <= 3 * rsd * exact,
      s"KMV estimate $est vs exact $exact outside 3*rsd")
  }

  test("kll: rollup n/min/max are exact and quantiles sit within the rank bound") {
    val ranks = Seq(0.25, 0.5, 0.75, 0.95)
    val rolled = Profiling.kllRollup(
      Profiling.kllSketch(orders, Seq("o_orderstatus"), "o_totalprice"),
      ranks).head()
    val n = orders.count()
    assert(rolled.getAs[Long]("n") == n)
    assert(rolled.getAs[Long]("n_rows") == n)
    val mm = orders.agg(
      min(col("o_totalprice").cast("double")),
      max(col("o_totalprice").cast("double"))).head()
    assert(rolled.getAs[Double]("min_value") == mm.getDouble(0))
    assert(rolled.getAs[Double]("max_value") == mm.getDouble(1))

    // each returned quantile's EXACT rank must be within 3x the sketch's
    // 99%-confidence normalized rank error (k=200 → eps ≈ 1.65%)
    val eps = KllSketch.getNormalizedRankError(200, false)
    val qs = rolled.getAs[scala.collection.Seq[Double]]("quantiles")
    val prices = orders.select(col("o_totalprice").cast("double"))
      .as[Double].collect().sorted
    ranks.zip(qs).foreach { case (r, q) =>
      val exactRank = prices.count(_ <= q).toDouble / n
      assert(math.abs(exactRank - r) <= 3 * eps,
        s"rank $r -> $q: exact rank $exactRank off by more than ${3 * eps}")
    }
  }
}
