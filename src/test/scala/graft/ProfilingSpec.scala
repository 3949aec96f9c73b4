package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, LshParams, Profiling}
import graft.sources.Tables

class ProfilingSpec extends SparkSpec {
  import spark.implicits._

  test("profile computes null/distinct/min/max per column in one pass") {
    val df = Seq(
      (1L, Double.box(10.0), "a"),
      (2L, null.asInstanceOf[java.lang.Double], "b"),
      (3L, Double.box(30.0), "a")).toDF("id", "v", "s")
    val p = Profiling.profile(df, Seq("id", "v", "s")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("v").getAs[Long]("null_count") == 1L)
    assert(p("v").getAs[Long]("distinct_count") == 2L)
    assert(p("v").getAs[String]("min_value") == "10.0")
    assert(p("s").getAs[Long]("distinct_count") == 2L)
    assert(p("id").getAs[String]("max_value") == "3")
  }

  test("connectedComponents resolves chains and keeps singleton clusters apart") {
    // 1-2-3 chained, 10-11 paired, 20-21-22 star around 20
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (20L, 22L))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponentsFast(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(comp(_) == 1L))
    assert(Seq(10L, 11L).forall(comp(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(comp(_) == 20L))
  }

  test("LshParams meets recall/noise targets on the analytic S-curve") {
    def collide(j: Double, r: Int, b: Int) = 1.0 - math.pow(1.0 - math.pow(j, r), b)
    Seq(0.5, 0.7, 0.9).foreach { t =>
      val (r, b) = LshParams.minhash(t)
      assert(collide(t, r, b) >= 0.9, s"recall miss at $t: ($r,$b)")
      assert(collide(t / 2, r, b) <= 0.15, s"noise breach at $t: ($r,$b)")
    }
  }

  test("resolveNearDupClusters picks min-id keepers over transitive near-dups") {
    val base = "the quick brown fox jumps over the lazy dog near the old river bank " +
      "while birds sing in the tall green trees of the quiet forest today"
    val df = Seq(
      (5L, base),
      (2L, base.replace("today", "tonight")),     // near-dup of 5
      (9L, base.replace("quick", "sneaky")),      // near-dup of 5 (and transitively 2)
      (7L, "completely unrelated text about query engines columns and shuffles"))
      .toDF("doc_id", "text")
    val out = Dedup.resolveNearDupClusters(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId.keySet == Set(2L, 5L, 9L)) // 7 is in no cluster
    assert(out.forall(_._2 == 2L))          // keeper = min id of the cluster
    assert(byId(2L)._3 && !byId(5L)._3 && !byId(9L)._3)
  }

  test("binEqualFreq covers all rows with ordered non-overlapping near-equal bins") {
    val li = graft.sources.Tables.lineitem(spark, sf001).select("l_extendedprice")
    val total = li.count()
    val hist = graft.ops.Profiling.binEqualFreq(li, "l_extendedprice", 10)
      .groupBy("bin").agg(count(lit(1)).alias("n"),
        min("l_extendedprice").alias("lo"), max("l_extendedprice").alias("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(hist.map(_._1).toSeq == (1L to 10L))
    assert(hist.map(_._2).sum == total)
    // ranges ordered and non-overlapping; counts near total/k (ties aside)
    hist.sliding(2).foreach {
      case Array((_, _, _, hi1), (_, _, lo2, _)) => assert(hi1 <= lo2)
      case _ => ()
    }
    val ideal = total.toDouble / 10
    assert(hist.forall(b => math.abs(b._2 - ideal) < ideal * 0.2), hist.mkString(","))
  }

  test("HLL sketch union of per-group partials EQUALS the whole-corpus sketch") {
    val orders = graft.sources.Tables.orders(spark, sf001)
    val perGroup = graft.ops.Profiling.distinctSketch(
      orders, Seq("o_orderstatus"), "o_custkey")
    val merged = graft.ops.Profiling.sketchRollup(perGroup).head()
    val whole = graft.ops.Profiling.distinctSketch(
      orders.withColumn("__all", org.apache.spark.sql.functions.lit(1)),
      Seq("__all"), "o_custkey").head()
    // union is the sketch's monoid: merging partials must reproduce the
    // all-at-once sketch's estimate EXACTLY, not approximately
    assert(merged.getAs[Long]("estimate") == whole.getAs[Long]("estimate"))
    assert(merged.getAs[Long]("n_rows") == orders.count())
  }

  test("HLL sketch estimate sits inside the lgK accuracy bound vs exact distinct") {
    val orders = graft.sources.Tables.orders(spark, sf001)
    val est = graft.ops.Profiling.sketchRollup(
      graft.ops.Profiling.distinctSketch(
        orders, Seq("o_orderstatus"), "o_custkey")).head().getAs[Long]("estimate").toDouble
    val exact = orders.select("o_custkey").distinct().count().toDouble
    val rsd = 1.04 / math.sqrt(math.pow(2, 12)) // lgK = 12
    assert(math.abs(est - exact) / exact <= 4 * rsd,
      s"estimate $est vs exact $exact outside 4sigma ($rsd)")
  }
}
