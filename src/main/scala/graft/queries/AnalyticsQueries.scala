package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.sources.Tables
import graft.ops.Aggregations.{exactSum, exactAvg, exactSumSql, exactAvgSql}
import graft.ops.Checkpoints._

/** Analytic query shapes beyond the reference's surface (SURVEY §2.4
  * "extension surface"): TPC-H-style multi-way analytics, rollup/cube,
  * frame-based window functions, as-of join, distinct counting. All
  * oracle-exact except the approximate sketch (q37).
  *
  * Window running sums go through decimal accumulation on BOTH sides:
  * DuckDB computes sliding aggregates with a segment tree (different
  * addition order than Spark's incremental WindowExec), so raw double
  * running sums would drift in the last ulp.
  */
object AnalyticsQueries {

  private val ship = "TIMESTAMP '1998-09-02 00:00:00'"

  /** TPC-H Q21 re-expressed on the fixture (ship-date cutoff stands in
    * for receipt>commit — the fixture carries no receipt/commit dates),
    * runnable verbatim on Spark SQL and DuckDB. (numwait DESC, s_name)
    * is total: supplier names are unique.
    */
  private lazy val waitingSuppliersQ21Sql =
    """WITH late AS (SELECT * FROM lineitem
      |              WHERE l_shipdate >= TIMESTAMP '1998-05-01 00:00:00')
      |SELECT s.s_name, COUNT(*) AS numwait
      |FROM late l1
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
      |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_3'
      |WHERE EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM late l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey)
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s.s_name ASC
      |LIMIT 10""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // Statistical aggregates — population variance/stddev, covariance,
    // correlation, skewness, excess kurtosis — derived from RAW MOMENTS
    // (n, Σx, Σx², Σx³, Σx⁴, Σy, Σy², Σxy) accumulated in exact
    // Decimal(30,8): order-independent (partition-count-proof) where the
    // built-in stddev/corr's streaming double accumulators are not, and
    // the one divide/multiply/sqrt derivation is the SAME expression
    // text in both engines. Products stay exact in double before the
    // decimal sum (quantities ≤ 50, prices < 2^53/1e4). One map-side-
    // combined groupBy — the ideal 100 TB aggregate shape.
    QueryDef("q152_statistical_aggregates",
      (s, d) => {
        val x = col("l_quantity"); val y = col("l_extendedprice")
        val m = Tables.lineitem(s, d).groupBy(col("l_returnflag"))
          .agg(count(lit(1)).alias("n"),
            exactSum(x).alias("sx"), exactSum(x * x).alias("sx2"),
            exactSum(x * x * x).alias("sx3"),
            exactSum(x * x * x * x).alias("sx4"),
            exactSum(y).alias("sy"), exactSum(y * y).alias("sy2"),
            exactSum(x * y).alias("sxy"))
        val mx = col("sx") / col("n"); val my = col("sy") / col("n")
        val vx = col("sx2") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n"))
        val vy = col("sy2") / col("n") - (col("sy") / col("n")) * (col("sy") / col("n"))
        val cov = col("sxy") / col("n") - (col("sx") / col("n")) * (col("sy") / col("n"))
        val m3 = col("sx3") / col("n") - lit(3.0) * mx * (col("sx2") / col("n")) +
          lit(2.0) * mx * mx * mx
        val m4 = col("sx4") / col("n") - lit(4.0) * mx * (col("sx3") / col("n")) +
          lit(6.0) * mx * mx * (col("sx2") / col("n")) - lit(3.0) * mx * mx * mx * mx
        m.select(col("l_returnflag"), col("n"),
          round(mx, 6).alias("mean_qty"),
          round(vx, 6).alias("var_pop_qty"),
          round(sqrt(vx), 6).alias("stddev_pop_qty"),
          round(cov, 6).alias("covar_pop"),
          round(cov / (sqrt(vx) * sqrt(vy)), 6).alias("corr"),
          round(m3 / (sqrt(vx) * sqrt(vx) * sqrt(vx)), 6).alias("skewness"),
          round(m4 / (vx * vx) - lit(3.0), 6).alias("kurtosis"))
      },
      Some {
        def S(e: String) = exactSumSql(e)
        s"""WITH m AS (
           |  SELECT l_returnflag, COUNT(*) AS n,
           |    ${S("l_quantity")} AS sx,
           |    ${S("l_quantity * l_quantity")} AS sx2,
           |    ${S("l_quantity * l_quantity * l_quantity")} AS sx3,
           |    ${S("l_quantity * l_quantity * l_quantity * l_quantity")} AS sx4,
           |    ${S("l_extendedprice")} AS sy,
           |    ${S("l_extendedprice * l_extendedprice")} AS sy2,
           |    ${S("l_quantity * l_extendedprice")} AS sxy
           |  FROM lineitem GROUP BY l_returnflag)
           |SELECT l_returnflag, n,
           |  round(sx / n, 6) AS mean_qty,
           |  round(sx2 / n - (sx / n) * (sx / n), 6) AS var_pop_qty,
           |  round(sqrt(sx2 / n - (sx / n) * (sx / n)), 6) AS stddev_pop_qty,
           |  round(sxy / n - (sx / n) * (sy / n), 6) AS covar_pop,
           |  round((sxy / n - (sx / n) * (sy / n)) /
           |        (sqrt(sx2 / n - (sx / n) * (sx / n)) *
           |         sqrt(sy2 / n - (sy / n) * (sy / n))), 6) AS corr,
           |  round((sx3 / n - 3.0 * (sx / n) * (sx2 / n) +
           |         2.0 * (sx / n) * (sx / n) * (sx / n)) /
           |        (sqrt(sx2 / n - (sx / n) * (sx / n)) *
           |         sqrt(sx2 / n - (sx / n) * (sx / n)) *
           |         sqrt(sx2 / n - (sx / n) * (sx / n))), 6) AS skewness,
           |  round((sx4 / n - 4.0 * (sx / n) * (sx3 / n) +
           |         6.0 * (sx / n) * (sx / n) * (sx2 / n) -
           |         3.0 * (sx / n) * (sx / n) * (sx / n) * (sx / n)) /
           |        ((sx2 / n - (sx / n) * (sx / n)) *
           |         (sx2 / n - (sx / n) * (sx / n))) - 3.0, 6) AS kurtosis
           |FROM m""".stripMargin
      }),

    // TPC-H Q1-style pricing summary (scan→filter→wide agg).
    QueryDef("q26_pricing_summary",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          exactSum(col("l_quantity")).alias("sum_qty"),
          exactSum(col("l_extendedprice")).alias("sum_base_price"),
          exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).alias("sum_disc_price"),
          exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax"))).alias("sum_charge"),
          exactAvg(col("l_quantity")).alias("avg_qty"),
          exactAvg(col("l_discount")).alias("avg_disc"),
          count(lit(1)).alias("count_order")),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  ${exactSumSql("l_quantity")} AS sum_qty,
              |  ${exactSumSql("l_extendedprice")} AS sum_base_price,
              |  ${exactSumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
              |  ${exactSumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
              |  ${exactAvgSql("l_quantity")} AS avg_qty,
              |  ${exactAvgSql("l_discount")} AS avg_disc,
              |  COUNT(*) AS count_order
              |FROM lineitem WHERE l_shipdate <= $ship
              |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // TPC-H Q3-style shipping priority: 3-way join → agg → total-order top-10.
    QueryDef("q27_shipping_priority",
      (s, d) => Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-03-15 00:00:00")) &&
          col("l_shipdate") > lit(java.sql.Timestamp.valueOf("1998-03-15 00:00:00")))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).alias("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10),
      Some(s"""SELECT o_orderkey, o_orderdate, o_orderpriority,
              |  ${exactSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
              |FROM customer JOIN orders ON c_custkey = o_custkey
              |JOIN lineitem ON o_orderkey = l_orderkey
              |WHERE c_mktsegment = 'BUILDING'
              |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
              |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
              |GROUP BY o_orderkey, o_orderdate, o_orderpriority
              |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin)),

    // TPC-H Q5-style local supplier volume: 6-way join over every dim table.
    QueryDef("q28_supplier_volume",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).alias("revenue"),
          count(lit(1)).alias("line_count")),
      Some(s"""SELECT r_name, n_name,
              |  ${exactSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
              |  COUNT(*) AS line_count
              |FROM customer JOIN orders ON c_custkey = o_custkey
              |JOIN lineitem ON o_orderkey = l_orderkey
              |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              |JOIN nation ON s_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY r_name, n_name""".stripMargin)),

    // ROLLUP: hierarchical subtotals (region → segment → grand total).
    QueryDef("q29_rollup",
      (s, d) => Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .rollup(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).alias("customers"), exactSum(col("c_acctbal")).alias("total_balance")),
      Some(s"""SELECT n_name, c_mktsegment, COUNT(*) AS customers,
              |  ${exactSumSql("c_acctbal")} AS total_balance
              |FROM customer JOIN nation ON c_nationkey = n_nationkey
              |GROUP BY ROLLUP(n_name, c_mktsegment)""".stripMargin)),

    // Frame-based window analytics: lag/lead/rank/running sum per customer
    // timeline (decimal-accumulated running sum — see class scaladoc).
    QueryDef("q35_window_analytics",
      (s, d) => {
        val order = Seq(col("o_orderdate").asc, col("o_orderkey").asc)
        val w = Window.partitionBy(col("o_custkey")).orderBy(order: _*)
        val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, d).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"),
          lag(col("o_totalprice"), 1).over(w).alias("prev_price"),
          lead(col("o_totalprice"), 1).over(w).alias("next_price"),
          rank().over(Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)).cast(LongType)
            .alias("price_rank"),
          sum(col("o_totalprice").cast(DecimalType(30, 8))).over(frame)
            .cast(DoubleType).alias("running_spend"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
             |  LAG(o_totalprice, 1) OVER w AS prev_price,
             |  LEAD(o_totalprice, 1) OVER w AS next_price,
             |  CAST(RANK() OVER (PARTITION BY o_custkey
             |       ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS price_rank,
             |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) OVER
             |       (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |        ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE) AS running_spend
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)),

    // Time-based sliding frame: per-customer 7-day rolling spend via
    // rangeBetween over epoch-microseconds (numeric range = identical
    // frame boundaries on both engines; decimal accumulation again
    // defuses DuckDB's segment-tree summation order).
    QueryDef("q56_rolling_window",
      (s, d) => {
        val sevenDaysUs = 7L * 86400L * 1000000L
        // o_orderdate is TIMESTAMP_NTZ in the parquet; cast is identity
        // under the UTC session and unlocks unix_micros
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(unix_micros(col("o_orderdate").cast("timestamp")))
          .rangeBetween(-sevenDaysUs, 0)
        Tables.orders(s, d).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          sum(col("o_totalprice").cast(DecimalType(30, 8))).over(w)
            .cast(DoubleType).alias("rolling_7d_spend"),
          count(lit(1)).over(w).alias("rolling_7d_orders"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderdate,
             |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) OVER w AS VARCHAR) AS DOUBLE) AS rolling_7d_spend,
             |  COUNT(*) OVER w AS rolling_7d_orders
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_us(CAST(o_orderdate AS TIMESTAMP))
             |             RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // Exact distinct counting.
    QueryDef("q36_distinct_counts",
      (s, d) => Tables.lineitem(s, d).agg(
        countDistinct(col("l_orderkey")).alias("n_orders"),
        countDistinct(col("l_partkey")).alias("n_parts"),
        countDistinct(col("l_suppkey")).alias("n_suppliers")),
      Some("""SELECT COUNT(DISTINCT l_orderkey) AS n_orders,
             |  COUNT(DISTINCT l_partkey) AS n_parts,
             |  COUNT(DISTINCT l_suppkey) AS n_suppliers
             |FROM lineitem""".stripMargin)),

    // Approximate distinct (HLL++ sketch) — engine-specific estimate, so
    // rows-only for the driver; accuracy bound pinned in AnalyticsSpec.
    QueryDef("q37_approx_distinct",
      (s, d) => Tables.lineitem(s, d).agg(
        approx_count_distinct(col("l_orderkey")).alias("approx_orders"),
        approx_count_distinct(col("l_partkey")).alias("approx_parts")),
      None),

    // Mergeable HLL sketch columns (DataSketches) — per-status customer
    // sketches UNIONED to one global estimate, the pre-aggregated-gold-
    // table read path at 100 TB. Sketch bytes + estimates are
    // engine-internal (DuckDB has no DataSketches HLL) → rows-only;
    // ProfilingSpec pins the merge-equality (union of partials EQUALS
    // the whole-corpus sketch, exactly) and the rsd accuracy bound vs
    // exact distinct — the q37 discipline with the merge story added.
    QueryDef("q229_hll_mergeable",
      (s, d) => graft.ops.Profiling.sketchRollup(
        graft.ops.Profiling.distinctSketch(
          Tables.orders(s, d), Seq("o_orderstatus"), "o_custkey")),
      None),

    // Mergeable theta sketch columns (DataSketches) — per-status customer
    // sketches pairwise-intersected into an overlap matrix: the set
    // algebra HLL registers cannot express (max-merge unions only). The
    // corpus is scanned ONCE to build group sketches; every overlap
    // question after that runs on kilobyte sketch bytes. Estimates are
    // engine-internal → rows-only; SketchSpec pins exact-mode estimate
    // equality, union-of-partials byte-equality, and the intersection-vs-
    // exact agreement; q244 is the exhaustive hash-green twin.
    QueryDef("q243_theta_mergeable",
      (s, d) => graft.ops.Profiling.thetaOverlapMatrix(
        graft.ops.Profiling.thetaSketch(
          Tables.orders(s, d), Seq("o_orderstatus"), "o_custkey"),
        "o_orderstatus"),
      None),

    // q243's exactness twin: the same overlap matrix computed exactly —
    // distinct (status, custkey) pairs self-joined on custkey (the
    // corpus-sized shuffle the theta sketches avoid) + broadcast count
    // joins. Hash-exact vs the identical DuckDB restatement; at sf0.01
    // the theta sketches are in exact mode, so q243's estimates equal
    // these counts exactly (SketchSpec pins that equality).
    QueryDef("q244_status_overlap_exact",
      (s, d) => graft.ops.Profiling.overlapMatrixExact(
        Tables.orders(s, d), "o_orderstatus", "o_custkey"),
      Some("""WITH s AS (SELECT DISTINCT o_orderstatus AS key, o_custkey AS v
             |          FROM orders),
             |cnt AS (SELECT key, CAST(count(*) AS BIGINT) AS n
             |        FROM s GROUP BY key),
             |ov AS (SELECT a.key AS key_a, b.key AS key_b,
             |         CAST(count(*) AS BIGINT) AS n_shared
             |       FROM s a JOIN s b ON a.v = b.v AND a.key < b.key
             |       GROUP BY a.key, b.key)
             |SELECT ov.key_a, ov.key_b, ca.n AS n_a, cb.n AS n_b,
             |  ov.n_shared, ca.n + cb.n - ov.n_shared AS n_union,
             |  round(CAST(ov.n_shared AS DOUBLE) /
             |    (ca.n + cb.n - ov.n_shared), 6) AS jaccard
             |FROM ov
             |JOIN cnt ca ON ov.key_a = ca.key
             |JOIN cnt cb ON ov.key_b = cb.key""".stripMargin)),

    // Mergeable KLL quantile sketch columns — the approximate-but-
    // mergeable counterpart of q38's exact percentiles: per-status KLL
    // sketches of o_totalprice merged to one corpus summary (n/min/max
    // exact by construction, quantiles at eps(k=200) ≈ 1.65% rank error).
    // Sketch internals are randomized (compactor coin flips) →
    // rows-only; SketchSpec pins n/min/max exactness and the rank-error
    // bound vs the exact percentiles. The quantiles array is flattened
    // to p25/p50/p75/p95 scalars — rows-only outputs must stay
    // pandas-sortable for the driver's checker (the q247 lesson).
    QueryDef("q246_kll_mergeable",
      (s, d) => graft.ops.Profiling.kllRollup(
          graft.ops.Profiling.kllSketch(
            Tables.orders(s, d), Seq("o_orderstatus"), "o_totalprice"),
          ranks = Seq(0.25, 0.5, 0.75, 0.95))
        .select(col("n"), col("min_value"), col("max_value"),
          element_at(col("quantiles"), 1).alias("p25"),
          element_at(col("quantiles"), 2).alias("p50"),
          element_at(col("quantiles"), 3).alias("p75"),
          element_at(col("quantiles"), 4).alias("p95"),
          col("n_rows")),
      None),

    // Incremental new-vs-returning customers from per-period theta
    // sketches (A-NOT-B + intersection): the ingest-delta question
    // answered from kilobyte columns — with persisted per-period
    // sketches the old corpus is NEVER rescanned. Estimates are
    // engine-internal → rows-only; exact at sf0.01 (exact mode), which
    // SketchSpec pins against q251, the exhaustive hash-green twin.
    QueryDef("q250_theta_newkeys",
      (s, d) => {
        val o = Tables.orders(s, d)
        val cut = to_date(lit("1998-07-01"))
        graft.ops.Profiling.thetaNewKeys(
          graft.ops.Profiling.thetaSketch(
            o.filter(col("o_orderdate") < cut), Seq("o_orderpriority"), "o_custkey"),
          graft.ops.Profiling.thetaSketch(
            o.filter(col("o_orderdate") >= cut), Seq("o_orderpriority"), "o_custkey"),
          "o_orderpriority")
      },
      None),

    // q250's exactness twin: the same report computed exactly — distinct
    // (priority, custkey) per period, anti/semi joins for new/returning.
    // The corpus-sized shuffles the sketches avoid, stated honestly.
    QueryDef("q251_newkeys_exact",
      (s, d) => {
        val o = Tables.orders(s, d)
        val cut = to_date(lit("1998-07-01"))
        def dset(p: org.apache.spark.sql.Column) = o.filter(p)
          .select(col("o_orderpriority"), col("o_custkey")).distinct()
        val oldD = dset(col("o_orderdate") < cut)
        val newD = dset(col("o_orderdate") >= cut)
        val nNew = newD.join(oldD, Seq("o_orderpriority", "o_custkey"), "left_anti")
          .groupBy("o_orderpriority").agg(count(lit(1)).alias("n_new_keys"))
        val nRet = newD.join(oldD, Seq("o_orderpriority", "o_custkey"), "left_semi")
          .groupBy("o_orderpriority").agg(count(lit(1)).alias("n_returning"))
        val nTot = newD.groupBy("o_orderpriority")
          .agg(count(lit(1)).alias("n_new_period"))
        nNew.join(nRet, Seq("o_orderpriority")).join(nTot, Seq("o_orderpriority"))
      },
      Some("""WITH n AS (SELECT DISTINCT o_orderpriority, o_custkey
             |          FROM orders WHERE o_orderdate >= DATE '1998-07-01'),
             |o AS (SELECT DISTINCT o_orderpriority, o_custkey
             |      FROM orders WHERE o_orderdate < DATE '1998-07-01')
             |SELECT n.o_orderpriority,
             |  CAST(sum(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_new_keys,
             |  CAST(sum(CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_returning,
             |  CAST(count(*) AS BIGINT) AS n_new_period
             |FROM n LEFT JOIN o USING (o_orderpriority, o_custkey)
             |GROUP BY n.o_orderpriority""".stripMargin)),

    // The pre-aggregated GOLD SKETCH TABLE read pattern end-to-end — the
    // composition the sketch tier exists for: per-month theta sketches
    // written as a month-PARTITIONED parquet table (one kilobyte row per
    // month), then a quarter answered by a partition-PRUNED readback of
    // 3 sketch rows merged to one estimate. At 100 TB the read side never
    // touches the fact table and never lists the out-of-range partitions
    // (q73's PartitionFilters discipline on a sketch store). Rows-only
    // (sketch estimate); q253 is the exact hash-green twin computing the
    // same quarter from the fact table.
    QueryDef("q252_sketch_gold_readback",
      (s, d) => {
        val out = Fixtures.partPath(d, "cust_sketch_monthly")
        // thetaStoreBuild pins STATIC overwrite per-write: the session
        // default is dynamic, under which this full rebuild would leave
        // stale partitions from a prior layout (the q258 spec's finding)
        graft.ops.Profiling.thetaStoreBuild(
          Tables.orders(s, d)
            .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM")),
          "month", "o_custkey", out)
        graft.ops.Profiling.thetaRollup(
          Tables.parquet(s, out)
            .where(col("month") >= "1998-07" && col("month") <= "1998-09"))
      },
      None),

    // q252's exactness twin: the same quarter's distinct customers from
    // the FACT table (the scan the sketch store avoids). At sf0.01 the
    // quarter's distincts sit in theta exact mode, so q252's estimate
    // equals this count exactly (SketchSpec pins the equality).
    QueryDef("q253_quarter_distinct_exact",
      (s, d) => Tables.orders(s, d)
        .filter(date_format(col("o_orderdate"), "yyyy-MM").between("1998-07", "1998-09"))
        .agg(countDistinct(col("o_custkey")).alias("n_distinct"),
          count(lit(1)).alias("n_rows")),
      Some("""SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
             |  CAST(count(*) AS BIGINT) AS n_rows
             |FROM orders
             |WHERE strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m')
             |      BETWEEN '1998-07' AND '1998-09'""".stripMargin)),

    // q252's missing half — the INCREMENTAL maintenance lifecycle of the
    // gold sketch store: bootstrap the history (static overwrite, months
    // < 1998-09), then September's batch APPENDS one kilobyte row via
    // DYNAMIC partition overwrite — every prior partition's files stay
    // byte-untouched (SketchSpec pins untouched-files + append≡rebuild
    // byte-equality) — then the quarter reads back partition-PRUNED and
    // merges 3 sketch rows. At 100 TB this is the whole point: a new
    // month costs one batch-sized sketch job + one kilobyte write, never
    // a store rebuild, and reads never touch the fact table. Rows-only
    // (sketch estimate); exact twin q253 computes the same quarter from
    // the fact table (exact-mode equality pinned in SketchSpec).
    QueryDef("q258_sketch_store_append",
      (s, d) => {
        val store = Fixtures.partPath(d, "cust_sketch_incr")
        val o = Tables.orders(s, d)
          .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
        graft.ops.Profiling.thetaStoreBuild(
          o.filter(col("month") < "1998-09"), "month", "o_custkey", store)
        graft.ops.Profiling.thetaStoreAppend(
          o.filter(col("month") === "1998-09"), "month", "o_custkey", store)
        graft.ops.Profiling.thetaRollup(
          Tables.parquet(s, store)
            .where(col("month").between("1998-07", "1998-09")))
      },
      None),

    // The STREAMING sketch-store lifecycle as a driver-gated query
    // (round-12 verdict #4 — q258's batch lifecycle has had this
    // streaming twin spec-only since r11): two file-arrival waves ingest
    // through Trigger.AvailableNow into per-batch sketch partials
    // (StreamingOps.sketchIngest), compaction collapses the partials to
    // one self-describing row per group (sketchCompact — parameters
    // recovered from the store, r12 ADVICE), and the profile reads back
    // from the COMPACTED store only. The output joins that readback
    // against the whole-corpus exact aggregate, so the row values carry
    // the twin discipline in-band: n_rows must equal the fact count
    // exactly (monoid counts), and distinct_est's relative error is
    // printed next to the exact distinct (zero in theta exact mode —
    // StreamingSpec pins the stream≡batch THETA BYTE equality and
    // compaction-preserves-profile; this query gates that the composed
    // ingest→compact→read lifecycle keeps running under the driver).
    // Rows-only: theta estimation internals are engine-specific.
    // 100 TB posture: each wave costs one batch-sized aggregation, the
    // compacted readback is O(groups) kilobyte rows — stream history is
    // never rescanned.
    QueryDef("q264_streaming_sketch_lifecycle",
      (s, d) => {
        import graft.streaming.StreamingOps
        val base = Fixtures.partPath(d, "stream_sketch")
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val (src, store, ckpt, compacted) =
          (s"$base/src", s"$base/store", s"$base/ckpt", s"$base/compacted")
        val o = Tables.orders(s, d).select(col("o_orderstatus"),
          col("o_custkey"), col("o_totalprice").cast("double").alias("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM").alias("month"))
        val schema = org.apache.spark.sql.types.StructType(o.schema.fields.dropRight(1))
        def arrive(pred: org.apache.spark.sql.Column): Unit = {
          o.filter(pred).drop("month").write.mode("append").parquet(src)
          StreamingOps.sketchIngest(s, src, store, ckpt, schema,
            Seq("o_orderstatus"), "o_custkey", "o_totalprice")
        }
        arrive(col("month") < "1998-01") // history wave
        arrive(col("month") >= "1998-01") // incremental wave
        StreamingOps.sketchCompact(s, store, compacted, Seq("o_orderstatus"))
        val profile = StreamingOps.sketchProfile(s, compacted,
            Seq("o_orderstatus"), ranks = Seq(0.5))
          .select(col("o_orderstatus"), col("distinct_est"), col("n_rows"))
        val exact = o.groupBy("o_orderstatus")
          .agg(countDistinct(col("o_custkey")).alias("n_distinct_exact"),
            count(lit(1)).alias("n_rows_exact"))
        profile.join(exact, "o_orderstatus")
          .select(col("o_orderstatus"), col("n_rows"), col("n_rows_exact"),
            (col("n_rows") === col("n_rows_exact")).alias("rows_match"),
            round(col("distinct_est"), 6).alias("distinct_est"),
            col("n_distinct_exact"),
            round(abs(col("distinct_est") - col("n_distinct_exact")) /
              col("n_distinct_exact"), 6).alias("est_rel_err"))
      },
      None),

    // Portable KMV distinct sketch — the approximate-distinct that IS
    // oracle-gatable hash-exact: portable md5 hashes, exact bottom-k
    // minima (a deterministic monoid under any partitioning), estimate
    // (k-1)*2^48/h_k as one double divide. DuckDB reproduces the
    // identical estimate from the identical hashes — the cross-engine
    // determinism HLL/theta/KLL internals cannot offer (those stay
    // rows-only by design). The 2^48 scale constant is CAST to DOUBLE in
    // the oracle (bare decimal literals are DECIMAL-typed in DuckDB).
    QueryDef("q248_kmv_portable_distinct",
      (s, d) => graft.ops.Profiling.kmvSketch(
          Tables.orders(s, d), Seq("o_orderstatus"), "o_custkey", k = 32)
        .drop("mins"),
      Some("""WITH s AS (SELECT DISTINCT o_orderstatus,
             |     ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT AS h
             |   FROM orders),
             |b AS (SELECT o_orderstatus, list_sort(list(h)) AS hs
             |      FROM s GROUP BY o_orderstatus)
             |SELECT o_orderstatus,
             |  CAST(least(len(hs), 32) AS BIGINT) AS n_kept,
             |  CASE WHEN len(hs) >= 32 THEN hs[32] END AS kth_min,
             |  CASE WHEN len(hs) < 32 THEN CAST(len(hs) AS DOUBLE)
             |       ELSE round(CAST(8725724278030336 AS DOUBLE) / hs[32], 6)
             |  END AS est_distinct
             |FROM b""".stripMargin)),

    // As-of join: each click paired with the user's most recent signup at
    // or before it. Composed from built-ins (tagged union + running
    // last-value window) — no custom operator needed; the oracle uses
    // DuckDB's native ASOF LEFT JOIN, so two INDEPENDENT as-of
    // implementations must agree exactly.
    QueryDef("q24_asof_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val isSignup = col("event_type") === "signup"
        ev.withColumn("signup_id",
            last(when(isSignup, col("event_id")), ignoreNulls = true).over(w))
          .withColumn("signup_ts",
            last(when(isSignup, col("ts")), ignoreNulls = true).over(w))
          .filter(col("event_type") === "click")
          .select(col("event_id").alias("click_id"), col("user_id"),
            col("signup_id"), col("signup_ts"))
      },
      Some("""WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
             |            FROM events),
             |clicks AS (SELECT event_id, ts, user_id FROM ev WHERE event_type = 'click'),
             |signups AS (SELECT event_id, ts, user_id FROM ev WHERE event_type = 'signup')
             |SELECT c.event_id AS click_id, c.user_id,
             |       s.event_id AS signup_id, s.ts AS signup_ts
             |FROM clicks c ASOF LEFT JOIN signups s
             |  ON c.user_id = s.user_id AND c.ts >= s.ts""".stripMargin)),

    // TPC-H Q4-style order-priority check: EXISTS over a compound-
    // condition semi join (late shipment = shipped 60+ days after order),
    // count by priority. The semi join never duplicates orders no matter
    // how many late lines match — the shape EXISTS is for.
    QueryDef("q65_exists_priority",
      (s, d) => {
        val orders = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
            col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-07-01 00:00:00")))
        val late = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
        orders.join(late,
            col("o_orderkey") === col("l_orderkey") &&
              col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).alias("order_count"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey
             |                AND l_shipdate >= o_orderdate + INTERVAL 60 DAY)
             |GROUP BY o_orderpriority""".stripMargin)),

    // TPC-H Q17-style small-quantity revenue: the correlated per-part
    // average decorrelated as a WINDOW average — ONE lineitem scan and one
    // shuffle on l_partkey, no self-join (the groupBy+rejoin form scans
    // twice and shuffles both sides). Same decimal-accumulated average as
    // exactAvg, so the 0.5·avg comparison is engine-independent.
    QueryDef("q66_small_qty_revenue",
      (s, d) => {
        val w = Window.partitionBy(col("l_partkey"))
        val avgQty = sum(col("l_quantity").cast(DecimalType(30, 8))).over(w)
          .cast(DoubleType) / count(col("l_quantity")).over(w)
        Tables.lineitem(s, d)
          .withColumn("avg_qty", avgQty)
          .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
          .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(exactSum(col("l_extendedprice")).alias("small_qty_revenue"),
            count(lit(1)).alias("n_lines"))
      },
      Some(s"""WITH pa AS (
              |  SELECT l_partkey AS pk, ${exactAvgSql("l_quantity")} AS avg_qty
              |  FROM lineitem GROUP BY l_partkey)
              |SELECT p_brand,
              |  ${exactSumSql("l_extendedprice")} AS small_qty_revenue,
              |  COUNT(*) AS n_lines
              |FROM lineitem JOIN pa ON l_partkey = pk
              |JOIN part ON l_partkey = p_partkey
              |WHERE l_quantity < 0.5 * avg_qty
              |GROUP BY p_brand""".stripMargin)),

    // TPC-H Q22-style dormant customers: above-average balance, no RECENT
    // orders — scalar-aggregate subquery (broadcast 1-row frame) + anti
    // join on a filtered side, the NOT EXISTS shape. exactAvg keeps the
    // balance threshold engine-independent.
    QueryDef("q67_dormant_customers",
      (s, d) => {
        val cust = Tables.customer(s, d)
        val avgBal = cust.filter(col("c_acctbal") > 0)
          .agg(exactAvg(col("c_acctbal")).alias("avg_bal"))
        cust.crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("avg_bal"))
          .join(Tables.orders(s, d)
              .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
              .select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).alias("n_customers"),
            exactSum(col("c_acctbal")).alias("total_balance"))
      },
      Some(s"""WITH avg_bal AS (
              |  SELECT ${exactAvgSql("c_acctbal")} AS avg_bal
              |  FROM customer WHERE c_acctbal > 0)
              |SELECT n_name, COUNT(*) AS n_customers,
              |  ${exactSumSql("c_acctbal")} AS total_balance
              |FROM customer, avg_bal
              |JOIN nation ON c_nationkey = n_nationkey
              |WHERE c_acctbal > avg_bal
              |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
              |                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
              |GROUP BY n_name""".stripMargin)),

    // TPC-H Q20-style qualified suppliers: IN + a correlated scalar
    // subquery TWO levels down (supplier ← lineitem ← per-(part,supplier)
    // average), the round-4 verdict's next decorrelation rung past
    // q65-q67. Spark side decorrelates the correlated average as a window
    // over (l_partkey, l_suppkey) — one lineitem scan, one shuffle. Two
    // ordering traps are load-bearing: the window must be computed BEFORE
    // the ship-date filter (the oracle's correlated avg ranges over the
    // FULL group, qualifying lines over six months), and the red-part
    // semi join keys on l_partkey alone, so it drops or keeps whole
    // (l_partkey, l_suppkey) groups and cannot change any group's average.
    QueryDef("q75_qualified_suppliers",
      (s, d) => {
        val redParts = Tables.part(s, d).filter(col("p_name").like("red%"))
          .select(col("p_partkey"))
        val w = Window.partitionBy(col("l_partkey"), col("l_suppkey"))
        val avgQty = sum(col("l_quantity").cast(DecimalType(30, 8))).over(w)
          .cast(DoubleType) / count(col("l_quantity")).over(w)
        val qualifying = Tables.lineitem(s, d)
          .join(broadcast(redParts), col("l_partkey") === col("p_partkey"), "left_semi")
          .withColumn("avg_qty", avgQty)
          .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
            col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-07-01 00:00:00")) &&
            col("l_quantity") > lit(1.45) * col("avg_qty"))
          .select(col("l_suppkey"))
        Tables.supplier(s, d)
          .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"))
      },
      Some(s"""SELECT s_suppkey, s_name, n_name
              |FROM supplier JOIN nation ON s_nationkey = n_nationkey
              |WHERE s_suppkey IN (
              |  SELECT l_suppkey FROM lineitem
              |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
              |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              |    AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
              |    AND l_quantity > (SELECT 1.45 * (${exactAvgSql("l2.l_quantity")})
              |                      FROM lineitem l2
              |                      WHERE l2.l_partkey = lineitem.l_partkey
              |                        AND l2.l_suppkey = lineitem.l_suppkey))""".stripMargin)),

    // TPC-H Q21-style waiting suppliers: EXISTS + NOT EXISTS over the SAME
    // table with a non-equi residual (same order, DIFFERENT supplier) —
    // the double-correlated rung past q75. Spark side: both subqueries
    // decorrelate to semi/anti joins on the order key with the
    // supplier-inequality as residual condition (equality key present, so
    // no nested-loop product; PlanSpec would catch a BNLJ). "Late" is a
    // ship-date cutoff (the fixture carries no receipt/commit dates).
    // Deterministic top-10: (numwait DESC, s_suppkey ASC) is total.
    QueryDef("q78_waiting_suppliers",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val late = li.filter(
          col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1998-05-01 00:00:00")))
        val others = li.select(col("l_orderkey").alias("__o2"), col("l_suppkey").alias("__s2"))
          .distinct()
        val lateOthers = late.select(col("l_orderkey").alias("__o3"), col("l_suppkey").alias("__s3"))
          .distinct()
        late
          .join(others,
            col("l_orderkey") === col("__o2") && col("l_suppkey") =!= col("__s2"), "left_semi")
          .join(lateOthers,
            col("l_orderkey") === col("__o3") && col("l_suppkey") =!= col("__s3"), "left_anti")
          .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_suppkey"), col("s_name"))
          .agg(count(lit(1)).alias("numwait"))
          .orderBy(col("numwait").desc, col("s_suppkey").asc)
          .limit(10)
      },
      Some("""WITH late AS (SELECT * FROM lineitem
             |              WHERE l_shipdate >= TIMESTAMP '1998-05-01 00:00:00')
             |SELECT s_suppkey, s_name, COUNT(*) AS numwait
             |FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
             |WHERE EXISTS (SELECT 1 FROM lineitem l2
             |              WHERE l2.l_orderkey = l1.l_orderkey
             |                AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM late l3
             |                  WHERE l3.l_orderkey = l1.l_orderkey
             |                    AND l3.l_suppkey <> l1.l_suppkey)
             |GROUP BY s_suppkey, s_name
             |ORDER BY numwait DESC, s_suppkey ASC
             |LIMIT 10""".stripMargin)),

    // Full TPC-H Q21 stated through the SQL SURFACE: where q78 hand-
    // decorrelates the same shape into semi/anti joins, q107 hands
    // Catalyst the correlated EXISTS + NOT EXISTS text (plus the
    // order-status and nation legs of the official query) and relies on
    // RewritePredicateSubquery to produce the hash semi/anti plan —
    // PlanSpec pins that no nested-loop survives the rewrite. Identical
    // text runs on DuckDB as the oracle.
    QueryDef("q107_q21_sql_surface",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql(waitingSuppliersQ21Sql)
      },
      Some(waitingSuppliersQ21Sql)),

    // TPC-H Q18-style large-volume orders: IN over a GROUP BY + HAVING
    // aggregate subquery. Spark side computes the per-order quantity sum
    // ONCE and joins it back — the subquery and the outer projection need
    // the same aggregate, so the decorrelated form halves the lineitem
    // scans vs a literal semi join + re-aggregation. Decimal-accumulated
    // sum on both sides keeps the HAVING threshold engine-independent.
    QueryDef("q83_large_volume_orders",
      (s, d) => {
        val qty = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
          .agg(exactSum(col("l_quantity")).alias("total_qty"))
          .filter(col("total_qty") > 250.0)
        Tables.orders(s, d)
          .join(qty, col("o_orderkey") === col("l_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      },
      Some(s"""WITH qty AS (
              |  SELECT l_orderkey, ${exactSumSql("l_quantity")} AS total_qty
              |  FROM lineitem GROUP BY l_orderkey
              |  HAVING ${exactSumSql("l_quantity")} > 250.0)
              |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
              |FROM orders JOIN qty ON o_orderkey = l_orderkey
              |JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    // TPC-H Q19-style disjunctive revenue: OR-of-ANDs mixing part and
    // lineitem columns. The scale point is pushdown through the
    // disjunction: every disjunct constrains p_brand, so the part scan
    // can be pre-filtered with the UNION of the brand predicates
    // (manual CNF extraction — lossless, each disjunct implies its
    // brand) and broadcast; the residual OR is evaluated post-join.
    QueryDef("q84_disjunctive_revenue",
      (s, d) => {
        val brands = Seq("Brand#12", "Brand#23", "Brand#3")
        val p = Tables.part(s, d)
          .filter(col("p_brand").isin(brands: _*) && col("p_size") >= 1)
          .select(col("p_partkey"), col("p_brand"), col("p_size"))
        Tables.lineitem(s, d)
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_brand") === "Brand#12" && col("p_size") <= 15 &&
              col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#23" && col("p_size") <= 25 &&
              col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#3" && col("p_size") <= 35 &&
              col("l_quantity").between(20, 30)))
          .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .alias("revenue"),
            count(lit(1)).alias("n_lines"))
      },
      Some(s"""SELECT ${exactSumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
              |  COUNT(*) AS n_lines
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
              |       AND l_quantity BETWEEN 1 AND 11)
              |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
              |       AND l_quantity BETWEEN 10 AND 20)
              |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
              |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // TPC-H Q13-style order-count distribution: LEFT OUTER join with a
    // predicate INSIDE the join condition (customers keep their row even
    // when every order is filtered away — a WHERE would drop them), then
    // a count-of-counts re-aggregation. Two shuffles minimum: one on the
    // join/group key, one on the tiny count domain.
    QueryDef("q85_order_count_distribution",
      (s, d) => {
        Tables.customer(s, d)
          .join(Tables.orders(s, d).filter(col("o_orderpriority") =!= "1-URGENT"),
            col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).alias("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).alias("custdist"))
      },
      Some("""SELECT c_count, COUNT(*) AS custdist FROM (
             |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
             |  FROM customer LEFT JOIN orders
             |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
             |  GROUP BY c_custkey) t
             |GROUP BY c_count""".stripMargin)),

    // TPC-H Q15-style top supplier: a scalar subquery over the SAME
    // aggregate the outer query projects (revenue per supplier = max of
    // revenues). The aggregated frame is materialized ONCE
    // (localCheckpoint — |suppliers| rows, tiny next to the lineitem
    // scan) so the max and the equality filter both read it without a
    // second corpus scan; the 1-row max is broadcast. Equality on a
    // decimal-accumulated sum is deterministic across engines.
    QueryDef("q86_top_revenue_supplier",
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
            col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
          .groupBy(col("l_suppkey"))
          .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .alias("total_rev"))
          .eagerCut()
        val maxRev = rev.agg(max(col("total_rev")).alias("max_rev"))
        Tables.supplier(s, d)
          .join(rev, col("s_suppkey") === col("l_suppkey"))
          .crossJoin(broadcast(maxRev))
          .filter(col("total_rev") === col("max_rev"))
          .select(col("s_suppkey"), col("s_name"), col("total_rev"))
      },
      Some(s"""WITH rev AS (
              |  SELECT l_suppkey,
              |    ${exactSumSql("l_extendedprice * (1 - l_discount)")} AS total_rev
              |  FROM lineitem
              |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
              |  GROUP BY l_suppkey)
              |SELECT s_suppkey, s_name, total_rev
              |FROM supplier JOIN rev ON s_suppkey = l_suppkey
              |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)""".stripMargin)),

    // TPC-H Q7-style volume shipping: revenue between a nation PAIR in
    // either direction. The disjunction couples the two nation columns,
    // but each disjunct implies membership in the pair set — so both
    // dimension legs are pre-filtered to the two nations (manual CNF
    // extraction again) and the residual (a,b)|(b,a) check runs after.
    // At scale that prunes lineitem by the supplier leg BEFORE the
    // orders shuffle (~2/25 of suppliers survive) instead of carrying
    // the full fact table through every join.
    QueryDef("q87_volume_shipping",
      (s, d) => {
        val pair = Seq("NATION_1", "NATION_2")
        val n1 = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").alias("sn_key"), col("n_name").alias("supp_nation"))
        val n2 = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").alias("cn_key"), col("n_name").alias("cust_nation"))
        val suppN = Tables.supplier(s, d)
          .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
          .select(col("s_suppkey"), col("supp_nation"))
        val custN = Tables.customer(s, d)
          .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
          .select(col("c_custkey"), col("cust_nation"))
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
            col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
          .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(custN, col("o_custkey") === col("c_custkey"))
          .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .withColumn("l_year", year(col("l_shipdate")).cast(LongType))
          .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
          .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .alias("revenue"))
      },
      Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
              |  CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
              |  ${exactSumSql("l_extendedprice * (1 - l_discount)")} AS revenue
              |FROM lineitem
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation n1 ON s_nationkey = n1.n_nationkey
              |JOIN nation n2 ON c_nationkey = n2.n_nationkey
              |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
              |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              |GROUP BY 1, 2, 3""".stripMargin)),

    // Distribution window functions (ntile / percent_rank / cume_dist)
    // over a TOTAL order — rank arithmetic is rational, so round(…, 6)
    // is engine-independent.
    QueryDef("q94_window_distribution",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(s, d).select(
          col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          ntile(4).over(w).cast(LongType).alias("quartile"),
          round(percent_rank().over(w), 6).alias("pct_rank"),
          round(cume_dist().over(w), 6).alias("cume"))
      },
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice,
             |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |  round(percent_rank() OVER w, 6) AS pct_rank,
             |  round(cume_dist() OVER w, 6) AS cume
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority
             |             ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin)),

    // Temporal scalar-function parity: truncation, field extraction,
    // day arithmetic and interval addition — the calendar operations the
    // reference's partition handling leans on, stated identically in
    // both engines (all casts pinned to avoid int32/int64 drift).
    QueryDef("q95_temporal_functions",
      (s, d) => Tables.orders(s, d).select(
        col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).alias("month_start"),
        year(col("o_orderdate")).cast(LongType).alias("yr"),
        quarter(col("o_orderdate")).cast(LongType).alias("qtr"),
        month(col("o_orderdate")).cast(LongType).alias("mo"),
        dayofmonth(col("o_orderdate")).cast(LongType).alias("dom"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
          .cast(LongType).alias("days_since"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).alias("plus_30d")),
      Some("""SELECT o_orderkey,
             |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
             |  CAST(year(o_orderdate) AS BIGINT) AS yr,
             |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
             |  CAST(month(o_orderdate) AS BIGINT) AS mo,
             |  CAST(day(o_orderdate) AS BIGINT) AS dom,
             |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
             |    AS days_since,
             |  o_orderdate + INTERVAL 30 DAY AS plus_30d
             |FROM orders""".stripMargin)),

    // Math + conditional scalar-function parity, restricted to the
    // cross-engine-EXACT subset: abs/ceil/floor/sign/mod/greatest/least
    // are integer-or-IEEE-exact and sqrt is correctly rounded by both
    // engines; ln/exp/pow are deliberately absent (libm last-ulp drift —
    // the same reason the TF-IDF oracle is rational). nullif/coalesce
    // cover the conditional surface.
    QueryDef("q113_math_functions",
      (s, d) => Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        abs(col("l_discount") - 0.05).alias("abs_disc"),
        ceil(col("l_extendedprice") / 100.0).cast(LongType).alias("price_ceil"),
        floor(col("l_extendedprice") / 100.0).cast(LongType).alias("price_floor"),
        (col("l_orderkey") % 97).alias("key_mod"),
        signum(col("l_quantity") - 25.0).cast(LongType).alias("qty_sign"),
        greatest(col("l_tax"), col("l_discount")).alias("max_rate"),
        least(col("l_tax"), col("l_discount")).alias("min_rate"),
        round(sqrt(col("l_extendedprice")), 6).alias("price_sqrt"),
        (col("l_quantity") * col("l_quantity")).alias("qty_sq"),
        coalesce(nullif(col("l_linestatus"), lit("F")), lit("FINAL")).alias("status_x")),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             |  abs(l_discount - 0.05) AS abs_disc,
             |  CAST(ceil(l_extendedprice / 100.0) AS BIGINT) AS price_ceil,
             |  CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS price_floor,
             |  l_orderkey % 97 AS key_mod,
             |  CAST(sign(l_quantity - 25.0) AS BIGINT) AS qty_sign,
             |  greatest(l_tax, l_discount) AS max_rate,
             |  least(l_tax, l_discount) AS min_rate,
             |  round(sqrt(l_extendedprice), 6) AS price_sqrt,
             |  l_quantity * l_quantity AS qty_sq,
             |  coalesce(nullif(l_linestatus, 'F'), 'FINAL') AS status_x
             |FROM lineitem""".stripMargin)),

    // TPC-H Q2 shape (min-cost supplier per part) over a partsupp
    // derived from lineitem (the fixture carries no partsupp table):
    // per-(part, supplier) average unit price, the per-part minimum
    // joined BACK on aggregate equality — the argmin decorrelation —
    // then the supplier→nation→region star with a pruned region leg.
    // Costs are decimal-exact and rounded, so the double equality join
    // is engine-stable.
    QueryDef("q122_min_cost_supplier",
      (s, d) => {
        val cost = Tables.lineitem(s, d)
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(round(exactAvg(col("l_extendedprice") / col("l_quantity")), 6).alias("cost"))
        // per-part minimum as a window over ONE cost derivation (round
        // 16): the aggregate→probe join re-ran the corpus aggregation for
        // each side — two full lineitem passes to compare a frame with
        // itself. Same min, same equality filter, half the corpus work.
        cost
          .withColumn("min_cost",
            min(col("cost")).over(Window.partitionBy(col("l_partkey"))))
          .filter(col("cost") === col("min_cost"))
          .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("l_partkey").alias("part_id"), col("s_name"),
            col("n_name").alias("nation"), col("cost"))
      },
      Some(s"""WITH ps AS (SELECT l_partkey, l_suppkey,
              |  round(${exactAvgSql("l_extendedprice / l_quantity")}, 6) AS cost
              |  FROM lineitem GROUP BY l_partkey, l_suppkey),
              |m AS (SELECT l_partkey, min(cost) AS min_cost FROM ps GROUP BY l_partkey)
              |SELECT ps.l_partkey AS part_id, s_name, n_name AS nation, cost
              |FROM ps JOIN m USING (l_partkey)
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN nation ON s_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
              |WHERE cost = min_cost""".stripMargin)),

    // GROUPING SETS beyond rollup (q29): explicit subtotal combinations
    // + grouping() indicators distinguishing "null data" from "subtotal
    // row" — stated as the identical SQL in both engines.
    QueryDef("q99_grouping_sets",
      (s, d) => {
        graft.sources.Tables.registerAll(s, d)
        // Spark spells the decimal→double hop AS STRING where DuckDB's
        // mirror (exactSumSql) says AS VARCHAR — same exact semantics
        s.sql("""SELECT o_orderstatus, o_orderpriority,
                |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
                |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
                |  COUNT(*) AS n_orders,
                |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS STRING) AS DOUBLE)
                |    AS total_price
                |FROM orders
                |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                |                        (o_orderstatus), (o_orderpriority), ())""".stripMargin)
      },
      Some(s"""SELECT o_orderstatus, o_orderpriority,
              |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
              |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
              |  COUNT(*) AS n_orders,
              |  ${exactSumSql("o_totalprice")} AS total_price
              |FROM orders
              |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
              |                        (o_orderstatus), (o_orderpriority), ())""".stripMargin)),

    // Conditional / boolean aggregates: count_if, every/any (bool_and /
    // bool_or), the SQL-standard FILTER clause, distinct count.
    QueryDef("q100_conditional_aggs",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          expr("count_if(o_totalprice > 100000)").cast("long").alias("n_big"),
          expr("every(o_totalprice > 0)").alias("all_pos"),
          expr("any(o_orderpriority = '1-URGENT')").alias("has_urgent"),
          expr("count(*) FILTER (WHERE o_orderpriority = '5-LOW')").alias("n_low"),
          countDistinct(col("o_custkey")).alias("n_cust")),
      Some("""SELECT o_orderstatus,
             |  CAST(COUNT(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT) AS n_big,
             |  bool_and(o_totalprice > 0) AS all_pos,
             |  bool_or(o_orderpriority = '1-URGENT') AS has_urgent,
             |  COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // FULL OUTER join — the one join type the suite did not yet
    // exercise: customers holding account balance vs customers with
    // 1998+ order revenue, keeping rows present on EITHER side (nulls
    // where the other side is absent). Plans as a sort-merge full outer
    // (no side can be broadcast for full-outer semantics).
    QueryDef("q101_full_outer_join",
      (s, d) => {
        val bal = Tables.customer(s, d)
          .filter(col("c_acctbal") > 9000)
          .select(col("c_custkey").alias("bal_key"), col("c_acctbal"))
        val rev = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
          .groupBy(col("o_custkey"))
          .agg(exactSum(col("o_totalprice")).alias("revenue"))
        bal.join(rev, col("bal_key") === col("o_custkey"), "full_outer")
          .select(
            coalesce(col("bal_key"), col("o_custkey")).alias("custkey"),
            col("c_acctbal"), col("revenue"))
      },
      Some(s"""WITH bal AS (
              |  SELECT c_custkey AS bal_key, c_acctbal FROM customer WHERE c_acctbal > 9000),
              |rev AS (
              |  SELECT o_custkey, ${exactSumSql("o_totalprice")} AS revenue
              |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
              |  GROUP BY o_custkey)
              |SELECT coalesce(bal_key, o_custkey) AS custkey, c_acctbal, revenue
              |FROM bal FULL OUTER JOIN rev ON bal_key = o_custkey""".stripMargin)),

    // TPC-H Q14-style promo revenue share: conditional-ratio aggregate
    // over a broadcast part join (promo = p_type prefix). Numerator and
    // denominator accumulate in decimal; the final ratio divides two
    // exact doubles — engine-independent.
    QueryDef("q102_promo_revenue",
      (s, d) => {
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
            col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00")))
          .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_type"))),
            col("l_partkey") === col("p_partkey"))
          .agg(
            round(lit(100.0) *
              exactSum(when(col("p_type").like("PROMO%"), rev).otherwise(lit(0.0))) /
              exactSum(rev), 6).alias("promo_share"),
            count(lit(1)).alias("n_lines"))
      },
      Some(s"""SELECT
              |  round(100.0 * ${exactSumSql(
                  "CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
              |    / ${exactSumSql("l_extendedprice * (1 - l_discount)")}, 6) AS promo_share,
              |  COUNT(*) AS n_lines
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              |  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""".stripMargin)),

    // TPC-H Q6-style forecast revenue: a pure scan-filter-agg whose three
    // range predicates must ALL reach the parquet scan (PlanSpec pins
    // PushedFilters) — the query shape where pushdown IS the plan.
    QueryDef("q103_forecast_revenue",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(exactSum(col("l_extendedprice") * col("l_discount")).alias("revenue"),
          count(lit(1)).alias("n_lines")),
      Some(s"""SELECT ${exactSumSql("l_extendedprice * l_discount")} AS revenue,
              |  COUNT(*) AS n_lines
              |FROM lineitem
              |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              |  AND l_discount BETWEEN 0.05 AND 0.07
              |  AND l_quantity < 24""".stripMargin)),

    // Correlated scalar subquery in the SELECT list (not the WHERE — the
    // decorrelation variant q65-q67/q75 don't cover): every customer with
    // their open-order count and latest order date. Spark side
    // decorrelates as a LEFT join against the grouped subquery; absent
    // groups surface as count 0 / null date, exactly the scalar
    // subquery's empty-result semantics.
    QueryDef("q104_scalar_select_subquery",
      (s, d) => {
        val counts = Tables.orders(s, d)
          .filter(col("o_orderstatus") === "O")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).alias("open_orders"),
            max(col("o_orderdate")).alias("latest_order"))
        Tables.customer(s, d)
          .join(counts, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_custkey"), col("c_name"),
            coalesce(col("open_orders"), lit(0L)).alias("open_orders"),
            col("latest_order"))
      },
      Some("""SELECT c_custkey, c_name,
             |  coalesce((SELECT COUNT(*) FROM orders
             |            WHERE o_custkey = c_custkey AND o_orderstatus = 'O'), 0)
             |    AS open_orders,
             |  (SELECT MAX(o_orderdate) FROM orders
             |   WHERE o_custkey = c_custkey AND o_orderstatus = 'O') AS latest_order
             |FROM customer""".stripMargin)),

    // TPC-H Q8 shape (national market share): conditional-sum ratio by
    // order year over the deepest join tree in the suite — lineitem joined
    // to part (type-filtered), orders (date-windowed), customer, the
    // customer's nation→region (region-filtered), the supplier, and the
    // SUPPLIER's nation (the nation table enters twice under different
    // roles). All dimension legs broadcast; the only shuffles are the
    // lineitem⋈orders⋈customer fact joins and the final year aggregation.
    // Both ratio legs go through decimal accumulation before ONE
    // double division, so the share is engine-exact.
    QueryDef("q124_market_share_q8",
      (s, d) => {
        val volume = col("l_extendedprice") * (lit(1) - col("l_discount"))
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d).filter(col("p_type") === "ECONOMY")),
            col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, d).filter(col("o_orderdate").between(
              lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")),
              lit(java.sql.Timestamp.valueOf("1996-12-31 00:00:00")))),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)
              .select(col("n_nationkey").alias("cust_nk"), col("n_regionkey"))),
            col("c_nationkey") === col("cust_nk"))
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "AMERICA")),
            col("n_regionkey") === col("r_regionkey"))
          .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, d)
              .select(col("n_nationkey").alias("supp_nk"), col("n_name").alias("supp_nation"))),
            col("s_nationkey") === col("supp_nk"))
          .groupBy(year(col("o_orderdate")).alias("o_year"))
          .agg((exactSum(when(col("supp_nation") === "NATION_7", volume).otherwise(lit(0))) /
            exactSum(volume)).alias("mkt_share"))
      },
      Some(s"""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
              |  ${exactSumSql("CASE WHEN n2.n_name = 'NATION_7' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
              |  / ${exactSumSql("l_extendedprice * (1 - l_discount)")} AS mkt_share
              |FROM lineitem
              |JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
              |JOIN orders ON l_orderkey = o_orderkey
              |  AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
              |                      AND TIMESTAMP '1996-12-31 00:00:00'
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation n1 ON c_nationkey = n1.n_nationkey
              |JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN nation n2 ON s_nationkey = n2.n_nationkey
              |GROUP BY 1""".stripMargin)),

    // TPC-H Q9 shape (product-type profit by nation × year): part-name
    // substring filter pushed into a broadcast leg, profit = revenue minus
    // a supply cost synthesized from p_retailprice (the fixture carries no
    // partsupp table — 0.5 · retail · quantity stands in for
    // ps_supplycost · quantity), aggregated over every (supplier nation,
    // order year). The arithmetic is stated identically in both engines,
    // accumulated in decimal.
    QueryDef("q125_nation_profit_q9",
      (s, d) => Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).filter(col("p_name").contains("red"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").alias("nation"), year(col("o_orderdate")).alias("o_year"))
        .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")) -
          col("p_retailprice") * col("l_quantity") * lit(0.5)).alias("sum_profit")),
      Some(s"""SELECT n_name AS nation,
              |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
              |  ${exactSumSql("l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.5")}
              |    AS sum_profit
              |FROM lineitem
              |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN nation ON s_nationkey = n_nationkey
              |JOIN orders ON l_orderkey = o_orderkey
              |GROUP BY 1, 2""".stripMargin)),

    // TPC-H Q5 shape (local-supplier revenue): the join graph with a
    // CROSS-DIMENSION equality constraint — the customer's and the
    // supplier's nation must be EQUAL, so `c_nationkey = s_nationkey`
    // is part of the supplier JOIN CONDITION, not a post-join filter.
    // Catalyst cannot discover this shape by accident: stated as a
    // filter after independent joins it would first materialize every
    // (customer nation × supplier nation) pairing and then discard
    // 24/25 of it. The fact spine (lineitem⋈orders⋈customer) shuffles
    // on its keys; supplier/nation/region are broadcast dimension legs
    // (PlanSpec pins the compound join condition and no cartesian).
    QueryDef("q127_local_supplier_q5",
      (s, d) => {
        val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d).filter(
              col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
              col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.supplier(s, d)),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name").alias("nation"))
          .agg(exactSum(rev).alias("revenue"))
      },
      Some(s"""SELECT n_name AS nation,
              |  ${exactSumSql("l_extendedprice * (1 - l_discount)")} AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
              |JOIN customer ON o_custkey = c_custkey
              |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              |JOIN nation ON s_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
              |GROUP BY 1""".stripMargin)),

    // TPC-H Q11 shape (supplier value share): group-HAVING against a
    // GLOBAL scalar aggregate of the same derivation — per-part stock
    // value (for one nation's suppliers) kept only where it exceeds a
    // fixed fraction of the total. The per-part frame is aggregated
    // ONCE and localCheckpoint'd (|parts| rows, tiny next to the
    // lineitem scan — the q86 pattern generalized from an equality to a
    // HAVING inequality); the 1-row total re-aggregates THAT frame and
    // broadcasts. The share predicate stays entirely in DECIMAL
    // (value·1600 > total — scale-free integer multiply, no double
    // rounding on the comparison path) so the kept set is bit-identical
    // across engines; only the projected value converts to double.
    QueryDef("q128_supplier_share_q11",
      (s, d) => {
        val suppN = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_3")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"))
        val perPart = Tables.lineitem(s, d)
          .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey"))
          .agg(sum((col("l_extendedprice") * col("l_quantity") * lit(0.5))
            .cast(DecimalType(30, 8))).alias("vdec"))
          .eagerCut()
        val total = perPart.agg(sum(col("vdec")).alias("total_dec"))
        perPart.crossJoin(broadcast(total))
          .filter(col("vdec") * lit(1600) > col("total_dec"))
          .select(col("l_partkey").alias("partkey"),
            col("vdec").cast(DoubleType).alias("value"))
      },
      Some("""WITH per AS (
             |  SELECT l_partkey,
             |    SUM(CAST(l_extendedprice * l_quantity * 0.5 AS DECIMAL(30,8))) AS vdec
             |  FROM lineitem
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
             |  GROUP BY l_partkey)
             |SELECT l_partkey AS partkey,
             |  CAST(CAST(vdec AS VARCHAR) AS DOUBLE) AS value
             |FROM per
             |WHERE vdec * 1600 > (SELECT SUM(vdec) FROM per)""".stripMargin)),

    // TPC-H Q10 shape (returned-item reporting): selective fact filters
    // (returnflag + order-date window) feeding a customer-grain
    // aggregate, then a total-order top-20. The returnflag and date
    // predicates are PLAIN scan pushdowns (PlanSpec pins both reach
    // PushedFilters), the fact spine shuffles on its join keys, nation
    // broadcasts, and (revenue DESC, custkey) is total because custkey
    // is the group key — the limit is deterministic on both engines.
    QueryDef("q130_returned_items_q10",
      (s, d) => {
        val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
        Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
          .join(Tables.orders(s, d).filter(
              col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
              col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-07-01 00:00:00"))),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey").alias("custkey"), col("c_name"),
            col("n_name").alias("nation"), col("c_acctbal"))
          .agg(exactSum(rev).alias("revenue"))
          .orderBy(col("revenue").desc, col("custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey AS custkey, c_name, n_name AS nation, c_acctbal,
              |  ${exactSumSql("l_extendedprice * (1 - l_discount)")} AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |WHERE l_returnflag = 'R'
              |GROUP BY 1, 2, 3, 4
              |ORDER BY revenue DESC, custkey
              |LIMIT 20""".stripMargin)),

    // TPC-H Q12 shape (shipmode priority counts): a fact⋈fact join with
    // an INEQUALITY residual (late shipment: l_shipdate ≥ o_orderdate +
    // 90 days — the fixture's stand-in for receipt > commit, which it
    // does not carry; l_linestatus stands in for l_shipmode), then ONE
    // pass of conditional counts split by order priority. The interval
    // arithmetic is pure timestamp addition, identical across engines;
    // the counts stay integral end-to-end (CAST ... AS BIGINT on the
    // DuckDB side — its SUM over integers widens to HUGEINT).
    QueryDef("q131_shipmode_priority_q12",
      (s, d) => {
        val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
          .groupBy(col("l_linestatus").alias("shipmode"))
          .agg(
            sum(when(urgent, lit(1L)).otherwise(lit(0L))).alias("high_line_count"),
            sum(when(urgent, lit(0L)).otherwise(lit(1L))).alias("low_line_count"))
      },
      Some("""SELECT l_linestatus AS shipmode,
             |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |WHERE l_shipdate >= o_orderdate + INTERVAL 90 DAY
             |GROUP BY 1""".stripMargin)),

    // TPC-H Q16 shape (parts/supplier relationship): the partsupp grain
    // is DERIVED (distinct l_partkey×l_suppkey — the fixture carries no
    // partsupp, the q122 convention), part attributes filter with a
    // negated brand, a negated LIKE, and a size IN-list, suppliers with
    // negative balance are excluded via NOT IN (decorrelated to a
    // left-anti join whose tiny exclusion side broadcasts — PlanSpec
    // pins it), and the output is COUNT(DISTINCT supplier) per
    // attribute triple under a total order.
    QueryDef("q132_parts_suppliers_q16",
      (s, d) => {
        val ps = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey")).distinct()
        val excluded = Tables.supplier(s, d)
          .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
        ps.join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
          .join(broadcast(Tables.part(s, d)
              .filter(col("p_brand") =!= "Brand#5" &&
                !col("p_type").like("PROMO%") &&
                col("p_size").isin(1, 4, 9, 16, 25, 36, 49))),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand").alias("brand"), col("p_type").alias("ptype"),
            col("p_size").alias("psize"))
          .agg(countDistinct(col("l_suppkey")).alias("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("brand"), col("ptype"), col("psize"))
      },
      Some("""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
             |SELECT p_brand AS brand, p_type AS ptype, p_size AS psize,
             |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
             |FROM ps
             |JOIN part ON l_partkey = p_partkey
             |WHERE p_brand <> 'Brand#5'
             |  AND p_type NOT LIKE 'PROMO%'
             |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
             |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
             |GROUP BY 1, 2, 3
             |ORDER BY supplier_cnt DESC, brand, ptype, psize""".stripMargin)),

    // ABC / Pareto classification per part category: parts ranked by
    // revenue, cumulative revenue share, class A (≤80%), B (≤95%), C.
    // Scale: the window partitions by CATEGORY — never a global
    // single-partition ordering; revenue and the running sum both
    // accumulate in exact decimal (window running doubles drift between
    // Spark's incremental WindowExec and DuckDB's segment tree), and the
    // class thresholds compare the ROUNDED share.
    QueryDef("q166_abc_classification",
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_type"))),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_type"), col("l_partkey"))
          .agg(sum(col("l_extendedprice").cast(DecimalType(30, 8))).alias("__rev"))
        val w = Window.partitionBy(col("p_type"))
          .orderBy(col("__rev").desc, col("l_partkey").asc)
        val cum = sum(col("__rev")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        val tot = sum(col("__rev")).over(Window.partitionBy(col("p_type")))
        // divide as DOUBLES: decimal/decimal division scale rules differ
        // between engines; double-cast-then-one-IEEE-divide is identical
        val share = round(cum.cast(DoubleType) / tot.cast(DoubleType), 6)
        rev.select(col("p_type"), col("l_partkey"),
            col("__rev").cast(DoubleType).alias("revenue"),
            share.alias("cum_share"),
            when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C")
              .alias("abc_class"))
      },
      Some("""WITH rev AS (
             |  SELECT p_type, l_partkey,
             |    SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS r
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  GROUP BY 1, 2),
             |sh AS (
             |  SELECT p_type, l_partkey,
             |    CAST(CAST(r AS VARCHAR) AS DOUBLE) AS revenue,
             |    round(
             |      CAST(CAST(SUM(r) OVER (PARTITION BY p_type ORDER BY r DESC, l_partkey ASC
             |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |           AS VARCHAR) AS DOUBLE)
             |      / CAST(CAST(SUM(r) OVER (PARTITION BY p_type) AS VARCHAR) AS DOUBLE),
             |      6) AS cum_share
             |  FROM rev)
             |SELECT p_type, l_partkey, revenue, cum_share,
             |  CASE WHEN cum_share <= 0.8 THEN 'A'
             |       WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class
             |FROM sh""".stripMargin)),

    // Market-basket co-occurrence: part pairs bought in the same order,
    // with support and lift in integer-rational arithmetic (one double
    // division chain, identical both engines). The pair self-join is
    // WITHIN an order — bounded by lines-per-order, so pair count scales
    // linearly with orders, never quadratically with the catalog; the
    // per-item counts broadcast (dimension-sized).
    QueryDef("q167_market_basket",
      (s, d) => basketCounts(s, d, "part_a", "part_b") { pairs =>
          pairs.select(col("pa").alias("part_a"), col("pb").alias("part_b"),
            col("pair_cnt"))
        }
        .select(col("part_a"), col("part_b"), col("pair_cnt"),
          round(col("pair_cnt").cast(DoubleType) / col("__n"), 6).alias("support"),
          round(col("pair_cnt").cast(DoubleType) * col("__n") /
            (col("__ca") * col("__cb")), 6).alias("lift")),
      Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
             |ic AS (SELECT l_partkey, COUNT(*) AS c FROM items GROUP BY 1),
             |p AS (
             |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             |    COUNT(*) AS pair_cnt
             |  FROM items a JOIN items b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
             |SELECT part_a, part_b, pair_cnt,
             |  round(CAST(pair_cnt AS DOUBLE) / n.n_orders, 6) AS support,
             |  round(CAST(pair_cnt AS DOUBLE) * n.n_orders / (ca.c * cb.c), 6) AS lift
             |FROM p
             |JOIN ic ca ON p.part_a = ca.l_partkey
             |JOIN ic cb ON p.part_b = cb.l_partkey
             |CROSS JOIN n""".stripMargin)),

    // Item-item cosine similarity (implicit-feedback collaborative
    // filtering): parts as purchase-count vectors over customers,
    // cosine = Σ n_a·n_b / √(Σn_a²·Σn_b²). All sums are exact 64-bit
    // integers (counts), so the only double arithmetic is ONE
    // divide/sqrt chain — identical both engines. The pair join is
    // WITHIN a customer (q167's bound: pairs scale with customers ×
    // items-per-customer², never catalog²); per-part norms broadcast.
    // 100 TB posture: cap items-per-customer first (q155's capPerGroup)
    // — a crawler-bot account with 10⁶ items is a skew bomb, and CF
    // practice drops such users anyway.
    QueryDef("q186_item_item_cosine",
      (s, d) => itemCosinePairs(s, d),
      Some(s"""WITH $itemCosineCtes
              |SELECT part_a, part_b, dot, n_common, cosine FROM sims""".stripMargin)),

    // 2-D skyline (Pareto frontier): parts where no other part is cheaper-
    // or-equal AND bigger-or-equal with one strict — "best price for its
    // size". The engine runs the LINEAR shape (per-price max + prefix max
    // over the distinct-price frame + join-back); the ORACLE states raw
    // NOT-EXISTS dominance — two independent formulations agreeing on the
    // hash is the strongest gate an operator gets.
    QueryDef("q169_skyline",
      (s, d) => graft.ops.Windows.skylineMinMax(
          Tables.part(s, d).select(col("p_partkey"), col("p_retailprice"), col("p_size")),
          minimize = "p_retailprice", maximize = "p_size")
        .select(col("p_partkey"), col("p_retailprice"), col("p_size")),
      Some("""SELECT p_partkey, p_retailprice, p_size FROM part a
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM part b
             |  WHERE b.p_retailprice <= a.p_retailprice
             |    AND b.p_size >= a.p_size
             |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))""".stripMargin)),

    // Grouped closed-form OLS (price on quantity per returnflag):
    // slope/intercept/R² from exact decimal raw moments — the q152
    // discipline applied to regression; one map-side-combined aggregate,
    // identical double derivation chain in both engines, null (not a
    // blow-up) on zero-variance groups.
    QueryDef("q174_grouped_ols",
      (s, d) => graft.ops.Features.groupedOls(Tables.lineitem(s, d),
        Seq("l_returnflag"), "l_quantity", "l_extendedprice"),
      Some {
        def S(e: String) = graft.ops.Aggregations.exactSumSql(e)
        s"""WITH m AS (
           |  SELECT l_returnflag, COUNT(*) AS n,
           |    ${S("l_quantity")} AS sx, ${S("l_quantity * l_quantity")} AS sx2,
           |    ${S("l_extendedprice")} AS sy,
           |    ${S("l_extendedprice * l_extendedprice")} AS sy2,
           |    ${S("l_quantity * l_extendedprice")} AS sxy
           |  FROM lineitem GROUP BY l_returnflag),
           |dd AS (
           |  SELECT l_returnflag, n,
           |    sx2 / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)) AS vx,
           |    sy2 / CAST(n AS DOUBLE) - (sy / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE)) AS vy,
           |    sxy / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE)) AS cov,
           |    sx / CAST(n AS DOUBLE) AS mx, sy / CAST(n AS DOUBLE) AS my
           |  FROM m)
           |SELECT l_returnflag, n,
           |  round(CASE WHEN vx > 0 THEN cov / vx END, 6) AS slope,
           |  round(CASE WHEN vx > 0 THEN my - (cov / vx) * mx END, 6) AS intercept,
           |  round(CASE WHEN vx > 0 AND vy > 0 THEN (cov * cov) / (vx * vy) END, 6) AS r2
           |FROM dd""".stripMargin
      }),

    // Welch's two-sample t (BUILDING vs MACHINERY balances): statistic +
    // Welch–Satterthwaite df from exact decimal moments gathered in ONE
    // conditional-aggregate pass; the whole double derivation is the same
    // expression chain in both engines. The A/B-test primitive.
    QueryDef("q179_welch_t",
      (s, d) => {
        import graft.ops.Aggregations.{exactSum, countIf}
        val bal = col("c_acctbal")
        val isA = col("c_mktsegment") === "BUILDING"
        val isB = col("c_mktsegment") === "MACHINERY"
        val m = Tables.customer(s, d).agg(
          countIf(isA).alias("n1"), countIf(isB).alias("n2"),
          exactSum(when(isA, bal)).alias("s1"),
          exactSum(when(isA, bal * bal)).alias("q1"),
          exactSum(when(isB, bal)).alias("s2"),
          exactSum(when(isB, bal * bal)).alias("q2"))
        val n1 = col("n1").cast(DoubleType); val n2 = col("n2").cast(DoubleType)
        val m1 = col("s1") / n1; val m2 = col("s2") / n2
        val v1 = (col("q1") - col("s1") * col("s1") / n1) / (n1 - 1)
        val v2 = (col("q2") - col("s2") * col("s2") / n2) / (n2 - 1)
        val se2 = v1 / n1 + v2 / n2
        val t = (m1 - m2) / sqrt(se2)
        val dfW = (se2 * se2) /
          ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1))
        m.select(col("n1"), col("n2"),
          round(m1, 6).alias("mean_a"), round(m2, 6).alias("mean_b"),
          round(t, 6).alias("t_stat"), round(dfW, 6).alias("df_welch"))
      },
      Some {
        def S(e: String) = graft.ops.Aggregations.exactSumSql(e)
        s"""WITH m AS (
           |  SELECT
           |    CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           |    CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           |    ${S("CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal END")} AS s1,
           |    ${S("CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal * c_acctbal END")} AS q1,
           |    ${S("CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal END")} AS s2,
           |    ${S("CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal * c_acctbal END")} AS q2
           |  FROM customer),
           |dd AS (
           |  SELECT n1, n2,
           |    s1 / CAST(n1 AS DOUBLE) AS m1, s2 / CAST(n2 AS DOUBLE) AS m2,
           |    (q1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1) AS v1,
           |    (q2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1) AS v2
           |  FROM m),
           |se AS (
           |  SELECT *, v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE) AS se2
           |  FROM dd)
           |SELECT n1, n2, round(m1, 6) AS mean_a, round(m2, 6) AS mean_b,
           |  round((m1 - m2) / sqrt(se2), 6) AS t_stat,
           |  round((se2 * se2) /
           |    ((v1 / CAST(n1 AS DOUBLE)) * (v1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1) +
           |     (v2 / CAST(n2 AS DOUBLE)) * (v2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1)),
           |    6) AS df_welch
           |FROM se""".stripMargin
      }),

    // Chi-square independence test (priority × status): integer observed
    // counts, expected from row/col margins, per-cell contributions
    // rounded then DECIMAL-summed — the cell sum is order-independent
    // where a raw double Σ over cells would drift with aggregation order.
    // Margins are window sums over the CELL frame (30 rows), not the data.
    QueryDef("q180_chi_square",
      (s, d) => {
        val cells = Tables.orders(s, d)
          .groupBy(col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).alias("n"))
        val rt = sum(col("n")).over(Window.partitionBy(col("o_orderpriority")))
        val ct = sum(col("n")).over(Window.partitionBy(col("o_orderstatus")))
        val tot = sum(col("n")).over(Window.partitionBy())
        val e = rt.cast(DoubleType) * ct / tot
        val contrib = (col("n").cast(DoubleType) - e) * (col("n").cast(DoubleType) - e) / e
        cells.select(col("o_orderpriority"), col("o_orderstatus"), col("n"),
            round(contrib, 6).alias("__c"), tot.alias("__tot"))
          .agg(
            round(sum(col("__c").cast(DecimalType(30, 8))).cast(DoubleType), 6)
              .alias("chi2"),
            ((countDistinct(col("o_orderpriority")) - 1) *
              (countDistinct(col("o_orderstatus")) - 1)).alias("dof"),
            max(col("__tot")).alias("total"))
      },
      Some("""WITH cells AS (
             |  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
             |  FROM orders GROUP BY 1, 2),
             |w AS (
             |  SELECT o_orderpriority, o_orderstatus, n,
             |    CAST(SUM(n) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS rt,
             |    CAST(SUM(n) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS ct,
             |    CAST(SUM(n) OVER () AS BIGINT) AS tot
             |  FROM cells),
             |c2 AS (
             |  SELECT round(
             |      (CAST(n AS DOUBLE) - CAST(rt AS DOUBLE) * ct / tot) *
             |      (CAST(n AS DOUBLE) - CAST(rt AS DOUBLE) * ct / tot) /
             |      (CAST(rt AS DOUBLE) * ct / tot), 6) AS c, tot
             |  FROM w)
             |SELECT
             |  round(CAST(CAST(SUM(CAST(c AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE), 6) AS chi2,
             |  ((SELECT COUNT(DISTINCT o_orderpriority) FROM orders) - 1) *
             |  ((SELECT COUNT(DISTINCT o_orderstatus) FROM orders) - 1) AS dof,
             |  CAST(max(tot) AS BIGINT) AS total
             |FROM c2""".stripMargin)),

    // PageRank over the part co-purchase graph (edges = part pairs that
    // share an order, both directions → symmetric, no dangling mass):
    // 5 fixed power iterations, ranks mean-normalized to O(1). Per-edge
    // contributions rounded to 6 dp + DECIMAL-summed per target, rank
    // re-rounded each iteration — the whole fixpoint is bit-reproducible
    // and the oracle recomputes it as an unrolled CTE chain. Scale: rank
    // frame is node-sized ≪ edges; edges cached once, re-joined per
    // iteration; lineage truncated per iteration (Graphs.pageRank doc).
    QueryDef("q185_pagerank_copurchase",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
        val e = li.alias("a").join(li.alias("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") =!= col("b.l_partkey"))
          .select(col("a.l_partkey").alias("src"), col("b.l_partkey").alias("dst"))
        graft.ops.Graphs.pageRank(e, "src", "dst", iterations = 5)
      },
      Some(graft.ops.Graphs.pageRankSql(
        """SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          |FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey""".stripMargin))),

    // Bounded-hop BFS over the same co-purchase graph from a brand seed
    // set — "how far is every part from Brand#1 in purchase behavior":
    // 3 rounds of frontier-only integer min-relaxation (settled nodes
    // never re-relax — per-round cost is frontier × degree). Pure
    // integer arithmetic; the oracle is the identical unrolled
    // relaxation, so agreement gates the frontier optimization's
    // correctness, not just the final reachable set.
    QueryDef("q188_bfs_hops",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
        val e = li.alias("a").join(li.alias("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") =!= col("b.l_partkey"))
          .select(col("a.l_partkey").alias("src"), col("b.l_partkey").alias("dst"))
        val seeds = Tables.part(s, d).filter(col("p_brand") === "Brand#1")
          .select(col("p_partkey"))
        graft.ops.Graphs.hopDistance(e, "src", "dst", seeds, maxHops = 3)
      },
      Some(graft.ops.Graphs.hopDistanceSql(
        """SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          |FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey""".stripMargin,
        "SELECT p_partkey AS node FROM part WHERE p_brand = 'Brand#1'",
        maxHops = 3))),

    // Ranking-function window surface: rank / dense_rank / percent_rank /
    // cume_dist are TIE-AWARE (value-based → deterministic on the
    // non-unique price ordering), while ntile depends on row order within
    // ties and therefore rides the tie-broken unique ordering. percent_
    // rank's (rank−1)/(n−1) and cume_dist's peers≤/n are one double
    // divide each, rounded at 6 dp on both engines.
    QueryDef("q189_ranking_functions",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc)
        val wu = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d).select(
          col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          rank().over(w).cast(LongType).alias("rnk"),
          dense_rank().over(w).cast(LongType).alias("drnk"),
          round(percent_rank().over(w), 6).alias("prank"),
          round(cume_dist().over(w), 6).alias("cdist"),
          ntile(4).over(wu).cast(LongType).alias("quartile"))
      },
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice,
             |  CAST(rank() OVER (PARTITION BY o_orderpriority
             |       ORDER BY o_totalprice DESC) AS BIGINT) AS rnk,
             |  CAST(dense_rank() OVER (PARTITION BY o_orderpriority
             |       ORDER BY o_totalprice DESC) AS BIGINT) AS drnk,
             |  round(percent_rank() OVER (PARTITION BY o_orderpriority
             |       ORDER BY o_totalprice DESC), 6) AS prank,
             |  round(cume_dist() OVER (PARTITION BY o_orderpriority
             |       ORDER BY o_totalprice DESC), 6) AS cdist,
             |  CAST(ntile(4) OVER (PARTITION BY o_orderpriority
             |       ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS quartile
             |FROM orders""".stripMargin)),

    // Per-node triangle counts on the REPEAT co-purchase graph (pairs
    // bought together in ≥2 orders — the support prune keeps the edge
    // set sparse and scale-stable where the raw pair graph grows with
    // the fact table) with DEGREE orientation: wedges enumerate at each
    // triangle's smallest-degree corner → O(m^1.5) wedges on any graph;
    // naive id-orientation is quadratic on a hub. The oracle runs the
    // identical orientation, so the hash gates the algorithm, not just
    // the totals. All integer.
    QueryDef("q190_triangle_counts",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
        val e = li.alias("a").join(li.alias("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .groupBy(col("a.l_partkey").alias("src"), col("b.l_partkey").alias("dst"))
          .agg(count(lit(1)).alias("__c"))
          .filter(col("__c") >= 2)
          .select(col("src"), col("dst"))
        graft.ops.Graphs.triangleCounts(e, "src", "dst")
      },
      Some(graft.ops.Graphs.triangleCountsSql(
        """SELECT src, dst FROM (
          |  SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS c
          |  FROM lineitem a JOIN lineitem b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          |  GROUP BY 1, 2) WHERE c >= 2""".stripMargin))),

    // HITS hubs & authorities over the supplier→customer shipment graph
    // — the bipartite influence scorer PageRank's single score cannot
    // express (a supplier that ships to everyone vs a customer everyone
    // buys from). 3 alternating half-steps, mean-normalized (O(1)
    // scores survive 6-dp quantization where the textbook L1 norm would
    // not), decimal sums + the q185 floor-quantization chain → the
    // fixpoint is bit-reproducible and the oracle unrolls it.
    QueryDef("q196_hits_supplier_customer",
      (s, d) => {
        val e = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_suppkey").alias("src"), col("o_custkey").alias("dst"))
        graft.ops.Graphs.hits(e, "src", "dst", iterations = 3)
      },
      Some(graft.ops.Graphs.hitsSql(
        """SELECT DISTINCT l_suppkey AS src, o_custkey AS dst
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,
        iterations = 3))),

    // Association rules with DIRECTION (q167's pairs become antecedent →
    // consequent rules): confidence = P(B|A) is asymmetric where lift is
    // not — "batteries ⇒ toys" and "toys ⇒ batteries" are different
    // business facts. Integer counts, one double division chain each.
    QueryDef("q197_association_rules",
      (s, d) => basketCounts(s, d, "antecedent", "consequent") { pairs =>
          pairs
            .select(col("pa").alias("antecedent"), col("pb").alias("consequent"),
              col("pair_cnt"))
            .unionByName(pairs.select(col("pb").alias("antecedent"),
              col("pa").alias("consequent"), col("pair_cnt")))
        }
        .select(col("antecedent"), col("consequent"), col("pair_cnt"),
          round(col("pair_cnt").cast(DoubleType) / col("__ca"), 6)
            .alias("confidence"),
          round(col("pair_cnt").cast(DoubleType) * col("__n") /
            (col("__ca") * col("__cb")), 6).alias("lift")),
      Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
             |ic AS (SELECT l_partkey, COUNT(*) AS c FROM items GROUP BY 1),
             |p AS (
             |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS pair_cnt
             |  FROM items a JOIN items b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
             |rules AS (
             |  SELECT pa AS antecedent, pb AS consequent, pair_cnt FROM p
             |  UNION ALL
             |  SELECT pb AS antecedent, pa AS consequent, pair_cnt FROM p)
             |SELECT antecedent, consequent, pair_cnt,
             |  round(CAST(pair_cnt AS DOUBLE) / ca.c, 6) AS confidence,
             |  round(CAST(pair_cnt AS DOUBLE) * n.n_orders / (ca.c * cc.c), 6)
             |    AS lift
             |FROM rules
             |JOIN ic ca ON rules.antecedent = ca.l_partkey
             |JOIN ic cc ON rules.consequent = cc.l_partkey
             |CROSS JOIN n""".stripMargin)),

    // Item-item kNN recommendations — the SERVING composition of q186:
    // the similarity frame is truncated to each item's top-10 neighbors
    // (the neighborhood-truncation every production item-item CF model
    // applies, via the bounded-heap top-k AGGREGATE — q155's engine, so
    // a popular item's candidate row never funnels through one task's
    // sort), owned items score their neighbors (Σ of the 6-dp cosines,
    // DECIMAL-summed → order-independent), already-owned candidates drop
    // with an anti join, and each customer keeps top-3 by the same heap.
    // The oracle restates both top-k stages as row_number windows — the
    // heap's (score desc, id asc) tie rule is exactly row_number order.
    QueryDef("q193_item_recommendations",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val vec = purchaseVectors(s, d)
        // materialized ONCE (round 16): both directions of the union below
        // re-derived the whole pair-join + cosine chain — the bench scan
        // meter showed lineitem+orders read twice (256 vs q186's 128 MB);
        // the similarity frame is the model artifact, pair-count-sized
        val sims = itemCosineFrom(vec).eagerCut()
        val simsBoth = sims
          .select(col("part_a").alias("item"), col("part_b").alias("other"),
            col("cosine"))
          .unionByName(sims.select(col("part_b").alias("item"),
            col("part_a").alias("other"), col("cosine")))
        val knn = graft.ops.Sampling
          .capPerGroup(simsBoth, "item", "other", col("cosine"), 10)
          .select(col("item"), col("other"), col("score").alias("cosine"))
        // owned items come straight off the checkpointed vector frame —
        // never a second lineitem⋈orders build
        val owned = vec.select(col("cust"), col("part"))
        val cand = owned
          .join(knn, col("part") === col("item"))
          .groupBy(col("cust"), col("other"))
          .agg(sum(col("cosine").cast(DecimalType(30, 8))).cast(DoubleType)
            .alias("score"))
        val unseen = cand.join(
          owned.select(col("cust"), col("part").alias("other")),
          Seq("cust", "other"), "left_anti")
        graft.ops.Sampling.capPerGroup(unseen, "cust", "other", col("score"), 3)
          .select(col("cust"), col("other").alias("rec_part"), col("rank"),
            round(col("score"), 6).alias("score"))
      },
      Some(s"""WITH $itemCosineCtes,
              |sboth AS (
              |  SELECT part_a AS item, part_b AS other, cosine FROM sims
              |  UNION ALL
              |  SELECT part_b AS item, part_a AS other, cosine FROM sims),
              |knn AS (
              |  SELECT item, other, cosine FROM (
              |    SELECT item, other, cosine,
              |      row_number() OVER (PARTITION BY item
              |        ORDER BY cosine DESC, other) AS rn
              |    FROM sboth) WHERE rn <= 10),
              |owned AS (
              |  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
              |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              |cand AS (
              |  SELECT owned.cust, knn.other,
              |    CAST(CAST(SUM(CAST(knn.cosine AS DECIMAL(30,8))) AS VARCHAR)
              |         AS DOUBLE) AS score
              |  FROM owned JOIN knn ON owned.part = knn.item
              |  GROUP BY 1, 2),
              |unseen AS (
              |  SELECT c.* FROM cand c
              |  WHERE NOT EXISTS (SELECT 1 FROM owned o
              |                    WHERE o.cust = c.cust AND o.part = c.other))
              |SELECT cust, other AS rec_part, CAST(rn AS BIGINT) AS rank,
              |  round(score, 6) AS score
              |FROM (
              |  SELECT cust, other, score,
              |    row_number() OVER (PARTITION BY cust
              |      ORDER BY score DESC, other) AS rn
              |  FROM unseen) WHERE rn <= 3""".stripMargin))
  )

  /** Within-order part pairs (pa < pb) with corpus-wide co-occurrence
    * counts ≥ 3 — the shared q167/q197 candidate stage. The self-join
    * form is DELIBERATE (round 16, measured): the collect_list + exploded
    * i<j array-fold alternative saves one exchange but ran slower at
    * sf0.1 for the same reason as the q186 vector pair join (nested array
    * transforms copy a tail array + struct per pair; the SMJ streams
    * Tungsten rows) — see itemCosineFrom.
    */
  private def orderPartPairs(items: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    items.alias("a")
      .join(items.alias("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").alias("pa"), col("b.l_partkey").alias("pb"))
      .agg(count(lit(1)).alias("pair_cnt"))
      .filter(col("pair_cnt") >= 3)

  /** The shared q167/q197 basket stage: `pairs` turns [[orderPartPairs]]
    * over the distinct (order, part) items into rows keyed `a` and `b`,
    * which gain those parts' order counts `__ca` and `__cb` and the total
    * order count `__n` (all three dimension-sized, broadcast).
    */
  private def basketCounts(s: org.apache.spark.sql.SparkSession, d: String,
                           a: String, b: String)(
      pairs: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val nOrders = items.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).alias("__n"))
    val itemCnt = items.groupBy(col("l_partkey"))
      .agg(count(lit(1)).alias("__c"))
    def counts(part: String, c: String) = broadcast(
      itemCnt.withColumnRenamed("l_partkey", part).withColumnRenamed("__c", c))
    pairs(orderPartPairs(items))
      .join(counts(a, "__ca"), Seq(a))
      .join(counts(b, "__cb"), Seq(b))
      .crossJoin(broadcast(nOrders))
  }

  /** Shared q186/q193 purchase-count vectors, materialized ONCE
    * (localCheckpoint): the frame feeds the norm aggregate, both sides
    * of the pair join, and (q193) the owned-item set — un-checkpointed
    * it would re-run the lineitem⋈orders build per appearance.
    */
  private def purchaseVectors(s: org.apache.spark.sql.SparkSession,
                              d: String): org.apache.spark.sql.DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").alias("cust"), col("l_partkey").alias("part"))
      .agg(count(lit(1)).alias("n"))
      .eagerCut()

  /** Shared q186/q193 similarity frame: parts as purchase-count vectors
    * over customers, cosine from exact integer sums (see q186 doc).
    */
  private def itemCosinePairs(s: org.apache.spark.sql.SparkSession,
                              d: String): org.apache.spark.sql.DataFrame =
    itemCosineFrom(purchaseVectors(s, d))

  private def itemCosineFrom(
      vec: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // norms feed both broadcast sides below as two separate aggregate
    // subtrees over the same checkpoint scan; left UN-cut deliberately
    // (round 16): a third eagerCut per query breaks the ≤2-resident-block
    // cache-hygiene contract, and the duplicate aggregation is one extra
    // narrow pass over the checkpointed vector frame feeding a
    // dimension-sized broadcast — cheaper than another materialization
    val norms = vec.groupBy(col("part"))
      .agg(sum(col("n") * col("n")).alias("__n2"))
    // The within-customer pair generation stays a self-join, DELIBERATELY
    // (round 16, measured): rewriting it as a per-customer
    // collect_list + exploded i<j array fold — one exchange instead of
    // two — ran 2.3× SLOWER at sf0.1 (5.6 s → 12.8 s, faster host): the
    // nested array transforms copy the tail array + a struct per pair in
    // codegen, while the SMJ streams Tungsten rows; the saved exchange is
    // node-vector-sized, the quadratic pair work is identical in both
    // shapes. The join form also inherits AQE skew-splitting on a hot
    // customer, which the single collect_list buffer would not.
    val dots = vec.alias("a")
      .join(vec.alias("b"),
        col("a.cust") === col("b.cust") && col("a.part") < col("b.part"))
      .groupBy(col("a.part").alias("part_a"), col("b.part").alias("part_b"))
      .agg(sum(col("a.n") * col("b.n")).alias("dot"),
        count(lit(1)).alias("n_common"))
      .filter(col("n_common") >= 3)
    dots
      .join(broadcast(norms.select(col("part").alias("part_a"),
        col("__n2").alias("__na"))), Seq("part_a"))
      .join(broadcast(norms.select(col("part").alias("part_b"),
        col("__n2").alias("__nb"))), Seq("part_b"))
      .select(col("part_a"), col("part_b"), col("dot"), col("n_common"),
        round(col("dot") / sqrt(col("__na").cast(DoubleType) * col("__nb")), 6)
          .alias("cosine"))
  }

  /** Shared oracle CTEs ending in `sims` (def, not val: `all` above
    * initializes first — the q157 object-init lesson).
    */
  private def itemCosineCtes: String =
    """vec AS (
      |  SELECT o_custkey AS cust, l_partkey AS part, COUNT(*) AS n
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |nrm AS (SELECT part, CAST(SUM(n * n) AS BIGINT) AS n2 FROM vec GROUP BY part),
      |p AS (
      |  SELECT a.part AS part_a, b.part AS part_b,
      |    CAST(SUM(a.n * b.n) AS BIGINT) AS dot, COUNT(*) AS n_common
      |  FROM vec a JOIN vec b ON a.cust = b.cust AND a.part < b.part
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |sims AS (
      |  SELECT part_a, part_b, dot, CAST(n_common AS BIGINT) AS n_common,
      |    round(dot / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2), 6) AS cosine
      |  FROM p
      |  JOIN nrm na ON p.part_a = na.part
      |  JOIN nrm nb ON p.part_b = nb.part)""".stripMargin
}
