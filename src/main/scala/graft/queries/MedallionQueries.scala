package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.pipeline.{Gold, Medallion, Silver}

/** Flagship: the ENTIRE medallion pipeline (union→validate→window→join→
  * agg→pivot→star-join→segment→rollup) as driver-verified queries, on
  * Home-Credit-shaped frames derived deterministically from the TPC-H
  * fixtures, with a full DuckDB SQL mirror as oracle.
  *
  * Every monetary value is floored to an integral double, so the
  * reference-faithful plain `sum(double)` aggregations are order-
  * independent and the oracle comparison is bit-exact without touching the
  * pipeline's semantics.
  */
object MedallionQueries {

  private[graft] val statuses = Seq("Approved", "Refused", "Refused by client", "Unused offer")

  // ---- HC-shaped adapters (Spark side) ----------------------------------

  private[graft] def appBase(spark: SparkSession, d: String): DataFrame =
    Tables.customer(spark, d).select(
      col("c_custkey").alias("SK_ID_CURR"),
      when(col("c_custkey") % 5 === 0, 1).otherwise(0).alias("TARGET"),
      floor(col("c_acctbal") * 100).cast("double").alias("AMT_INCOME_TOTAL"),
      ((col("c_custkey") % 1000 + 1) * 1000).cast("double").alias("AMT_CREDIT"),
      when(col("c_custkey") % 10 === 0, lit(null))
        .otherwise(((col("c_custkey") % 50 + 1) * 100).cast("double")).alias("AMT_ANNUITY"),
      (-(lit(15) + col("c_custkey") % 60) * 365).cast("int").alias("DAYS_BIRTH"),
      when(col("c_custkey") % 97 === 3, "Q")
        .when(col("c_custkey") % 3 === 0, "M")
        .when(col("c_custkey") % 3 === 1, "F")
        .when(col("c_custkey") % 21 === 2, "XNA")
        .otherwise("F").alias("CODE_GENDER"))

  private[graft] def train(spark: SparkSession, d: String): DataFrame =
    appBase(spark, d).filter(col("SK_ID_CURR") % 4 =!= 0)

  private[graft] def test(spark: SparkSession, d: String): DataFrame =
    appBase(spark, d).filter(col("SK_ID_CURR") % 4 === 0).drop("TARGET")

  private[graft] def bureau(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d).select(
      col("o_custkey").alias("SK_ID_CURR"),
      col("o_orderkey").alias("SK_ID_BUREAU"),
      when(col("o_orderstatus") === "O", "Active").otherwise("Closed").alias("CREDIT_ACTIVE"),
      (col("o_orderkey") % 30).cast("int").alias("CREDIT_DAY_OVERDUE"),
      when(col("o_orderkey") % 13 === 0, lit(null))
        .otherwise(floor(col("o_totalprice") / 10).cast("double")).alias("AMT_CREDIT_SUM_DEBT"),
      floor(col("o_totalprice") / 100).cast("double").alias("AMT_CREDIT_SUM_OVERDUE"))

  /** bureau_balance from lineitem; MONTHS_BALANCE injectively encodes the
    * unique (linenumber, partkey, suppkey) quad so the latest-per-loan
    * window has a total order.
    */
  private[graft] def bureauBalance(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d).select(
      col("l_orderkey").alias("SK_ID_BUREAU"),
      (-(col("l_linenumber").cast("long") * 1000000000L +
        col("l_partkey") * 10000L + col("l_suppkey"))).alias("MONTHS_BALANCE"),
      col("l_returnflag").alias("STATUS"))

  private[graft] def installments(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        col("l_partkey").alias("SK_ID_PREV"),
        col("o_custkey").alias("SK_ID_CURR"),
        (-(col("l_linenumber") * 30)).cast("double").alias("DAYS_INSTALMENT"),
        when(col("l_quantity") > 45, lit(null))
          .otherwise((-(col("l_linenumber") * 30)).cast("double") + (col("l_quantity") - 25))
          .alias("DAYS_ENTRY_PAYMENT"),
        floor(col("l_extendedprice") / 10).cast("double").alias("AMT_INSTALMENT"),
        when(col("l_discount") > 0.05, lit(null))
          .otherwise((floor(col("l_extendedprice") / 10) - floor(col("l_quantity"))).cast("double"))
          .alias("AMT_PAYMENT"))

  private[graft] def previousApps(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d).select(
      col("o_orderkey").alias("SK_ID_PREV"),
      col("o_custkey").alias("SK_ID_CURR"),
      when(col("o_orderkey") % 11 === 0, "Unused offer")
        .when(col("o_orderstatus") === "F", "Approved")
        .when(col("o_orderstatus") === "O", "Refused")
        .otherwise("Refused by client").alias("NAME_CONTRACT_STATUS"),
      floor(col("o_totalprice")).cast("double").alias("AMT_APPLICATION"),
      (floor(col("o_totalprice")) - (col("o_orderkey") % 100)).cast("double").alias("AMT_CREDIT"))

  /** The six HC-shaped source frames of one medallion batch. */
  private[graft] def sources(spark: SparkSession, d: String): Medallion.Sources =
    Medallion.Sources(train(spark, d), test(spark, d), bureau(spark, d),
      bureauBalance(spark, d), installments(spark, d), previousApps(spark, d))

  private def profiles(spark: SparkSession, d: String): DataFrame =
    Medallion.clientRiskProfile(sources(spark, d), statuses)

  lazy val all: Seq[QueryDef] = Seq(
    QueryDef("q60_medallion_profile", (s, d) => profiles(s, d), Some(profileSql)),
    QueryDef("q61_medallion_portfolio",
      (s, d) => Gold.portfolioRisk(profiles(s, d)), Some(portfolioSql)),
    QueryDef("q62_medallion_metrics",
      (s, d) => Silver.clientApplicationMetrics(train(s, d), test(s, d)),
      Some(metricsSql)),
    // The flagship metrics chain stated through the SQL SURFACE (q107's
    // pattern applied to the engine's core deliverable): the exact oracle
    // text runs through Spark's parser on the registered fixture tables,
    // so DSL-vs-SQL-parser semantic drift on the validation rule set shows
    // up as a q62/q126 disagreement against the same DuckDB statement.
    QueryDef("q126_metrics_sql_surface",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql(metricsSql)
      },
      Some(metricsSql)),

    // The sketch tier composing INTO the medallion, not beside it: q61's
    // portfolio rollup extended with a per-segment DISTINCT-previous-
    // applications column carried as a portable KMV sketch — the
    // approximate-distinct a 100 TB portfolio table would store instead
    // of re-shuffling the fact table per question. The KMV bottom-k is a
    // monoid (map-side combined, ≤k minima cross the exchange — no
    // corpus-wide distinct shuffle), and because its draws are portable
    // md5 the ESTIMATE itself is oracle-gatable hash-exact (the q248
    // discipline), so this needs no rows-only concession: the sketch
    // column IS the gate.
    QueryDef("q259_portfolio_sketch_distinct",
      (s, d) => {
        val seg = profiles(s, d).select(col("SK_ID_CURR"), col("risk_segment"))
        val prev = previousApps(s, d).select(col("SK_ID_CURR"), col("SK_ID_PREV"))
        graft.ops.Profiling.kmvSketch(
            seg.join(prev, "SK_ID_CURR"), Seq("risk_segment"), "SK_ID_PREV",
            k = 32)
          .drop("mins")
          .join(seg.groupBy("risk_segment")
            .agg(count(lit(1)).alias("client_count")), Seq("risk_segment"))
      },
      Some(s"""$withChain,
              |prev259 AS (SELECT o_orderkey AS SK_ID_PREV,
              |           o_custkey AS SK_ID_CURR FROM orders),
              |jd AS (SELECT DISTINCT p.risk_segment,
              |         ('0x' || substr(md5(CAST(prev259.SK_ID_PREV AS VARCHAR)), 1, 12))::BIGINT AS h
              |       FROM profile p JOIN prev259 ON p.SK_ID_CURR = prev259.SK_ID_CURR),
              |bk AS (SELECT risk_segment, list_sort(list(h)) AS hs
              |       FROM jd GROUP BY risk_segment),
              |cnt AS (SELECT risk_segment, COUNT(*) AS client_count
              |        FROM profile GROUP BY risk_segment)
              |SELECT bk.risk_segment,
              |  CAST(least(len(hs), 32) AS BIGINT) AS n_kept,
              |  CASE WHEN len(hs) >= 32 THEN hs[32] END AS kth_min,
              |  CASE WHEN len(hs) < 32 THEN CAST(len(hs) AS DOUBLE)
              |       ELSE round(CAST(8725724278030336 AS DOUBLE) / hs[32], 6)
              |  END AS est_distinct,
              |  cnt.client_count
              |FROM bk JOIN cnt ON bk.risk_segment = cnt.risk_segment""".stripMargin)),

    // q259's READBACK half (round-12 verdict stretch #9, the q252/q253
    // build/read split applied to the medallion KMV story): the
    // per-segment KMV minima are PERSISTED as a store, and the portfolio-
    // GLOBAL distinct is answered from the store alone — bottom-k is a
    // monoid, so merging the per-segment minima (flatten → distinct →
    // sort → take k) IS the global bottom-k, and the fact tables are
    // never touched on the read path. The store is a prebuilt input
    // (`kmvStore`), so the query times the readback only. The
    // estimate stays hash-exact: the oracle states the same per-segment
    // bottom-32 → merged bottom-32 chain.
    QueryDef("q265_kmv_store_rollup",
      (s, d) => graft.ops.Profiling.kmvRollup(
        Tables.parquet(s, kmvStore(s, d)), Seq.empty, k = 32),
      Some(s"""$withChain,
              |prev265 AS (SELECT o_orderkey AS SK_ID_PREV,
              |           o_custkey AS SK_ID_CURR FROM orders),
              |jd AS (SELECT DISTINCT p.risk_segment,
              |         ('0x' || substr(md5(CAST(prev265.SK_ID_PREV AS VARCHAR)), 1, 12))::BIGINT AS h
              |       FROM profile p JOIN prev265 ON p.SK_ID_CURR = prev265.SK_ID_CURR),
              |bk AS (SELECT risk_segment, list_sort(list(h))[1:32] AS mins
              |       FROM jd GROUP BY risk_segment),
              |merged AS (SELECT
              |    list_sort(list_distinct(flatten(list(mins))))[1:32] AS hs,
              |    CAST(count(*) AS BIGINT) AS n_groups_merged
              |  FROM bk)
              |SELECT n_groups_merged,
              |  CAST(least(len(hs), 32) AS BIGINT) AS n_kept,
              |  CASE WHEN len(hs) >= 32 THEN hs[32] END AS kth_min,
              |  CASE WHEN len(hs) < 32 THEN CAST(len(hs) AS DOUBLE)
              |       ELSE round(CAST(8725724278030336 AS DOUBLE) / hs[32], 6)
              |  END AS est_distinct
              |FROM merged""".stripMargin))
  )

  /** q265's persisted KMV store: per-risk-segment bottom-32 portable-md5
    * minima of the client→previous-application join (what the readback
    * rollup answers from), a [[Fixtures]] entry built once per JVM and sf.
    * Returns its path.
    */
  private[graft] def kmvStore(s: SparkSession, d: String): String = {
    val out = Fixtures.partPath(d, "kmv_store")
    Fixtures.ensure(out) {
      val seg = profiles(s, d).select(col("SK_ID_CURR"), col("risk_segment"))
      val prev = previousApps(s, d).select(col("SK_ID_CURR"), col("SK_ID_PREV"))
      graft.ops.Profiling.kmvSketch(
          seg.join(prev, "SK_ID_CURR"), Seq("risk_segment"), "SK_ID_PREV", k = 32)
        .write.mode("overwrite").parquet(out)
    }
  }

  // ---- DuckDB mirror ----------------------------------------------------

  private val appBaseSql =
    """SELECT c_custkey AS SK_ID_CURR,
      |  CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE 0 END AS TARGET,
      |  CAST(floor(c_acctbal * 100) AS DOUBLE) AS AMT_INCOME_TOTAL,
      |  CAST((c_custkey % 1000 + 1) * 1000 AS DOUBLE) AS AMT_CREDIT,
      |  CASE WHEN c_custkey % 10 = 0 THEN NULL
      |       ELSE CAST((c_custkey % 50 + 1) * 100 AS DOUBLE) END AS AMT_ANNUITY,
      |  CAST(-(15 + c_custkey % 60) * 365 AS INTEGER) AS DAYS_BIRTH,
      |  CASE WHEN c_custkey % 97 = 3 THEN 'Q'
      |       WHEN c_custkey % 3 = 0 THEN 'M'
      |       WHEN c_custkey % 3 = 1 THEN 'F'
      |       WHEN c_custkey % 21 = 2 THEN 'XNA'
      |       ELSE 'F' END AS CODE_GENDER
      |FROM customer""".stripMargin

  /** union (test TARGET null) → gender normalize → 7-rule keep-filter. */
  private val silverAppSql =
    s"""app_base AS ($appBaseSql),
       |app_union AS (
       |  SELECT * FROM app_base WHERE SK_ID_CURR % 4 <> 0
       |  UNION ALL
       |  SELECT SK_ID_CURR, NULL AS TARGET, AMT_INCOME_TOTAL, AMT_CREDIT, AMT_ANNUITY,
       |         DAYS_BIRTH, CODE_GENDER
       |  FROM app_base WHERE SK_ID_CURR % 4 = 0),
       |app_norm AS (
       |  SELECT SK_ID_CURR, TARGET, AMT_INCOME_TOTAL, AMT_CREDIT, AMT_ANNUITY, DAYS_BIRTH,
       |    CASE WHEN CODE_GENDER = 'XNA' THEN 'Unknown' ELSE CODE_GENDER END AS CODE_GENDER
       |  FROM app_union),
       |silver_app AS (
       |  SELECT * FROM app_norm
       |  WHERE SK_ID_CURR IS NOT NULL
       |    AND (AMT_INCOME_TOTAL IS NOT NULL AND AMT_INCOME_TOTAL > 0)
       |    AND (AMT_CREDIT IS NOT NULL AND AMT_CREDIT > 0)
       |    AND (DAYS_BIRTH IS NOT NULL AND abs(DAYS_BIRTH) / 365.0 >= 18)
       |    AND (AMT_ANNUITY IS NULL OR AMT_ANNUITY > 0)
       |    AND (AMT_CREDIT IS NULL OR AMT_ANNUITY IS NULL OR AMT_CREDIT >= AMT_ANNUITY)
       |    AND CODE_GENDER IN ('M', 'F', 'Unknown'))""".stripMargin

  private val silverBureauSql =
    """bureau AS (
      |  SELECT o_custkey AS SK_ID_CURR, o_orderkey AS SK_ID_BUREAU,
      |    CASE WHEN o_orderstatus = 'O' THEN 'Active' ELSE 'Closed' END AS CREDIT_ACTIVE,
      |    CAST(o_orderkey % 30 AS INTEGER) AS CREDIT_DAY_OVERDUE,
      |    CASE WHEN o_orderkey % 13 = 0 THEN NULL
      |         ELSE CAST(floor(o_totalprice / 10) AS DOUBLE) END AS AMT_CREDIT_SUM_DEBT,
      |    CAST(floor(o_totalprice / 100) AS DOUBLE) AS AMT_CREDIT_SUM_OVERDUE
      |  FROM orders),
      |balance_latest AS (
      |  SELECT l_orderkey AS SK_ID_BUREAU,
      |         -(CAST(l_linenumber AS BIGINT) * 1000000000 + l_partkey * 10000 + l_suppkey)
      |           AS MONTHS_BALANCE,
      |         l_returnflag AS STATUS
      |  FROM lineitem
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY MONTHS_BALANCE DESC) = 1),
      |silver_bureau AS (
      |  SELECT b.SK_ID_CURR,
      |    COUNT(*) AS bureau_credit_count,
      |    CAST(SUM(CASE WHEN b.CREDIT_ACTIVE = 'Active' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS bureau_active_credit_count,
      |    SUM(b.AMT_CREDIT_SUM_DEBT) AS bureau_total_debt,
      |    MAX(b.CREDIT_DAY_OVERDUE) AS bureau_max_days_overdue,
      |    SUM(b.AMT_CREDIT_SUM_OVERDUE) AS bureau_total_overdue
      |  FROM bureau b LEFT JOIN balance_latest l ON b.SK_ID_BUREAU = l.SK_ID_BUREAU
      |  WHERE b.SK_ID_CURR IS NOT NULL
      |  GROUP BY b.SK_ID_CURR)""".stripMargin

  private val silverPaymentSql =
    """inst AS (
      |  SELECT l_partkey AS SK_ID_PREV, o_custkey AS SK_ID_CURR,
      |    CAST(-(l_linenumber * 30) AS DOUBLE) AS DAYS_INSTALMENT,
      |    CASE WHEN l_quantity > 45 THEN NULL
      |         ELSE CAST(-(l_linenumber * 30) AS DOUBLE) + (l_quantity - 25) END
      |      AS DAYS_ENTRY_PAYMENT,
      |    CAST(floor(l_extendedprice / 10) AS DOUBLE) AS AMT_INSTALMENT,
      |    CASE WHEN l_discount > 0.05 THEN NULL
      |         ELSE CAST(floor(l_extendedprice / 10) - floor(l_quantity) AS DOUBLE) END
      |      AS AMT_PAYMENT
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |inst_delay AS (
      |  SELECT SK_ID_CURR, AMT_INSTALMENT, AMT_PAYMENT,
      |    COALESCE(CAST(DAYS_ENTRY_PAYMENT AS INTEGER) - CAST(DAYS_INSTALMENT AS INTEGER), 0)
      |      AS payment_delay_days
      |  FROM inst),
      |silver_payment AS (
      |  SELECT SK_ID_CURR,
      |    AVG(payment_delay_days) AS payment_avg_delay_days,
      |    CAST(SUM(CASE WHEN payment_delay_days > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS payment_late_count,
      |    SUM(COALESCE(AMT_PAYMENT, 0)) AS payment_total_paid,
      |    SUM(COALESCE(AMT_INSTALMENT, 0)) AS payment_total_installment
      |  FROM inst_delay WHERE SK_ID_CURR IS NOT NULL GROUP BY SK_ID_CURR)""".stripMargin

  private val silverPrevSql =
    """prev AS (
      |  SELECT o_orderkey AS SK_ID_PREV, o_custkey AS SK_ID_CURR,
      |    CASE WHEN o_orderkey % 11 = 0 THEN 'Unused offer'
      |         WHEN o_orderstatus = 'F' THEN 'Approved'
      |         WHEN o_orderstatus = 'O' THEN 'Refused'
      |         ELSE 'Refused by client' END AS NAME_CONTRACT_STATUS,
      |    CAST(floor(o_totalprice) AS DOUBLE) AS AMT_APPLICATION,
      |    CAST(floor(o_totalprice) - (o_orderkey % 100) AS DOUBLE) AS AMT_CREDIT
      |  FROM orders),
      |silver_prev AS (
      |  SELECT SK_ID_CURR,
      |    COUNT(*) AS previous_app_count,
      |    CAST(SUM(CASE WHEN NAME_CONTRACT_STATUS IN ('Refused', 'Refused by client')
      |             THEN 1 ELSE 0 END) AS BIGINT) AS previous_rejected_count,
      |    AVG(AMT_APPLICATION) AS previous_avg_requested,
      |    AVG(AMT_CREDIT) AS previous_avg_granted,
      |    CAST(SUM(CASE WHEN NAME_CONTRACT_STATUS = 'Approved' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS prev_status_approved_count,
      |    CAST(SUM(CASE WHEN NAME_CONTRACT_STATUS = 'Refused' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS prev_status_refused_count,
      |    CAST(SUM(CASE WHEN NAME_CONTRACT_STATUS = 'Refused by client' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS prev_status_refused_by_client_count,
      |    CAST(SUM(CASE WHEN NAME_CONTRACT_STATUS = 'Unused offer' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS prev_status_unused_offer_count
      |  FROM prev WHERE SK_ID_CURR IS NOT NULL GROUP BY SK_ID_CURR),
      |silver_prev_rate AS (
      |  SELECT *,
      |    CASE WHEN previous_app_count > 0
      |         THEN previous_rejected_count / previous_app_count ELSE 0.0 END
      |      AS previous_rejection_rate
      |  FROM silver_prev)""".stripMargin

  /** DuckDB mirror of Spark's `round(double, n)`: Spark rounds the SHORTEST
    * DECIMAL representation of the double (BigDecimal.valueOf → HALF_UP),
    * so a value like avg = -0.575 (binary ≈ -0.57499999999999996) rounds to
    * -0.58 in Spark but -0.57 under DuckDB's raw binary rounding. Casting
    * to DECIMAL(28,10) first recovers the intended decimal, then decimal
    * rounding matches HALF_UP. Needed for every tie-prone rounded column
    * (terminating-decimal ratios of integers).
    */
  private def sparkRoundSql(expr: String, n: Int): String =
    s"CAST(round(CAST($expr AS DECIMAL(28,10)), $n) AS DOUBLE)"

  private val goldProfileSql =
    """joined AS (
      |  SELECT a.SK_ID_CURR,
      |    a.AMT_INCOME_TOTAL AS income,
      |    a.AMT_CREDIT AS credit_exposure,
      |    a.TARGET AS default_flag,
      |    COALESCE(b.bureau_total_debt, 0) AS bureau_total_debt,
      |    COALESCE(p.payment_avg_delay_days, 0) AS payment_avg_delay_days,
      |    COALESCE(p.payment_late_count, 0) AS payment_late_count,
      |    COALESCE(r.previous_rejection_rate, 0.0) AS previous_rejection_rate
      |  FROM silver_app a
      |  LEFT JOIN (SELECT SK_ID_CURR, COALESCE(bureau_total_debt, 0) AS bureau_total_debt
      |             FROM silver_bureau) b ON a.SK_ID_CURR = b.SK_ID_CURR
      |  LEFT JOIN silver_payment p ON a.SK_ID_CURR = p.SK_ID_CURR
      |  LEFT JOIN silver_prev_rate r ON a.SK_ID_CURR = r.SK_ID_CURR),
      |derived AS (
      |  SELECT *,
      |    CASE WHEN credit_exposure IS NOT NULL AND credit_exposure > 0
      |         THEN bureau_total_debt / credit_exposure ELSE NULL END AS bureau_debt_ratio,
      |    payment_avg_delay_days + payment_late_count * 5.0 AS payment_delay_score
      |  FROM joined),
      |profile AS (
      |  SELECT SK_ID_CURR,
      |    round(income, 0) AS income,
      |    round(credit_exposure, 0) AS credit_exposure,
      |    default_flag,
      |    bureau_total_debt,
      |    SPARK_ROUND2(payment_avg_delay_days) AS payment_avg_delay_days,
      |    payment_late_count,
      |    SPARK_ROUND3(previous_rejection_rate) AS previous_rejection_rate,
      |    SPARK_ROUND3(bureau_debt_ratio) AS bureau_debt_ratio,
      |    SPARK_ROUND2(payment_delay_score) AS payment_delay_score,
      |    CASE WHEN COALESCE(bureau_debt_ratio, 0) >= 0.5
      |           OR (payment_late_count >= 3 OR payment_avg_delay_days >= 14)
      |           OR previous_rejection_rate >= 0.5 THEN 'HIGH'
      |         WHEN COALESCE(bureau_debt_ratio, 0) >= 0.2
      |           OR (payment_late_count >= 1 OR payment_avg_delay_days >= 1)
      |           OR previous_rejection_rate >= 0.2 THEN 'MEDIUM'
      |         ELSE 'LOW' END AS risk_segment
      |  FROM derived)""".stripMargin

  private def expandRounds(sql: String): String =
    sql.replaceAll("""SPARK_ROUND2\(([a-z_]+)\)""",
        "CAST(round(CAST($1 AS DECIMAL(28,10)), 2) AS DOUBLE)")
      .replaceAll("""SPARK_ROUND3\(([a-z_]+)\)""",
        "CAST(round(CAST($1 AS DECIMAL(28,10)), 3) AS DOUBLE)")

  private lazy val withChain = expandRounds(
    s"""WITH $silverAppSql,
       |$silverBureauSql,
       |$silverPaymentSql,
       |$silverPrevSql,
       |$goldProfileSql""".stripMargin)

  private lazy val profileSql = s"$withChain\nSELECT * FROM profile"

  private lazy val portfolioSql =
    s"""$withChain
       |SELECT risk_segment, COUNT(*) AS client_count,
       |  round(SUM(COALESCE(credit_exposure, 0)), 0) AS total_exposure,
       |  ${sparkRoundSql("AVG(default_flag)", 3)} AS avg_default_rate,
       |  round(AVG(income), 0) AS avg_income
       |FROM profile GROUP BY risk_segment""".stripMargin

  private lazy val metricsSql =
    s"""WITH $silverAppSql
       |SELECT
       |  CAST(SUM(CASE WHEN NOT COALESCE(SK_ID_CURR IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS fail_sk_id_null,
       |  CAST(SUM(CASE WHEN NOT COALESCE(AMT_INCOME_TOTAL IS NOT NULL AND AMT_INCOME_TOTAL > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS fail_income_invalid,
       |  CAST(SUM(CASE WHEN NOT COALESCE(AMT_CREDIT IS NOT NULL AND AMT_CREDIT > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS fail_credit_invalid,
       |  CAST(SUM(CASE WHEN NOT COALESCE(DAYS_BIRTH IS NOT NULL AND abs(DAYS_BIRTH) / 365.0 >= 18, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS fail_age_under_18,
       |  CAST(SUM(CASE WHEN NOT COALESCE(AMT_ANNUITY IS NULL OR AMT_ANNUITY > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS fail_annuity_invalid,
       |  CAST(SUM(CASE WHEN NOT COALESCE(AMT_CREDIT IS NULL OR AMT_ANNUITY IS NULL OR AMT_CREDIT >= AMT_ANNUITY, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS fail_credit_lt_annuity,
       |  CAST(SUM(CASE WHEN NOT COALESCE(CODE_GENDER IN ('M', 'F', 'Unknown'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS fail_gender_invalid,
       |  COUNT(*) AS total_rows,
       |  CAST(SUM(CASE WHEN COALESCE(SK_ID_CURR IS NOT NULL, FALSE)
       |    AND COALESCE(AMT_INCOME_TOTAL IS NOT NULL AND AMT_INCOME_TOTAL > 0, FALSE)
       |    AND COALESCE(AMT_CREDIT IS NOT NULL AND AMT_CREDIT > 0, FALSE)
       |    AND COALESCE(DAYS_BIRTH IS NOT NULL AND abs(DAYS_BIRTH) / 365.0 >= 18, FALSE)
       |    AND COALESCE(AMT_ANNUITY IS NULL OR AMT_ANNUITY > 0, FALSE)
       |    AND COALESCE(AMT_CREDIT IS NULL OR AMT_ANNUITY IS NULL OR AMT_CREDIT >= AMT_ANNUITY, FALSE)
       |    AND COALESCE(CODE_GENDER IN ('M', 'F', 'Unknown'), FALSE)
       |  THEN 1 ELSE 0 END) AS BIGINT) AS passed_rows
       |FROM app_norm""".stripMargin
}
