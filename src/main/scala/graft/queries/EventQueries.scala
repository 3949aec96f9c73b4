package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.Tables
import graft.ops.{TimeSeries, Windows, Aggregations}
import graft.ops.Aggregations.exactSumSql

/** Time-series queries over the `events` fixture (SURVEY §2.5 W1-W2 and the
  * §2.9 batch time-window extension).
  *
  * `events.ts` is micros-NTZ in the current fixtures, so Spark and DuckDB
  * already see identical microsecond values; every oracle still works on a
  * CTE that casts `ts` to microsecond TIMESTAMP first, which is a no-op
  * today and keeps the oracles correct if a nanos-precision fixture (the
  * legacy format Tables.events still handles) ever reappears.
  */
object EventQueries {

  private val evCte =
    """ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
      |       FROM events)""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // W1: latest event per user (row_number desc, unique tiebreak).
    QueryDef("q20_latest_event_per_user",
      (s, d) => Windows.topOnePerGroup(Tables.events(s, d), Seq("user_id"),
          Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"), col("ts")),
      Some(s"""WITH $evCte
              |SELECT user_id, event_id, event_type, value, ts FROM ev
              |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
              |                           ORDER BY ts DESC, event_id DESC) = 1""".stripMargin)),

    // W2: sequence numbering along each user's timeline (nulls-last order).
    QueryDef("q21_event_sequence",
      (s, d) => Windows.sequenceNumber(Tables.events(s, d), Seq("user_id"),
          Seq(col("ts").asc_nulls_last, col("event_id").asc), "seq")
        .select(col("event_id"), col("user_id"), col("ts"), col("seq").cast(LongType)),
      Some(s"""WITH $evCte
              |SELECT event_id, user_id, ts,
              |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq
              |FROM ev""".stripMargin)),

    // Tumbling-window aggregation (hourly) — batch counterpart of a
    // Structured Streaming windowed agg.
    QueryDef("q22_tumbling_hourly",
      (s, d) => TimeSeries.tumblingAgg(Tables.events(s, d), "ts", "hour",
        Seq("event_type"),
        Seq(count(lit(1)).alias("n_events"),
            Aggregations.exactSum(col("value")).alias("total_value"))),
      Some(s"""WITH $evCte
              |SELECT date_trunc('hour', ts) AS window_start, event_type,
              |  COUNT(*) AS n_events, ${exactSumSql("value")} AS total_value
              |FROM ev GROUP BY 1, 2""".stripMargin)),

    // Sessionization by 30-minute inactivity gap + per-session rollup.
    QueryDef("q23_sessionize",
      (s, d) => TimeSeries.sessionStats(Tables.events(s, d), "user_id", "ts",
        gapSeconds = 1800, tieBreak = Seq(col("event_id"))),
      Some(s"""WITH $evCte,
              |m AS (
              |  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
              |         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
              |  FROM ev),
              |f AS (
              |  SELECT user_id, event_id, ts,
              |         CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new
              |  FROM m),
              |sess AS (
              |  SELECT user_id, ts,
              |         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              |  FROM f)
              |SELECT user_id, session_id, COUNT(*) AS n_events, MIN(ts) AS session_start,
              |       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
              |FROM sess GROUP BY user_id, session_id""".stripMargin)),

    // Native session_window (the streaming idiom, run in batch) with a
    // lag-gap SQL mirror: a gap of exactly the threshold starts a new
    // session (>=), the one boundary where session_window and the q23
    // lag-gap form differ.
    QueryDef("q57_session_window",
      (s, d) => TimeSeries.sessionWindowAgg(Tables.events(s, d), "user_id", "ts",
        gapSeconds = 1800),
      Some(s"""WITH $evCte,
              |m AS (
              |  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
              |         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
              |  FROM ev),
              |f AS (
              |  SELECT user_id, event_id, ts,
              |         CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS is_new
              |  FROM m),
              |sess AS (
              |  SELECT user_id, ts,
              |         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              |                           ROWS UNBOUNDED PRECEDING) AS sid
              |  FROM f)
              |SELECT user_id, MIN(ts) AS session_start,
              |       MAX(ts) + INTERVAL 1800 SECOND AS session_end,
              |       COUNT(*) AS n_events
              |FROM sess GROUP BY user_id, sid""".stripMargin)),

    // Range join: every event inside a 30-minute incident window (windows
    // anchored at sparse error events). The binned rewrite turns the
    // no-equi-key inequality join — a nested-loop at scale — into a
    // shuffled equi-join on a time-bin key (see Joins.rangeJoinBinned);
    // the oracle states the same join as a plain inequality.
    QueryDef("q58_range_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val incidents = ev
          .filter(col("event_type") === "error" && col("event_id") % 101 === 0)
          .select(col("event_id").alias("incident_id"),
            col("ts").alias("w_start"),
            (col("ts") + expr("INTERVAL 30 MINUTES")).alias("w_end"))
        graft.ops.Joins.rangeJoinBinned(incidents, ev,
            "w_start", "w_end", "ts", binSeconds = 1800)
          .select(col("incident_id"), col("event_id"), col("user_id"), col("event_type"))
      },
      Some(s"""WITH $evCte,
              |inc AS (
              |  SELECT event_id AS incident_id, ts AS w_start,
              |         ts + INTERVAL 30 MINUTE AS w_end
              |  FROM ev WHERE event_type = 'error' AND event_id % 101 = 0)
              |SELECT i.incident_id, e.event_id, e.user_id, e.event_type
              |FROM inc i JOIN ev e ON e.ts >= i.w_start AND e.ts < i.w_end""".stripMargin)),

    // Funnel analysis: signup → first LATER click → first LATER purchase
    // per user; stage = furthest step reached. Each stage is a
    // conditional-min aggregation thresholded by the previous stage's
    // timestamp (strict event ordering, not mere presence) — three
    // narrow key-joins, each over the 150-key user dimension.
    QueryDef("q114_funnel_stages",
      (s, d) => {
        val e = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
        val s1 = e.groupBy(col("user_id"))
          .agg(min(when(col("event_type") === "signup", col("ts"))).alias("signup_ts"))
        val s2 = e.join(s1, Seq("user_id"))
          .groupBy(col("user_id"), col("signup_ts"))
          .agg(min(when(col("event_type") === "click" && col("ts") > col("signup_ts"),
            col("ts"))).alias("click_ts"))
        val s3 = e.join(s2, Seq("user_id"))
          .groupBy(col("user_id"), col("signup_ts"), col("click_ts"))
          .agg(min(when(col("event_type") === "purchase" && col("ts") > col("click_ts"),
            col("ts"))).alias("purchase_ts"))
        s3.select(col("user_id"), col("signup_ts"), col("click_ts"), col("purchase_ts"),
          when(col("signup_ts").isNull, 0L)
            .when(col("click_ts").isNull, 1L)
            .when(col("purchase_ts").isNull, 2L)
            .otherwise(3L).alias("stage"))
      },
      Some(s"""WITH $evCte,
              |s1 AS (SELECT user_id,
              |         min(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts
              |       FROM ev GROUP BY user_id),
              |s2 AS (SELECT ev.user_id, s1.signup_ts,
              |         min(CASE WHEN event_type = 'click' AND ev.ts > s1.signup_ts
              |             THEN ev.ts END) AS click_ts
              |       FROM ev JOIN s1 USING (user_id)
              |       GROUP BY ev.user_id, s1.signup_ts),
              |s3 AS (SELECT ev.user_id, s2.signup_ts, s2.click_ts,
              |         min(CASE WHEN event_type = 'purchase' AND ev.ts > s2.click_ts
              |             THEN ev.ts END) AS purchase_ts
              |       FROM ev JOIN s2 USING (user_id)
              |       GROUP BY ev.user_id, s2.signup_ts, s2.click_ts)
              |SELECT user_id, signup_ts, click_ts, purchase_ts,
              |  CAST(CASE WHEN signup_ts IS NULL THEN 0
              |            WHEN click_ts IS NULL THEN 1
              |            WHEN purchase_ts IS NULL THEN 2 ELSE 3 END AS BIGINT) AS stage
              |FROM s3""".stripMargin)),

    // Cohort retention: users grouped by first-seen week, activity
    // counted per (cohort, week offset) — the classic growth-analytics
    // rollup. Week truncation is ISO-Monday in both engines; offsets are
    // exact day-difference multiples of 7.
    QueryDef("q115_cohort_retention",
      (s, d) => {
        val e = Tables.events(s, d).select(col("user_id"), col("ts"))
        val cohort = e.groupBy(col("user_id"))
          .agg(date_trunc("week", min(col("ts"))).alias("cohort_week"))
        val active = e.select(col("user_id"),
          date_trunc("week", col("ts")).alias("week")).distinct()
        active.join(cohort, Seq("user_id"))
          .groupBy(col("cohort_week"),
            (datediff(col("week").cast("date"), col("cohort_week").cast("date")) / 7)
              .cast(LongType).alias("week_offset"))
          .agg(countDistinct(col("user_id")).alias("n_users"))
      },
      Some(s"""WITH $evCte,
              |f AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP)
              |        AS cohort_week FROM ev GROUP BY user_id),
              |a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP)
              |        AS week FROM ev)
              |SELECT cohort_week,
              |  CAST(datediff('day', CAST(cohort_week AS DATE), CAST(week AS DATE)) // 7
              |    AS BIGINT) AS week_offset,
              |  COUNT(DISTINCT a.user_id) AS n_users
              |FROM a JOIN f USING (user_id)
              |GROUP BY 1, 2""".stripMargin)),

    // Gap-filled hourly series: q22's aggregate joined onto the DENSE
    // per-type time spine (a bare groupBy cannot emit absent buckets).
    // Counts zero-fill; sums stay NULL on synthesized rows (SQL's sum of
    // an empty set), which q147's LOCF then carries forward.
    QueryDef("q146_gapfill_hourly",
      (s, d) => gapFilled(s, d),
      Some(s"""$spineCtes
              |$gapFillSql""".stripMargin)),

    // LOCF over the gap-filled series: synthesized buckets inherit the
    // most recent observed hourly total per event type (nulls before the
    // first observation stay null — nothing to carry).
    QueryDef("q147_locf_hourly",
      (s, d) => locfFilled(s, d),
      Some(s"""$gapFillCtes
              |$locfSql""".stripMargin)),

    // Linear interpolation over the gap-filled series: nulls between two
    // observed buckets take the time-weighted blend of their neighbors;
    // leading nulls stay null, trailing nulls carry forward. The double
    // arithmetic is ONE divide/multiply/add chain stated identically in
    // both engines over exact integer microsecond deltas, rounded at 9dp.
    QueryDef("q148_interpolate_hourly",
      (s, d) => TimeSeries.interpolateLinear(gapFilled(s, d), Seq("event_type"),
          "window_start", "total_value", "total_value_interp")
        .select(col("window_start"), col("event_type"), col("n_events"),
          round(col("total_value_interp"), 9).alias("total_value_interp")),
      Some(s"""$gapFillCtes,
              |w AS (SELECT window_start, event_type, n_events, total_value,
              |        last_value(CASE WHEN total_value IS NOT NULL
              |            THEN {'t': window_start, 'v': total_value} END IGNORE NULLS)
              |          OVER (PARTITION BY event_type ORDER BY window_start
              |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
              |        first_value(CASE WHEN total_value IS NOT NULL
              |            THEN {'t': window_start, 'v': total_value} END IGNORE NULLS)
              |          OVER (PARTITION BY event_type ORDER BY window_start
              |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next
              |      FROM f)
              |SELECT window_start, event_type, n_events,
              |  round(CASE
              |    WHEN total_value IS NOT NULL THEN total_value
              |    WHEN prev IS NULL THEN NULL
              |    WHEN next IS NULL THEN struct_extract(prev, 'v')
              |    ELSE struct_extract(prev, 'v') +
              |      (struct_extract(next, 'v') - struct_extract(prev, 'v')) *
              |      (CAST(epoch_us(window_start) - epoch_us(struct_extract(prev, 't')) AS DOUBLE) /
              |       (epoch_us(struct_extract(next, 't')) - epoch_us(struct_extract(prev, 't'))))
              |    END, 9) AS total_value_interp
              |FROM w""".stripMargin)),

    // EWMA over the LOCF-filled hourly series. alpha = 0.25 (an exact
    // binary fraction, so "0.25"/"0.75" parse to identical doubles in
    // both engines); the oracle re-derives every value as the SAME left
    // fold via list_reduce over the null-filtered ordered prefix —
    // DuckDB's first-element initialization matches the fold's
    // first-non-null seeding exactly.
    QueryDef("q149_ewma_hourly",
      (s, d) => TimeSeries.ewma(locfFilled(s, d),
          Seq("event_type"), "window_start", "total_value_filled",
          alpha = 0.25, outCol = "ewma")
        .select(col("event_type"), col("window_start"),
          round(col("ewma"), 9).alias("ewma")),
      Some(s"""$locfCtes,
              |e AS (SELECT event_type,
              |        list(window_start ORDER BY window_start) AS os,
              |        list(total_value_filled ORDER BY window_start) AS vs
              |      FROM l GROUP BY event_type),
              |x AS (SELECT event_type, unnest(os) AS window_start,
              |        unnest(list_transform(range(len(vs)), i ->
              |          CASE WHEN len(list_filter(vs[1:i+1], q -> q IS NOT NULL)) = 0
              |               THEN NULL
              |               ELSE list_reduce(list_filter(vs[1:i+1], q -> q IS NOT NULL),
              |                      (acc, q) -> 0.25 * q + 0.75 * acc) END)) AS ewma
              |      FROM e)
              |SELECT event_type, window_start, round(ewma, 9) AS ewma FROM x""".stripMargin)),

    // Holt linear-trend forecasting over the same hourly series — the
    // trend-aware step past q149's flat EWMA forecaster: level+trend
    // co-updated along the ordered series, 3-step-ahead forecast
    // l + h·t. ONE linear fold per group (array accumulator [l, t]);
    // the oracle replays the identical IEEE chain via list_reduce
    // carrying the same 2-element list (the BPE single-element-list
    // discipline), with dyadic α=0.5 / β=0.25 so every interpolated
    // literal is exact in both engines.
    QueryDef("q247_holt_forecast",
      (s, d) => TimeSeries.holt(locfFilled(s, d),
          Seq("event_type"), "window_start", "total_value_filled",
          alpha = 0.5, beta = 0.25, horizon = 3)
        .select(col("event_type"), col("n_points"), col("level"), col("trend"),
          element_at(col("forecast"), 1).alias("f1"),
          element_at(col("forecast"), 2).alias("f2"),
          element_at(col("forecast"), 3).alias("f3")),
      Some(s"""$locfCtes,
              |hf AS (SELECT event_type, window_start, total_value_filled
              |      FROM l WHERE total_value_filled IS NOT NULL),
              |he AS (SELECT event_type,
              |        list(CAST(total_value_filled AS DOUBLE)
              |             ORDER BY window_start) AS vs
              |      FROM hf GROUP BY event_type),
              |h AS (SELECT event_type, len(vs) AS n_points,
              |        CASE WHEN len(vs) >= 2 THEN
              |          list_reduce(
              |            list_prepend([vs[1]],
              |              list_transform(vs[2:], x -> [x])),
              |            (acc, x) -> CASE WHEN len(acc) = 1
              |              THEN [x[1], x[1] - acc[1]]
              |              ELSE [0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
              |                    0.25 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2]))
              |                            - acc[1]) + 0.75 * acc[2]]
              |              END)
              |        END AS acc
              |      FROM he)
              |SELECT event_type, CAST(n_points AS BIGINT) AS n_points,
              |  round(acc[1], 6) AS level, round(acc[2], 6) AS trend,
              |  round(acc[1] + 1 * acc[2], 6) AS f1,
              |  round(acc[1] + 2 * acc[2], 6) AS f2,
              |  round(acc[1] + 3 * acc[2], 6) AS f3
              |FROM h""".stripMargin)),

    // Holt-Winters additive-seasonal forecasting (m=24: hour-of-day) over
    // the same hourly series — q247's trend model plus the seasonal index
    // q210 profiles statically. Textbook two-season init, ONE linear fold
    // carrying [i, level, trend, s_1..s_24]; the oracle seeds DuckDB's
    // list_reduce by PREPENDING the init accumulator (the BPE
    // single-element-list discipline) and replays the identical IEEE
    // chain with dyadic alpha=0.5, beta=gamma=0.25.
    QueryDef("q249_holt_winters",
      (s, d) => TimeSeries.holtWinters(locfFilled(s, d),
          Seq("event_type"), "window_start", "total_value_filled",
          alpha = 0.5, beta = 0.25, gamma = 0.25, m = 24, horizon = 3),
      Some {
        val slot = "CAST(4 + CAST(acc[1] AS BIGINT) % 24 AS BIGINT)"
        val newL = s"(0.5 * (x[1] - acc[$slot]) + 0.5 * (acc[2] + acc[3]))"
        s"""$locfCtes,
           |hf AS (SELECT event_type, window_start, total_value_filled
           |      FROM l WHERE total_value_filled IS NOT NULL),
           |he AS (SELECT event_type,
           |        list(CAST(total_value_filled AS DOUBLE)
           |             ORDER BY window_start) AS vs
           |      FROM hf GROUP BY event_type),
           |hi AS (SELECT event_type, vs, len(vs) AS n,
           |        list_reduce(vs[1:24], (a2, x) -> a2 + x) / 24.0 AS l0,
           |        list_reduce(vs[25:48], (a2, x) -> a2 + x) / 24.0 AS l1
           |      FROM he),
           |hj AS (SELECT event_type, vs, n, l0, (l1 - l0) / 24.0 AS t0 FROM hi),
           |hk AS (SELECT event_type, vs, n,
           |        list_concat([CAST(24 AS DOUBLE), l0, t0],
           |          list_transform(vs[1:24], x -> x - l0)) AS acc0
           |      FROM hj),
           |hl AS (SELECT event_type, n,
           |        CASE WHEN n >= 49 THEN
           |          list_reduce(
           |            list_prepend(acc0, list_transform(vs[25:], x -> [x])),
           |            (acc, x) -> list_concat(
           |              [acc[1] + 1.0,
           |               $newL,
           |               0.25 * ($newL - acc[2]) + 0.75 * acc[3]],
           |              list_transform(acc[4:27], (s2, j) ->
           |                CASE WHEN j = CAST(acc[1] AS BIGINT) % 24 + 1
           |                  THEN 0.25 * (x[1] - $newL) + 0.75 * acc[$slot]
           |                  ELSE s2 END)))
           |        END AS acc
           |      FROM hk)
           |SELECT event_type, CAST(n AS BIGINT) AS n_points,
           |  round(acc[2], 6) AS level, round(acc[3], 6) AS trend,
           |  round(acc[2] + 1 * acc[3]
           |    + acc[CAST(4 + (n + 1 - 1) % 24 AS BIGINT)], 6) AS f1,
           |  round(acc[2] + 2 * acc[3]
           |    + acc[CAST(4 + (n + 2 - 1) % 24 AS BIGINT)], 6) AS f2,
           |  round(acc[2] + 3 * acc[3]
           |    + acc[CAST(4 + (n + 3 - 1) % 24 AS BIGINT)], 6) AS f3
           |FROM hl""".stripMargin
      }),

    // Discrete differences over the same series: previous value, delta,
    // percent change (null at each group's first row and at zero bases).
    QueryDef("q150_deltas_hourly",
      (s, d) => TimeSeries.deltas(locfFilled(s, d),
          Seq("event_type"), "window_start", "total_value_filled")
        .select(col("event_type"), col("window_start"), col("total_value_filled"),
          col("prev_value"), col("delta"),
          round(col("pct_change"), 9).alias("pct_change")),
      Some(s"""$locfCtes
              |SELECT event_type, window_start, total_value_filled,
              |  lag(total_value_filled) OVER w AS prev_value,
              |  total_value_filled - lag(total_value_filled) OVER w AS delta,
              |  round(CASE WHEN lag(total_value_filled) OVER w IS NOT NULL
              |         AND lag(total_value_filled) OVER w <> 0.0
              |        THEN (total_value_filled - lag(total_value_filled) OVER w)
              |             / lag(total_value_filled) OVER w END, 9) AS pct_change
              |FROM l
              |WINDOW w AS (PARTITION BY event_type ORDER BY window_start)""".stripMargin)),

    // Gaps-and-islands run collapse = SCD Type-2 history: consecutive
    // same-type events per user become one validity interval; a type that
    // recurs later opens a NEW interval (the history a groupBy(user, type)
    // cannot express). One window exchange over events (lag + running sum
    // share the sort), one run rollup, run-level lead/row_number on the
    // collapsed frame. Total order via (ts, event_id).
    QueryDef("q156_scd2_runs",
      (s, d) => TimeSeries.collapseRuns(Tables.events(s, d),
        "user_id", "ts", "event_type", tieBreak = Seq(col("event_id"))),
      Some(s"""WITH $scd2RunsCtes
              |SELECT user_id, event_type, run_id, valid_from, valid_to,
              |  (valid_to IS NULL) AS is_current, n_events
              |FROM runs""".stripMargin)),

    // Robust (median/MAD) outlier flags on the hourly series — the
    // anomaly-detection sibling of q149/q150: median resists the masking
    // that lets a spike hide inside its own inflated stddev. Median and
    // MAD are exact percentiles rounded to 6 dp BEFORE the threshold
    // compare (q38's parity discipline), so the boolean flag hash-matches.
    QueryDef("q158_robust_outliers",
      (s, d) => TimeSeries.robustOutliers(
          TimeSeries.tumblingAgg(Tables.events(s, d), "ts", "hour",
            Seq("event_type"),
            Seq(Aggregations.exactSum(col("value")).alias("total_value"))),
          Seq("event_type"), "total_value", k = 3.0)
        .select(col("event_type"), col("window_start"), col("total_value"),
          col("med"), col("mad"), col("abs_dev"), col("is_outlier")),
      Some(s"""WITH $evCte,
              |h AS (SELECT date_trunc('hour', ts) AS window_start, event_type,
              |        ${exactSumSql("value")} AS total_value
              |      FROM ev GROUP BY 1, 2),
              |m AS (SELECT event_type,
              |        round(quantile_cont(CAST(total_value AS DOUBLE), 0.5), 6) AS med
              |      FROM h GROUP BY 1),
              |dv AS (SELECT h.*, m.med,
              |        abs(CAST(total_value AS DOUBLE) - m.med) AS raw_dev
              |      FROM h JOIN m USING (event_type)),
              |md AS (SELECT event_type, round(quantile_cont(raw_dev, 0.5), 6) AS mad
              |       FROM dv GROUP BY 1)
              |SELECT dv.event_type, dv.window_start, dv.total_value, dv.med,
              |  md.mad, round(dv.raw_dev, 6) AS abs_dev,
              |  (round(dv.raw_dev, 6) > 3.0 * md.mad) AS is_outlier
              |FROM dv JOIN md USING (event_type)""".stripMargin)),

    // Time-to-conversion analytics: first signup per user → first purchase
    // AT OR AFTER it → delay distribution + conversion rate per signup
    // month. The signup frame is one row per user (bounded), so the
    // purchase match is an equi-join on user with the range as residual —
    // never an inequality-only join. Delay stays in exact integral
    // microseconds; percentiles follow the q38 parity discipline.
    QueryDef("q164_time_to_convert",
      (s, d) => {
        val ev = Tables.events(s, d)
        val su = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("ts")).alias("signup_ts"))
        val pu = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").alias("p_ts"))
        val conv = su.join(pu,
            su("user_id") === pu("user_id") && col("p_ts") >= col("signup_ts"), "left")
          .groupBy(su("user_id"), col("signup_ts"))
          .agg(min(col("p_ts")).alias("conv_ts"))
        conv
          .withColumn("signup_day", date_trunc("day", col("signup_ts")))
          .withColumn("delay_us", unix_micros(col("conv_ts")) - unix_micros(col("signup_ts")))
          .groupBy(col("signup_day"))
          .agg(count(lit(1)).alias("n_signups"),
            count(col("conv_ts")).alias("n_converted"),
            round(count(col("conv_ts")).cast("double") / count(lit(1)), 6)
              .alias("conv_rate"),
            round(expr("percentile(CAST(delay_us AS DOUBLE), 0.5)"), 6)
              .alias("median_delay_us"),
            round(expr("percentile(CAST(delay_us AS DOUBLE), 0.9)"), 6)
              .alias("p90_delay_us"))
      },
      Some(s"""WITH $evCte,
              |su AS (SELECT user_id, min(ts) AS signup_ts FROM ev
              |       WHERE event_type = 'signup' GROUP BY user_id),
              |conv AS (
              |  SELECT su.user_id, su.signup_ts, min(p.ts) AS conv_ts
              |  FROM su LEFT JOIN ev p
              |    ON p.user_id = su.user_id AND p.event_type = 'purchase'
              |   AND p.ts >= su.signup_ts
              |  GROUP BY su.user_id, su.signup_ts),
              |dl AS (SELECT CAST(date_trunc('day', signup_ts) AS TIMESTAMP) AS signup_day,
              |         conv_ts,
              |         epoch_us(conv_ts) - epoch_us(signup_ts) AS delay_us
              |       FROM conv)
              |SELECT signup_day,
              |  COUNT(*) AS n_signups,
              |  COUNT(conv_ts) AS n_converted,
              |  round(CAST(COUNT(conv_ts) AS DOUBLE) / COUNT(*), 6) AS conv_rate,
              |  round(quantile_cont(CAST(delay_us AS DOUBLE), 0.5), 6) AS median_delay_us,
              |  round(quantile_cont(CAST(delay_us AS DOUBLE), 0.9), 6) AS p90_delay_us
              |FROM dl GROUP BY signup_day""".stripMargin)),

    // First-order event-transition matrix (Markov counts): per-user
    // timelines yield (prev_type, next_type) counts and row-conditional
    // probabilities — the sequence-mining primitive behind "what happens
    // after an error?". One window exchange on user + one hash aggregate;
    // probability is one double division of exact integers.
    QueryDef("q168_event_transitions",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val t = Tables.events(s, d)
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").alias("next_type"))
          .agg(count(lit(1)).alias("n"))
        val wt = Window.partitionBy(col("prev_type"))
        t.select(col("prev_type"), col("next_type"), col("n"),
          round(col("n").cast("double") / sum(col("n")).over(wt), 6).alias("prob"))
      },
      Some(s"""WITH $evCte,
              |t AS (SELECT user_id, event_type, ts,
              |        lag(event_type) OVER (PARTITION BY user_id
              |                              ORDER BY ts, event_id) AS prev_type
              |      FROM ev),
              |c AS (SELECT prev_type, event_type AS next_type, COUNT(*) AS n
              |      FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2)
              |SELECT prev_type, next_type, n,
              |  round(CAST(n AS DOUBLE) /
              |        SUM(n) OVER (PARTITION BY prev_type), 6) AS prob
              |FROM c""".stripMargin)),

    // Rolling 7-day distinct users per day (the WAU metric). Distinct-
    // over-frame is not a window function; the scalable shape is the
    // contribution explode — each event lands in the ≤7 day buckets it is
    // visible in (bounded replication), one hash aggregate counts
    // distinct — no range BNLJ, no per-day rescan.
    QueryDef("q170_rolling_distinct_users",
      (s, d) => TimeSeries.rollingDistinct(Tables.events(s, d), "ts", "user_id",
        windowDays = 7, outCol = "wau"),
      Some(s"""WITH $evCte,
              |e2 AS (SELECT user_id,
              |         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day0 FROM ev),
              |contrib AS (
              |  SELECT user_id, day0 + i * INTERVAL 1 DAY AS day
              |  FROM e2 CROSS JOIN range(7) t(i)),
              |days AS (SELECT DISTINCT day0 AS day FROM e2)
              |SELECT c.day, COUNT(DISTINCT c.user_id) AS wau
              |FROM contrib c
              |WHERE c.day IN (SELECT day FROM days)
              |GROUP BY c.day""".stripMargin)),

    // Trending entities per time window: top-3 users by exact hourly
    // value through the bounded-heap top-k AGGREGATE (q155's engine) —
    // per-task state ≤ k per window, map-side merged; never a
    // whole-window sort. The oracle states the row_number formulation.
    QueryDef("q175_trending_hourly",
      (s, d) => {
        val hourly = TimeSeries.tumblingAgg(Tables.events(s, d), "ts", "hour",
          Seq("user_id"), Seq(Aggregations.exactSum(col("value")).alias("v")))
        graft.ops.Sampling.capPerGroup(hourly, "window_start", "user_id",
          col("v"), n = 3)
      },
      Some(s"""WITH $evCte,
              |h AS (SELECT date_trunc('hour', ts) AS window_start, user_id,
              |        ${exactSumSql("value")} AS v
              |      FROM ev GROUP BY 1, 2)
              |SELECT window_start, user_id, rank, score FROM (
              |  SELECT window_start, user_id,
              |    CAST(row_number() OVER (PARTITION BY window_start
              |           ORDER BY v DESC, user_id ASC) AS BIGINT) AS rank,
              |    v AS score
              |  FROM h)
              |WHERE rank <= 3""".stripMargin)),

    // One-sided CUSUM drift chart over the hourly series — the control-
    // chart sibling of q158's point outliers: sustained small excursions
    // accumulate until the statistic crosses an alarm level, where a
    // per-point threshold sees nothing. Prefix-fold evaluation (q149's
    // discipline), target+slack constants mirrored literally.
    QueryDef("q182_cusum_hourly",
      (s, d) => TimeSeries.cusum(
          TimeSeries.tumblingAgg(Tables.events(s, d), "ts", "hour",
            Seq("event_type"),
            Seq(Aggregations.exactSum(col("value")).alias("total_value"))),
          Seq("event_type"), "window_start", "total_value",
          target = 150.0, slack = 15.0, outCol = "cusum")
        .select(col("event_type"), col("window_start"),
          round(col("cusum"), 9).alias("cusum")),
      Some(s"""WITH $evCte,
              |h AS (SELECT date_trunc('hour', ts) AS window_start, event_type,
              |        ${exactSumSql("value")} AS total_value
              |      FROM ev GROUP BY 1, 2),
              |e AS (SELECT event_type,
              |        list(window_start ORDER BY window_start) AS os,
              |        list(total_value ORDER BY window_start) AS vs
              |      FROM h GROUP BY event_type),
              |x AS (SELECT event_type, unnest(os) AS window_start,
              |        unnest(list_transform(range(len(vs)), i ->
              |          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              |              list_filter(vs[1:i+1], q -> q IS NOT NULL)),
              |            (acc, q) -> greatest(CAST(0.0 AS DOUBLE),
              |                                 acc + (q - 165.0))))) AS cusum
              |      FROM e)
              |SELECT event_type, window_start, round(cusum, 9) AS cusum FROM x""".stripMargin)),

    // Temporal (effective-dated) dimension lookup — THE SCD2 consumption
    // pattern: each error event joins the state run active at its
    // timestamp. Open intervals close at a data-derived sentinel
    // (max ts + 1 s, a broadcast 1-row frame); the point-in-interval join
    // runs binned WITH the user id inside the hash key, so co-binned
    // intervals of other users never pair. Every event lands in exactly
    // one run — the row count is its own referential check.
    QueryDef("q181_temporal_scd2_lookup",
      (s, d) => {
        val ev = Tables.events(s, d)
        val runs = TimeSeries.collapseRuns(ev, "user_id", "ts", "event_type",
          tieBreak = Seq(col("event_id")))
        val mx = ev.agg(max(col("ts")).alias("__mts"))
        val iv = runs.crossJoin(broadcast(mx)).select(
          col("user_id"), col("event_type").alias("state_type"), col("run_id"),
          col("valid_from"),
          coalesce(col("valid_to"), col("__mts") + expr("INTERVAL 1 SECOND"))
            .alias("valid_to_c"))
        val err = ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts"))
        graft.ops.Joins.rangeJoinBinned(iv, err,
            "valid_from", "valid_to_c", "ts",
            binSeconds = 21600, extraKeys = Seq("user_id"))
          .select(col("event_id"), col("user_id"), col("state_type"), col("run_id"))
      },
      Some(s"""WITH $scd2RunsCtes,
              |mx AS (SELECT max(ts) AS mts FROM ev),
              |iv AS (SELECT user_id, event_type AS state_type, run_id, valid_from,
              |         coalesce(valid_to, mx.mts + INTERVAL 1 SECOND) AS valid_to_c
              |       FROM runs CROSS JOIN mx),
              |err AS (SELECT event_id, user_id, ts FROM ev
              |        WHERE event_type = 'error')
              |SELECT err.event_id, err.user_id, iv.state_type, iv.run_id
              |FROM err JOIN iv
              |  ON err.user_id = iv.user_id
              | AND err.ts >= iv.valid_from AND err.ts < iv.valid_to_c""".stripMargin)),

    // Interval-OVERLAP join: global incident windows × per-user session
    // windows that intersect them. The claim-bin rule (pair kept only in
    // the bin of greatest(start, start)) makes the binned equi-join emit
    // each pair exactly once with NO distinct; the oracle states the raw
    // overlap inequality.
    QueryDef("q183_interval_overlap",
      (s, d) => {
        val ev = Tables.events(s, d)
        val incidents = ev
          .filter(col("event_type") === "error" && col("event_id") % 101 === 0)
          .select(col("event_id").alias("incident_id"),
            col("ts").alias("i_start"),
            (col("ts") + expr("INTERVAL 30 MINUTES")).alias("i_end"))
        val sessions = TimeSeries.sessionWindowAgg(ev, "user_id", "ts", 1800)
        graft.ops.Joins.intervalOverlapJoin(incidents, sessions,
            "i_start", "i_end", "session_start", "session_end",
            binSeconds = 1800)
          .select(col("incident_id"), col("user_id"),
            col("session_start"), col("n_events"))
      },
      Some(s"""WITH $evCte,
              |inc AS (
              |  SELECT event_id AS incident_id, ts AS i_start,
              |         ts + INTERVAL 30 MINUTE AS i_end
              |  FROM ev WHERE event_type = 'error' AND event_id % 101 = 0),
              |m AS (
              |  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
              |         LAG(epoch_us(ts)) OVER (PARTITION BY user_id
              |           ORDER BY ts, event_id) AS prev_us
              |  FROM ev),
              |f2 AS (
              |  SELECT user_id, ts, event_id,
              |         CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
              |              THEN 1 ELSE 0 END AS is_new
              |  FROM m),
              |sess0 AS (
              |  SELECT user_id, ts,
              |         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              |                           ROWS UNBOUNDED PRECEDING) AS sid
              |  FROM f2),
              |sess AS (
              |  SELECT user_id, MIN(ts) AS session_start,
              |         MAX(ts) + INTERVAL 1800 SECOND AS session_end,
              |         COUNT(*) AS n_events
              |  FROM sess0 GROUP BY user_id, sid)
              |SELECT inc.incident_id, sess.user_id, sess.session_start,
              |       sess.n_events
              |FROM inc JOIN sess
              |  ON inc.i_start < sess.session_end
              | AND sess.session_start < inc.i_end""".stripMargin)),

    // Kaplan–Meier time-to-conversion with ADMINISTRATIVE censoring:
    // duration = whole hours from a user's first event to their first
    // purchase, right-censored at a 48-hour observation window (slower
    // converters are censored AT 48 — they thin the risk set without
    // contributing an event factor, which is exactly what the product-
    // limit estimator exists for; dropping them would bias the curve
    // optimistic, counting them as converted-at-48 would bias it
    // pessimistic). Cohort = user_id % 3. Hours via integer-div on epoch
    // micros (date_diff('hour') counts boundary CROSSINGS in DuckDB —
    // not elapsed time — and float division corrupts exact-hour deltas).
    // Risk sets are suffix sums over the (cohort, duration) frame; the
    // survival product is the q149 prefix-fold (identical IEEE multiply
    // chain both engines — never exp(Σ ln)).
    QueryDef("q191_kaplan_meier",
      (s, d) => {
        val ev = Tables.events(s, d)
        val first = ev.groupBy(col("user_id")).agg(min(col("ts")).alias("__t0"))
        val firstPurchase = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id")).agg(min(col("ts")).alias("__tp"))
        val hrs = expr("(unix_micros(__tp) - unix_micros(__t0)) DIV 3600000000")
        val subjects = first.join(firstPurchase, Seq("user_id"), "left")
          .select((col("user_id") % 3).alias("cohort"),
            when(hrs.isNotNull && hrs <= 48L, hrs).otherwise(lit(48L))
              .cast(LongType).alias("duration_hours"),
            (hrs.isNotNull && hrs <= 48L).alias("observed"))
        TimeSeries.kaplanMeier(subjects, Seq("cohort"), "duration_hours",
          "observed")
      },
      Some(s"""WITH $evCte,
              |u AS (SELECT user_id, MIN(ts) AS t0 FROM ev GROUP BY 1),
              |p AS (SELECT user_id, MIN(ts) AS tp FROM ev
              |      WHERE event_type = 'purchase' GROUP BY 1),
              |s0 AS (SELECT u.user_id % 3 AS cohort,
              |         (epoch_us(p.tp) - epoch_us(u.t0)) // 3600000000 AS hrs
              |       FROM u LEFT JOIN p USING (user_id)),
              |subj AS (SELECT cohort,
              |           CASE WHEN hrs IS NOT NULL AND hrs <= 48
              |                THEN hrs ELSE 48 END AS t_dur,
              |           (hrs IS NOT NULL AND hrs <= 48) AS obs FROM s0),
              |byt AS (SELECT cohort, t_dur AS t,
              |          CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
              |          COUNT(*) AS m
              |        FROM subj GROUP BY 1, 2),
              |r AS (SELECT cohort, t, d,
              |        CAST(SUM(m) OVER (PARTITION BY cohort ORDER BY t DESC
              |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |             AS BIGINT) AS n
              |      FROM byt),
              |f AS (SELECT cohort, t, n, d, CAST(n - d AS DOUBLE) / n AS f
              |      FROM r WHERE d > 0),
              |km AS (SELECT cohort, list(t ORDER BY t) AS ts,
              |         list(n ORDER BY t) AS ns, list(d ORDER BY t) AS ds,
              |         list(f ORDER BY t) AS fs
              |       FROM f GROUP BY cohort)
              |SELECT cohort, unnest(ts) AS duration_hours, unnest(ns) AS n_at_risk,
              |  unnest(ds) AS d_events,
              |  unnest(list_transform(range(len(fs)), i ->
              |    round(list_reduce(fs[1:i+1], (acc, q) -> acc * q), 9)))
              |    AS survival
              |FROM km""".stripMargin)),

    // Time-weighted average vs plain average per event type: each value
    // holds until the next observation (integer-microsecond weights),
    // value·Δt decimal-summed, ONE division at the end — the metering/
    // finance mean a plain AVG misstates under irregular sampling; both
    // are emitted so the divergence itself is part of the gated result.
    QueryDef("q206_twap",
      (s, d) => TimeSeries.twap(Tables.events(s, d), Seq("event_type"),
        "ts", "value", Seq(col("event_id"))),
      Some(s"""WITH $evCte,
              |t AS (
              |  SELECT event_type, value,
              |    epoch_us(lead(ts) OVER (PARTITION BY event_type
              |      ORDER BY ts, event_id)) - epoch_us(ts) AS dt
              |  FROM ev)
              |SELECT event_type, COUNT(dt) AS n_intervals,
              |  CAST(SUM(dt) AS BIGINT) AS total_us,
              |  round(${graft.ops.Aggregations.exactSumSql(
                   "CASE WHEN dt IS NOT NULL THEN value * dt END")}
              |        / CAST(CAST(SUM(dt) AS BIGINT) AS DOUBLE), 6) AS twap,
              |  round(${graft.ops.Aggregations.exactAvgSql("value")}, 6)
              |    AS plain_avg
              |FROM t GROUP BY event_type""".stripMargin)),

    // Session bounce rate by ENTRY event type: sessions (q23's lag-gap
    // sessionization, 30-min gap) keyed by their first event — the entry
    // is a struct-min over the total (ts, event_id) order, no second
    // window pass — with bounce = single-event session. The web-analytics
    // staple that needs sessionization + within-group argmin + a
    // conditional rate, all integer until one division.
    QueryDef("q209_bounce_rate",
      (s, d) => {
        import graft.ops.Aggregations.countIf
        val sess = TimeSeries.sessionize(Tables.events(s, d), "user_id", "ts",
          gapSeconds = 1800, tieBreak = Seq(col("event_id")))
        val perSession = sess.groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).alias("__n"),
            min(struct(col("ts"), col("event_id"), col("event_type")))
              .alias("__first"))
          .select(col("__first.event_type").alias("entry_type"), col("__n"))
        perSession.groupBy(col("entry_type"))
          .agg(count(lit(1)).alias("sessions"),
            countIf(col("__n") === 1L).alias("bounces"))
          .select(col("entry_type"), col("sessions"), col("bounces"),
            round(col("bounces").cast("double") / col("sessions"), 6)
              .alias("bounce_rate"))
      },
      Some(s"""WITH $evCte,
              |m AS (
              |  SELECT user_id, event_id, ts, event_type, epoch_us(ts) AS us,
              |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id
              |      ORDER BY ts, event_id) AS prev_us
              |  FROM ev),
              |f AS (
              |  SELECT user_id, event_id, ts, event_type,
              |    CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
              |         THEN 1 ELSE 0 END AS is_new
              |  FROM m),
              |s0 AS (
              |  SELECT user_id, event_id, ts, event_type,
              |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              |      ROWS UNBOUNDED PRECEDING) AS sid
              |  FROM f),
              |e AS (
              |  SELECT event_type,
              |    row_number() OVER (PARTITION BY user_id, sid
              |      ORDER BY ts, event_id) AS rn,
              |    COUNT(*) OVER (PARTITION BY user_id, sid) AS n
              |  FROM s0),
              |per AS (SELECT event_type AS entry_type, n FROM e WHERE rn = 1)
              |SELECT entry_type, COUNT(*) AS sessions,
              |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces,
              |  round(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              |        / COUNT(*), 6) AS bounce_rate
              |FROM per GROUP BY entry_type""".stripMargin)),

    // Hour-of-day seasonality profile (multiplicative index): per event
    // type, mean value by clock hour vs the type's overall mean — the
    // index a seasonal-naive forecaster multiplies into its baseline.
    // Margins are decimal window sums over the ≤24-row hour frame per
    // type, never the events.
    QueryDef("q210_seasonality_profile",
      (s, d) => {
        import graft.ops.Aggregations.exactSum
        import org.apache.spark.sql.types.DecimalType
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("event_type"))
        val cells = Tables.events(s, d)
          .groupBy(col("event_type"), hour(col("ts")).cast(LongType).alias("hod"))
          .agg(count(col("value")).alias("n"),
            exactSum(col("value")).alias("__sv"))
        val meanH = col("__sv") / col("n")
        val meanAll = sum(col("__sv").cast(DecimalType(30, 8))).over(w)
          .cast("double") / sum(col("n")).over(w)
        cells.select(col("event_type"), col("hod"), col("n"),
          round(meanH, 6).alias("mean_value"),
          round(meanH / meanAll, 6).alias("seasonal_index"))
      },
      Some(s"""WITH $evCte,
              |cells AS (
              |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
              |    COUNT(value) AS n,
              |    ${graft.ops.Aggregations.exactSumSql("value")} AS sv
              |  FROM ev GROUP BY 1, 2),
              |w AS (
              |  SELECT event_type, hod, n, sv,
              |    CAST(CAST(SUM(CAST(sv AS DECIMAL(30,8)))
              |      OVER (PARTITION BY event_type) AS VARCHAR) AS DOUBLE) AS svall,
              |    CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS nall
              |  FROM cells)
              |SELECT event_type, hod, n,
              |  round(sv / n, 6) AS mean_value,
              |  round((sv / n) / (svall / nall), 6) AS seasonal_index
              |FROM w""".stripMargin)),

    // Lagged cross-correlation (CCF) between the view and purchase
    // hourly count series at lags −3..+3 — "do purchases follow views
    // with a delay": integer counts, q152 moment chain per lag, the
    // whole statistic exact until the final divide/sqrt. Pairs are the
    // OBSERVED common buckets (an absent hour has no row on either
    // side); the lag fan-out is a 7-element literal explode on the
    // bucket-sized frame, never the events.
    QueryDef("q211_cross_correlation",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val Acc = DecimalType(30, 8)
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).alias("bucket"))
          .agg(count(lit(1)).alias("n"))
        val a = hourly.filter(col("event_type") === "view")
          .select(col("bucket"), col("n").alias("x"))
          .select(col("x"), explode(sequence(lit(-3), lit(3))).alias("lag"),
            col("bucket"))
          .select(col("x"), col("lag").cast(LongType).alias("lag"),
            expr("timestampadd(HOUR, lag, bucket)").alias("__shifted"))
        val b = hourly.filter(col("event_type") === "purchase")
          .select(col("bucket").alias("__shifted"), col("n").alias("y"))
        val joined = a.join(b, "__shifted")
        val m = joined.groupBy(col("lag"))
          .agg(count(lit(1)).alias("n_pairs"),
            sum(col("x")).alias("__sx"), sum(col("x") * col("x")).alias("__sx2"),
            sum(col("y")).alias("__sy"), sum(col("y") * col("y")).alias("__sy2"),
            sum(col("x") * col("y")).alias("__sxy"))
        val n = col("n_pairs").cast("double")
        def D(c: String) = col(c).cast("double")
        val vx = D("__sx2") / n - (D("__sx") / n) * (D("__sx") / n)
        val vy = D("__sy2") / n - (D("__sy") / n) * (D("__sy") / n)
        val cov = D("__sxy") / n - (D("__sx") / n) * (D("__sy") / n)
        m.select(col("lag"), col("n_pairs"),
          round(when(vx > 0 && vy > 0, cov / sqrt(vx * vy)), 6).alias("ccf"))
      },
      Some(s"""WITH $evCte,
              |hourly AS (
              |  SELECT event_type, date_trunc('hour', ts) AS bucket, COUNT(*) AS n
              |  FROM ev GROUP BY 1, 2),
              |a AS (
              |  SELECT n AS x, CAST(l.lag AS BIGINT) AS lag,
              |    bucket + to_hours(CAST(l.lag AS BIGINT)) AS shifted
              |  FROM hourly, (SELECT unnest(range(-3, 4)) AS lag) l
              |  WHERE event_type = 'view'),
              |b AS (SELECT bucket AS shifted, n AS y FROM hourly
              |      WHERE event_type = 'purchase'),
              |j AS (SELECT lag, x, y FROM a JOIN b USING (shifted)),
              |m AS (
              |  SELECT lag, COUNT(*) AS n_pairs,
              |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sx2,
              |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(y * y) AS BIGINT) AS sy2,
              |    CAST(SUM(x * y) AS BIGINT) AS sxy
              |  FROM j GROUP BY lag),
              |dd AS (
              |  SELECT lag, n_pairs,
              |    sx2 / CAST(n_pairs AS DOUBLE)
              |      - (sx / CAST(n_pairs AS DOUBLE)) * (sx / CAST(n_pairs AS DOUBLE)) AS vx,
              |    sy2 / CAST(n_pairs AS DOUBLE)
              |      - (sy / CAST(n_pairs AS DOUBLE)) * (sy / CAST(n_pairs AS DOUBLE)) AS vy,
              |    sxy / CAST(n_pairs AS DOUBLE)
              |      - (sx / CAST(n_pairs AS DOUBLE)) * (sy / CAST(n_pairs AS DOUBLE)) AS cov
              |  FROM m)
              |SELECT lag, n_pairs,
              |  round(CASE WHEN vx > 0 AND vy > 0 THEN cov / sqrt(vx * vy) END, 6)
              |    AS ccf
              |FROM dd""".stripMargin))
  )

  /** The q147 LOCF pipeline as a reusable frame (q149/q150 build on it). */
  /** Shared oracle CTE chain rebuilding [[TimeSeries.collapseRuns]] — the
    * q156 run frame as `runs` (def, not val: `all` initializes first).
    */
  private def scd2RunsCtes =
    s"""$evCte,
       |f AS (SELECT user_id, event_type, ts, event_id,
       |        CASE WHEN lag(event_type) OVER w IS NULL
       |               OR lag(event_type) OVER w <> event_type
       |             THEN 1 ELSE 0 END AS brk
       |      FROM ev
       |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |r AS (SELECT user_id, event_type, ts,
       |        sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run0
       |      FROM f),
       |g AS (SELECT user_id, event_type, run0,
       |        min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
       |      FROM r GROUP BY user_id, event_type, run0),
       |runs AS (SELECT user_id, event_type,
       |    CAST(row_number() OVER wr AS BIGINT) AS run_id,
       |    valid_from,
       |    lead(valid_from) OVER wr AS valid_to,
       |    n_events
       |  FROM g
       |  WINDOW wr AS (PARTITION BY user_id ORDER BY run0))""".stripMargin

  /** q146's gap-filled hourly series, the input of q147-q148's fills. */
  private def gapFilled(s: org.apache.spark.sql.SparkSession, d: String) =
    TimeSeries.gapFillTumbling(Tables.events(s, d), "ts", "hour",
      Seq("event_type"),
      Seq(count(lit(1)).alias("n_events"),
        Aggregations.exactSum(col("value")).alias("total_value")),
      fillZero = Seq("n_events"))

  private def locfFilled(s: org.apache.spark.sql.SparkSession, d: String) =
    TimeSeries.locf(gapFilled(s, d),
      Seq("event_type"), "window_start", "total_value", "total_value_filled")

  /** Shared oracle CTE chain through the dense per-type hourly `spine`
    * (with the observed aggregate `a` it is joined to).
    */
  private lazy val spineCtes: String =
    s"""WITH $evCte,
       |a AS (SELECT date_trunc('hour', ts) AS window_start, event_type,
       |        COUNT(*) AS n_events, ${exactSumSql("value")} AS total_value
       |      FROM ev GROUP BY 1, 2),
       |b AS (SELECT min(window_start) AS lo, max(window_start) AS hi FROM a),
       |g AS (SELECT DISTINCT event_type FROM a),
       |spine AS (SELECT s.window_start, g.event_type
       |          FROM (SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour'))
       |                  AS window_start FROM b) s CROSS JOIN g)""".stripMargin

  /** The gap-filled series over [[spineCtes]]: zero-filled counts, sums
    * NULL on synthesized buckets.
    */
  private lazy val gapFillSql: String =
    """SELECT spine.window_start, spine.event_type,
      |  coalesce(a.n_events, 0) AS n_events, a.total_value
      |FROM spine LEFT JOIN a USING (window_start, event_type)""".stripMargin

  /** LOCF of the gap-filled frame `f`'s hourly totals. */
  private lazy val locfSql: String =
    """SELECT window_start, event_type, n_events, total_value,
      |  last_value(total_value IGNORE NULLS) OVER (
      |    PARTITION BY event_type ORDER BY window_start
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS total_value_filled
      |FROM f""".stripMargin

  /** Shared oracle CTE chain through the gap-filled frame `f`. */
  private lazy val gapFillCtes: String = s"$spineCtes,\nf AS ($gapFillSql)"

  /** Shared oracle CTE chain through the LOCF frame `l`. */
  private lazy val locfCtes: String = s"$gapFillCtes,\nl AS ($locfSql)"
}
