package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Exact.ln4Sql

/** Driver-contract wiring for the temporal suite. */
object TemporalQueries {

  private val sumValue =
    "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"

  val defs: Seq[QueryDef] = Seq(
    QueryDef("window_tumbling",
      (s, d) => Temporal.tumbling(Tables.events(s, d)), Some(
        s"""SELECT date_trunc('hour', ts) AS ws, event_type,
           |  count(*) AS n_events, $sumValue AS sum_value,
           |  $sumValue / CAST(count(value) AS DOUBLE) AS avg_value
           |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin)),

    // the FIFTH streamed gate: the tumbling aggregate above executed
    // as a REAL watermarked stream (state-store windows, sentinel
    // flush) under the same batch grouping — counts + exact milli sums
    QueryDef("window_tumbling_streamed",
      (s, d) => graft.streaming.EventsStream.tumblingStreamedQuery(s, d),
      Some(
        """SELECT CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS ws_ms,
          |  event_type, count(*) AS n_events,
          |  CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
          |    AS sum_value_milli
          |FROM events GROUP BY 1, 2 ORDER BY ws_ms, event_type""".stripMargin)),

    QueryDef("window_sliding",
      (s, d) => Temporal.sliding(Tables.events(s, d)), Some(
        s"""WITH b AS (
           |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS b30, value FROM events),
           |w AS (SELECT unnest([b30, b30 - INTERVAL 30 MINUTE]) AS ws, value FROM b)
           |SELECT ws, count(*) AS n_events, $sumValue AS sum_value
           |FROM w GROUP BY ws ORDER BY ws""".stripMargin)),

    QueryDef("sessionize",
      (s, d) => Temporal.sessionize(Tables.events(s, d)), Some(
        s"""WITH o AS (
           |  SELECT user_id, ts, value,
           |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
           |  FROM events),
           |f AS (
           |  SELECT user_id, ts, value,
           |    CASE WHEN prev_ts IS NULL OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
           |         THEN 1 ELSE 0 END AS new_sess
           |  FROM o),
           |s AS (
           |  SELECT user_id, ts, value,
           |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           |  FROM f)
           |SELECT user_id, session_id, count(*) AS n_events,
           |  min(ts) AS session_start, max(ts) AS session_end,
           |  $sumValue AS sum_value,
           |  CAST(epoch_ms(max(ts)) - epoch_ms(min(ts)) AS BIGINT) AS duration_ms
           |FROM s GROUP BY user_id, session_id
           |ORDER BY user_id, session_id""".stripMargin)),

    // interval coalescing: fixed-span activity windows unioned into
    // maximal per-user intervals (cumulative-max merge, micro-unit
    // integers end to end) — the coverage/uptime operator, distinct
    // from gap-sessionization
    QueryDef("activity_intervals",
      (s, d) => Temporal.activityIntervals(Tables.events(s, d)), Some(
        """WITH ev AS (
          |  SELECT user_id, event_id, epoch_us(ts) AS s,
          |         epoch_us(ts) + 600000000 AS e
          |  FROM events),
          |m AS (
          |  SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
          |  FROM ev),
          |f AS (SELECT *, CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS ni
          |      FROM m),
          |g AS (
          |  SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY s, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iv
          |  FROM f),
          |mg AS (SELECT user_id, iv, min(s) AS ivs, max(e) AS ive,
          |              count(*) AS nev
          |       FROM g GROUP BY user_id, iv)
          |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
          |  CAST(sum(ive - ivs) AS BIGINT) AS covered_us,
          |  CAST(max(ive - ivs) AS BIGINT) AS max_interval_us,
          |  CAST(sum(nev) AS BIGINT) AS n_events
          |FROM mg GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // the THIRD streamed gate: interval coalescing executed as a real
    // AvailableNow stream (micros-exact long state, sentinel flush,
    // second run fires timeouts) under the batch activity_intervals
    // oracle — streaming ≡ batch as a per-round driver hash gate
    QueryDef("intervals_streamed",
      (s, d) => graft.streaming.EventsStream.intervalsStreamedQuery(s, d),
      Some(
        """WITH ev AS (
          |  SELECT user_id, event_id, epoch_us(ts) AS s,
          |         epoch_us(ts) + 600000000 AS e
          |  FROM events),
          |m AS (
          |  SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
          |  FROM ev),
          |f AS (SELECT *, CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS ni
          |      FROM m),
          |g AS (
          |  SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY s, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iv
          |  FROM f),
          |mg AS (SELECT user_id, iv, min(s) AS ivs, max(e) AS ive,
          |              count(*) AS nev
          |       FROM g GROUP BY user_id, iv)
          |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
          |  CAST(sum(ive - ivs) AS BIGINT) AS covered_us,
          |  CAST(max(ive - ivs) AS BIGINT) AS max_interval_us,
          |  CAST(sum(nev) AS BIGINT) AS n_events
          |FROM mg GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // the stateful STREAMING sessionizer executed for real (AvailableNow
    // + checkpoint + sentinel flush) and held to the BATCH oracle — the
    // streaming/batch parity the 1 GB flagship asserts, as a driver
    // hash gate (see EventsStream.sessionizeStreamedQuery)
    QueryDef("sessionize_streamed",
      (s, d) => graft.streaming.EventsStream.sessionizeStreamedQuery(s, d),
      Some(
        s"""WITH o AS (
           |  SELECT user_id, ts, value,
           |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
           |  FROM events),
           |f AS (
           |  SELECT user_id, ts, value,
           |    CASE WHEN prev_ts IS NULL OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
           |         THEN 1 ELSE 0 END AS new_sess
           |  FROM o),
           |s AS (
           |  SELECT user_id, ts, value,
           |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           |  FROM f)
           |SELECT user_id, session_id, count(*) AS n_events,
           |  CAST(epoch_ms(min(ts)) AS BIGINT) AS session_start_ms,
           |  CAST(epoch_ms(max(ts)) AS BIGINT) AS session_end_ms,
           |  CAST(round(sum(value) * 1000) AS BIGINT) AS sum_value_milli,
           |  CAST(epoch_ms(max(ts)) - epoch_ms(min(ts)) AS BIGINT) AS duration_ms
           |FROM s GROUP BY user_id, session_id
           |ORDER BY user_id, session_id""".stripMargin)),

    QueryDef("session_window_agg",
      (s, d) => Temporal.sessionWindowAgg(Tables.events(s, d)), Some(
        s"""WITH o AS (
           |  SELECT user_id, ts, value,
           |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
           |  FROM events),
           |f AS (
           |  SELECT user_id, ts, value,
           |    CASE WHEN prev_ts IS NULL OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
           |         THEN 1 ELSE 0 END AS new_sess
           |  FROM o),
           |s AS (
           |  SELECT user_id, ts, value,
           |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           |  FROM f)
           |SELECT user_id, min(ts) AS session_start,
           |  max(ts) + INTERVAL 30 MINUTE AS session_end,
           |  count(*) AS n_events, $sumValue AS sum_value
           |FROM s GROUP BY user_id, session_id
           |ORDER BY user_id, session_start""".stripMargin)),

    QueryDef("event_transitions",
      (s, d) => Temporal.eventTransitions(Tables.events(s, d)), Some(
        """WITH t AS (
          |  SELECT event_type,
          |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |      AS from_type
          |  FROM events),
          |tr AS (
          |  SELECT from_type, event_type AS to_type, count(*) AS n
          |  FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2),
          |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM tr GROUP BY 1)
          |SELECT from_type, to_type, n,
          |  round(CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE), 6) AS p
          |FROM tr JOIN tot USING (from_type)
          |ORDER BY from_type, to_type""".stripMargin)),

    // the transitions extractor as a REAL stream (no sentinel needed —
    // pairs emit when the later event arrives), same oracle as the
    // batch event_transitions: the second streaming≡batch driver gate
    QueryDef("transitions_streamed",
      (s, d) => graft.streaming.EventsStream.transitionsStreamedQuery(s, d),
      Some(
        """WITH t AS (
          |  SELECT event_type,
          |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |      AS from_type
          |  FROM events),
          |tr AS (
          |  SELECT from_type, event_type AS to_type, count(*) AS n
          |  FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2),
          |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM tr GROUP BY 1)
          |SELECT from_type, to_type, n,
          |  round(CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE), 6) AS p
          |FROM tr JOIN tot USING (from_type)
          |ORDER BY from_type, to_type""".stripMargin)),

    // the FOURTH streamed gate: planted duplicate events (intra-batch
    // AND cross-batch replays) removed by state-store dropDuplicates
    // under a watermark; oracle = per-type aggregate over the ORIGINAL
    // corpus, so the hash gate proves exactly the copies vanished
    QueryDef("dedup_streamed",
      (s, d) => graft.streaming.EventsStream.dedupStreamedQuery(s, d),
      Some(
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
          |  CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
          |    AS sum_value_milli
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // hour-of-day profile per type: peak hour + share + exact χ² vs
    // uniform (absent hours contribute algebraically — no grid)
    QueryDef("hourly_seasonality",
      (s, d) => Temporal.hourlySeasonality(Tables.events(s, d)), Some(
        """WITH bh AS (
          |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
          |         CAST(count(*) AS BIGINT) AS nh
          |  FROM events GROUP BY 1, 2),
          |r AS (
          |  SELECT *,
          |    CAST(sum(nh) OVER (PARTITION BY event_type) AS BIGINT) AS n,
          |    row_number() OVER (PARTITION BY event_type
          |        ORDER BY nh DESC, hr ASC) AS rn
          |  FROM bh),
          |a AS (
          |  SELECT event_type, n,
          |    CAST(count(*) AS BIGINT) AS h_obs,
          |    max(CASE WHEN rn = 1 THEN hr END) AS peak_hour,
          |    CAST(max(CASE WHEN rn = 1 THEN nh END) AS BIGINT) AS peak_nh,
          |    sum(CAST(24 * nh - n AS HUGEINT) * (24 * nh - n)) AS s2
          |  FROM r GROUP BY 1, 2)
          |SELECT event_type, n, peak_hour,
          |  (1000 * peak_nh) // n AS peak_share_permille,
          |  CAST((1000000 * (s2 + (24 - h_obs) * (CAST(n AS HUGEINT) * n)))
          |       // (24 * n) AS BIGINT) AS chi2_uniform_micro
          |FROM a ORDER BY event_type""".stripMargin)),

    // stationary distribution of the event-type transition chain via
    // MarkovIters unrolled integer power-iteration rounds (ppm matrix,
    // floor-div renormalization — the pcaPower orbit contract)
    QueryDef("markov_stationary",
      (s, d) => Temporal.markovStationary(Tables.events(s, d)), Some {
        val rounds = (1 to Temporal.MarkovIters).map { k =>
          s"""r$k AS (SELECT m.tt AS t, CAST(sum(v.pi * m.p_ppm) AS BIGINT) AS raw
             |  FROM v${k - 1} v JOIN m ON m.ft = v.t GROUP BY 1),
             |v$k AS MATERIALIZED (
             |  SELECT t, CAST((1000000 * raw) // (sum(raw) OVER ()) AS BIGINT)
             |    AS pi
             |  FROM r$k),""".stripMargin
        }.mkString("\n")
        s"""WITH pr AS (
           |  SELECT event_type AS tt,
           |    lag(event_type) OVER (PARTITION BY user_id
           |        ORDER BY ts, event_id) AS ft
           |  FROM events),
           |cn AS (SELECT ft, tt, CAST(count(*) AS BIGINT) AS nij
           |       FROM pr WHERE ft IS NOT NULL GROUP BY ft, tt),
           |m AS MATERIALIZED (
           |  SELECT ft, tt, (1000000 * nij) // ni AS p_ppm FROM (
           |    SELECT ft, tt, nij,
           |      CAST(sum(nij) OVER (PARTITION BY ft) AS BIGINT) AS ni
           |    FROM cn
           |    WHERE tt IN (SELECT DISTINCT ft FROM cn)) x),
           |v0 AS MATERIALIZED (
           |  SELECT t, CAST(1000000 // (count(*) OVER ()) AS BIGINT) AS pi
           |  FROM (SELECT DISTINCT ft AS t FROM m) s),
           |$rounds
           |fin AS (SELECT t, pi FROM v${Temporal.MarkovIters})
           |SELECT t AS event_type, pi AS pi_ppm FROM fin
           |ORDER BY event_type""".stripMargin
      }),

    // strict-sequence funnel: signup → view → purchase in temporal
    // order, each step after the user's earliest previous-step time
    QueryDef("ordered_funnel",
      (s, d) => Temporal.orderedFunnel(Tables.events(s, d)), Some(
        """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
          |            WHERE event_type = 'signup' GROUP BY 1),
          |s2 AS (SELECT s1.user_id, s1.t1, min(v.ts) AS t2
          |       FROM s1 LEFT JOIN events v
          |         ON v.user_id = s1.user_id AND v.event_type = 'view'
          |            AND v.ts > s1.t1
          |       GROUP BY 1, 2),
          |s3 AS (SELECT s2.user_id, s2.t1, s2.t2, min(p.ts) AS t3
          |       FROM s2 LEFT JOIN events p
          |         ON p.user_id = s2.user_id AND p.event_type = 'purchase'
          |            AND p.ts > s2.t2
          |       GROUP BY 1, 2, 3),
          |c AS (SELECT CAST(count(t1) AS BIGINT) AS n1,
          |        CAST(count(t2) AS BIGINT) AS n2,
          |        CAST(count(t3) AS BIGINT) AS n3 FROM s3),
          |st(step, step_name) AS (VALUES (1, 'signup'), (2, 'view'),
          |                               (3, 'purchase'))
          |SELECT CAST(step AS BIGINT) AS step, step_name,
          |  CASE step WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END AS n_users,
          |  CASE WHEN n1 > 0 THEN
          |    (1000 * CASE step WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END) // n1
          |  END AS conv_permille
          |FROM st, c ORDER BY step""".stripMargin)),

    // two-proportion A/B readout: per-variant conversion + pooled z²
    // significance on the exact quantized-ln scale (z² is rational,
    // so ln z² is a ±sum of integer lns — no sqrt/exp anywhere)
    QueryDef("ab_conversion_ztest",
      (s, d) => Temporal.abConversionZtest(Tables.events(s, d)), Some {
        s"""WITH pu AS (
           |  SELECT user_id % 2 AS variant, user_id,
           |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
           |  FROM events GROUP BY 1, 2),
           |bv AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
           |         CAST(sum(conv) AS BIGINT) AS x
           |       FROM pu GROUP BY 1),
           |a AS (SELECT
           |  CAST(sum(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n0,
           |  CAST(sum(CASE WHEN variant = 0 THEN x END) AS BIGINT) AS x0,
           |  CAST(sum(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n1,
           |  CAST(sum(CASE WHEN variant = 1 THEN x END) AS BIGINT) AS x1
           |  FROM bv)
           |SELECT n0, x0, n1, x1,
           |  CASE WHEN n0 > 0 THEN (1000000 * x0) // n0 END AS p0_ppm,
           |  CASE WHEN n1 > 0 THEN (1000000 * x1) // n1 END AS p1_ppm,
           |  CASE WHEN n0 > 0 AND n1 > 0
           |    THEN (1000000 * x1) // n1 - (1000000 * x0) // n0 END AS diff_ppm,
           |  CASE WHEN n0 > 0 AND n1 > 0 AND x0 + x1 > 0
           |    AND x0 + x1 < n0 + n1 AND x1 * n0 <> x0 * n1 THEN
           |    100 * (2 * ${ln4Sql("abs(x1 * n0 - x0 * n1)")} + ${ln4Sql("n0 + n1")}
           |      - ${ln4Sql("n0")} - ${ln4Sql("n1")} - ${ln4Sql("x0 + x1")}
           |      - ${ln4Sql("n0 + n1 - x0 - x1")}) END AS ln_z2_micro
           |FROM a""".stripMargin
      }),

    // Kaplan–Meier signup→first-purchase survival; never-purchasers
    // censored at the corpus horizon; survival as exact cumulative
    // quantized-ln (a product of ratios is a sum of lns)
    QueryDef("survival_km",
      (s, d) => Temporal.survivalKm(Tables.events(s, d)), Some(
        """WITH su AS (SELECT user_id, min(ts) AS s_ts FROM events
          |            WHERE event_type = 'signup' GROUP BY 1),
          |pu AS (SELECT user_id AS p_user, ts AS p_ts FROM events
          |       WHERE event_type = 'purchase'),
          |hz AS (SELECT max(ts) AS h_ts FROM events),
          |fp AS (SELECT su.user_id, su.s_ts, min(p_ts) AS fp_ts
          |       FROM su LEFT JOIN pu
          |         ON p_user = su.user_id AND p_ts > su.s_ts
          |       GROUP BY 1, 2),
          |dur AS (
          |  SELECT CASE WHEN fp_ts IS NOT NULL
          |    THEN (epoch_us(fp_ts) - epoch_us(s_ts)) // 86400000000
          |    ELSE (epoch_us(h_ts) - epoch_us(s_ts)) // 86400000000 END
          |      AS t_day,
          |    fp_ts IS NOT NULL AS is_event
          |  FROM fp, hz),
          |bd AS (SELECT t_day,
          |    CAST(sum(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT) AS d,
          |    CAST(sum(CASE WHEN is_event THEN 0 ELSE 1 END) AS BIGINT) AS c
          |  FROM dur GROUP BY 1),
          |rk AS (SELECT *,
          |    CAST(sum(d + c) OVER ()
          |      - coalesce(sum(d + c) OVER (ORDER BY t_day
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS BIGINT) AS n_risk
          |  FROM bd),
          |tm AS (SELECT *,
          |    CASE WHEN d > 0 AND n_risk > d THEN
          |      CAST(floor(ln(CAST(n_risk - d AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT)
          |      - CAST(floor(ln(CAST(n_risk AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT)
          |    ELSE 0 END AS term,
          |    max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (ORDER BY t_day
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ext
          |  FROM rk),
          |o0 AS (SELECT t_day, n_risk, d, c,
          |    CASE WHEN ext > 0 THEN NULL
          |         ELSE 100 * CAST(sum(term) OVER (ORDER BY t_day
          |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |              AS BIGINT) END AS ln_s_micro
          |  FROM tm)
          |SELECT t_day, n_risk, d AS n_events, c AS n_censored,
          |  CAST(ln_s_micro AS BIGINT) AS ln_s_micro
          |FROM o0 WHERE d > 0 ORDER BY t_day""".stripMargin)),

    QueryDef("event_funnel",
      (s, d) => Temporal.funnel(Tables.events(s, d)), Some(
        """WITH s AS (
          |  SELECT user_id, min(ts) AS first_signup FROM events
          |  WHERE event_type = 'signup' GROUP BY user_id),
          |p AS (SELECT user_id AS p_user, ts AS p_ts FROM events
          |      WHERE event_type = 'purchase')
          |SELECT s.user_id, s.first_signup,
          |  count(p_ts) AS n_purchases_after,
          |  count(p_ts) > 0 AS converted
          |FROM s LEFT JOIN p ON p_user = s.user_id AND p_ts > first_signup
          |GROUP BY s.user_id, s.first_signup ORDER BY s.user_id""".stripMargin)),

    QueryDef("asof_signup_purchase",
      (s, d) => Temporal.asofSignupPurchase(Tables.events(s, d)), Some(
        """WITH ev AS (
          |  SELECT user_id, ts, event_type, event_id,
          |    CASE WHEN event_type = 'signup' THEN ts END AS sig_ts
          |  FROM events WHERE event_type IN ('signup', 'purchase')),
          |w AS (
          |  SELECT user_id, ts, event_type, event_id,
          |    max(sig_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup
          |  FROM ev)
          |SELECT user_id, event_id, ts AS purchase_ts, last_signup,
          |  CAST(epoch_ms(ts) - epoch_ms(last_signup) AS BIGINT) AS ms_since_signup
          |FROM w WHERE event_type = 'purchase'
          |ORDER BY user_id, event_id""".stripMargin)),

    QueryDef("events_json_props",
      (s, d) => Temporal.jsonProps(Tables.events(s, d)), Some(
        s"""WITH t AS (
           |  SELECT CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k, value
           |  FROM events)
           |SELECT k % 10 AS k_bucket, count(*) AS n, $sumValue AS sum_value
           |FROM t GROUP BY 1 ORDER BY k_bucket""".stripMargin)),

    // VARIANT (Spark 4 binary semi-structured type): parse-once typed
    // path extraction; DuckDB mirrors via its JSON extraction
    QueryDef("variant_props",
      (s, d) => Temporal.variantProps(Tables.events(s, d)), Some(
        """WITH t AS (
          |  SELECT event_type,
          |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          |  FROM events)
          |SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
          |  min(k) AS min_k, max(k) AS max_k,
          |  CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k
          |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QueryDef("props_map_stats",
      (s, d) => Temporal.propsMapStats(Tables.events(s, d)), Some(
        """WITH kv AS (
          |  SELECT unnest(json_keys(props)) AS key,
          |         json_extract_string(props, '$.' || unnest(json_keys(props))) AS value
          |  FROM events)
          |SELECT key, count(*) AS n,
          |  CAST(count(DISTINCT value) AS BIGINT) AS n_values,
          |  min(value) AS min_value, max(value) AS max_value
          |FROM kv GROUP BY key ORDER BY key""".stripMargin)),

    // oracle is the NAIVE theta form (cross + conditional agg) — tiny at
    // sf0.01; the Spark side is the bucketed equi-join rewrite, so this
    // also proves the rewrite's semantics against the naive definition
    QueryDef("purchases_near_errors",
      (s, d) => Temporal.purchasesNearErrors(Tables.events(s, d)), Some(
        """WITH p AS (
          |  SELECT event_id, epoch_ms(ts) AS p_ms FROM events
          |  WHERE event_type = 'purchase'),
          |e AS (
          |  SELECT epoch_ms(ts) AS e_ms FROM events WHERE event_type = 'error')
          |SELECT p.event_id,
          |  count(CASE WHEN abs(p_ms - e_ms) <= 300000 THEN 1 END) AS n_errors_nearby,
          |  min(CASE WHEN abs(p_ms - e_ms) <= 300000 THEN abs(p_ms - e_ms) END) AS nearest_error_ms
          |FROM p LEFT JOIN e ON TRUE
          |GROUP BY p.event_id ORDER BY event_id""".stripMargin)),

    QueryDef("daily_type_pivot",
      (s, d) => Temporal.dailyTypePivot(Tables.events(s, d)), Some(
        """SELECT date_trunc('day', ts) AS day,
          |  count(*) FILTER (WHERE event_type = 'click') AS click,
          |  count(*) FILTER (WHERE event_type = 'error') AS error,
          |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
          |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
          |  count(*) FILTER (WHERE event_type = 'view') AS "view"
          |FROM events GROUP BY 1 ORDER BY day""".stripMargin)),

    QueryDef("daily_type_unpivot",
      (s, d) => Temporal.dailyTypeUnpivot(Tables.events(s, d)), Some(
        """WITH p AS (
          |  SELECT date_trunc('day', ts) AS day,
          |    count(*) FILTER (WHERE event_type = 'click') AS click,
          |    count(*) FILTER (WHERE event_type = 'error') AS error,
          |    count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
          |    count(*) FILTER (WHERE event_type = 'signup') AS signup,
          |    count(*) FILTER (WHERE event_type = 'view') AS "view"
          |  FROM events GROUP BY 1)
          |SELECT day, event_type, n_events
          |FROM (UNPIVOT p ON click, error, purchase, signup, "view"
          |      INTO NAME event_type VALUE n_events)
          |ORDER BY day, event_type""".stripMargin)),

    // Nelson-Aalen cumulative hazard over the SAME risk-set day table
    // as survival_km: plain sum of exact term-wise 10^6*d//n floors —
    // no ladder needed (the hazard is a sum of rationals, not a
    // product)
    QueryDef("nelson_aalen",
      (s, d) => Temporal.nelsonAalen(Tables.events(s, d)), Some(
        """WITH su AS (SELECT user_id, min(ts) AS s_ts FROM events
          |            WHERE event_type = 'signup' GROUP BY 1),
          |pu AS (SELECT user_id AS p_user, ts AS p_ts FROM events
          |       WHERE event_type = 'purchase'),
          |hz AS (SELECT max(ts) AS h_ts FROM events),
          |fp AS (SELECT su.user_id, su.s_ts, min(p_ts) AS fp_ts
          |       FROM su LEFT JOIN pu
          |         ON p_user = su.user_id AND p_ts > su.s_ts
          |       GROUP BY 1, 2),
          |dur AS (
          |  SELECT CASE WHEN fp_ts IS NOT NULL
          |    THEN (epoch_us(fp_ts) - epoch_us(s_ts)) // 86400000000
          |    ELSE (epoch_us(h_ts) - epoch_us(s_ts)) // 86400000000 END
          |      AS t_day,
          |    fp_ts IS NOT NULL AS is_event
          |  FROM fp, hz),
          |bd AS (SELECT t_day,
          |    CAST(sum(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT) AS d,
          |    CAST(sum(CASE WHEN is_event THEN 0 ELSE 1 END) AS BIGINT) AS c
          |  FROM dur GROUP BY 1),
          |rk AS (SELECT *,
          |    CAST(sum(d + c) OVER ()
          |      - coalesce(sum(d + c) OVER (ORDER BY t_day
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS BIGINT) AS n_risk
          |  FROM bd),
          |cm AS (SELECT t_day, n_risk, d, c,
          |    CAST(sum(CASE WHEN d > 0 AND n_risk > 0
          |        THEN (1000000 * d) // n_risk ELSE 0 END)
          |      OVER (ORDER BY t_day
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS h_micro
          |  FROM rk)
          |SELECT t_day, n_risk, d AS n_events, c AS n_censored, h_micro
          |FROM cm WHERE d > 0 ORDER BY t_day""".stripMargin)),

    // log-rank test of time-to-first-purchase between the user_id % 2
    // A/B variants (the Cox score test at beta = 0): exact O1, micro
    // floor-div expectation/variance terms per event day, z^2 ladder
    QueryDef("logrank_conversion",
      (s, d) => Temporal.logrankConversion(Tables.events(s, d)), Some {
        s"""WITH su AS (SELECT user_id, min(ts) AS s_ts FROM events
           |            WHERE event_type = 'signup' GROUP BY 1),
           |pu AS (SELECT user_id AS p_user, ts AS p_ts FROM events
           |       WHERE event_type = 'purchase'),
           |hz AS (SELECT max(ts) AS h_ts FROM events),
           |fp AS (SELECT su.user_id, su.s_ts, min(p_ts) AS fp_ts
           |       FROM su LEFT JOIN pu
           |         ON p_user = su.user_id AND p_ts > su.s_ts
           |       GROUP BY 1, 2),
           |dur AS (
           |  SELECT user_id % 2 AS variant,
           |    CASE WHEN fp_ts IS NOT NULL
           |      THEN (epoch_us(fp_ts) - epoch_us(s_ts)) // 86400000000
           |      ELSE (epoch_us(h_ts) - epoch_us(s_ts)) // 86400000000 END
           |      AS t_day,
           |    fp_ts IS NOT NULL AS is_event
           |  FROM fp, hz),
           |bd AS (SELECT t_day,
           |    CAST(sum(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT) AS d,
           |    CAST(count(*) AS BIGINT) AS tot,
           |    CAST(sum(CASE WHEN is_event AND variant = 1 THEN 1 ELSE 0 END)
           |         AS BIGINT) AS d1,
           |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS tot1
           |  FROM dur GROUP BY 1),
           |rk AS (SELECT *,
           |    CAST(sum(tot) OVER ()
           |      - coalesce(sum(tot) OVER (ORDER BY t_day
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT) AS n,
           |    CAST(sum(tot1) OVER ()
           |      - coalesce(sum(tot1) OVER (ORDER BY t_day
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT) AS n1
           |  FROM bd),
           |a AS (SELECT
           |    CAST(sum(tot) AS BIGINT) AS n_users,
           |    CAST(sum(tot1) AS BIGINT) AS n_users1,
           |    CAST(sum(d1) AS BIGINT) AS o1,
           |    sum(CASE WHEN d > 0 THEN
           |      (1000000 * CAST(d AS HUGEINT) * n1) // n
           |      ELSE 0 END) AS e1m,
           |    sum(CASE WHEN d > 0 AND n > 1 THEN
           |      (1000000 * CAST(d AS HUGEINT) * n1 * (n - n1) * (n - d))
           |      // (CAST(n AS HUGEINT) * n * (n - 1)) ELSE 0 END) AS vm
           |  FROM rk)
           |SELECT n_users, n_users1, o1,
           |  CAST(e1m AS BIGINT) AS e1_micro, CAST(vm AS BIGINT) AS v_micro,
           |  CAST(CASE WHEN 1000000 * o1 > e1m THEN 1
           |       WHEN 1000000 * o1 < e1m THEN -1 ELSE 0 END AS BIGINT)
           |    AS z_sign,
           |  CASE WHEN vm > 0 AND 1000000 * o1 <> e1m THEN
           |    100 * (2 * ${ln4Sql("abs(1000000 * o1 - e1m)")}
           |      - ${ln4Sql("vm")} - ${ln4Sql("1000000")}) END AS ln_z2_micro
           |FROM a""".stripMargin
      }),

    // signup-week x week-offset retention triangle: integer day/week
    // buckets (no calendar-week conventions), exact permille floor-div
    QueryDef("cohort_retention",
      (s, d) => Temporal.cohortRetention(Tables.events(s, d)), Some(
        """WITH su AS (
          |  SELECT user_id,
          |    epoch_us(min(ts)) // 86400000000 AS s_day
          |  FROM events WHERE event_type = 'signup' GROUP BY 1),
          |sc AS (SELECT user_id, s_day, s_day // 7 AS cohort_week FROM su),
          |cs AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort
          |       FROM sc GROUP BY 1),
          |act AS (
          |  SELECT DISTINCT sc.cohort_week,
          |    (e.e_day - sc.s_day) // 7 AS offset_weeks, e.user_id
          |  FROM (SELECT user_id, epoch_us(ts) // 86400000000 AS e_day
          |        FROM events) e
          |  JOIN sc ON sc.user_id = e.user_id
          |  WHERE e.e_day >= sc.s_day),
          |ao AS (SELECT cohort_week, offset_weeks,
          |         CAST(count(*) AS BIGINT) AS n_active
          |       FROM act GROUP BY 1, 2)
          |SELECT ao.cohort_week, ao.offset_weeks, cs.n_cohort, ao.n_active,
          |  CAST((1000 * n_active) // n_cohort AS BIGINT)
          |    AS retention_permille
          |FROM ao JOIN cs USING (cohort_week)
          |ORDER BY cohort_week, offset_weeks""".stripMargin)),

    // conversion within 1h/24h/7d of signup — shares the survival
    // cohort definition; windows interpolate ConversionWindowsUs
    QueryDef("conversion_windows",
      (s, d) => Temporal.conversionWindows(Tables.events(s, d)), Some {
        val values = Temporal.ConversionWindowsUs
          .map(w => s"(${w / 3600000000L}, $w)").mkString(", ")
        s"""WITH su AS (SELECT user_id, min(ts) AS s_ts FROM events
           |            WHERE event_type = 'signup' GROUP BY 1),
           |pu AS (SELECT user_id AS p_user, ts AS p_ts FROM events
           |       WHERE event_type = 'purchase'),
           |fp AS (SELECT su.user_id, su.s_ts, min(p_ts) AS fp_ts
           |       FROM su LEFT JOIN pu
           |         ON p_user = su.user_id AND p_ts > su.s_ts
           |       GROUP BY 1, 2),
           |dd AS (SELECT epoch_us(fp_ts) - epoch_us(s_ts) AS delta_us
           |       FROM fp),
           |w(window_hours, wus) AS (VALUES $values)
           |SELECT CAST(window_hours AS BIGINT) AS window_hours,
           |  CAST(count(*) AS BIGINT) AS n_signups,
           |  CAST(sum(CASE WHEN delta_us IS NOT NULL AND delta_us <= wus
           |       THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           |  CASE WHEN count(*) > 0 THEN
           |    (1000000 * CAST(sum(CASE WHEN delta_us IS NOT NULL AND
           |       delta_us <= wus THEN 1 ELSE 0 END) AS BIGINT))
           |    // count(*) END AS rate_ppm
           |FROM dd, w GROUP BY window_hours, wus
           |ORDER BY window_hours""".stripMargin
      }),

    // conditional next-event entropy (exact micro-nats): both
    // entropies are nonnegative BY FLOOR MONOTONICITY (ca >= c ->
    // ln4(ca) >= ln4(c)), so no sign-split is needed
    QueryDef("entropy_rate",
      (s, d) => Temporal.entropyRate(Tables.events(s, d)), Some {
        s"""WITH g0 AS (
           |  SELECT event_type AS to_t,
           |    lag(event_type) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS from_t
           |  FROM events),
           |cells AS (SELECT from_t, to_t, CAST(count(*) AS BIGINT) AS c
           |          FROM g0 WHERE from_t IS NOT NULL GROUP BY 1, 2),
           |m AS (SELECT *,
           |        CAST(sum(c) OVER (PARTITION BY from_t) AS BIGINT) AS ca,
           |        CAST(sum(c) OVER (PARTITION BY to_t) AS BIGINT) AS cb
           |      FROM cells),
           |a AS (SELECT CAST(sum(c) AS BIGINT) AS n_transitions,
           |        CAST(count(DISTINCT from_t) AS BIGINT) AS n_states,
           |        sum(CAST(c AS HUGEINT) * (${ln4Sql("ca")} - ${ln4Sql("c")}))
           |          AS hc4,
           |        sum(CAST(c AS HUGEINT) * ${ln4Sql("cb")}) AS sb4
           |      FROM m)
           |SELECT n_transitions, n_states,
           |  CAST((100 * hc4) // n_transitions AS BIGINT) AS h_cond_micro,
           |  CAST((100 * (CAST(n_transitions AS HUGEINT) *
           |    ${ln4Sql("n_transitions")} - sb4)) // n_transitions AS BIGINT)
           |    AS h_next_micro
           |FROM a""".stripMargin
      }),
  )
}
