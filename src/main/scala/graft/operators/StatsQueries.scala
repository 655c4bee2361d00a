package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Exact.ln4Sql

/** Driver-contract wiring for the classical-statistics suite
  * ([[Stats]]). Every oracle mirrors the plan's integer reduction
  * term-for-term — rank windows, floor-div quantizations, and the
  * quantized-ln ladder — so each test statistic hash-matches exactly. */
object StatsQueries {

  val defs: Seq[QueryDef] = Seq(

    // Spearman rank correlation per return flag: average-rank ties as
    // integer double-ranks DERIVED FROM THE BOUNDED (flag, value) CELL
    // GRID (per-cell 2F + c + 1, the mannwhitney cumulative — no
    // per-row rank on either engine), sign + quantized-ln rho^2 ladder
    QueryDef("spearman_corr",
      (s, d) => Stats.spearmanQuantityPrice(Tables.lineitem(s, d)), Some(
        s"""WITH joint AS (
           |  SELECT l_returnflag AS flag,
           |    CAST(round(l_quantity) AS BIGINT) AS q,
           |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
           |    CAST(count(*) AS BIGINT) AS c
           |  FROM lineitem GROUP BY 1, 2, 3),
           |r AS (
           |  SELECT flag, c,
           |    2 * CAST(coalesce(sum(c) OVER (PARTITION BY flag ORDER BY q
           |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT)
           |      + CAST(sum(c) OVER (PARTITION BY flag, q) AS BIGINT) + 1
           |      AS a,
           |    2 * CAST(coalesce(sum(c) OVER (PARTITION BY flag
           |      ORDER BY cents
           |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT)
           |      + CAST(sum(c) OVER (PARTITION BY flag, cents) AS BIGINT) + 1
           |      AS b
           |  FROM joint),
           |agg AS (
           |  SELECT flag, CAST(sum(c) AS BIGINT) AS n,
           |    sum(CAST(c AS HUGEINT) * a) AS sa,
           |    sum(CAST(c AS HUGEINT) * b) AS sb,
           |    sum(CAST(c AS HUGEINT) * a * a) AS saa,
           |    sum(CAST(c AS HUGEINT) * b * b) AS sbb,
           |    sum(CAST(c AS HUGEINT) * a * b) AS sab
           |  FROM r GROUP BY flag),
           |t AS (
           |  SELECT flag, n, n * sab - sa * sb AS num,
           |    n * saa - sa * sa AS dx, n * sbb - sb * sb AS dy
           |  FROM agg)
           |SELECT flag, n,
           |  CAST(CASE WHEN num < 0 THEN -1 WHEN num > 0 THEN 1 ELSE 0 END
           |       AS BIGINT) AS rho_sign,
           |  CASE WHEN num <> 0 AND dx > 0 AND dy > 0 THEN
           |    100 * (2 * ${ln4Sql("abs(num)")} - ${ln4Sql("dx")} - ${ln4Sql("dy")})
           |  END AS ln_rho2_micro
           |FROM t ORDER BY flag""".stripMargin)),

    // chi-square independence of lang x source: rational statistic —
    // term-wise floor-div in milli units, no ladder needed
    QueryDef("chi2_lang_source",
      (s, d) => Stats.chi2LangSource(Tables.documents(s, d)), Some(
        """WITH cells AS (
          |  SELECT lang, source, CAST(count(*) AS BIGINT) AS c
          |  FROM documents GROUP BY 1, 2),
          |m AS (
          |  SELECT *, sum(c) OVER (PARTITION BY lang) AS cl,
          |    sum(c) OVER (PARTITION BY source) AS cs,
          |    sum(c) OVER () AS nn
          |  FROM cells)
          |SELECT CAST(max(nn) AS BIGINT) AS n_docs,
          |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
          |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
          |  CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1)
          |       AS BIGINT) AS dof,
          |  CAST(sum((1000 * CAST(nn AS HUGEINT) * c * c) // (cl * cs))
          |       - 1000 * max(nn) AS BIGINT) AS chi2_milli
          |FROM m""".stripMargin)),

    // Welch's unequal-variance t: moment triples per group, rational
    // t^2 via integer cross-multiplication, ladder for ln t^2
    QueryDef("welch_ttest",
      (s, d) => Stats.welchTtest(Tables.events(s, d)), Some(
        s"""WITH v AS (
           |  SELECT CASE WHEN event_type = '${Stats.AbGroupA}' THEN 0
           |    ELSE 1 END AS g,
           |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
           |  FROM events
           |  WHERE event_type IN ('${Stats.AbGroupA}', '${Stats.AbGroupB}')),
           |m AS (
           |  SELECT g, CAST(count(*) AS BIGINT) AS n,
           |    sum(CAST(v AS HUGEINT)) AS s, sum(CAST(v AS HUGEINT) * v) AS q
           |  FROM v GROUP BY g),
           |a AS (SELECT
           |  CAST(sum(CASE WHEN g = 0 THEN n END) AS BIGINT) AS n1,
           |  sum(CASE WHEN g = 0 THEN s END) AS s1,
           |  sum(CASE WHEN g = 0 THEN q END) AS q1,
           |  CAST(sum(CASE WHEN g = 1 THEN n END) AS BIGINT) AS n2,
           |  sum(CASE WHEN g = 1 THEN s END) AS s2,
           |  sum(CASE WHEN g = 1 THEN q END) AS q2
           |  FROM m)
           |SELECT n1, n2,
           |  CAST(CASE WHEN n1 > 0 THEN CASE WHEN s1 < 0
           |    THEN -((-s1) // n1) ELSE s1 // n1 END END AS BIGINT)
           |    AS mean1_milli,
           |  CAST(CASE WHEN n2 > 0 THEN CASE WHEN s2 < 0
           |    THEN -((-s2) // n2) ELSE s2 // n2 END END AS BIGINT)
           |    AS mean2_milli,
           |  CAST(CASE WHEN s2 * n1 > s1 * n2 THEN 1
           |       WHEN s2 * n1 < s1 * n2 THEN -1 ELSE 0 END AS BIGINT)
           |    AS diff_sign,
           |  CASE WHEN n1 > 1 AND n2 > 1 AND s1 * n2 <> s2 * n1 AND
           |    n2 * n2 * (n1 * q1 - s1 * s1) * (n2 - 1) +
           |    n1 * n1 * (n2 * q2 - s2 * s2) * (n1 - 1) > 0 THEN
           |    100 * (2 * ${ln4Sql("abs(s1 * n2 - s2 * n1)")}
           |      + ${ln4Sql("(n1 - 1) * (n2 - 1)")}
           |      - ${ln4Sql("n2 * n2 * (n1 * q1 - s1 * s1) * (n2 - 1) + " +
                          "n1 * n1 * (n2 * q2 - s2 * s2) * (n1 - 1)")})
           |  END AS ln_t2_micro
           |FROM a""".stripMargin)),

    // Mann-Whitney U via the domain-bounded milli-value cell table:
    // exact integer 2*U1, tie-corrected variance on the ladder
    QueryDef("mannwhitney_value",
      (s, d) => Stats.mannWhitney(Tables.events(s, d)), Some(
        s"""WITH cells AS (
           |  SELECT CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v,
           |    CAST(count(*) AS BIGINT) AS c,
           |    CAST(sum(CASE WHEN event_type = '${Stats.AbGroupA}' THEN 1
           |         ELSE 0 END) AS BIGINT) AS c1
           |  FROM events
           |  WHERE event_type IN ('${Stats.AbGroupA}', '${Stats.AbGroupB}')
           |  GROUP BY 1),
           |f AS (
           |  SELECT *, CAST(coalesce(sum(c) OVER (ORDER BY v
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |    AS BIGINT) AS f
           |  FROM cells),
           |a AS (
           |  SELECT CAST(sum(c1) AS BIGINT) AS n1,
           |    CAST(sum(c - c1) AS BIGINT) AS n2,
           |    CAST(sum(c) AS BIGINT) AS nn,
           |    CAST(sum(c1 * (f * 2 + c + 1)) AS BIGINT) AS r1d,
           |    sum(CAST(c * c * c - c AS HUGEINT)) AS t3
           |  FROM f),
           |u AS (SELECT n1, n2, nn, t3,
           |        r1d - n1 * (n1 + 1) AS u1_x2 FROM a)
           |SELECT n1, n2, CAST(u1_x2 AS BIGINT) AS u1_x2,
           |  CAST(CASE WHEN u1_x2 > n1 * n2 THEN 1
           |       WHEN u1_x2 < n1 * n2 THEN -1 ELSE 0 END AS BIGINT)
           |    AS z_sign,
           |  CASE WHEN n1 > 0 AND n2 > 0 AND u1_x2 <> n1 * n2 AND
           |    CAST(nn AS HUGEINT) * nn * nn - nn - t3 > 0 THEN
           |    100 * (2 * ${ln4Sql("abs(u1_x2 - n1 * n2)")} + ${ln4Sql("3")}
           |      + ${ln4Sql("nn * (nn - 1)")} - ${ln4Sql("n1 * n2")}
           |      - ${ln4Sql("CAST(nn AS HUGEINT) * nn * nn - nn - t3")})
           |  END AS ln_z2_micro
           |FROM u""".stripMargin)),

    // lag-k autocorrelation of the daily count series: rational ACF
    // after clearing the mean (x n^2), signed permille floor-div
    QueryDef("autocorr_daily",
      (s, d) => Stats.autocorrDaily(Tables.events(s, d)), Some {
        val lagSelects = Stats.AutocorrLags.map { k =>
          s"""SELECT CAST($k AS BIGINT) AS lag,
             |  CAST(count(*) AS BIGINT) AS n_pairs, sum(a.d * b.d) AS num
             |FROM d a JOIN d b ON b.t = a.t + $k""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH daily AS (
           |  SELECT date_trunc('day', ts) AS day,
           |    CAST(count(*) AS BIGINT) AS x
           |  FROM events GROUP BY 1),
           |t AS (
           |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
           |    CAST(sum(x) OVER () AS BIGINT) AS s,
           |    CAST(count(*) OVER () AS BIGINT) AS n, x
           |  FROM daily),
           |d AS (SELECT t, CAST(n * x - s AS HUGEINT) AS d, n FROM t),
           |den AS (SELECT sum(d * d) AS den, CAST(max(n) AS BIGINT) AS n_days
           |        FROM d),
           |lq AS ($lagSelects)
           |SELECT lag, n_days, n_pairs,
           |  CAST(CASE WHEN den > 0 AND n_pairs > 0 THEN
           |    (CASE WHEN num < 0 THEN -1 ELSE 1 END) *
           |    ((1000 * abs(num)) // den) END AS BIGINT) AS r_permille
           |FROM lq, den ORDER BY lag""".stripMargin
      }),

    // per-nation OLS slope of monthly revenue in exact micro-cents
    QueryDef("ols_trend_nation",
      (s, d) => Stats.olsTrendNation(s, d), Some(
        """WITH monthly AS (
          |  SELECT n.n_name,
          |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
          |      AS x,
          |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          |      AS y
          |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
          |  JOIN nation n ON n.n_nationkey = c.c_nationkey
          |  GROUP BY 1, 2),
          |a AS (
          |  SELECT n_name, CAST(count(*) AS BIGINT) AS n_months,
          |    CAST(sum(y) AS BIGINT) AS total_cents,
          |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
          |    sum(CAST(x AS HUGEINT) * x) AS sxx,
          |    sum(CAST(x AS HUGEINT) * y) AS sxy
          |  FROM monthly GROUP BY 1)
          |SELECT n_name, n_months, total_cents,
          |  CAST(CASE WHEN n_months * sxx - sx * sx > 0 THEN
          |    (CASE WHEN n_months * sxy - sx * sy < 0 THEN -1 ELSE 1 END) *
          |    ((1000000 * abs(n_months * sxy - sx * sy))
          |     // (n_months * sxx - sx * sx)) END AS BIGINT)
          |    AS slope_microcents_per_month
          |FROM a ORDER BY n_name""".stripMargin)),

    // CUSUM level-shift scan: integer n*S_t peak + earliest argmax day
    QueryDef("cusum_daily",
      (s, d) => Stats.cusumDaily(Tables.events(s, d)), Some(
        """WITH daily AS (
          |  SELECT date_trunc('day', ts) AS day,
          |    CAST(count(*) AS BIGINT) AS x
          |  FROM events GROUP BY 1),
          |t AS (
          |  SELECT day,
          |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
          |    CAST(sum(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
          |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
          |    CAST(sum(x) OVER () AS BIGINT) AS s,
          |    CAST(count(*) OVER () AS BIGINT) AS n
          |  FROM daily),
          |p AS (
          |  SELECT day, n, s,
          |    CAST(n AS HUGEINT) * cum - CAST(t AS HUGEINT) * s AS ns
          |  FROM t ORDER BY abs(ns) DESC, day ASC LIMIT 1)
          |SELECT n AS n_days, s AS total_events, day AS peak_day,
          |  CAST(ns AS BIGINT) AS peak_cusum_n,
          |  CAST(CASE WHEN s > 0 THEN
          |    (CASE WHEN ns < 0 THEN -1 ELSE 1 END) *
          |    ((1000 * abs(ns)) // (n * CAST(s AS HUGEINT))) END AS BIGINT)
          |    AS peak_permille
          |FROM p""".stripMargin)),

    // Kendall tau-b over the bounded (quantity, discount) cell table:
    // pair counts as cell-pair products, no global rank anywhere
    QueryDef("kendall_tau",
      (s, d) => Stats.kendallTauQuantityDiscount(Tables.lineitem(s, d)),
      Some(
        s"""WITH cells AS (
           |  SELECT CAST(round(l_quantity) AS BIGINT) AS q,
           |    CAST(round(l_discount * 100) AS BIGINT) AS disc,
           |    CAST(count(*) AS BIGINT) AS c
           |  FROM lineitem GROUP BY 1, 2),
           |conc AS (SELECT sum(CAST(a.c AS HUGEINT) * b.c) AS nc
           |  FROM cells a JOIN cells b ON a.q < b.q AND a.disc < b.disc),
           |disco AS (SELECT sum(CAST(a.c AS HUGEINT) * b.c) AS nd
           |  FROM cells a JOIN cells b ON a.q < b.q AND a.disc > b.disc),
           |marg AS (SELECT CAST(sum(c) AS BIGINT) AS n,
           |  CAST(count(*) AS BIGINT) AS n_cells FROM cells),
           |tx AS (SELECT sum(CAST(r AS HUGEINT) * (r - 1)) AS tx2
           |  FROM (SELECT CAST(sum(c) AS BIGINT) AS r FROM cells
           |        GROUP BY q) t1),
           |ty AS (SELECT sum(CAST(s AS HUGEINT) * (s - 1)) AS ty2
           |  FROM (SELECT CAST(sum(c) AS BIGINT) AS s FROM cells
           |        GROUP BY disc) t2),
           |t AS (SELECT n, n_cells,
           |  coalesce(nc, 0) AS nc, coalesce(nd, 0) AS nd,
           |  (CAST(n AS HUGEINT) * (n - 1)) // 2 AS n0,
           |  tx2 // 2 AS n1, ty2 // 2 AS n2
           |  FROM marg, conc, disco, tx, ty)
           |SELECT n, n_cells,
           |  CAST(nc AS BIGINT) AS n_conc, CAST(nd AS BIGINT) AS n_disc,
           |  CAST(CASE WHEN nc > nd THEN 1 WHEN nc < nd THEN -1 ELSE 0 END
           |       AS BIGINT) AS tau_sign,
           |  CASE WHEN nc <> nd AND n0 > n1 AND n0 > n2 THEN
           |    100 * (2 * ${ln4Sql("abs(nc - nd)")} - ${ln4Sql("n0 - n1")}
           |      - ${ln4Sql("n0 - n2")}) END AS ln_tau2_micro
           |FROM t""".stripMargin)),

    // decision-stump split curve: weighted-Gini score of every
    // quantity split, exact micro floor-divs over the dense bounded
    // (quantity, flag) grid — the whole curve hash-pins, not the argmax
    QueryDef("gini_split_quantity",
      (s, d) => Stats.giniSplitQuantity(Tables.lineitem(s, d)), Some(
        """WITH cells AS (
          |  SELECT CAST(round(l_quantity) AS BIGINT) AS q,
          |    l_returnflag AS flag, CAST(count(*) AS BIGINT) AS c
          |  FROM lineitem GROUP BY 1, 2),
          |dense AS (
          |  SELECT qs.q, fs.flag, coalesce(c.c, 0) AS c
          |  FROM (SELECT DISTINCT q FROM cells) qs
          |  CROSS JOIN (SELECT DISTINCT flag FROM cells) fs
          |  LEFT JOIN cells c ON c.q = qs.q AND c.flag = fs.flag),
          |cum AS (
          |  SELECT q, flag,
          |    CAST(sum(c) OVER (PARTITION BY flag ORDER BY q
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS cl,
          |    CAST(sum(c) OVER (PARTITION BY flag) AS BIGINT) AS tot
          |  FROM dense),
          |sp AS (
          |  SELECT q AS split_q, CAST(sum(cl) AS BIGINT) AS n_left,
          |    sum(CAST(cl AS HUGEINT) * cl) AS sl2,
          |    CAST(sum(tot - cl) AS BIGINT) AS n_right,
          |    sum(CAST(tot - cl AS HUGEINT) * (tot - cl)) AS sr2
          |  FROM cum GROUP BY q)
          |SELECT split_q, n_left, n_right,
          |  CAST((1000000 * sl2) // n_left + (1000000 * sr2) // n_right
          |       AS BIGINT) AS score_micro
          |FROM sp WHERE n_right > 0 AND n_left > 0
          |ORDER BY split_q""".stripMargin)),

    // Page-Hinkley upward-shift scan: cusum's n-scaled cumulative
    // minus its running minimum, earliest-day argmax
    QueryDef("page_hinkley",
      (s, d) => Stats.pageHinkleyDaily(Tables.events(s, d)), Some(
        """WITH daily AS (
          |  SELECT date_trunc('day', ts) AS day,
          |    CAST(count(*) AS BIGINT) AS x
          |  FROM events GROUP BY 1),
          |t AS (
          |  SELECT day,
          |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
          |    CAST(sum(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
          |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
          |    CAST(sum(x) OVER () AS BIGINT) AS s,
          |    CAST(count(*) OVER () AS BIGINT) AS n
          |  FROM daily),
          |u AS (
          |  SELECT day, n, s,
          |    CAST(n AS HUGEINT) * cum - CAST(t AS HUGEINT) * s AS ns
          |  FROM t),
          |v AS (
          |  SELECT day, n, s, ns,
          |    ns - min(ns) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
          |      PRECEDING AND CURRENT ROW) AS ph
          |  FROM u),
          |p AS (SELECT * FROM v ORDER BY ph DESC, day ASC LIMIT 1)
          |SELECT n AS n_days, s AS total_events, day AS alarm_day,
          |  CAST(ph AS BIGINT) AS ph_peak_n,
          |  CAST(CASE WHEN s > 0 THEN
          |    (1000 * ph) // (n * CAST(s AS HUGEINT)) END AS BIGINT)
          |    AS ph_peak_permille
          |FROM p""".stripMargin)),

    // inter-arrival CV^2 in milli (1000 = Poisson): whole-second gaps,
    // exact sample-variance cross-multiplication
    QueryDef("interarrival_burstiness",
      (s, d) => Stats.interarrivalBurstiness(Tables.events(s, d)), Some(
        """WITH g0 AS (
          |  SELECT epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
          |    PARTITION BY user_id ORDER BY ts, event_id) AS gms
          |  FROM events),
          |g AS (SELECT gms // 1000 AS g FROM g0 WHERE gms IS NOT NULL),
          |a AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_gaps,
          |    sum(CAST(g AS HUGEINT)) AS s, sum(CAST(g AS HUGEINT) * g) AS q
          |  FROM g)
          |SELECT n_gaps,
          |  CAST(CASE WHEN n_gaps > 0 THEN s // n_gaps END AS BIGINT)
          |    AS mean_gap_sec,
          |  CAST(CASE WHEN n_gaps > 1 AND s > 0 THEN
          |    (1000 * n_gaps * (n_gaps * q - s * s))
          |    // ((n_gaps - 1) * s * s) END AS BIGINT) AS cv2_milli
          |FROM a""".stripMargin)))
}
