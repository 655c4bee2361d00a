package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Exact.ln4Sql

/** Driver-contract wiring for the model-evaluation suite ([[MlEval]]).
  * Every oracle mirrors the plan's integer reduction term-for-term —
  * the md5-bucket split, the quantized-ln ladder, double-rank
  * cumulatives, and non-negative floor-divs — so each readout
  * hash-matches exactly. Shared relations (the en-ratio score base,
  * its bounded cell grid, the train/test hour grid) are ONE SQL
  * fragment each, mirroring the one Scala helper each (the
  * shared-literal rule applied to whole subqueries). */
object MlEvalQueries {

  private def stopList = TextAnalysisQueries.stopList

  /** (y, n_tokens, en_hits) per tokenized doc — mirror of
    * [[MlEval.enScored]]. */
  private val enScoredSql: String =
    s"""SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |       CAST(len(w) AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(w, x -> x IN ($stopList)))
       |            AS BIGINT) AS en_hits
       |FROM (SELECT lang,
       |        regexp_extract_all(lower(text), '[a-z'']+') AS w
       |      FROM documents)
       |WHERE len(w) > 0""".stripMargin

  /** The bounded micro-ratio score cell grid — mirror of
    * [[MlEval.enRatioCells]]. */
  private val enCellsSql: String =
    s"""SELECT (1000000 * en_hits) // n_tokens AS score,
       |       CAST(count(*) AS BIGINT) AS c,
       |       CAST(sum(y) AS BIGINT) AS c1
       |FROM ($enScoredSql) GROUP BY 1""".stripMargin

  /** Test-split hour bins LEFT-joined onto the train rate table —
    * mirror of [[MlEval.hourSplitGrid]] (unscored bins keep NULL
    * nh/ph). */
  private val hourGridSql: String =
    s"""WITH base AS (
       |  SELECT CAST(hour(ts) AS BIGINT) AS h,
       |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
       |         ${MlEval.splitSql("event_id")} AS split
       |  FROM events),
       |tr AS (SELECT h, CAST(count(*) AS BIGINT) AS nh,
       |              CAST(sum(y) AS BIGINT) AS ph
       |       FROM base WHERE split = 'train' GROUP BY 1),
       |te AS (SELECT h, CAST(count(*) AS BIGINT) AS mh,
       |              CAST(sum(y) AS BIGINT) AS qh
       |       FROM base WHERE split = 'test' GROUP BY 1),
       |grid AS (
       |  SELECT te.h, te.mh, te.qh, tr.nh, tr.ph
       |  FROM te LEFT JOIN tr ON te.h = tr.h)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Laplace-smoothed multinomial NB over the md5 train split,
    // confusion matrix on the test split; scores are exact integers
    // on the quantized-ln ladder, ties break on the smaller lang
    QueryDef("naive_bayes_lang",
      (s, d) => MlEval.naiveBayesLang(Tables.documents(s, d)), Some(
        s"""WITH base AS (
           |  SELECT doc_id, lang,
           |         regexp_extract_all(lower(text), '[a-z'']+') AS w,
           |         ${MlEval.splitSql("doc_id")} AS split
           |  FROM documents),
           |b2 AS (SELECT * FROM base WHERE len(w) > 0),
           |tr AS (
           |  SELECT lang, unnest(w) AS t FROM b2 WHERE split = 'train'),
           |model AS (
           |  SELECT lang, t, CAST(count(*) AS BIGINT) AS c
           |  FROM tr GROUP BY 1, 2),
           |lt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tl
           |       FROM model GROUP BY 1),
           |vv AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM model),
           |pr AS (SELECT lang, CAST(count(*) AS BIGINT) AS dl
           |       FROM b2 WHERE split = 'train' GROUP BY 1),
           |dt AS (SELECT CAST(sum(dl) AS BIGINT) AS dd FROM pr),
           |lc AS (
           |  SELECT lt.lang,
           |         ${ln4Sql("dl")} - ${ln4Sql("dd")} AS prior,
           |         ${ln4Sql("tl + v")} AS lnz
           |  FROM lt JOIN pr ON lt.lang = pr.lang
           |  CROSS JOIN vv CROSS JOIN dt),
           |tf AS (
           |  SELECT doc_id, gold_lang, t, CAST(count(*) AS BIGINT) AS n
           |  FROM (SELECT doc_id, lang AS gold_lang, unnest(w) AS t
           |        FROM b2 WHERE split = 'test')
           |  GROUP BY 1, 2, 3),
           |sc AS (
           |  SELECT tf.doc_id, tf.gold_lang, lc2.lang,
           |         CAST(sum(tf.n * ${ln4Sql("coalesce(model.c, 0) + 1")})
           |              AS BIGINT) AS s_tok,
           |         CAST(sum(tf.n) AS BIGINT) AS n_tok
           |  FROM tf CROSS JOIN (SELECT lang FROM lc) lc2
           |  LEFT JOIN model ON model.lang = lc2.lang AND model.t = tf.t
           |  GROUP BY 1, 2, 3),
           |s AS (
           |  SELECT sc.doc_id, sc.gold_lang, sc.lang,
           |         lc.prior + sc.s_tok - sc.n_tok * lc.lnz AS s
           |  FROM sc JOIN lc ON lc.lang = sc.lang),
           |p AS (
           |  SELECT doc_id, gold_lang, lang,
           |         row_number() OVER (PARTITION BY doc_id
           |             ORDER BY s DESC, lang ASC) AS rn
           |  FROM s)
           |SELECT gold_lang, lang AS pred_lang,
           |       CAST(count(*) AS BIGINT) AS n_docs
           |FROM p WHERE rn = 1
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // exact ROC AUC of the langId en-ratio score vs the gold en
    // label: double-rank rank-sum over the bounded micro-ratio grid
    QueryDef("auc_langid",
      (s, d) => MlEval.aucLangId(Tables.documents(s, d)), Some(
        s"""WITH cells AS ($enCellsSql),
           |r AS (
           |  SELECT c, c1,
           |         coalesce(sum(c) OVER (ORDER BY score
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |           0) AS f
           |  FROM cells),
           |a AS (
           |  SELECT CAST(sum(c1) AS HUGEINT) AS n1,
           |         CAST(sum(c - c1) AS HUGEINT) AS n0,
           |         CAST(sum(c1 * (2 * f + c + 1)) AS HUGEINT) AS r1d
           |  FROM r)
           |SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
           |       CAST(r1d - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           |       CASE WHEN n1 > 0 AND n0 > 0 THEN
           |         CAST((1000000 * (r1d - n1 * (n1 + 1)))
           |              // (2 * n1 * n0) AS BIGINT) END AS auc_micro
           |FROM a""".stripMargin)),

    // TP/FP/FN/TN + precision/recall/F1/MCC of the exact-threshold
    // langId rule vs the gold en label — integer cross-multiplied
    // threshold, micro floor-divs, MCC on the sign + ln ladder
    QueryDef("langid_confusion_metrics",
      (s, d) => MlEval.langIdConfusionMetrics(Tables.documents(s, d)), Some(
        s"""WITH sc AS (
           |  SELECT y, CASE WHEN 1000000 * en_hits > 30000 * n_tokens
           |            THEN 1 ELSE 0 END AS p
           |  FROM ($enScoredSql)),
           |a AS (
           |  SELECT
           |    CAST(sum(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END)
           |         AS HUGEINT) AS tp,
           |    CAST(sum(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END)
           |         AS HUGEINT) AS fp,
           |    CAST(sum(CASE WHEN y = 1 AND p = 0 THEN 1 ELSE 0 END)
           |         AS HUGEINT) AS fn,
           |    CAST(sum(CASE WHEN y = 0 AND p = 0 THEN 1 ELSE 0 END)
           |         AS HUGEINT) AS tn
           |  FROM sc)
           |SELECT CAST(tp AS BIGINT) AS n_tp, CAST(fp AS BIGINT) AS n_fp,
           |       CAST(fn AS BIGINT) AS n_fn, CAST(tn AS BIGINT) AS n_tn,
           |  CASE WHEN tp + fp > 0 THEN
           |    CAST((1000000 * tp) // (tp + fp) AS BIGINT) END
           |    AS precision_micro,
           |  CASE WHEN tp + fn > 0 THEN
           |    CAST((1000000 * tp) // (tp + fn) AS BIGINT) END
           |    AS recall_micro,
           |  CASE WHEN 2 * tp + fp + fn > 0 THEN
           |    CAST((2000000 * tp) // (2 * tp + fp + fn) AS BIGINT) END
           |    AS f1_micro,
           |  CAST(CASE WHEN tp * tn > fp * fn THEN 1
           |       WHEN tp * tn < fp * fn THEN -1 ELSE 0 END AS BIGINT)
           |    AS mcc_sign,
           |  CASE WHEN tp * tn <> fp * fn AND (tp + fp) > 0 AND
           |      (tp + fn) > 0 AND (tn + fp) > 0 AND (tn + fn) > 0 THEN
           |    100 * (2 * ${ln4Sql("abs(tp * tn - fp * fn)")}
           |      - ${ln4Sql("(tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)")})
           |  END AS ln_mcc2_micro
           |FROM a""".stripMargin)),

    // lift / cumulative-gains deciles of the en-ratio ranking, cut by
    // descending-score corpus mass on the bounded micro-ratio grid
    QueryDef("score_lift_deciles",
      (s, d) => MlEval.scoreLiftDeciles(Tables.documents(s, d)), Some(
        s"""WITH cells AS ($enCellsSql),
           |d AS (
           |  SELECT c, c1,
           |         coalesce(sum(c) OVER (ORDER BY score DESC
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |           0) AS above,
           |         sum(c) OVER () AS nn, sum(c1) OVER () AS p
           |  FROM cells),
           |dd AS (
           |  SELECT CAST((10 * above) // nn AS BIGINT) AS decile,
           |         CAST(sum(c) AS BIGINT) AS n,
           |         CAST(sum(c1) AS BIGINT) AS pos,
           |         CAST(max(nn) AS BIGINT) AS nn, CAST(max(p) AS BIGINT) AS p
           |  FROM d GROUP BY 1),
           |f AS (
           |  SELECT *, sum(pos) OVER (ORDER BY decile
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumpos
           |  FROM dd)
           |SELECT decile, n AS n_docs, pos AS n_pos,
           |  CASE WHEN p > 0 THEN
           |    CAST((1000000 * CAST(pos AS HUGEINT) * nn)
           |         // (CAST(n AS HUGEINT) * p) AS BIGINT) END AS lift_micro,
           |  CASE WHEN p > 0 THEN
           |    CAST((1000000 * cumpos) // p AS BIGINT) END
           |    AS cum_capture_micro
           |FROM f ORDER BY decile""".stripMargin)),

    // k-anonymity audit under the (lang, source, length-bucket)
    // quasi-identifier: class sizes, below-k and unique-record shares
    QueryDef("k_anonymity_docs",
      (s, d) => MlEval.kAnonymityDocs(Tables.documents(s, d)), Some(
        s"""WITH cls AS (
           |  SELECT lang, source, n_chars // 100 AS len_bucket,
           |         CAST(count(*) AS BIGINT) AS sz
           |  FROM documents GROUP BY 1, 2, 3),
           |a AS (
           |  SELECT CAST(sum(sz) AS BIGINT) AS n_docs,
           |         CAST(count(*) AS BIGINT) AS n_classes,
           |         CAST(min(sz) AS BIGINT) AS min_class_size,
           |         CAST(sum(CASE WHEN sz < ${MlEval.KAnonK} THEN sz
           |              ELSE 0 END) AS BIGINT) AS n_below_k,
           |         CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END)
           |              AS BIGINT) AS n_unique_docs
           |  FROM cls)
           |SELECT n_docs, n_classes, min_class_size, n_below_k,
           |       n_unique_docs,
           |  CAST((1000000 * n_below_k) // n_docs AS BIGINT)
           |    AS pct_below_k_micro,
           |  CAST((1000000 * n_unique_docs) // n_docs AS BIGINT)
           |    AS pct_unique_micro
           |FROM a""".stripMargin)),

    // leave-one-source-out ablation: each source's signed influence on
    // the corpus mean document length, exact milli floor-divs
    QueryDef("loo_source_influence",
      (s, d) => MlEval.looSourceInfluence(Tables.documents(s, d)), Some(
        """WITH ps AS (
          |  SELECT source, CAST(count(*) AS HUGEINT) AS ns,
          |         CAST(sum(n_chars) AS HUGEINT) AS ss
          |  FROM documents GROUP BY 1),
          |t AS (SELECT sum(ns) AS n, sum(ss) AS s FROM ps)
          |SELECT source, CAST(ns AS BIGINT) AS n_docs,
          |  CAST((1000 * s) // n AS BIGINT) AS full_mean_milli,
          |  CASE WHEN n > ns THEN
          |    CAST((1000 * (s - ss)) // (n - ns) AS BIGINT) END
          |    AS loo_mean_milli,
          |  CASE WHEN n > ns THEN
          |    CAST((1000 * (s - ss)) // (n - ns) - (1000 * s) // n
          |         AS BIGINT) END AS delta_milli
          |FROM ps CROSS JOIN t ORDER BY source""".stripMargin)),

    // sample-ratio-mismatch guardrail over the user_id % 2 assignment:
    // integer cross-multiplied chi-square flag + quantized-ln magnitude
    // (empty-variant counts coalesce to 0 so the extreme mismatch FLAGS)
    QueryDef("srm_check",
      (s, d) => MlEval.srmCheck(Tables.events(s, d)), Some(
        s"""WITH u AS (
           |  SELECT user_id % 2 AS variant, user_id
           |  FROM events GROUP BY 1, 2),
           |v AS (SELECT variant, CAST(count(*) AS BIGINT) AS n
           |      FROM u GROUP BY 1),
           |a AS (
           |  SELECT
           |    CAST(coalesce(sum(CASE WHEN variant = 0 THEN n END), 0)
           |         AS BIGINT) AS n_a,
           |    CAST(coalesce(sum(CASE WHEN variant = 1 THEN n END), 0)
           |         AS BIGINT) AS n_b
           |  FROM v)
           |SELECT n_a, n_b,
           |  CAST(CASE WHEN 100 * (n_a - n_b) * (n_a - n_b) >
           |       384 * (n_a + n_b) THEN 1 ELSE 0 END AS BIGINT) AS srm_flag,
           |  CASE WHEN n_a + n_b > 0 AND n_a <> n_b THEN
           |    100 * (2 * ${ln4Sql("abs(n_a - n_b)")} - ${ln4Sql("n_a + n_b")})
           |  END AS ln_chi2_micro
           |FROM a""".stripMargin)),

    // minimum detectable effect at the current sample sizes and pooled
    // conversion (two-sided alpha=.05, 80% power; z constant e4-pinned)
    QueryDef("ab_mde",
      (s, d) => MlEval.abMde(Tables.events(s, d)), Some(
        s"""WITH u AS (
           |  SELECT user_id % 2 AS variant, user_id,
           |         max(CASE WHEN event_type = 'purchase' THEN 1
           |             ELSE 0 END) AS conv
           |  FROM events GROUP BY 1, 2),
           |v AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
           |             CAST(sum(conv) AS BIGINT) AS x
           |      FROM u GROUP BY 1),
           |a AS (
           |  SELECT
           |    CAST(sum(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n_a,
           |    CAST(sum(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n_b,
           |    CAST(sum(x) AS BIGINT) AS n_converted
           |  FROM v)
           |SELECT n_a, n_b, n_converted,
           |  CASE WHEN n_a > 0 AND n_b > 0 AND n_converted > 0 AND
           |      n_converted < n_a + n_b THEN
           |    100 * (${ln4Sql(MlEval.MdeZ2E4.toString)} - ${ln4Sql("10000")}
           |      + ${ln4Sql("CAST(n_converted AS HUGEINT) * " +
                  "(n_a + n_b - n_converted)")}
           |      - ${ln4Sql("CAST(n_a + n_b AS HUGEINT) * n_a * n_b")})
           |  END AS ln_mde2_micro
           |FROM a""".stripMargin)),

    // CUPED theta / rho^2 from exact per-user (clicks, purchases)
    // moments — sign + quantized-ln ladders on the rational forms
    QueryDef("cuped_theta",
      (s, d) => MlEval.cupedTheta(Tables.events(s, d)), Some(
        s"""WITH u AS (
           |  SELECT user_id,
           |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           |         AS BIGINT) AS x,
           |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           |         AS BIGINT) AS y
           |  FROM events GROUP BY 1),
           |m AS (
           |  SELECT CAST(count(*) AS HUGEINT) AS n,
           |         CAST(sum(x) AS HUGEINT) AS sx,
           |         CAST(sum(y) AS HUGEINT) AS sy,
           |         CAST(sum(x * x) AS HUGEINT) AS sxx,
           |         CAST(sum(x * y) AS HUGEINT) AS sxy,
           |         CAST(sum(y * y) AS HUGEINT) AS syy
           |  FROM u),
           |t AS (
           |  SELECT CAST(n AS BIGINT) AS n_users,
           |         n * sxy - sx * sy AS num,
           |         n * sxx - sx * sx AS denx,
           |         n * syy - sy * sy AS deny
           |  FROM m)
           |SELECT n_users,
           |  CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1
           |       ELSE 0 END AS BIGINT) AS theta_sign,
           |  CASE WHEN num <> 0 AND denx > 0 THEN
           |    100 * (2 * ${ln4Sql("abs(num)")} - 2 * ${ln4Sql("denx")})
           |  END AS ln_theta2_micro,
           |  CASE WHEN num <> 0 AND denx > 0 AND deny > 0 THEN
           |    100 * (2 * ${ln4Sql("abs(num)")} - ${ln4Sql("denx")}
           |      - ${ln4Sql("deny")}) END AS ln_rho2_micro
           |FROM t""".stripMargin)),

    // expected calibration error of the per-hour purchase-rate
    // predictor on the md5 event-id split; test bins the model never
    // trained on are COUNTED (n_test_unscored), not dropped
    QueryDef("calibration_ece",
      (s, d) => MlEval.calibrationEce(Tables.events(s, d)), Some(
        s"""$hourGridSql,
           |j AS (
           |  SELECT mh,
           |         CASE WHEN nh IS NOT NULL THEN
           |           CAST((1000000 * ph) // nh AS BIGINT) END AS conf,
           |         CAST((1000000 * qh) // mh AS BIGINT) AS acc
           |  FROM grid),
           |a AS (
           |  SELECT
           |    CAST(coalesce(sum(CASE WHEN conf IS NOT NULL THEN mh END), 0)
           |         AS BIGINT) AS n_test_scored,
           |    CAST(coalesce(sum(CASE WHEN conf IS NULL THEN mh END), 0)
           |         AS BIGINT) AS n_test_unscored,
           |    CAST(coalesce(sum(CASE WHEN conf IS NOT NULL THEN 1 END), 0)
           |         AS BIGINT) AS n_bins,
           |    sum(CASE WHEN conf IS NOT NULL THEN
           |        CAST(mh * abs(acc - conf) AS HUGEINT) END) AS gapsum,
           |    CAST(max(CASE WHEN conf IS NOT NULL THEN abs(acc - conf)
           |         END) AS BIGINT) AS max_gap_micro
           |  FROM j)
           |SELECT n_test_scored, n_test_unscored, n_bins,
           |  CASE WHEN n_test_scored > 0 THEN
           |    CAST(gapsum // CAST(n_test_scored AS HUGEINT) AS BIGINT) END
           |    AS ece_micro,
           |  max_gap_micro
           |FROM a""".stripMargin)),

    // Brier score + Murphy reliability/resolution/uncertainty split of
    // the same predictor, over the scored test mass
    QueryDef("brier_decomposition",
      (s, d) => MlEval.brierDecomposition(Tables.events(s, d)), Some(
        s"""$hourGridSql,
           |j AS (
           |  SELECT CAST(mh AS HUGEINT) AS mh, CAST(qh AS HUGEINT) AS qh,
           |         CASE WHEN nh IS NOT NULL THEN
           |           CAST((1000000 * ph) // nh AS HUGEINT) END AS conf,
           |         CAST((1000000 * qh) // mh AS HUGEINT) AS acc
           |  FROM grid),
           |g AS (
           |  SELECT
           |    coalesce(sum(CASE WHEN conf IS NOT NULL THEN mh END), 0) AS m,
           |    coalesce(sum(CASE WHEN conf IS NULL THEN mh END), 0)
           |      AS m_unscored,
           |    sum(CASE WHEN conf IS NOT NULL THEN qh END) AS q,
           |    sum(CASE WHEN conf IS NOT NULL THEN
           |        mh * conf * conf - 2000000 * conf * qh
           |        + 1000000000000 * qh END) AS bsum,
           |    sum(CASE WHEN conf IS NOT NULL THEN
           |        mh * (conf - acc) * (conf - acc) END) AS relsum,
           |    sum(CASE WHEN conf IS NOT NULL THEN mh * acc END) AS a1,
           |    sum(CASE WHEN conf IS NOT NULL THEN mh * acc * acc END) AS a2
           |  FROM j),
           |g2 AS (SELECT *, CASE WHEN m > 0 THEN (1000000 * q) // m END AS b
           |       FROM g)
           |SELECT CAST(m AS BIGINT) AS n_test_scored,
           |  CAST(m_unscored AS BIGINT) AS n_test_unscored,
           |  CASE WHEN m > 0 THEN
           |    CAST(bsum // (1000 * m) AS BIGINT) END AS brier_nano,
           |  CASE WHEN m > 0 THEN
           |    CAST(relsum // (1000 * m) AS BIGINT) END AS rel_nano,
           |  CASE WHEN m > 0 THEN
           |    CAST((a2 - 2 * b * a1 + b * b * m) // (1000 * m) AS BIGINT)
           |    END AS res_nano,
           |  CASE WHEN m > 0 THEN
           |    CAST((b * (1000000 - b)) // 1000 AS BIGINT) END AS unc_nano
           |FROM g2""".stripMargin)))
}
