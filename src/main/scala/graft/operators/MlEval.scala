package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.WordCount.tokenArray
import graft.functions.Exact.{ln4, ln4Sql, nibSql, splitOf}

/** MODEL-EVALUATION operators — the classifier-diagnostics layer a
  * training-data pipeline runs NEXT TO its corpus filters: train a
  * reference probabilistic classifier on the deterministic split and
  * read out its confusion matrix ([[naiveBayesLang]]), measure a
  * score's discrimination exactly ([[aucLangId]] — ROC AUC via the
  * rank-sum identity), and measure a predictor's calibration
  * ([[calibrationEce]] — expected calibration error over bounded
  * bins). All three are integer-exact end-to-end (DECIMAL(38,0) sums,
  * sign-safe floor-divs to micro units, the shared quantized-ln
  * ladder), so every readout hash-matches the DuckDB oracle.
  *
  * Reference scope: the reference engine (coordinator.py word-count)
  * has no evaluation surface; these generalize its
  * tokenize-count-reduce loop (worker.py `exposed_map_chunk`) into the
  * train/score/readout shapes a 100 TB pipeline needs.
  *
  * Scale shapes (the repo's bounded-table discipline):
  *   - NB: one train-corpus pass → |vocab|×|langs| model (the
  *     [[TextAnalysis.bigramLmScore]] vocabulary-bounded class), one
  *     test-corpus pass joined against the broadcastable model; the
  *     argmax window partitions by doc_id (≤ |langs| rows per group).
  *   - AUC: one corpus pass → ≤ 1e6+1-cell micro-ratio grid (the
  *     score is a ratio div into [0, 1e6] BY CONSTRUCTION, so the
  *     bound needs no data contract); the running-rank cumulative
  *     runs over that bounded grid (the mannwhitney class).
  *   - ECE: two corpus passes partial-aggregate to the 24-cell hour
  *     table; everything downstream is O(1).
  */
object MlEval {

  import TextAnalysis.EnStopwords

  private val Dec = org.apache.spark.sql.types.DecimalType(38, 0)

  /** Shared md5-bucket split SQL for the oracles — COMPOSED from the
    * one [[graft.functions.Exact.nibSql]] ascii-arithmetic helper (the
    * shared-literal rule: a nibble-convention edit must not need a
    * second touch point here). */
  private[operators] def splitSql(key: String): String = {
    val b = s"(${nibSql(0, key)} * 16 + ${nibSql(1, key)})"
    s"CASE WHEN $b < 204 THEN 'train' WHEN $b < 230 THEN 'val' " +
      "ELSE 'test' END"
  }

  /** (gold en label, token count, stopword hits) for every tokenized
    * doc — the ONE base relation behind every en-ratio score consumer
    * ([[aucLangId]], [[langIdConfusionMetrics]], [[scoreLiftDeciles]]);
    * a score-definition change happens here or nowhere. */
  private def enScored(docs: DataFrame): DataFrame =
    docs
      .select((col("lang") === "en").cast("long").as("y"), tokenArray(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("y"),
        size(col("w")).cast("long").as("n_tokens"),
        size(filter(col("w"), x => x.isin(EnStopwords: _*)))
          .cast("long").as("en_hits"))

  /** The bounded micro-ratio score cell grid (score, c, c1) shared by
    * the rank-sum consumers — ≤ 10⁶+1 cells BY CONSTRUCTION
    * (score = (10⁶·hits) div tokens, hits ≤ tokens). */
  private def enRatioCells(docs: DataFrame): DataFrame =
    enScored(docs)
      .select(col("y"),
        expr("CAST((1000000 * en_hits) div n_tokens AS BIGINT)").as("score"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("c1"))

  /** Test-split hour bins LEFT-joined onto the train-split rate table
    * — the shared grid behind [[calibrationEce]] and
    * [[brierDecomposition]]. Bins the model never trained on keep
    * NULL (nh, ph) so consumers can COUNT the unscored test mass
    * instead of silently dropping it (review finding: the former
    * inner join made a train-coverage gap invisible). */
  private def hourSplitGrid(events: DataFrame): DataFrame = {
    val base = events.select(hour(col("ts")).cast("long").as("h"),
      (col("event_type") === "purchase").cast("long").as("y"),
      splitOf(col("event_id")).as("split"))
    val train = base.filter(col("split") === "train")
      .groupBy(col("h"))
      .agg(count(lit(1)).as("nh"), sum(col("y")).as("ph"))
    val test = base.filter(col("split") === "test")
      .groupBy(col("h"))
      .agg(count(lit(1)).as("mh"), sum(col("y")).as("qh"))
    test.join(train, Seq("h"), "left")
  }

  /** MULTINOMIAL NAIVE BAYES language classifier, trained on the
    * deterministic md5 'train' split and read out as a confusion
    * matrix on the 'test' split — the reference probabilistic
    * classifier an eval pipeline keeps beside the [[TextAnalysis.langId]]
    * heuristic (and the natural consumer of the same token stream).
    *
    * Laplace-smoothed, all-integer on the quantized-ln ladder:
    *   score(d, l) = [ln4(D_l) − ln4(D)]
    *              + Σ_{t∈d} n_t · [ln4(c_{lt} + 1) − ln4(T_l + V)]
    * with c_{lt} the train count of token t in language l, T_l the
    * language's token total, V the train vocabulary size, D_l/D the
    * document priors. Unseen-in-language tokens get ln4(1) = 0 minus
    * the normalizer — the standard smoothed fallback — via a left
    * join against the model. argmax per doc breaks score ties on the
    * smaller lang string (row_number, mirrored in the oracle).
    *
    * Scale shape: the model is |vocab|×|langs| (vocabulary-bounded —
    * Heaps' law, the bigram_lm_score class) and broadcastable; both
    * corpus passes are explode→partial-agg; the argmax window
    * partitions by doc_id. Output is the ≤ |langs|² confusion matrix
    * with exact counts. */
  def naiveBayesLang(docs: DataFrame): DataFrame = {
    // base is NOT staged: a token-array checkpoint costs more than the
    // three tokenize passes it would save (measured 7.6 → 12.6 s CPU —
    // the tokenCooccurrence stage-or-not lesson, re-measured here)
    val base = docs
      .select(col("doc_id"), col("lang"), tokenArray(col("text")).as("w"),
        splitOf(col("doc_id")).as("split"))
      .filter(size(col("w")) > 0)
    val trainTok = base.filter(col("split") === "train")
      .select(col("doc_id"), col("lang"), explode(col("w")).as("t"))
    // |langs| x |vocab| model — vocabulary-bounded, broadcastable.
    // STAGED (non-eager, r14 optimization round): the model subtree
    // feeds THREE consumers (the scored left join, langTotals, vocab)
    // and langConst feeds two more — unstaged, every reference
    // re-evaluated the whole train-side tokenize→explode→groupBy
    // upstream (measured: 12 parquet scans / 60 aggregates in one
    // plan, 18.2 s CPU isolated at sf0.1; staged: 3 scans, the two
    // corpus passes the scaladoc promises plus the priors pass).
    // Non-eager so plan-only construction (registry audits) stays
    // execution-free; the single .count() action materializes each
    // checkpoint exactly once (the pagerank/CC-loop precedent).
    val model = Materialize.stage(trainTok.groupBy(col("lang"), col("t"))
      .agg(count(lit(1)).as("c")), eager = false)
    val langTotals = model.groupBy(col("lang"))
      .agg(sum(col("c")).as("tl"))
    val vocab = model.select(countDistinct(col("t")).as("v"))
    val priors = base.filter(col("split") === "train")
      .groupBy(col("lang")).agg(count(lit(1)).as("dl"))
    val dTot = priors.select(sum(col("dl")).as("dd"))
    // per-language constants: prior ladder + smoothing normalizer —
    // staged for the same reason as the model (two consumers: the lang
    // list crossJoin and the constants join; its lineage embeds the
    // priors corpus pass)
    val langConst = Materialize.stage(langTotals.join(priors, "lang")
      .crossJoin(broadcast(vocab)).crossJoin(broadcast(dTot))
      .select(col("lang"),
        (ln4(col("dl")) - ln4(col("dd"))).cast("long").as("prior"),
        ln4(col("tl") + col("v")).cast("long").as("lnz")), eager = false)
    // test-split term counts, scored against every trained language
    val testTf = base.filter(col("split") === "test")
      .select(col("doc_id"), col("lang").as("gold_lang"),
        explode(col("w")).as("t"))
      .groupBy(col("doc_id"), col("gold_lang"), col("t"))
      .agg(count(lit(1)).as("n"))
    val scored = testTf
      .crossJoin(broadcast(langConst.select(col("lang"))))
      .join(broadcast(model), Seq("lang", "t"), "left")
      .groupBy(col("doc_id"), col("gold_lang"), col("lang"))
      .agg(sum(col("n") *
        ln4(coalesce(col("c"), lit(0L)) + lit(1L)).cast("long")).as("s_tok"),
        sum(col("n")).as("n_tok"))
      .join(broadcast(langConst), "lang")
      .select(col("doc_id"), col("gold_lang"), col("lang"),
        (col("prior") + col("s_tok") - col("n_tok") * col("lnz")).as("s"))
    // argmax per doc: |langs| rows per group — partitioned window
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("s").desc, col("lang").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("gold_lang"), col("lang").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("gold_lang"), col("pred_lang"))
  }

  /** EXACT ROC AUC of the [[TextAnalysis.langId]] en-ratio score
    * against the gold `lang = 'en'` label, via the rank-sum identity
    * AUC = U₁/(n₁n₀) — the discrimination readout an eval pipeline
    * publishes for every quality/filter score. Average-rank ties use
    * the integer double-rank 2F + c + 1 per score cell (the
    * [[Stats.mannWhitney]] machinery), so 2U₁ is an exact integer and
    * auc_micro an exact floor-div; ties-everywhere degenerates to
    * exactly 500000. Shares [[enRatioCells]] with the other en-ratio
    * consumers.
    *
    * Scale shape: the score is (10⁶·en_hits) div n_tokens — an
    * integer in [0, 10⁶] BY CONSTRUCTION (hits ≤ tokens), so the
    * corpus partial-aggregates to a ≤ 10⁶+1-cell grid and the
    * running-rank cumulative runs over that bounded cell table, never
    * corpus rows (the mannwhitney bounded-global-window class —
    * PlanShapeSpec-allowlisted). INT64: 2R₁ ≤ 2n₁N, safe past
    * N = 10⁹; the micro numerator rides DECIMAL(38,0). */
  def aucLangId(docs: DataFrame): DataFrame = {
    val cells = enRatioCells(docs)
    // bounded global window: runs over the <= 1,000,001-cell micro-
    // ratio grid (score in [0, 1e6] by construction), never the
    // corpus (PlanShapeSpec-allowlisted, the mannwhitney class)
    val w = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    cells
      .withColumn("f", coalesce(sum(col("c")).over(w), lit(0L)))
      .agg(
        sum(col("c1")).cast(Dec).as("n1"),
        sum(col("c") - col("c1")).cast(Dec).as("n0"),
        sum(col("c1") * (col("f") * 2 + col("c") + 1)).cast(Dec).as("r1d"))
      .select(
        col("n1").cast("long").as("n_pos"),
        col("n0").cast("long").as("n_neg"),
        expr("CAST(r1d - n1 * (n1 + 1) AS BIGINT)").as("u1_x2"),
        expr("""CASE WHEN n1 > 0 AND n0 > 0 THEN
            CAST((1000000 * (r1d - n1 * (n1 + 1)))
                 div (2 * n1 * n0) AS BIGINT) END""").as("auc_micro"))
  }

  /** THRESHOLD CLASSIFICATION METRICS of the langId rule against the
    * gold `en` label: TP/FP/FN/TN at the production 0.03 en-ratio
    * threshold plus exact precision / recall / F1 micro floor-divs and
    * the Matthews correlation on the quantized-ln ladder — the
    * confusion readout beside [[aucLangId]]'s threshold-free AUC.
    * The threshold compare is the INTEGER cross-multiplication
    * 10⁶·hits > 30000·tokens — EXACTLY ratio > 0.03, deliberately NOT
    * [[TextAnalysis.langId]]'s round(ratio, 6) > 0.03 presentation
    * rule: the two can differ only for a ratio inside
    * (0.03, 0.0300005), a band the float rounding quantizes away but
    * the exact rule keeps positive (documented divergence; this
    * metric evaluates the exact-threshold rule).
    * MCC² = (tp·tn − fp·fn)²/((tp+fp)(tp+fn)(tn+fp)(tn+fn))
    * is rational, so sign + ln ladder (the welch_ttest pattern); the
    * 4-way product rides DECIMAL(38,0) (safe past N = 10⁹).
    *
    * Scale shape: one corpus pass → one 4-counter aggregate → O(1). */
  def langIdConfusionMetrics(docs: DataFrame): DataFrame = {
    val labeled = enScored(docs)
      .select(col("y"),
        (lit(1000000L) * col("en_hits") > lit(30000L) * col("n_tokens"))
          .cast("long").as("p"))
    labeled
      .agg(
        sum(when(col("y") === 1 && col("p") === 1, 1L).otherwise(0L))
          .cast(Dec).as("tp"),
        sum(when(col("y") === 0 && col("p") === 1, 1L).otherwise(0L))
          .cast(Dec).as("fp"),
        sum(when(col("y") === 1 && col("p") === 0, 1L).otherwise(0L))
          .cast(Dec).as("fn"),
        sum(when(col("y") === 0 && col("p") === 0, 1L).otherwise(0L))
          .cast(Dec).as("tn"))
      .select(
        col("tp").cast("long").as("n_tp"), col("fp").cast("long").as("n_fp"),
        col("fn").cast("long").as("n_fn"), col("tn").cast("long").as("n_tn"),
        expr("CASE WHEN tp + fp > 0 THEN " +
          "CAST((1000000 * tp) div (tp + fp) AS BIGINT) END")
          .as("precision_micro"),
        expr("CASE WHEN tp + fn > 0 THEN " +
          "CAST((1000000 * tp) div (tp + fn) AS BIGINT) END")
          .as("recall_micro"),
        expr("CASE WHEN 2 * tp + fp + fn > 0 THEN " +
          "CAST((2000000 * tp) div (2 * tp + fp + fn) AS BIGINT) END")
          .as("f1_micro"),
        expr("CAST(CASE WHEN tp * tn > fp * fn THEN 1 " +
          "WHEN tp * tn < fp * fn THEN -1 ELSE 0 END AS BIGINT)")
          .as("mcc_sign"),
        expr("CASE WHEN tp * tn <> fp * fn AND (tp + fp) > 0 AND " +
          "(tp + fn) > 0 AND (tn + fp) > 0 AND (tn + fn) > 0 THEN " +
          s"100 * (2 * ${ln4Sql("abs(tp * tn - fp * fn)")}" +
          s" - ${ln4Sql("(tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)")})" +
          " END").as("ln_mcc2_micro"))
  }

  /** BRIER SCORE of the per-hour purchase-rate predictor with the
    * Murphy calibration/refinement decomposition — reliability (how
    * far predictions sit from observed rates), resolution (how much
    * the bins separate from the base rate), and uncertainty (the base
    * rate's intrinsic variance): the readout that tells a pipeline
    * WHY a probability model scores badly, beside [[calibrationEce]]'s
    * single gap number. Same train/test split and 24-cell hour grid,
    * same unscored-mass accounting (test bins without train coverage
    * are counted in n_test_unscored, and all components run over the
    * scored mass M).
    *
    * All-integer in nano units of the [0,1] Brier: conf/acc/base are
    * micro floor-divs; each component sum rides DECIMAL(38,0)
    * (m_h·10¹² ≤ 10³⁸ past 10²⁰ events) and lands with ONE final
    * floor-div by 1000·M. Each component is floored independently —
    * the REL − RES + UNC identity holds to quantization, not asserted.
    * Scale shape: two corpus passes → 24-cell grid → O(1). */
  def brierDecomposition(events: DataFrame): DataFrame = {
    hourSplitGrid(events)
      .select(col("mh").cast(Dec).as("mh"), col("qh").cast(Dec).as("qh"),
        expr("CASE WHEN nh IS NOT NULL THEN " +
          "CAST((1000000 * ph) div nh AS DECIMAL(38,0)) END").as("conf"),
        expr("CAST((1000000 * qh) div mh AS DECIMAL(38,0))").as("acc"))
      .agg(
        coalesce(sum(when(col("conf").isNotNull, col("mh"))),
          lit(0L).cast(Dec)).as("m"),
        coalesce(sum(when(col("conf").isNull, col("mh"))),
          lit(0L).cast(Dec)).as("m_unscored"),
        sum(when(col("conf").isNotNull, col("qh"))).as("q"),
        // Σ(conf − 1e6·y)² over SCORED test events, expanded per bin
        sum(when(col("conf").isNotNull,
          expr("mh * conf * conf - 2000000 * conf * qh " +
            "+ 1000000000000 * qh"))).as("bsum"),
        sum(when(col("conf").isNotNull,
          expr("mh * (conf - acc) * (conf - acc)"))).as("relsum"),
        sum(when(col("conf").isNotNull, expr("mh * acc"))).as("a1"),
        sum(when(col("conf").isNotNull, expr("mh * acc * acc"))).as("a2"))
      .select(
        col("m").cast("long").as("n_test_scored"),
        col("m_unscored").cast("long").as("n_test_unscored"),
        expr("CASE WHEN m > 0 THEN " +
          "CAST((1000000 * q) div m AS DECIMAL(38,0)) END").as("b"),
        col("m"), col("bsum"), col("relsum"), col("a1"), col("a2"))
      .select(
        col("n_test_scored"), col("n_test_unscored"),
        expr("CASE WHEN m > 0 THEN " +
          "CAST(bsum div (1000 * m) AS BIGINT) END").as("brier_nano"),
        expr("CASE WHEN m > 0 THEN " +
          "CAST(relsum div (1000 * m) AS BIGINT) END").as("rel_nano"),
        // Σ m_h(acc_h − b)² = Σ m_h·acc² − 2b·Σ m_h·acc + b²·M
        expr("CASE WHEN m > 0 THEN " +
          "CAST((a2 - 2 * b * a1 + b * b * m) div (1000 * m) AS BIGINT)" +
          " END").as("res_nano"),
        expr("CASE WHEN m > 0 THEN " +
          "CAST((b * (1000000 - b)) div 1000 AS BIGINT) END")
          .as("unc_nano"))
  }

  /** LIFT / CUMULATIVE-GAINS DECILES of the langId en-ratio score
    * against the gold `en` label — the ranking-model readout a
    * targeting pipeline publishes next to AUC: per score-decile, how
    * concentrated are the positives (lift) and what fraction is
    * captured by the top k/10 of the ranking (gains). Deciles cut the
    * DESCENDING score order by corpus mass: decile = (10·docs_above)
    * div N, so ties land in one deterministic decile on both engines.
    *
    * Exact integers: lift_micro = (10⁶·pos_d·N) div (n_d·P),
    * cum_capture_micro = (10⁶·cum_pos) div P — DECIMAL(38,0) for the
    * pos·N cross product. Scale shape: one corpus pass → the bounded
    * micro-ratio cell grid (≤ 10⁶+1 cells, the [[aucLangId]] class);
    * the mass cumulative runs over that grid and the gains cumulative
    * over the ≤ 10-row decile table (both PlanShapeSpec-allowlisted). */
  def scoreLiftDeciles(docs: DataFrame): DataFrame = {
    val cells = enRatioCells(docs)
    // bounded global windows: the mass/total cumulatives run over the
    // <= 1e6+1-cell score grid, never the corpus (the aucLangId class)
    val wAbove = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    val deciles = cells
      .withColumn("above", coalesce(sum(col("c")).over(wAbove), lit(0L)))
      .withColumn("nn", sum(col("c")).over(wAll))
      .withColumn("p", sum(col("c1")).over(wAll))
      .withColumn("decile", expr("CAST((10 * above) div nn AS BIGINT)"))
      .groupBy(col("decile"))
      .agg(sum(col("c")).as("n"), sum(col("c1")).as("pos"),
        max(col("nn")).as("nn"), max(col("p")).as("p"))
    // gains cumulative over the <= 10-row decile table
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, 0)
    deciles
      .withColumn("cumpos", sum(col("pos")).over(wCum))
      .select(col("decile"),
        col("n").cast("long").as("n_docs"),
        col("pos").cast("long").as("n_pos"),
        expr("CASE WHEN p > 0 THEN CAST((1000000 * CAST(pos AS " +
          "DECIMAL(38,0)) * nn) div (CAST(n AS DECIMAL(38,0)) * p) " +
          "AS BIGINT) END").as("lift_micro"),
        expr("CASE WHEN p > 0 THEN " +
          "CAST((1000000 * cumpos) div p AS BIGINT) END")
          .as("cum_capture_micro"))
      .orderBy(col("decile"))
  }

  /** z_{α/2} + z_β for two-sided α = 0.05 at 80% power, squared and
    * e4-quantized: (1.959964 + 0.841621)² = 7.84887851… → 78489. ONE
    * shared constant interpolated into both the Spark expr and the
    * oracle (the shared-literal rule). */
  private[operators] val MdeZ2E4 = 78489L

  /** The k of the k-anonymity gate — ONE shared constant interpolated
    * into both the Spark plan and the oracle (the shared-literal
    * rule: a parameterized k with a hardcoded oracle literal would
    * silently break the hash gate on any non-default call). */
  private[operators] val KAnonK = 5L

  /** SAMPLE-RATIO-MISMATCH CHECK of the user_id % 2 experiment
    * assignment ([[Temporal.abConversionZtest]]'s variants) — THE
    * standard A/B guardrail: if the randomization unit counts deviate
    * from 50/50 beyond chance, every downstream readout is suspect.
    * χ² against the uniform expectation is rational ((n_a−n_b)² /
    * (n_a+n_b), df 1), so the flag is the INTEGER cross-multiplication
    * 100·(n_a−n_b)² > 384·(n_a+n_b) (χ² > 3.84 = the 5% critical
    * value) and the magnitude rides the quantized-ln ladder.
    *
    * Scale shape: one corpus pass partial-aggregates per (variant,
    * user), then a 2-row variant count → O(1) report. */
  def srmCheck(events: DataFrame): DataFrame = {
    events
      .groupBy((col("user_id") % 2).as("variant"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("variant")).agg(count(lit(1)).as("n"))
      // coalesce to 0, not NULL: an EMPTY variant is the most extreme
      // possible mismatch and must flag, not NULL-propagate to a
      // silent pass (review finding)
      .agg(
        coalesce(sum(when(col("variant") === 0, col("n"))), lit(0L))
          .cast("long").as("n_a"),
        coalesce(sum(when(col("variant") === 1, col("n"))), lit(0L))
          .cast("long").as("n_b"))
      .select(col("n_a"), col("n_b"),
        expr("CAST(CASE WHEN 100 * (n_a - n_b) * (n_a - n_b) > " +
          "384 * (n_a + n_b) THEN 1 ELSE 0 END AS BIGINT)").as("srm_flag"),
        expr("CASE WHEN n_a + n_b > 0 AND n_a <> n_b THEN " +
          s"100 * (2 * ${ln4Sql("abs(n_a - n_b)")}" +
          s" - ${ln4Sql("n_a + n_b")}) END").as("ln_chi2_micro"))
  }

  /** MINIMUM DETECTABLE EFFECT of the running conversion experiment —
    * the design readout an experimentation pipeline publishes beside
    * the z-test: at the CURRENT sample sizes and pooled conversion
    * rate, what absolute rate difference would two-sided α = 0.05 /
    * 80% power resolve? MDE² = (z_{α/2}+z_β)²·p̄(1−p̄)·(1/n_a+1/n_b)
    * is rational up to the z constant (e4-quantized, [[MdeZ2E4]]):
    * with c converted of n = n_a + n_b users,
    *   ln MDE² = ln(78490) − ln(10⁴) + ln(c(n−c)) − ln(n·n_a·n_b)
    * — exact on the quantized-ln ladder. NULL when degenerate (an
    * empty variant, zero or full conversion).
    *
    * Scale shape: the [[Temporal.abConversionZtest]] per-user partial
    * aggregate → 2-row variant table → O(1). */
  def abMde(events: DataFrame): DataFrame = {
    events
      .groupBy((col("user_id") % 2).as("variant"), col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("x"))
      .agg(
        sum(when(col("variant") === 0, col("n"))).cast("long").as("n_a"),
        sum(when(col("variant") === 1, col("n"))).cast("long").as("n_b"),
        sum(col("x")).cast("long").as("n_converted"))
      .select(col("n_a"), col("n_b"), col("n_converted"),
        expr("CASE WHEN n_a > 0 AND n_b > 0 AND n_converted > 0 AND " +
          "n_converted < n_a + n_b THEN " +
          s"100 * (${ln4Sql(MdeZ2E4.toString)} - ${ln4Sql("10000")}" +
          s" + ${ln4Sql("CAST(n_converted AS DECIMAL(38,0)) * " +
            "(n_a + n_b - n_converted)")}" +
          s" - ${ln4Sql("CAST(n_a + n_b AS DECIMAL(38,0)) * n_a * n_b")})" +
          " END").as("ln_mde2_micro"))
  }

  /** CUPED COVARIATE ADJUSTMENT readout: θ = cov(x, y)/var(x) and the
    * variance-reduction factor ρ² for the (clicks → purchases)
    * per-user covariate pair — the pre-experiment-metric adjustment
    * every experimentation platform runs to tighten confidence
    * intervals (Deng et al.'s CUPED). Both are rational in the exact
    * integer moments (n·Sxy − SxSy, n·Sxx − Sx², n·Syy − Sy², all in
    * DECIMAL(38,0)), so sign + quantized-ln ladders publish exactly:
    * θ² = num²/denx², ρ² = num²/(denx·deny). NULL ladders when a
    * variance degenerates.
    *
    * Scale shape: one corpus pass partial-aggregates per user (a real
    * high-cardinality key), one global moment aggregate → O(1). */
  def cupedTheta(events: DataFrame): DataFrame = {
    events
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
      // cast BEFORE the products and sums: a per-user count squared is
      // int64-safe, but the corpus-level Σx² would wrap past 9.2e18
      // while the oracle's HUGEINT stays exact (review finding)
      .agg(
        count(lit(1)).cast(Dec).as("n"),
        sum(col("x").cast(Dec)).as("sx"), sum(col("y").cast(Dec)).as("sy"),
        sum(col("x").cast(Dec) * col("x").cast(Dec)).as("sxx"),
        sum(col("x").cast(Dec) * col("y").cast(Dec)).as("sxy"),
        sum(col("y").cast(Dec) * col("y").cast(Dec)).as("syy"))
      .select(
        col("n").cast("long").as("n_users"),
        expr("n * sxy - sx * sy").as("num"),
        expr("n * sxx - sx * sx").as("denx"),
        expr("n * syy - sy * sy").as("deny"))
      .select(col("n_users"),
        expr("CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 " +
          "ELSE 0 END AS BIGINT)").as("theta_sign"),
        expr("CASE WHEN num <> 0 AND denx > 0 THEN " +
          s"100 * (2 * ${ln4Sql("abs(num)")} - 2 * ${ln4Sql("denx")})" +
          " END").as("ln_theta2_micro"),
        expr("CASE WHEN num <> 0 AND denx > 0 AND deny > 0 THEN " +
          s"100 * (2 * ${ln4Sql("abs(num)")} - ${ln4Sql("denx")}" +
          s" - ${ln4Sql("deny")}) END").as("ln_rho2_micro"))
  }

  /** K-ANONYMITY AUDIT of the documents table under the
    * (lang, source, 100-char length bucket) quasi-identifier — the
    * privacy/governance gate a data pipeline runs before release: how
    * many records sit in equivalence classes smaller than k (the
    * [[KAnonK]] shared constant), and how many are outright unique.
    * All exact integers: class sizes from one corpus aggregate,
    * shares as non-negative micro floor-divs.
    *
    * Scale shape: one corpus pass partial-aggregates to the
    * |langs|·|sources|·|length buckets| class table (domain-bounded),
    * then one O(1) report aggregate. */
  def kAnonymityDocs(docs: DataFrame): DataFrame = {
    val k = KAnonK
    docs
      .groupBy(col("lang"), col("source"),
        expr("CAST(n_chars div 100 AS BIGINT)").as("len_bucket"))
      .agg(count(lit(1)).as("sz"))
      .agg(
        sum(col("sz")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_classes"),
        min(col("sz")).cast("long").as("min_class_size"),
        sum(when(col("sz") < k, col("sz")).otherwise(0L))
          .cast("long").as("n_below_k"),
        sum(when(col("sz") === 1, 1L).otherwise(0L))
          .cast("long").as("n_unique_docs"))
      .select(col("n_docs"), col("n_classes"), col("min_class_size"),
        col("n_below_k"), col("n_unique_docs"),
        expr("CAST((1000000 * n_below_k) div n_docs AS BIGINT)")
          .as("pct_below_k_micro"),
        expr("CAST((1000000 * n_unique_docs) div n_docs AS BIGINT)")
          .as("pct_unique_micro"))
  }

  /** LEAVE-ONE-SOURCE-OUT INFLUENCE of each source on the corpus mean
    * document length — the ablation readout a pipeline uses to value
    * (or indict) a source before a mix change: for each source, the
    * corpus mean WITHOUT it, and the signed delta against the full
    * mean. Means are exact milli floor-divs of non-negative sums
    * (DECIMAL(38,0)); the delta is the exact difference of the two
    * floored means.
    *
    * Scale shape: one corpus pass → |sources| partial-aggregate rows +
    * a one-row corpus total broadcast-crossJoined back (the
    * dedup_savings bounded pattern) → |sources| output rows. */
  def looSourceInfluence(docs: DataFrame): DataFrame = {
    val perSource = docs.groupBy(col("source"))
      .agg(count(lit(1)).cast(Dec).as("ns"),
        sum(col("n_chars")).cast(Dec).as("ss"))
    val total = perSource
      .agg(sum(col("ns")).as("n"), sum(col("ss")).as("s"))
    perSource.crossJoin(broadcast(total))
      .select(col("source"),
        col("ns").cast("long").as("n_docs"),
        expr("CAST((1000 * s) div n AS BIGINT)").as("full_mean_milli"),
        expr("CASE WHEN n > ns THEN " +
          "CAST((1000 * (s - ss)) div (n - ns) AS BIGINT) END")
          .as("loo_mean_milli"),
        expr("CASE WHEN n > ns THEN " +
          "CAST((1000 * (s - ss)) div (n - ns) - (1000 * s) div n " +
          "AS BIGINT) END").as("delta_milli"))
      .orderBy(col("source"))
  }

  /** EXPECTED CALIBRATION ERROR of the per-hour purchase-rate
    * predictor: the rate table learned on the md5 'train' split of
    * events is scored on the 'test' split, binned by predicted-rate
    * cell (= hour — 24 bounded bins), and the standard ECE
    * Σ m_b·|acc_b − conf_b| / M is published in exact micro units
    * together with the worst-bin gap — the reliability-diagram
    * readout beside [[aucLangId]]'s discrimination. Test bins the
    * model never trained on are NOT silently dropped: their mass is
    * published as n_test_unscored (review finding — an inner join
    * made a train-coverage gap invisible) and the ECE averages over
    * the scored mass only.
    *
    * All-integer: conf/acc are floor-divs of non-negative counts;
    * the weighted gap sum rides DECIMAL(38,0). Scale shape: two
    * corpus passes partial-aggregate to the 24-cell hour table
    * (calendar-bounded), one broadcast join, O(1) output. */
  def calibrationEce(events: DataFrame): DataFrame = {
    hourSplitGrid(events)
      .select(col("mh"),
        expr("CASE WHEN nh IS NOT NULL THEN " +
          "CAST((1000000 * ph) div nh AS BIGINT) END").as("conf"),
        expr("CAST((1000000 * qh) div mh AS BIGINT)").as("acc"))
      .agg(
        coalesce(sum(when(col("conf").isNotNull, col("mh"))), lit(0L))
          .cast("long").as("n_test_scored"),
        coalesce(sum(when(col("conf").isNull, col("mh"))), lit(0L))
          .cast("long").as("n_test_unscored"),
        coalesce(sum(when(col("conf").isNotNull, 1L)), lit(0L))
          .cast("long").as("n_bins"),
        sum(when(col("conf").isNotNull,
          (col("mh") * abs(col("acc") - col("conf"))).cast(Dec)))
          .as("gapsum"),
        max(when(col("conf").isNotNull, abs(col("acc") - col("conf"))))
          .cast("long").as("max_gap_micro"))
      .select(col("n_test_scored"), col("n_test_unscored"), col("n_bins"),
        expr("CASE WHEN n_test_scored > 0 THEN " +
          "CAST(gapsum div CAST(n_test_scored AS DECIMAL(38,0)) AS BIGINT)" +
          " END").as("ece_micro"),
        col("max_gap_micro"))
  }
}
