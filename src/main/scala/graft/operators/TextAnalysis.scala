package graft.operators

import graft.functions.Exact.{hexNibble, ln4, ln4Sql, md5Bucket, md5U20, signedDivSql, splitOf}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.WordCount.{tokenArray, tokenGrams}

/** Text-analysis operators for a training-data pipeline: language-ID
  * heuristic, quality scoring, token counting (whitespace + BPE-ish
  * regex), and rolling-hash document fingerprinting (winnowing-style).
  * All computed with codegen-friendly builtins; ratios use integer
  * numerators/denominators so double division is engine-portable.
  */
object TextAnalysis {

  /** English stopword sample present in the corpus vocabulary. */
  val EnStopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** GPT2-ish token pattern (no lookarounds → portable to RE2). */
  val BpePattern = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s']+"

  /** N-gram-heuristic language ID: stopword hit ratio → {en, other}. */
  def langId(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokenArray(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        size(filter(col("w"), x => x.isin(EnStopwords: _*))).cast("long").as("en_hits"))
      .withColumn("en_ratio",
        round(col("en_hits").cast("double") / col("n_tokens").cast("double"), 6))
      .withColumn("pred_lang",
        when(col("en_ratio") > 0.03, lit("en")).otherwise(lit("other")))
      .orderBy("doc_id")

  /** Cohen's kappa between the [[langId]] heuristic and the labeled
    * `lang` column, binarized to {en, other} — the inter-annotator /
    * classifier-vs-gold agreement metric an eval pipeline reports
    * alongside raw accuracy (kappa discounts chance agreement, so a
    * majority-class predictor scores ~0 even at high accuracy). Scoped
    * to the docs langId labels (token-less docs carry no prediction).
    *
    * EXACT arithmetic end-to-end: kappa = (po − pe)/(1 − pe) =
    * (N·n_agree − r₁c₁ − r₀c₀) / (N² − r₁c₁ − r₀c₀) — a ratio of
    * integers. Sums ride in DECIMAL(38,0) (safe past 10⁹ docs) and the
    * micro-unit quantization uses the sign-split truncating division
    * [[qualityRegression]] established. One corpus pass, a broadcast
    * join on doc_id, a single global aggregate — O(1) output. */
  def labelAgreementKappa(docs: DataFrame): DataFrame = {
    val pred = langId(docs)
      .select(col("doc_id"), (col("pred_lang") === "en").cast("long").as("p"))
    docs.select(col("doc_id"), (col("lang") === "en").cast("long").as("a"))
      .join(pred, "doc_id")
      .agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(when(col("a") === 1 && col("p") === 1, 1L).otherwise(0L))
          .cast("decimal(38,0)").as("n11"),
        sum(when(col("a") === 0 && col("p") === 0, 1L).otherwise(0L))
          .cast("decimal(38,0)").as("n00"),
        sum(col("a")).cast("decimal(38,0)").as("ra"),
        sum(col("p")).cast("decimal(38,0)").as("rp"))
      .selectExpr("n", "n11", "n00", "ra", "rp",
        "n11 + n00 AS agree",
        "ra * rp + (n - ra) * (n - rp) AS chance",
        "n * n AS nsq")
      .selectExpr(
        "CAST(n AS BIGINT) AS n_docs",
        "CAST(agree AS BIGINT) AS n_agree",
        "CAST((1000000 * agree) div n AS BIGINT) AS po_micro",
        "CAST((1000000 * chance) div nsq AS BIGINT) AS pe_micro",
        """CASE WHEN nsq - chance = 0 THEN CAST(NULL AS BIGINT) ELSE
           CAST(""" + signedDivSql("n * agree - chance", "nsq - chance") +
          """ AS BIGINT) END AS kappa_micro""")
  }

  /** MULTI-CLASS Cohen's κ over an (annotator_a, annotator_b) pair
    * relation — the full k×k-contingency generalization of
    * [[labelAgreementKappa]] (r10 verdict item 7: the binary form
    * binarizes to {en, other}; real eval pipelines compare k-way label
    * sets). Same exact-integer machinery: κ = (N·Σnᵢᵢ − Σrᵢcᵢ) /
    * (N² − Σrᵢcᵢ) — a ratio of integers, DECIMAL(38,0) sums,
    * sign-split truncating division.
    *
    * Shape at scale: one pass over the pair relation into the k×k
    * contingency (k bounded by the label alphabet, never the corpus),
    * marginals re-aggregate the contingency, Σrᵢcᵢ is an equi-join of
    * the two k-row marginal tables (a class absent from either marginal
    * contributes 0, so inner join is exact), and the report assembles
    * from one-row aggregates — the dedup_savings bounded-crossJoin
    * pattern. */
  private[graft] def kappaFromPairs(pairs: DataFrame): DataFrame = {
    val cont = pairs.groupBy("a", "p")
      .agg(count(lit(1)).cast("decimal(38,0)").as("m"))
    val rowm = cont.groupBy("a").agg(sum(col("m")).as("r"))
    val colm = cont.groupBy("p").agg(sum(col("m")).as("cm"))
    val chance = rowm.join(colm, rowm("a") === colm("p"))
      .agg(coalesce(sum(col("r") * col("cm")),
        lit(0).cast("decimal(38,0)")).as("chance"))
    val nClasses = pairs.select(col("a").as("c"))
      .union(pairs.select(col("p").as("c"))).distinct()
      .agg(count(lit(1)).as("n_classes"))
    val totals = pairs.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      coalesce(sum(when(col("a") === col("p"), 1L).otherwise(0L)),
        lit(0L)).cast("decimal(38,0)").as("agree"))
    totals.crossJoin(chance).crossJoin(nClasses)
      .selectExpr(
        "CAST(n AS BIGINT) AS n_docs",
        "n_classes",
        "CAST(agree AS BIGINT) AS n_agree",
        "CAST((1000000 * agree) div n AS BIGINT) AS po_micro",
        "CAST((1000000 * chance) div (n * n) AS BIGINT) AS pe_micro",
        """CASE WHEN n * n - chance = 0 THEN CAST(NULL AS BIGINT) ELSE
           CAST(""" + signedDivSql("n * agree - chance", "n * n - chance") +
          """ AS BIGINT) END AS kappa_micro""")
  }

  /** κ between the labeled `lang` column (5 classes) and a 4-class
    * stopword-ratio threshold ladder — a deliberately coarse second
    * annotator (the synthetic corpus's lang labels carry no token
    * signal, so κ ≈ 0 is the CORRECT measurement; the operator's value
    * is the exact k×k agreement arithmetic, oracle-gated). */
  def labelAgreementKappaMulticlass(docs: DataFrame): DataFrame = {
    val pred = langId(docs).select(col("doc_id"),
      when(col("en_ratio") > 0.03, lit("en"))
        .when(col("en_ratio") > 0.02, lit("es"))
        .when(col("en_ratio") > 0.01, lit("de"))
        .otherwise(lit("other")).as("p"))
    kappaFromPairs(
      docs.select(col("doc_id"), col("lang").as("a")).join(pred, "doc_id"))
  }

  /** Token-frequency concentration: the Herfindahl–Hirschman index of
    * the unigram distribution (Σ pᵢ², in parts-per-billion) plus the
    * head token's share — the one-row diversity report a data card
    * carries (high HHI = templated/repetitive corpus, a dedup signal
    * at the corpus level where [[repetitionStats]] works per-doc).
    * EXACT: hhi_ppb = 10⁹·Σcᵢ² div N² — integer arithmetic on the
    * vocabulary-sized count table (partial-aggregated token counts,
    * one vocabulary-keyed shuffle, then one global fold; safe past
    * 10⁹ tokens in DECIMAL(38,0)). */
  def tokenConcentration(docs: DataFrame): DataFrame =
    docs.select(explode(tokenArray(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .agg(
        sum(col("c")).cast("decimal(38,0)").as("n"),
        count(lit(1)).as("n_types"),
        sum(col("c").cast("decimal(38,0)") * col("c").cast("decimal(38,0)"))
          .as("c2"),
        max(col("c")).cast("decimal(38,0)").as("cmax"))
      .selectExpr(
        "CAST(n AS BIGINT) AS n_tokens",
        "n_types",
        "CAST((1000000000 * c2) div (n * n) AS BIGINT) AS hhi_ppb",
        "CAST((1000000 * cmax) div n AS BIGINT) AS top1_ppm")

  /** VOCABULARY COVERAGE CURVE — token-mass coverage at head-vocabulary
    * sizes k ∈ {16, 64, 256, 1024}: what fraction of all token
    * occurrences the top-k most frequent types account for. This is the
    * number a tokenizer/vocab budget decision reads (a steep curve says
    * a small vocab suffices; a flat one says the corpus is heavy-tailed
    * and a byte-fallback tokenizer will fragment it), complementing
    * [[tokenConcentration]]'s single-point HHI with the head profile.
    * Ranking reuses [[zipfRanks]]'s three-level partitioned
    * decomposition (no vocabulary-sized unpartitioned window at any
    * scale); the curve itself is ONE conditional aggregate over the
    * ranked vocabulary — exact BIGINT permilles. */
  def vocabCoverage(docs: DataFrame): DataFrame = {
    val ks = Seq(16, 64, 256, 1024)
    val wcnt = Materialize.stage(
      docs.select(explode(tokenArray(col("text"))).as("t")).groupBy("t").agg(count(lit(1)).as("c")))
    val covAggs = ks.map(k =>
      sum(when(col("rank") <= k, col("c")).otherwise(0L)).as(s"cov$k"))
    zipfRanks(wcnt)
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types") +: covAggs: _*)
      .select(col("n_tokens") +: col("n_types") +:
        ks.map(k => expr(s"1000 * cov$k div n_tokens")
          .as(s"cov${k}_permille")): _*)
  }

  /** Dense (count DESC, token ASC) ranks over a vocabulary count table
    * (t, c) WITHOUT any corpus-scale unpartitioned window — the
    * [[Pipeline.md5RankUnsorted]] bucket-offset decomposition adapted
    * from hash order to a VALUE order. Global order (c desc, t asc)
    * factors into three nested levels, each ranked under a PARTITIONED
    * window plus an offset from the level above:
    *
    *  1. log2 count buckets b = length(bin(c)) (integer-exact
    *     floor(log2 c)+1; monotone in c, so bucket-desc order is
    *     count-desc order). Bucket offsets come from an
    *     explode-to-lower-buckets equi-aggregate over the ≤ 64-row
    *     bucket-total table — no window, no join inequality.
    *  2. distinct counts within a bucket (≤ min(2^b, √(2·Σc)) rows per
    *     partition — the d(d+1)/2 ≤ N bound on distinct counts): an
    *     exclusive cumsum of count-group sizes, partitioned by bucket.
    *  3. tokens within a count group, sub-bucketed by their 2-char
    *     prefix (string prefixes preserve lexicographic order, so
    *     (pfx asc, t asc) concatenation IS t-asc order): row_number
    *     partitioned by (c, pfx) — worst-case partition is the c=1
    *     tail split ~28²-ways — plus an exclusive prefix-size cumsum
    *     partitioned by c (≤ 28² rows per group).
    *
    * At 10⁸ token types the largest single-task sort anywhere in this
    * plan is a few-×10⁶-row bucket slice, vs the whole vocabulary
    * under the naive unpartitioned row_number. */
  private[operators] def zipfRanks(wcnt: DataFrame): DataFrame = {
    val withPfx = wcnt.withColumn("pfx", substring(col("t"), 1, 2))
    val ranked = withPfx.withColumn("rb",
      row_number().over(
        Window.partitionBy(col("c"), col("pfx")).orderBy(col("t").asc))
        .cast("long"))
    val pfxOff = withPfx.groupBy("c", "pfx").agg(count(lit(1)).as("pn"))
      .withColumn("poff", coalesce(sum(col("pn")).over(
        Window.partitionBy(col("c")).orderBy(col("pfx").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("c").as("pc"), col("pfx").as("ppfx"), col("poff"))
    val gsz = wcnt.groupBy("c").agg(count(lit(1)).as("gn"))
      .withColumn("b", length(bin(col("c"))).cast("int"))
    val run = gsz.withColumn("grun", coalesce(sum(col("gn")).over(
      Window.partitionBy(col("b")).orderBy(col("c").desc)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // bucket totals → offsets: each bucket's total explodes onto every
    // LOWER bucket id and equi-aggregates (≤ 64 × 64 rows) — offset(b)
    // = Σ_{b' > b} bn(b') with no unpartitioned window and no
    // inequality join. filter b > 1: sequence(1, 0) would explode
    // DESCENDING (the packedSequences pitfall), and bucket 1 feeds no
    // lower bucket anyway.
    val boff = gsz.groupBy("b").agg(sum(col("gn")).as("bn"))
      .filter(col("b") > 1)
      .select(explode(sequence(lit(1), col("b") - 1)).as("tb"), col("bn"))
      .groupBy("tb").agg(sum(col("bn")).as("boff"))
    val coff = run.join(boff, run("b") === boff("tb"), "left")
      .select(col("c").as("cc"),
        (coalesce(col("boff"), lit(0L)) + col("grun")).as("coff"))
    ranked.join(coff, ranked("c") === coff("cc"))
      .join(pfxOff, ranked("c") === pfxOff("pc") && ranked("pfx") === pfxOff("ppfx"))
      .select(col("t"), col("c"),
        (col("coff") + col("poff") + col("rb")).as("rank"))
  }

  /** Zipf rank–frequency fit: OLS of ln(count) on ln(rank) over the
    * vocabulary — the data-card statistic (natural corpora have
    * alpha ≈ 1; a far-off alpha flags templated or truncated text).
    * EXACT given the quantized points: each ln is floored to integer
    * 1e-4 units FIRST ([[tokenKlDrift]]'s portability trick), then the
    * whole regression is [[qualityRegression]]'s integer Cramer
    * machinery — quantized points are identical cross-engine, so sums,
    * slope, and r² are hash-exact, not approximately equal.
    * Shape: one corpus pass into the vocabulary-sized count table;
    * ranking is [[zipfRanks]]'s three-level bucket-offset decomposition
    * (every window PARTITIONED — the round-10 Heaps-bounded allowlist
    * entry is gone); one global fold. alpha_micro = −slope; r² and
    * intercept carry the qualityRegression magnitude guards. */
  def zipfAlpha(docs: DataFrame): DataFrame = {
    // STAGE the vocabulary count table: zipfRanks consumes it in four
    // branches (token ranks, prefix offsets, count-group sizes, bucket
    // totals) — unstaged, Spark re-runs the corpus tokenize+count per
    // branch (measured 13× the query CPU at sf0.1, the r11 bench
    // regression). One corpus pass, then the decomposition reads the
    // Heaps-bounded staged table. Same pattern as negativeSamples'
    // staged rank table.
    val pts = zipfRanks(Materialize.stage(
      docs.select(explode(tokenArray(col("text"))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))))
      .select(
        ln4(col("rank")).cast("decimal(38,0)").as("x"),
        ln4(col("c")).cast("decimal(38,0)").as("y"))
    pts.agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .selectExpr("n",
        "n*sxy - sx*sy AS num", "n*sxx - sx*sx AS den",
        "n*syy - sy*sy AS deny", "sx", "sy")
      .selectExpr(
        "CAST(n AS BIGINT) AS n_types",
        """CASE WHEN den = 0 THEN CAST(NULL AS BIGINT) ELSE
           CAST(""" + signedDivSql("num", "den", negate = true) +
          """ AS BIGINT) END AS alpha_micro""",
        // intercept magnitude guard (advisor r10): |sy·den − num·sx| ≤
        // 1e14·3e17 + 3e17·1e14 = 6e31 under these bounds (|num| ≤
        // √(den·deny) ≤ 3e17 by Cauchy–Schwarz), so ×10⁶ stays inside
        // DECIMAL(38,0) — beyond them BOTH engines NULL identically
        // instead of Spark silently NULLing on decimal overflow while
        // DuckDB's HUGEINT computes (the divergence the r2 guard
        // exists to prevent). Mirrored in the oracle.
        """CASE WHEN den = 0
                  OR den > 300000000000000000 OR deny > 300000000000000000
                  OR abs(sx) > 100000000000000 OR abs(sy) > 100000000000000
             THEN CAST(NULL AS BIGINT) ELSE
           CAST(""" + signedDivSql("sy*den - num*sx", "n*den") +
          """ AS BIGINT)
           END AS intercept_micro""",
        """CASE WHEN den = 0 OR deny = 0
                  OR den > 300000000000000000 OR deny > 300000000000000000
             THEN CAST(NULL AS BIGINT) ELSE
           CAST((1000 * num * num) div (den * deny) AS BIGINT)
           END AS r2_permille""")
  }

  /** Quality scoring: type/token ratio, mean token length, and a
    * deterministic composite score. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
      tokenArray(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .select(
        col("doc_id"), col("n_chars"),
        size(col("w")).cast("long").as("n_tokens"),
        size(array_distinct(col("w"))).cast("long").as("n_types"),
        aggregate(transform(col("w"), x => length(x)), lit(0), (acc, x) => acc + x)
          .cast("long").as("sum_token_len"))
    val ttrRaw = col("n_types").cast("double") / col("n_tokens").cast("double")
    val lenTerm = least(col("n_tokens"), lit(100L)).cast("double") / lit(100.0)
    base.select(
      col("doc_id"), col("n_chars"), col("n_tokens"), col("n_types"),
      round(ttrRaw, 6).as("ttr"),
      round(col("sum_token_len").cast("double") / col("n_tokens").cast("double"), 6)
        .as("avg_token_len"),
      round((lit(0.5) * ttrRaw) + (lit(0.5) * lenTerm), 6).as("quality"))
      .orderBy("doc_id")
  }

  /** DUPLICATION × QUALITY CROSS-AUDIT — near-dup cluster membership
    * rate per quality band: the corpus-card question "is my duplication
    * concentrated in low-quality text?" (if yes, quality filtering
    * already removes most dups and the dedup budget can shrink — and
    * vice versa). Quality is re-derived in EXACT milli-units directly
    * from the integer inputs (1000·q = 500·types div tokens +
    * 5·min(tokens,100) — the same formula [[qualityScore]] rounds to
    * double, without the double: band edges can't drift cross-engine).
    * Shape: one corpus pass for the per-doc integers, one doc_id
    * equi-join against the cluster membership table (no broadcast hint
    * — membership can be a large corpus fraction on a crawl-heavy
    * corpus; AQE broadcasts only when it fits), one band-keyed
    * aggregate. */
  def dupQualityBias(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), tokenArray(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        size(array_distinct(col("w"))).cast("long").as("n_types"))
      .select(col("doc_id"),
        (expr("500 * n_types div n_tokens")
          + least(col("n_tokens"), lit(100L)) * 5L).as("quality_milli"))
    base
      .join(clusters.select(col("doc_id"), lit(1L).as("in_dup"))
        .distinct(), Seq("doc_id"), "left")
      .groupBy(expr("quality_milli div 100").as("quality_band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("in_dup"), lit(0L))).as("n_clustered"))
      .select(col("quality_band"), col("n_docs"), col("n_clustered"),
        expr("1000 * n_clustered div n_docs").as("clustered_permille"))
      .orderBy("quality_band")
  }

  /** Closed-form distributed OLS: fit `length(text) ~ feature` for each
    * of three integer document features (space count ≈ word count, and
    * two letter frequencies) via the normal equations, entirely in EXACT
    * integer arithmetic — the quality-classifier-fitting primitive a
    * curation pipeline runs over its labeled pool.
    *
    * Shape at scale: ONE partial-aggregable pass over the corpus (the
    * 3×N stacked (feature, x, y) rows combine map-side into 6 running
    * sums per feature), a 3-group shuffle, O(1) result — the same plan
    * at 100 TB, no iteration, no driver-side data. Slope/intercept come
    * out of Cramer's rule on the aggregated sums; all products stay in
    * DECIMAL(38,0) (exact, order-independent), and the final micro-unit
    * quantization uses sign-split truncating division so Spark's `div`
    * and DuckDB's `//` agree on negative numerators by construction.
    * Overflow headroom: |1e6·(sy·den − num·sx)| ≲ n³·f²·y²·1e6 — safe
    * past sf10 (5×10⁵ docs, ~10³² of the 10³⁸ budget); a corpus 10³×
    * larger would re-quantize to milli-units first. */
  def qualityRegression(docs: DataFrame): DataFrame = {
    val base = docs.selectExpr(
      "CAST(length(text) AS DECIMAL(38,0)) AS y",
      "CAST(length(text) - length(replace(text, ' ', '')) AS DECIMAL(38,0)) AS f_words",
      "CAST(length(text) - length(replace(text, 'e', '')) AS DECIMAL(38,0)) AS f_e",
      "CAST(length(text) - length(replace(text, 'a', '')) AS DECIMAL(38,0)) AS f_a")
    val stacked = base.select(col("y"), explode(map(
      lit("letter_a"), col("f_a"), lit("letter_e"), col("f_e"),
      lit("words"), col("f_words"))).as(Seq("feature", "x")))
    stacked.groupBy("feature").agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .selectExpr("feature", "CAST(n AS BIGINT) AS n_docs",
        "n*sxy - sx*sy AS num", "n*sxx - sx*sx AS den",
        "n*syy - sy*sy AS deny", "sx", "sy", "n")
      .selectExpr("feature", "n_docs",
        """CASE WHEN den = 0 THEN CAST(NULL AS BIGINT) ELSE
           CAST(""" + signedDivSql("num", "den") +
          """ AS BIGINT) END AS slope_micro""",
        // intercept guard: same bounds as zipfAlpha's (see there) —
        // without them Spark NULLs on decimal overflow where DuckDB
        // computes (advisor r10)
        """CASE WHEN den = 0
                  OR den > 300000000000000000 OR deny > 300000000000000000
                  OR abs(sx) > 100000000000000 OR abs(sy) > 100000000000000
             THEN CAST(NULL AS BIGINT) ELSE
           CAST(""" + signedDivSql("sy*den - num*sx", "n*den") +
          """ AS BIGINT)
           END AS intercept_micro""",
        // magnitude guard (mirrored in the oracle): 1000·num² and
        // den·deny must stay under the 38-digit budget. |num| ≤
        // √(den·deny) by Cauchy–Schwarz, so den,deny ≤ 3·10¹⁷ bounds
        // every product; beyond it BOTH engines yield NULL identically
        // instead of Spark silently NULLing on decimal overflow while
        // DuckDB computes (review finding).
        """CASE WHEN den = 0 OR deny = 0
                  OR den > 300000000000000000 OR deny > 300000000000000000
             THEN CAST(NULL AS BIGINT) ELSE
           CAST((1000 * num * num) div (den * deny) AS BIGINT)
           END AS r2_permille""")
      .orderBy("feature")
  }

  /** Token counting per source: whitespace tokens vs BPE-ish regex
    * tokens, aggregated per source. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
        col("source"),
        size(filter(split(col("text"), "\\s+"), x => x =!= "")).cast("long").as("ws"),
        size(regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0))).cast("long").as("bpe"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"))
      .withColumn("avg_bpe_per_doc",
        round(col("bpe_tokens").cast("double") / col("n_docs").cast("double"), 6))
      .orderBy("source")

  /** Repetition quality signal (the Gopher/C4-style filter): fraction
    * of repeated word-3-grams per document — high repetition marks
    * boilerplate/spam for downstream filtering. Shuffle-free like
    * docFingerprint: grams, distinct counts, and the ratio are per-row
    * ARRAY transforms — one map stage over the corpus. */
  def repetitionStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokenArray(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        tokenGrams(col("w"), 3).as("g3"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("g3")).cast("long").as("n_grams"),
        size(array_distinct(col("g3"))).cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_grams").cast("double"), 6))
      .orderBy("doc_id")

  /** PER-DOC TOKEN-DISTRIBUTION SIGNALS — the quality-filter trio the
    * gram-level [[repetitionStats]] does not see: Shannon entropy (nats)
    * of the within-doc token frequency distribution (low = gibberish
    * keyboard-mash or single-token spam), type–token ratio, and the
    * most-common-token mass fraction (the Gopher repetition rule at
    * token granularity). H = ln(n) − (Σ c·ln c)/n computed from exact
    * integer counts; each ln is quantized to 1e-4 units BEFORE the sum
    * (the bigram_lm_score portability pattern — summed doubles are
    * partition-order-dependent, quantized BIGINTs are exact), the
    * permille ratios are exact integer floor-divisions.
    *
    * Scale shape: tokenize → (doc, tok) counts → per-doc aggregate.
    * Both groupBys partial-aggregate map-side; no window, no per-doc
    * array ever materializes. The (doc, tok) key is strictly finer than
    * doc, so no reducer sees more than one doc's vocabulary — skew
    * bounded by the largest single document, not the corpus. */
  def docEntropy(docs: DataFrame): DataFrame = {
    val c = docs.select(col("doc_id"), explode(tokenArray(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    c.groupBy("doc_id").agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        max(col("c")).as("cmax"),
        sum(col("c") * ln4(col("c"))).as("s4"))
      // entropy in EXACT 1e-6 units: H_micro = 100·(n·lnq(n) − s4) div n
      // with every ln pre-quantized — the bigram_lm_score r12 fix
      // (round(double, 6) tie-flips between engines at large SF; the
      // sf1 sweep caught 2 rows here)
      .withColumn("ln4", ln4(col("n_tokens")))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        expr("1000 * n_types div n_tokens").as("ttr_permille"),
        expr("1000 * cmax div n_tokens").as("top_frac_permille"),
        expr("CAST(" + signedDivSql("n_tokens * ln4 - s4", "n_tokens", 100) +
          " AS BIGINT)")
          .as("entropy_micro"))
      .orderBy("doc_id")
  }

  /** Benchmark CONTAMINATION flagging (decontamination standard): a
    * corpus doc sharing any word-`n`-gram with the eval set (here the
    * deterministic slice doc_id < evalMaxId) is flagged, with the count
    * of shared grams. Scale shape: per-doc distinct grams explode once,
    * the join shuffles on the gram string, and the eval side is tiny
    * relative to the corpus — runtime stats may broadcast it, but
    * nothing is forced (eval suites grow). */
  def contamination(docs: DataFrame, evalMaxId: Long = 25, n: Int = 8): DataFrame = {
    val (evalGrams, corpusGrams) = evalSplit(docs, evalMaxId, n)
    contaminationReport(docs, evalMaxId, corpusGrams.join(evalGrams, "g"))
  }

  /** The contamination pair's shared input: per-doc DISTINCT word-n-grams,
    * split at `evalMaxId` into the eval slice's gram set (g) and the
    * corpus side's (doc_id, g) stream. */
  private def evalSplit(docs: DataFrame, evalMaxId: Long, n: Int): (DataFrame, DataFrame) = {
    val grams = docs.select(col("doc_id"), tokenArray(col("text")).as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(array_distinct(tokenGrams(col("w"), n))).as("g"))
    (grams.filter(col("doc_id") < evalMaxId).select(col("g")).distinct(),
      grams.filter(col("doc_id") >= evalMaxId))
  }

  /** Every doc past the eval slice, flagged, with its count of the
    * corpus (doc_id, g) rows in `shared` (found in the eval set). */
  private def contaminationReport(docs: DataFrame, evalMaxId: Long,
      shared: DataFrame): DataFrame = {
    val hits = shared.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_grams")) // grams are per-doc distinct
    docs.filter(col("doc_id") >= evalMaxId).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_shared_grams"))
      .withColumn("contaminated", col("n_shared_grams") > 0)
      .orderBy("doc_id")
  }

  /** BLOOM-PREFILTERED contamination — the 100 TB shape of
    * [[contamination]], producing the IDENTICAL output. The exact
    * operator shuffles the corpus's full distinct-gram stream into the
    * eval join; at 100 TB that is the corpus re-keyed by gram string to
    * find the ~0.01% of rows that actually hit. Here the eval gram set
    * is folded into a Bloom filter by a distributed aggregation
    * (`graft_bloom_agg` — Spark's own `BloomFilterAggregate`, exposed
    * session-scoped by [[graft.functions.GraftFunctions]]), delivered
    * to every task as a scalar-subquery result (the plan shape of
    * Spark's runtime-filter join pruning: one tiny build job, then a
    * map-side bit test — no driver collect, no UDF, codegen'd probe),
    * and only grams that PASS the filter reach the exact verify join.
    * The verify join makes false positives harmless — the Bloom is a
    * pure prefilter, so the result is exact for ANY filter size (a
    * property the spec pins by shrinking the filter until it saturates)
    * — while true-negative corpus grams, the overwhelming majority at
    * scale, never shuffle at all.
    *
    * Sizing: 1M expected items / 8M bits (1 MiB, <1% FP at 1M grams) —
    * a deployment sizes from the eval-suite gram count, which is known
    * and small relative to any training corpus. */
  def contaminationBloom(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, evalMaxId: Long = 25, n: Int = 8,
      bloomItems: Long = 1000000L, bloomBits: Long = 8388608L): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val (evalGrams, corpusGrams) = evalSplit(docs, evalMaxId, n)
    // the eval gram set feeds BOTH the Bloom build subquery and the
    // exact verify join; views give the scalar subquery SQL something
    // to name. Eval suites are tiny relative to the corpus — the double
    // scan is of the small side only.
    evalGrams.createOrReplaceTempView("graft_bloom_eval_grams")
    corpusGrams.createOrReplaceTempView("graft_bloom_corpus_grams")
    val cand = spark.sql(
      s"""SELECT doc_id, g FROM graft_bloom_corpus_grams
         |WHERE graft_might_contain(
         |  (SELECT graft_bloom_agg(xxhash64(g), ${bloomItems}L, ${bloomBits}L)
         |   FROM graft_bloom_eval_grams),
         |  xxhash64(g))""".stripMargin)
    contaminationReport(docs, evalMaxId, cand.join(evalGrams, "g"))
  }

  /** EXACT SUBSTRING-SPAN DEDUP (the ExactSubstr operator of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better" —
    * there built on a monolithic in-memory suffix array, here
    * re-expressed as two shuffles): every maximal token span whose
    * k-token windows each occur at ≥2 (doc, pos) sites corpus-wide.
    * Doc-level dedup (MinHash et al.) can never catch a long quoted
    * passage inside otherwise-distinct documents; span-level dedup is
    * what removes it.
    *
    * Shape: windows explode with their start positions (one Generate,
    * like [[contamination]]); global window occurrence counts are a
    * partial-aggregable groupBy on the window text (a viral boilerplate
    * window contributes one row per map task to the shuffle, not its
    * full occurrence list); duplicated occurrences join back (skinny
    * (doc_id, pos) rows) and merge into maximal spans per doc with one
    * islands pass — lag + running sum over the doc's positions, a
    * window over doc_id groups. Nothing here materializes per-doc
    * arrays or touches the corpus more than the two scans. Output: one
    * row per maximal duplicated span, 1-based inclusive token bounds. */
  def substringDedup(docs: DataFrame, k: Int = 8,
      hashWindows: Boolean = false): DataFrame = {
    val rawWins = windows(docs.select(col("doc_id"), tokenArray(col("text")).as("w")), k)
    // production path: shuffle 8-byte xxhash64 keys instead of ~40-char
    // window strings — the window-count groupBy and the dup join move
    // ~5× fewer shuffle bytes and compare longs, not strings. A hash
    // collision could mark one non-dup window duplicated (~N²/2⁶⁴ —
    // about 10⁻³ expected false windows at 10⁹ windows); the oracle
    // surface keeps the exact string keys (hashWindows=false), the same
    // split as the md5/xxhash64 band index.
    val wins =
      if (hashWindows)
        rawWins.select(col("doc_id"), col("p"), xxhash64(col("g")).as("g"))
      else rawWins
    val dupWins = wins.groupBy("g")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("g"))
    val dup = wins.join(dupWins, "g").select(col("doc_id"), col("p"))
    islands(dup, k)
      .groupBy(col("doc_id"), col("sid"))
      .agg(
        (min(col("p")) + 1).cast("long").as("span_start"),
        (max(col("p")) + k).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_windows"))
      .orderBy("doc_id", "span_start")
  }

  /** SUBSTRING-DEDUP CLEANING SUMMARY — the ACT step after
    * [[substringDedup]]'s find step (Lee et al. remove every duplicated
    * span except one occurrence): per document, how many tokens are
    * REDUNDANT — covered by a duplicated k-token window whose
    * globally-first occurrence (min (doc_id, position)) lives elsewhere.
    * The canonical occurrence keeps its text; every other occurrence is
    * removal-eligible, and the per-doc redundant-token count is the
    * union length of those windows (the islands pass again).
    *
    * Scale shape: canonical occurrences come from a partial-aggregable
    * `groupBy(window).agg(min(struct(doc_id, p)))` — NOT a rank()
    * window over the window text, which would ship a viral window's
    * whole occurrence list to one reducer with no partial aggregation.
    * Everything downstream touches only duplicated occurrences (the
    * near-dup neighborhood), and the interval-union count never
    * explodes per-token rows. Output: one row per doc (docs with no
    * redundant content report 0 — the gate decision is explicit). */
  def substringDedupClean(docs: DataFrame, k: Int = 8): DataFrame = {
    val base = docs.select(col("doc_id"), tokenArray(col("text")).as("w"))
    val wins = windows(base, k)
    // per-window: occurrence count + globally-first occurrence, one
    // partial-aggregated shuffle on the window text
    val stats = wins.groupBy("g").agg(
      count(lit(1)).as("cnt"),
      min(struct(col("doc_id"), col("p"))).as("first"))
    // redundant occurrences: duplicated window, not the canonical site
    val redundant = wins.join(stats.filter(col("cnt") >= 2), "g")
      .filter(struct(col("doc_id"), col("p")) =!= col("first"))
      .select(col("doc_id"), col("p"))
    // union length of the covering windows per doc (islands over starts)
    val dupTokens = islands(redundant, k)
      .groupBy(col("doc_id"), col("sid"))
      .agg((max(col("p")) - min(col("p")) + k).cast("long").as("len"))
      .groupBy("doc_id").agg(sum(col("len")).as("n_dup_tokens"))
    base.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(dupTokens, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dup_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_dup_tokens"),
        round(lit(1.0) - col("n_dup_tokens").cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double"), 6).as("keep_ratio"))
      .orderBy("doc_id")
  }

  /** The k-token windows of every (doc_id, w) row with at least k
    * tokens, as (doc_id, p, g) rows, `p` the 0-based window start. */
  private def windows(base: DataFrame, k: Int): DataFrame =
    base.filter(size(col("w")) >= k)
      .select(col("doc_id"), posexplode(tokenGrams(col("w"), k)).as(Seq("p", "g")))

  /** The islands pass over (doc_id, p) window starts: a window chains
    * onto the previous one when their starts are ≤ k apart (overlap or
    * touch); lag is null on a doc's first row → the comparison is null
    * → otherwise(1) opens a new span. Adds the span id `sid`. */
  private def islands(starts: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    starts
      .withColumn("ns",
        when(col("p") - lag(col("p"), 1).over(w) <= k, lit(0)).otherwise(lit(1)))
      .withColumn("sid", sum(col("ns")).over(w))
  }

  /** Deterministic train/val/test split: the first two hex nibbles of
    * md5(doc_id) give a uniform 0-255 bucket, split 8/1/1 — the
    * hash-based assignment every training pipeline needs (reproducible
    * across runs/engines, no sampling state, stable under corpus
    * append, trivially parallel). ascii-nibble math keeps the oracle
    * bit-identical (same trick as SimHash). */
  def trainValTestSplit(docs: DataFrame): DataFrame = {
    val bucket = md5Bucket()
    docs.select(col("doc_id"), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < 204, lit("train"))        // 204/256 ≈ 80%
          .when(col("bucket") < 230, lit("val"))       //  26/256 ≈ 10%
          .otherwise(lit("test")))
      .select(col("doc_id"), col("split"))
      .orderBy("doc_id")
  }

  /** Context-window PACKING: assign documents to fixed token-budget
    * bins (the pretraining step that concatenates docs into
    * context-length sequences). Docs are sharded by a hash of doc_id,
    * ordered within the shard, and binned by the running token count:
    * bin = floor(exclusive-cumsum / budget). Per-shard packing is the
    * distributed form — a single global greedy pack is inherently
    * sequential, while shards pack independently (one window sort per
    * shard partition, no global sort) and waste at most one partial
    * window per shard. Output: per-bin doc count and token mass. */
  def packContexts(docs: DataFrame, nShards: Int = 16,
      budget: Long = 8192): DataFrame = {
    val tokens = docs.select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), x => x =!= "")).cast("long").as("toks"))
      .withColumn("shard", pmod(col("doc_id"), lit(nShards.toLong)))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    tokens
      .withColumn("prior_toks", coalesce(sum(col("toks")).over(w), lit(0L)))
      .withColumn("bin", floor(col("prior_toks") / lit(budget)))
      .groupBy(col("shard"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("shard", "bin")
  }

  /** TF-IDF top-k terms per document — the classic corpus-statistic
    * ranking (keyword extraction / relevance features). The idf uses the
    * BM25 odds-ratio form (N - df + 0.5)/(df + 0.5) rather than a log:
    * libm `log` is not IEEE-correctly-rounded and can differ across
    * engines in the last ulp, which the driver's bit-exact hash gate
    * would surface; the odds form is plain field arithmetic over exact
    * integers (deterministic everywhere) and is a strictly decreasing
    * transform of df for fixed N, so each term's rarity ordering matches
    * the log idf. Scale shape: one shuffle to (doc, term) counts, one
    * to per-term document frequency, a shuffle join back on term (the
    * vocabulary of a 100 TB corpus exceeds broadcast limits — only the
    * single-row corpus total is broadcast), then the per-doc top-k
    * window over k' = tf rows per doc. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val terms = docs.select(col("doc_id"), explode(tokenArray(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = tf.agg(countDistinct(col("doc_id")).as("n_docs"))
    val scored = tf.join(dft, "term").crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf").cast("double") *
        ((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"), col("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** Deterministic STRATIFIED sampling: a fixed-rate hash sample drawn
    * independently within each stratum (language) — the pipeline op for
    * rebalancing a corpus (e.g. downsampling a dominant language)
    * without sampling state. Same ascii-nibble md5 bucket as
    * [[trainValTestSplit]]; bucket < 51 of 256 ≈ 20%. Output is the
    * per-stratum audit row (totals, sampled count, id range) — one
    * map-side-combined groupBy, no second pass. */
  def stratifiedSample(docs: DataFrame, rate256: Int = 51): DataFrame = {
    val sampled = md5Bucket() < rate256
    docs.select(col("lang"), col("doc_id"), sampled.as("s"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("s"), 1L).otherwise(0L)).as("n_sampled"),
        min(when(col("s"), col("doc_id"))).as("first_sampled"),
        max(when(col("s"), col("doc_id"))).as("last_sampled"))
      .orderBy("lang")
  }

  /** QUALITY-WEIGHTED sampling: each document is kept with probability
    * equal to its [[qualityScore]] quality (md5-uniform u∈[0,256) vs
    * quality×256) — deterministic importance sampling, the data-mixing
    * primitive that upweights high-quality text without any RNG state.
    * Emits per-language audit sums (micro-scaled quality as BIGINT so
    * the aggregate is order-independent); one shuffle for the quality
    * join, one for the audit groupBy. */
  def qualityWeightedSample(docs: DataFrame): DataFrame = {
    val q = qualityScore(docs).select(col("doc_id"), col("quality"))
    val u = md5Bucket().cast("double")
    docs.select(col("doc_id"), col("lang")).join(q, "doc_id")
      .withColumn("kept", u < col("quality") * 256.0)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), round(col("quality") * 1000000).cast("long"))
          .otherwise(0L)).as("q_micro_kept"))
      .orderBy("lang")
  }

  /** HEAVY-HITTER TOKENS via the two-pass Misra–Gries pipeline — the
    * production frequent-items shape at 100 TB:
    *
    *  - pass 1 (sketch): every partition runs a Misra–Gries(k) summary
    *    over its token stream (mapPartitions — O(k) state, one pass, no
    *    shuffle) and emits only its ≤ k candidate tokens. Pigeonhole
    *    makes the candidate union a SUPERSET of every global heavy
    *    hitter: freq(t)·k > N implies some partition saw
    *    freq_p(t)·k > n_p.
    *  - pass 2 (exact): only the candidates (≤ k·partitions tokens,
    *    ≪ vocabulary) are recounted exactly (semi join + groupBy) and
    *    filtered by the exact integer threshold freq·k > N.
    *
    * The sketch chooses WHICH tokens get recounted, never the answer —
    * so the result is deterministic (independent of partitioning and
    * merge order) and the oracle is the plain exact query. Integer
    * threshold arithmetic (freq·k > N) avoids division entirely. */
  def heavyHitterTokens(docs: DataFrame, k: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tokens = docs.select(explode(tokenArray(col("text"))).as("token")).as[String]
    val cands = tokens.mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap[String, Long]()
      it.foreach { t =>
        if (counts.contains(t) || counts.size < k)
          counts(t) = counts.getOrElse(t, 0L) + 1
        else {
          // decrement-all step; snapshot keys before mutating
          counts.keys.toArray.foreach { key =>
            val v = counts(key) - 1
            if (v == 0L) counts.remove(key) else counts(key) = v
          }
        }
      }
      counts.keysIterator
    }.toDF("token").distinct()
    val total = docs.agg(sum(size(tokenArray(col("text")))).as("n_total"))
    tokens.toDF()
      .join(cands, Seq("token"), "left_semi")
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .crossJoin(broadcast(total))
      .filter(col("freq") * k > col("n_total"))
      .select(col("token"), col("freq"))
      .orderBy(col("freq").desc, col("token").asc)
  }

  /** SOURCE-MIX REBALANCING: resample the corpus toward an equal share
    * per source — the domain-mixing primitive of training-data builds
    * (cap overrepresented sources, keep underrepresented ones whole).
    * Per source the keep rate is r = min(1, (total/n_sources)/n_docs);
    * a doc survives iff its deterministic md5-uniform byte <
    * r·256 — zero RNG state, byte-reproducible on any engine (same
    * trick as [[qualityWeightedSample]]). Emits the per-source audit
    * row (population, rate, kept). Plan shape: the source histogram is
    * a tiny aggregate broadcast back onto the corpus; the keep decision
    * is map-side; one audit groupBy — the corpus shuffles once. */
  def sourceMixRebalance(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("total"),
      count(lit(1)).as("n_sources"))
    val rates = counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        least(lit(1.0), col("total").cast("double") / col("n_sources").cast("double")
          / col("n_docs").cast("double")).as("keep_rate"))
    val u = md5Bucket().cast("double")
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(rates), "source")
      .withColumn("kept", u < col("keep_rate") * 256.0)
      .groupBy(col("source"), col("n_docs"), col("keep_rate"))
      .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** EXACT-SIZE deterministic uniform sample: the k docs with the
    * smallest md5(doc_id) — reservoir-sampling semantics (every doc
    * equally likely under the hash's uniformity) with none of its
    * sequential state, as a distributed top-k: TakeOrderedAndProject
    * keeps k rows per partition then merges k at the driver — no global
    * sort, no rate-vs-size slop (the rate-based samplers above return
    * BINOMIAL counts; audits and eval-set carving need exactly k). */
  def fixedSizeSample(docs: DataFrame, k: Int = 64): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), col("source"),
        md5(col("doc_id").cast("string")).as("h"))
      .orderBy(col("h"), col("doc_id")).limit(k)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")

  /** EXACT-QUOTA stratified sample: exactly k docs per stratum (lang),
    * chosen by md5 rank WITHIN the stratum — the per-group twin of
    * [[fixedSizeSample]] and the missing half of the sampling battery:
    * rate-based samplers return binomial counts per group, the global
    * top-k returns no per-group guarantee, but eval-set carving and
    * balanced mixtures need an exact quota from EVERY stratum. One
    * partitioned window (partition = lang, order = (md5, doc_id)) —
    * each stratum sorts independently, no global sort, no skew pivot;
    * at 100 TB the heaviest stratum bounds the task, and a two-level
    * bucket-prefilter (the [[fixedSizeSample]] TakeOrdered shape per
    * stratum) is the documented escalation if one stratum dominates. */
  def stratifiedFixedK(docs: DataFrame, k: Int = 16): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.select(col("doc_id"), col("lang"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy("lang", "rk")
  }

  /** TEMPERATURE-BASED source mixing (α = 0.5): sampling weight per
    * source ∝ n_s^α — the standard multilingual/multi-domain rebalance
    * (softens the head, boosts the tail; α=1 is natural sampling, α=0 is
    * the equal-share [[sourceMixRebalance]]). Target total is half the
    * corpus; per-source keep probability = K·q_s/n_s with
    * q_s = √n_s / Σ√n_t, realized as a deterministic md5-uniform
    * threshold test. The weight quantization and normalizer stay
    * BIGINT — each √n_s is floored to 2^20-scaled units FIRST and the
    * normalizer is an integer sum, so no double summation order can
    * perturb them — and the final per-source threshold is ONE fixed
    * left-to-right IEEE double expression over those integers, mirrored
    * literally in the oracle (the [[sourceMixRebalance]] pattern). An
    * all-BIGINT threshold product was the first cut; it overflows 63
    * bits near 1e5 docs per source once the k·w·2^20 factors stack
    * (caught in review against the 500k-doc flagship corpus), while
    * the double form is deterministic cross-engine at any scale. Plan
    * shape: source histogram → one tiny broadcast; keep decision
    * map-side; one audit groupBy. */
  def temperatureMix(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val weights = counts.select(col("source"), col("n_docs"),
      floor(sqrt(col("n_docs").cast("double")) * lit(1048576.0)).cast("long").as("w"))
    val tot = weights.agg(sum(col("w")).as("w_total"),
      expr("sum(n_docs) DIV 2").as("k_target"))
    val rates = weights.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        floor(lit(1048576.0) * col("k_target").cast("double") * col("w").cast("double")
          / (col("w_total").cast("double") * col("n_docs").cast("double")))
          .cast("long").as("keep_thresh"))
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(rates), "source")
      .withColumn("kept", md5U20 < col("keep_thresh"))
      .groupBy(col("source"), col("n_docs"), col("keep_thresh"))
      .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** Total sample budget for [[stratifiedNeyman]] — shared with the
    * oracle SQL (the MmrLambdaPermille shared-literal rule). */
  val NeymanBudget = 128

  /** NEYMAN-ALLOCATED stratified sample over (lang, source) — the
    * evaluation-harness sampler the r13 verdict asked for: where
    * [[stratifiedFixedK]] gives every stratum the same quota and
    * [[temperatureMix]] softens proportional rates, Neyman allocation
    * spends a FIXED total budget K where it buys the most variance
    * reduction: k_h ∝ N_h·S_h (stratum size × stratum std-dev of the
    * token count). Fully integer-exact:
    *
    *  - stratum variance numerator v_h = n·Σt² − (Σt)² is an exact
    *    DECIMAL(38,0) integer (token counts are small ints; the n·Q
    *    product passes 2⁶³ near n ≈ 10⁶, so the moments ride DECIMAL);
    *  - the irrational S_h is quantized ONCE through the
    *    [[temperatureMix]] trick — w_h = n_h·⌊2²⁰·√(v_h/(n_h(n_h−1)))⌋
    *    with the sqrt/division a single fixed IEEE-double expression
    *    mirrored literally in the oracle (deterministic cross-engine;
    *    singleton/constant strata get w_h = 0);
    *  - the apportionment is exact HAMILTON (largest remainder):
    *    floor share (K·w_h) div W, one extra for the top-r remainders
    *    (r = K − Σfloor), ties broken by (remainder desc, lang,
    *    source); K·w_h rides DECIMAL. All-zero weights fall back to
    *    proportional-to-n_h allocation (same ladder on n_h);
    *  - allocations are CAPPED at n_h with no redistribution (a
    *    single-pass bound, documented — redistribution is an iterative
    *    fixpoint a sampler run nightly doesn't need);
    *  - realization is the [[stratifiedFixedK]] shape: md5-rank within
    *    the stratum, keep rk ≤ k_h.
    *
    * Output: the per-stratum audit (n_docs, integer Neyman weight,
    * k_alloc, realized n_sampled, first sampled doc as a membership
    * witness) — n_sampled == min(k_alloc, n_docs) by construction,
    * and the witness pins the realized membership cross-engine.
    *
    * Scale shape: ONE corpus pass partial-aggregates the (lang,
    * source) moment table (domain-bounded: |langs|·|sources| cells
    * forever); the Hamilton rank and deficit cross-join run over that
    * bounded table (PlanShapeSpec-allowlisted global window + one-row
    * broadcast); the realization windows partition by stratum (the
    * [[stratifiedFixedK]] honest-exact-rank class — the heaviest
    * stratum bounds the task; a per-stratum TakeOrdered bucket
    * prefilter is the documented escalation); the quota join onto the
    * corpus broadcasts the bounded allocation table. */
  def stratifiedNeyman(docs: DataFrame, k: Int = NeymanBudget): DataFrame = {
    val strata = Materialize.stage(docs
      .select(col("lang"), col("source"), size(tokenArray(col("text"))).cast("long").as("t"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n"),
        sum(col("t").cast("decimal(38,0)")).as("s"),
        sum((col("t") * col("t")).cast("decimal(38,0)")).as("qq")))
    val weighted = strata.select(col("lang"), col("source"), col("n"),
      expr("CAST(CASE WHEN n > 1 AND n * qq - s * s > 0 THEN " +
        "floor(sqrt(CAST(n * qq - s * s AS DOUBLE) / " +
        "CAST(n * (n - 1) AS DOUBLE)) * 1048576.0) ELSE 0 END " +
        "AS DECIMAL(38,0)) * n").as("w"))
    val tot = weighted.agg(sum(col("w")).as("w_total"),
      sum(col("n").cast("decimal(38,0)")).as("n_total"))
    // one-row totals broadcast onto the bounded strata table, then the
    // Hamilton floor/remainder split; all-zero weights (every stratum
    // constant-length) degrade to proportional-to-size allocation
    val alloc0 = weighted.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n"), col("w"),
        expr(s"CASE WHEN w_total > 0 THEN ($k * w) div w_total " +
          s"ELSE ($k * CAST(n AS DECIMAL(38,0))) div n_total END").as("fl"),
        expr(s"CASE WHEN w_total > 0 THEN ($k * w) % w_total " +
          s"ELSE ($k * CAST(n AS DECIMAL(38,0))) % n_total END").as("rem"))
    val deficit = alloc0.agg(sum(col("fl")).as("fl_sum"))
    // bounded global window: ranks the <= |langs|*|sources| strata
    // table for the largest-remainder extras, never corpus rows
    // (PlanShapeSpec-allowlisted)
    val alloc = alloc0
      .withColumn("pos", row_number()
        .over(Window.orderBy(col("rem").desc, col("lang"), col("source")))
        .cast("long"))
      .crossJoin(broadcast(deficit))
      .select(col("lang"), col("source"), col("n"), col("w"),
        least(col("fl") +
          when(col("pos") <= lit(k.toLong) - col("fl_sum"), 1L).otherwise(0L),
          col("n")).as("k_alloc"))
    val rkw = Window.partitionBy(col("lang"), col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val sampled = docs.select(col("doc_id"), col("lang"), col("source"))
      .withColumn("rk", row_number().over(rkw).cast("long"))
      .join(broadcast(alloc.select(col("lang"), col("source"), col("k_alloc"))),
        Seq("lang", "source"))
      .filter(col("rk") <= col("k_alloc"))
    val counts = sampled.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_doc"))
    alloc.join(counts, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("n").as("n_docs"),
        col("w").cast("long").as("w_neyman"), col("k_alloc"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        col("first_doc"))
      .orderBy("lang", "source")
  }

  /** Sample size and the quantized ln(2²⁰) anchor for
    * [[weightedSampleAes]] — shared with the oracle SQL (the
    * MmrLambdaPermille shared-literal rule). 138629 =
    * ⌊ln(2²⁰)·10⁴ + 0.5⌋. */
  val AesSampleK = 64
  val AesLnMax = 138629L

  /** WEIGHTED SAMPLE WITHOUT REPLACEMENT — Efraimidis–Spirakis A-ES
    * (the standard distributed one-pass weighted reservoir): each doc
    * draws u ~ U(0,1] and keeps key u^(1/w); the k LARGEST keys are an
    * exact weighted sample without replacement. Here w = token count
    * (sample long docs proportionally — the data-mixing use), u is the
    * deterministic 20-bit md5 draw, and the key order is made
    * INTEGER-EXACT instead of float: maximizing u^(1/w) is minimizing
    * (−ln u)/w, −ln u quantizes to the ladder penalty
    * p = AesLnMax − ⌊ln(u20+1)·10⁴ + 0.5⌋ ≥ 0 (u = (u20+1)/2²⁰, so
    * the ln(2²⁰) anchor cancels the scale), and the published key is
    * the exact non-negative floor-div (10⁶·p) div w — both engines
    * sort the same integers. Zero-token docs are excluded (w = 0 has
    * no A-ES key).
    *
    * Scale shape: the key is map-side arithmetic on the scan; the
    * sample is TakeOrderedAndProject (k per partition, k at the
    * driver — the [[fixedSizeSample]] shape, no global sort). */
  def weightedSampleAes(docs: DataFrame, k: Int = AesSampleK): DataFrame = {
    docs
      .select(col("doc_id"), size(tokenArray(col("text"))).cast("long").as("n_tokens"),
        md5U20.as("u20"))
      .filter(col("n_tokens") > 0)
      .withColumn("pen", lit(AesLnMax) - ln4(col("u20") + 1).cast("long"))
      .withColumn("key_q", expr("(1000000 * pen) div n_tokens"))
      .orderBy(col("key_q").asc, col("doc_id").asc).limit(k)
      .select(col("doc_id"), col("n_tokens"), col("key_q"))
      .orderBy("doc_id")
  }

  /** SPLIT-DRIFT detection: KL(split ‖ corpus) over token unigram
    * distributions, per train/val/test split (the held-out-set sanity
    * check a training pipeline runs — a val set whose token mix diverges
    * from train measures the wrong loss). Exactly the
    * [[trainValTestSplit]] assignment; per-(split, token) counts partial-
    * aggregate before the one shuffle on the token key; the global
    * token distribution is a vocabulary-sized re-aggregate of the same
    * table (no second corpus scan), and the per-split totals are a
    * broadcast scalar row. Each token's log-ratio ln(p/q) is quantized
    * to integer 1e-4 units (round-half-up) BEFORE the weighted sum —
    * the [[bigramLmScore]] portability trick — so the per-split KL is
    * an order-independent BIGINT sum and hash-exact cross-engine. */
  def tokenKlDrift(docs: DataFrame): DataFrame = {
    // staged: four consumers (global counts, split totals, the grand
    // total, and the scored join) would otherwise each re-run the
    // corpus tokenize as separate broadcast-subquery jobs (`Explain
    // <query>` audit, r12, the bm25-family finding); staged it is a vocabulary-sized
    // table read four times
    val tokSplit = Materialize.stage(
      docs.select(splitOf().as("split"), explode(tokenArray(col("text"))).as("tok"))
        .groupBy(col("split"), col("tok")).agg(count(lit(1)).as("c")))
    val globalTok = tokSplit.groupBy(col("tok")).agg(sum(col("c")).as("c_all"))
    val splitTotals = tokSplit.groupBy(col("split")).agg(sum(col("c")).as("n_split"))
    val grand = splitTotals.agg(sum(col("n_split")).as("n_all"))
    val terms = tokSplit
      .join(globalTok, "tok")
      .join(broadcast(splitTotals), "split")
      .crossJoin(broadcast(grand))
      .withColumn("lp4",
        ln4(col("c").cast("double") * col("n_all").cast("double") /
          (col("n_split").cast("double") * col("c_all").cast("double"))).cast("long"))
    // KL in EXACT 1e-6 units (sign-split truncating division) — same
    // fix as bigramLmScore's avg_logp_micro: round(double, 6) can flip
    // on representation-boundary ties between engines at large SF
    terms
      .groupBy(col("split"), col("n_split"))
      .agg(
        count(lit(1)).as("n_distinct_tokens"),
        sum(col("c") * col("lp4")).as("kl_units"))
      .select(col("split"), col("n_split").as("n_tokens"),
        col("n_distinct_tokens"),
        // ×100 lift in DECIMAL: kl_units is a corpus-sized Σc·lp4
        // (overflows BIGINT·100 past ~10¹⁷ token-units); 3 output rows
        expr("CAST(" + signedDivSql("CAST(kl_units AS DECIMAL(38,0))", "n_split", 100) +
          " AS BIGINT)").as("kl_micro"))
      .orderBy("split")
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by the log-likelihood ratio of its hashed token features
    * under a target distribution vs the raw corpus, then keep the top-k.
    * Target here = the `lang = 'en'` slice (the high-quality-pool
    * stand-in); features = tokens hashed into 256 md5-prefix buckets
    * (engine-portable, fixed fan-out). Add-1 smoothed per-bucket
    * log-ratios are quantized to integer 1e-4 units (round-half-up,
    * the [[tokenKlDrift]] portability trick) BEFORE the per-doc sum,
    * so document weights are order-independent BIGINT sums.
    *
    * Shape at scale: ONE corpus scan builds the (doc, bucket, c) table
    * (partial-aggregated explode); bucket totals and the target slice
    * are RE-aggregates of that table (256 keys — no second scan); the
    * 256-row llr table broadcasts back; top-k is TakeOrderedAndProject.
    * The only crossJoin is the one-row grand-total broadcast. */
  def importanceResampling(docs: DataFrame, k: Int = 100): DataFrame = {
    // staged: the llr broadcast chain and the weights join both consume
    // this table — unstaged, the broadcast leg re-ran the corpus
    // tokenize+hash as its own job (`Explain <query>` audit, r12: two identical
    // 3-4 s stages); staged, the "ONE corpus scan" the scaladoc
    // promises is actually one
    val docBucket = Materialize.stage(docs
      .select(col("doc_id"), (col("lang") === "en").as("is_target"),
        explode(tokenArray(col("text"))).as("t"))
      .select(col("doc_id"), col("is_target"),
        substring(md5(col("t")), 1, 2).as("bucket"))
      .groupBy("doc_id", "is_target", "bucket")
      .agg(count(lit(1)).as("c")))
    val bucketTotals = docBucket.groupBy("bucket").agg(
      sum(col("c")).as("cr"),
      sum(when(col("is_target"), col("c")).otherwise(0L)).as("ct"))
    val grand = bucketTotals.agg(
      sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val llr = bucketTotals.crossJoin(broadcast(grand))
      .withColumn("llr4", ln4(
        (col("ct").cast("double") + lit(1.0)) *
          (col("nr").cast("double") + lit(256.0)) /
          ((col("cr").cast("double") + lit(1.0)) *
           (col("nt").cast("double") + lit(256.0)))).cast("long"))
      .select("bucket", "llr4")
    val weights = docBucket.join(broadcast(llr), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("llr4")).as("weight_units"))
    // token-less documents score 0, not "absent" — the contract is
    // every document ranked (a 0-weight doc outranks negative-weight
    // docs; review finding: explode silently dropped them)
    docs.select(col("doc_id")).join(weights, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("weight_units"), lit(0L)).as("weight_units"))
      .orderBy(col("weight_units").desc, col("doc_id"))
      .limit(k)
  }

  /** Dataset-card summary: the one-row corpus rollup (docs, tokens,
    * chars, language/source cardinalities, length extremes) a data
    * release documents. One scan, one partial-aggregated global
    * aggregate — the cheapest query in the registry by design; its
    * value is completeness of the pipeline surface. */
  def corpusSummary(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
        size(tokenArray(col("text"))).cast("long").as("n_toks"),
        length(col("text")).cast("long").as("n_chars"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        min(col("n_toks")).as("min_doc_tokens"),
        max(col("n_toks")).as("max_doc_tokens"))
      .withColumn("avg_doc_tokens",
        round(col("total_tokens").cast("double") / col("n_docs").cast("double"), 6))

  /** Char-trigram language classifier, fit AND applied as one dataflow
    * (the Cavnar–Trenkle n-gram-profile method): per-language top-30
    * trigram profiles by corpus frequency (fit = one shuffle on
    * (lang, gram)), then each document scored by rank-weighted overlap
    * of its DISTINCT trigrams with each profile (the profile is
    * broadcast-tiny: languages × 30 rows), argmax per doc, emitted as a
    * language confusion matrix. Everything is integer arithmetic with
    * deterministic tie-breaks — a trained classifier with zero RNG and
    * a bit-exact oracle. */
  def charNgramLangConfusion(docs: DataFrame, topK: Int = 30): DataFrame = {
    // NOT persisted: the gram stream is corpus-sized, and its lineage is
    // map-only (scan + lowercase + explode) — the profile fit and the
    // per-doc scoring each re-run that cheap pass instead of pinning a
    // corpus-sized intermediate in executor storage. Same trade as
    // cmsTokenCounts (r7 verdict "what's wrong" #3): at 100 TB the
    // persist is a storage bill, and locally the de-persist measured
    // neutral-to-faster.
    val base = docs
      .select(col("doc_id"), col("lang"), lower(col("text")).as("t"))
      .filter(length(col("t")) >= 3)
    val gramArr = "transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))"
    val grams = base.select(col("doc_id"), col("lang"),
      explode(expr(gramArr)).as("g"))
    val profile = grams
      .groupBy(col("lang"), col("g")).agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("g").asc)))
      .filter(col("rank") <= topK)
      .select(col("lang").as("cand_lang"), col("g"), (lit(topK + 1) - col("rank")).as("w"))
    // per-doc DISTINCT grams computed row-locally (array_distinct before
    // the explode — the contamination shape): a `.distinct()` here would
    // shuffle the corpus-sized gram stream a second time just to dedup
    // within each doc; the row-local array is bounded by document size,
    // not corpus size
    val docGrams = base.select(col("doc_id"), col("lang"),
      explode(array_distinct(expr(gramArr))).as("g"))
    val scored = docGrams
      .join(broadcast(profile), "g")
      .groupBy(col("doc_id"), col("lang"), col("cand_lang"))
      .agg(sum(col("w")).as("score"))
    val best = scored.withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("cand_lang").asc)))
      .filter(col("rn") === 1)
    best.groupBy(col("lang"), col("cand_lang").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "pred_lang")
  }

  /** Per-language LENGTH QUALITY GATE: keep documents within the
    * [p05, p95] character-length band of their language — the
    * outlier-trimming filter (truncated boilerplate / concatenation
    * blowups) applied per stratum because length distributions differ by
    * language. Two-pass shape: pass 1 reduces the corpus to one exact
    * percentile row per language (bounded by language count, so the
    * broadcast back is scale-correct no matter the corpus size); pass 2
    * is a map-side filter + combine. Exact `percentile` matches DuckDB
    * quantile_cont (both linear-interpolation); kept-average summed in
    * DECIMAL for order-independence. */
  def lengthQualityGate(docs: DataFrame): DataFrame = {
    // per-group value-cell percentiles (r15 optimization round): the
    // built-in percentile merged each lang's value→count map in one
    // final task; n_chars is an integer domain bounded by max doc
    // length, so the per-lang cell window is domain-bounded — see
    // [[Relational.cellPercentiles]] (bit-exact interpolation replica)
    val stats = Relational.cellPercentiles(
      docs.select(col("lang"), col("n_chars").as("v")),
      Seq(0.05, 0.95), Seq("p05", "p95"), grp = Seq("lang"))
    docs.select(col("lang"), col("n_chars"))
      .join(broadcast(stats), "lang")
      .withColumn("kept", col("n_chars") >= col("p05") && col("n_chars") <= col("p95"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        min(col("p05")).as("p05"),
        min(col("p95")).as("p95"),
        (sum(when(col("kept"), col("n_chars")).otherwise(0L)
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))).cast("double") /
          sum(when(col("kept"), 1L).otherwise(0L)).cast("double")).as("kept_avg_chars"))
      .orderBy("lang")
  }

  /** Winnowing-style fingerprints: md5 of char-5-grams, window-min over
    * 4 consecutive positions, per-doc distinct fingerprint stats.
    *
    * Shuffle-free formulation: gram hashes and their sliding minima are
    * per-row ARRAY transforms, so the whole computation is one map stage
    * — nothing is exploded through an exchange. The previous
    * explode + Window.partitionBy(doc_id) form shuffled ~|text| rows per
    * doc (~10x the corpus bytes) just to compute an in-row sliding min.
    * Tradeoff: the per-row arrays hold |text| 8-char hashes, fine for
    * KB–MB documents; for pathological multi-GB single documents the
    * exploded form would be the fallback.
    *
    * filter + positions both index the LOWERED string: for chars whose
    * lowercase form changes string length the two would otherwise desync. */
  def docFingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), lower(col("text")).as("t"))
      .filter(length(col("t")) >= 5)
      .select(col("doc_id"), expr(
        "transform(sequence(1, length(t) - 4), i -> substring(md5(substring(t, i, 5)), 1, 8))")
        .as("hs"))
      // trailing windows shrink like ROWS BETWEEN CURRENT AND 3 FOLLOWING:
      // slice() truncates at the array end
      .select(col("doc_id"), expr(
        "transform(sequence(1, size(hs)), i -> array_min(slice(hs, i, 4)))").as("wm"))
      .select(
        col("doc_id"),
        size(array_distinct(col("wm"))).cast("long").as("n_fp"),
        array_min(col("wm")).as("fp_min"),
        array_max(col("wm")).as("fp_max"))
      .orderBy("doc_id")

  /** PII patterns: email, NANP-ish phone fragment, dotted-quad IP. All
    * RE2-compatible AND java.util.regex-compatible (no lookaround, no
    * backreferences; \d and \b mean the same ASCII things in both), so
    * the DuckDB oracle applies the byte-identical regexes. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> """[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}""",
    "phone" -> """\b\d{3}-\d{4}\b""",
    "ip" -> """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""")

  /** Deterministic PII seeding for the registry entry: the synthetic
    * corpus contains no PII, so redaction over it would be vacuously
    * correct. Both engines append the same doc_id-derived email / phone /
    * IP fragments to a deterministic subset of docs, making the oracle
    * exercise every pattern on every run. */
  def seedPii(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" call 555-01"),
            lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(lit(" host 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
            lit("."), pmod(col("doc_id") * 7, lit(256)).cast("string"))).otherwise(lit("")))
        .as("text"))

  /** PII REDACTION — the scrubbing stage every training pipeline runs
    * before anything ships: per-doc match counts per PII class plus the
    * cleaned text with typed placeholders. Counts are taken on the raw
    * text, replacements applied in fixed pattern order (placeholders
    * contain no digits, so later patterns cannot match earlier
    * replacements). Pure per-row regex work — one map stage, no shuffle,
    * trivially 100 TB-parallel. */
  def redactPii(docs: DataFrame): DataFrame = {
    val counts = PiiPatterns.map { case (n, p) =>
      size(regexp_extract_all(col("text"), lit(p), lit(0))).cast("long").as(s"n_$n")
    }
    val cleaned = PiiPatterns.foldLeft(col("text")) { case (c, (n, p)) =>
      regexp_replace(c, lit(p), lit(s"<${n.toUpperCase}>"))
    }
    docs.select((col("doc_id") +: counts :+ cleaned.as("clean_text")): _*)
      .orderBy("doc_id")
  }

  /** Deterministic Unicode seeding: the synthetic corpus is pure ASCII
    * (NFC-invariant), so the normalization entry would be vacuous. Both
    * engines append the same doc_id-derived decomposed sequences:
    * e+U+0301 (composes to é), A+U+030A (composes to Å), and U+2126
    * OHM SIGN (a canonical singleton — NFC rewrites it to U+03A9 Ω). */
  def seedUnicode(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(" cafe\u0301")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(4)) === 0, lit(" A\u030A")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0, lit(" \u2126")).otherwise(lit("")))
        .as("text"))

  /** UNICODE NORMALIZATION gate — the canonicalization step an ingestion
    * pipeline runs before any hashing: decomposed sequences ("e"+◌́) and
    * canonical singletons (OHM SIGN) defeat exact dedup, fingerprints,
    * and token stats unless NFC-composed first. Uses the native
    * [[graft.functions.NfcNormalize]] expression (Spark has no builtin);
    * pure per-row work, no shuffle. Reports both lengths so the
    * composition is visible (char count drops when sequences compose). */
  def unicodeNormalize(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val clean = graft.functions.GraftFunctions.nfc_normalize(spark, col("text"))
    docs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_raw"),
        length(clean).cast("long").as("n_chars_nfc"),
        (clean =!= col("text")).as("changed"),
        clean.as("clean_text"))
      .orderBy("doc_id")
  }

  /** Stand-in sensitive-term list for [[blocklistGate]] — words present
    * in the synthetic vocabulary so the gate is non-vacuous. */
  val Blockwords = Seq("customer", "merge")

  /** WORDLIST GATE — the toxicity/NSFW-filter shape: per-doc blocklist
    * hit ratio and a keep/drop decision at `maxRatio`. Per-row array
    * filter over the token array; no shuffle. */
  def blocklistGate(docs: DataFrame, maxRatio: Double = 0.05): DataFrame =
    docs.select(col("doc_id"), tokenArray(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        size(filter(col("w"), x => x.isin(Blockwords: _*))).cast("long").as("n_hits"))
      .withColumn("hit_ratio",
        round(col("n_hits").cast("double") / col("n_tokens").cast("double"), 6))
      .withColumn("kept", col("hit_ratio") <= maxRatio)
      .orderBy("doc_id")

  /** BOILERPLATE COVERAGE — frequent-fragment detection (the C4/RefinedWeb
    * boilerplate-removal shape, n-gram granularity since the synthetic
    * corpus has no line structure): a word-`n`-gram appearing in >=
    * `minDocs` DISTINCT docs is boilerplate; each doc reports how much of
    * its gram stream that covers. Scale shape: the corpus-sized gram
    * stream is NEVER persisted — its lineage is map-only (scan +
    * tokenize + explode), so the three consumers (document-frequency
    * table, per-doc totals, per-doc hits) each recompute that cheap
    * pass rather than pin ~corpus bytes in executor storage (the
    * cmsTokenCounts trade, r7 verdict). The DF table shuffles on the
    * gram string with map-side combine; nothing is force-broadcast —
    * frequent n-gram tables are unbounded in a boilerplate-heavy
    * corpus, so the hit join is left to runtime stats (AQE broadcasts
    * it when small). */
  def boilerplateCoverage(docs: DataFrame, n: Int = 5, minDocs: Int = 3): DataFrame = {
    val grams = docs.select(col("doc_id"), tokenArray(col("text")).as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(tokenGrams(col("w"), n)).as("g"))
    val boiler = grams.distinct()
      .groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("g"))
    val perDoc = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val hits = grams.join(boiler, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
    perDoc.join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_boiler"))
      .withColumn("boiler_ratio",
        round(col("n_boiler").cast("double") / col("n_grams").cast("double"), 6))
      .orderBy("doc_id")
  }

  /** COUNT-MIN SKETCH geometry: d=4 hash rows × w=4096 buckets (3 md5
    * nibbles per row — 12 of the 32 digest nibbles used, rows pairwise
    * independent enough for the CM guarantee). */
  val CmsDepth = 4
  val CmsWidth = 4096

  /** The d bucket indexes of a token — md5-nibble arithmetic the DuckDB
    * oracle reproduces digit-for-digit. */
  private def cmsBuckets(tok: Column): Column = {
    val h = md5(tok)
    array((0 until CmsDepth).map { j =>
      (hexNibble(h, 3 * j) * 256 + hexNibble(h, 3 * j + 1) * 16 + hexNibble(h, 3 * j + 2))
        .cast("long")
    }: _*)
  }

  /** COUNT-MIN SKETCH frequency estimation — the mergeable bounded-
    * memory frequency sketch (d×w counters; merge = cell-wise add;
    * estimate = min over rows; est ≥ truth always, error ≤ ~N/w w.h.p.).
    * Unlike the HLL/GK entries (rows-only by necessity), this sketch is
    * FULLY oracle-gated: bucket hashes are md5-nibble arithmetic, so
    * sketch cells and estimates are bit-identical across engines.
    * Output: top `topK` tokens by exact count with their CMS estimates
    * and the overestimate invariant (also spec-pinned corpus-wide).
    * Scale shape: the sketch build is one map-side-combined groupBy over
    * d×|tokens| rows into AT MOST d×w cells (16k rows — broadcast-sized
    * by construction, the entire point of a sketch); the estimate join
    * touches the distinct-token table, not the stream. */
  def cmsTokenCounts(docs: DataFrame, topK: Int = 50): DataFrame = {
    // ONE pass over the corpus-sized token stream (map-side combined
    // groupBy); everything downstream derives from this VOCABULARY-
    // bounded table. A CMS cell's count is exactly the sum of the
    // counts of the tokens hashing into it, so the sketch is built from
    // `exact` — r7 instead persisted the full exploded token stream
    // (MEMORY_AND_DISK, linear in corpus size) to buy a second stream
    // scan; at 100 TB that persist alone is a storage bill. The persist
    // kept here is the distinct-token table — Heaps-law sublinear
    // (sf0.1: ~60k vocab rows vs ~5M stream rows), three consumers
    // (cell build, estimate join, final join); the SQL cache entry is
    // freed by the per-query clearCache hygiene in Bench/Verify.
    val exact = docs.select(explode(tokenArray(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cells = exact
      .select(col("exact_cnt"), posexplode(cmsBuckets(col("tok"))).as(Seq("j", "bucket")))
      .groupBy("j", "bucket").agg(sum(col("exact_cnt")).as("cnt"))
    val est = exact
      .select(col("tok"), posexplode(cmsBuckets(col("tok"))).as(Seq("j", "bucket")))
      .join(cells, Seq("j", "bucket"))
      .groupBy("tok").agg(min(col("cnt")).as("cms_est"))
    exact.join(est, "tok")
      .orderBy(col("exact_cnt").desc, col("tok").asc)
      .limit(topK)
      .select(col("tok"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") >= col("exact_cnt")).as("overestimate"))
      .orderBy(col("exact_cnt").desc, col("tok").asc)
  }

  /** BIGRAM-LM QUALITY SCORE — the perplexity-style fluency signal:
    * train add-one-smoothed bigram statistics on the corpus itself
    * (c(w1 w2), c(w1·) from the bigram stream, vocabulary V from the
    * token stream), then score every doc by its mean log-probability.
    *
    * Cross-engine exactness: counts are exact integers, p = (c2+1)/(c1+V)
    * is one double division of exact BIGINTs (bit-identical), and each
    * ln(p) is quantized to 1e-4 units via floor(x*1e4 + 0.5) BEFORE the
    * per-doc sum — summing doubles would be partition-order-dependent,
    * and raw ln() may differ between libm implementations in the last
    * ulp (quantization makes a mismatch need an ulp error within 1e-11
    * of a rounding boundary — vanishing).
    *
    * Scale shape: the corpus-sized bigram stream is NEVER persisted —
    * it is a map-only lineage (scan → tokenize → explode), scanned
    * twice: once to build the bigram-count table, once to score. r7
    * persisted the full stream (MEMORY_AND_DISK, linear in corpus
    * size) to avoid the second scan — at 100 TB the spill is a storage
    * bill, and recomputing a map-only lineage is the scale-safe trade.
    * The persisted table is `c2` — DISTINCT bigrams (sublinear), three
    * consumers — and c1 derives from it by construction: c(w1·) is the
    * sum of c(w1 w2) over the bigrams starting with w1, so the unigram
    * table costs a tiny aggregate over c2 instead of a third shuffle of
    * the stream. */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    val big = docs.select(col("doc_id"), tokenArray(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(tokenGrams(col("w"), 2)).as("g"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
    val c2 = big.groupBy("g").agg(count(lit(1)).as("c2"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val v = docs.select(explode(tokenArray(col("text"))).as("tok")).agg(
      countDistinct(col("tok")).as("v"))
    val scored = big.join(c2.select("g", "c2"), "g").join(c1, "w1")
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        ln4((col("c2") + 1).cast("double") /
          (col("c1") + col("v")).cast("double")).cast("long").as("lp4"))
    // mean log-prob in EXACT 1e-6 units via sign-split truncating
    // division — the r12 sf1 sweep caught round(double, 6) flipping on
    // representation-boundary ties between engines (36 of 50k rows at
    // 1 ulp); integer division of the exact 1e-4-unit sum cannot tie
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp4")).as("s4"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("CAST(" + signedDivSql("s4", "n_bigrams", 100) + " AS BIGINT)")
          .as("avg_logp_micro"))
      .orderBy("doc_id")
  }

  /** Distinct word-3-gram vocabulary per SOURCE — the shared input of
    * the two collection-overlap operators below. One partial-aggregable
    * distinct over (source, gram); never a per-pair recompute. */
  private def sourceGrams(docs: DataFrame): DataFrame =
    Dedup.wordGrams(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("g")).distinct()

  /** SOURCE-OVERLAP ESTIMATION (k-MinHash): pairwise Jaccard estimates
    * between every two sources' distinct-gram VOCABULARIES from k
    * per-source min-hashes — the collection-level contamination screen
    * a pipeline runs before mixing data sources ("how much of source B
    * is already in source A?") at sketch cost: one corpus pass builds k
    * mins per source, and the pairwise stage touches only the
    * |sources| × k signature table, never the gram sets. The estimator
    * is the classic P[min_a = min_b] = J(A,B), averaged over k
    * independent md5-derived hash functions; [[sourceOverlapExact]] is
    * the exact twin the estimate is audited against (spec-pinned MAE).
    * All md5, so the oracle reproduces every signature. */
  def sourceOverlapMinhash(docs: DataFrame, k: Int = 32): DataFrame = {
    require(1000000 % k == 0, "k must divide 1e6 for exact ppm arithmetic")
    val sigCols = (0 until k).map(j =>
      min(md5(concat(col("g"), lit(s":$j")))).as(s"m$j"))
    val sigs = sourceGrams(docs).groupBy("source")
      .agg(sigCols.head, sigCols.tail: _*)
    val matches = (0 until k).map(j =>
      when(col(s"a.m$j") === col(s"b.m$j"), 1L).otherwise(0L)).reduce(_ + _)
    // |sources|-row signature table squared — bounded by the source
    // count (a data-model constant), broadcast by construction
    sigs.as("a").join(broadcast(sigs.as("b")),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        matches.as("n_matches"),
        (matches * lit(1000000L / k)).as("jaccard_est_ppm"))
      .orderBy("source_a", "source_b")
  }

  /** Exact pairwise source-vocabulary overlap — |A∩B| via one gram
    * equi-join (partial-aggregated), sizes from the per-source counts,
    * Jaccard in integer ppm. The ground truth for the MinHash screen;
    * at corpus scale you run the sketch everywhere and this audit on
    * the pairs the sketch flags. */
  def sourceOverlapExact(docs: DataFrame): DataFrame = {
    val grams = sourceGrams(docs)
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = sizes.as("a").join(broadcast(sizes.as("b")),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
    val inter = grams.as("x").join(grams.as("y"),
        col("x.g") === col("y.g") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("ni0"))
    pairs.join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("ni0"), lit(0L)).as("n_inter"),
        (col("na") + col("nb") - coalesce(col("ni0"), lit(0L))).as("n_union"))
      .withColumn("jaccard_ppm", expr("n_inter * 1000000 DIV n_union"))
      .orderBy("source_a", "source_b")
  }

  /** PER-SOURCE LANGUAGE DIVERSITY — the drill-down companion of
    * [[langSourceMi]]'s single corpus-level MI number: for each
    * source, its language count, dominant language and share, and the
    * Shannon entropy of its language mix (the docEntropy quantized-ln
    * ladder, partitioned per source — H = ln n − (Σ c·ln c)/n in
    * exact 1e-6 units). The per-source row is what a curation gate
    * acts on: entropy ≈ 0 → language-pure source; top_share ≈ 1000 ‰
    * with n_langs > 1 → a contamination trickle worth inspecting.
    *
    * Scale shape: one corpus pass to the (source, lang) cell table
    * (domain-bounded), then per-source aggregates and one per-source
    * argmax window over cells — everything after the first shuffle is
    * bounded by |sources|×|langs|. */
  def sourceLangEntropy(docs: DataFrame): DataFrame = {
    val cells = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val wTop = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("lang").asc)
    cells
      .withColumn("rn", row_number().over(wTop))
      .groupBy("source")
      .agg(
        sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        max(when(col("rn") === 1, col("lang"))).as("top_lang"),
        max(when(col("rn") === 1, col("c"))).as("top_c"),
        sum(col("c") * ln4(col("c"))).as("s4"))
      .withColumn("ln4n", ln4(col("n_docs")))
      .select(col("source"), col("n_docs"), col("n_langs"), col("top_lang"),
        expr("1000 * top_c div n_docs").as("top_share_permille"),
        // the ×100 micro lift rides DECIMAL(38,0) — the langSourceMi
        // convention (advisor r12): an INT64 lift would overflow ~100×
        // earlier (at ~2·10¹¹ docs/source) and silently wrap
        expr("CAST(" + signedDivSql("CAST(n_docs * ln4n - s4 AS DECIMAL(38,0))",
          "n_docs", 100) + " AS BIGINT)").as("entropy_micro"))
      .orderBy("source")
  }


  /** LANG × SOURCE MUTUAL INFORMATION — the corpus-composition
    * independence audit: I(lang; source) tells a pipeline whether its
    * sources are language-skewed (MI ≈ 0 nats = sources draw languages
    * identically; MI near min(H) = each source is language-pure, so a
    * source-stratified sample silently becomes a language filter).
    * Emitted alongside both marginal entropies so the reader can place
    * MI on its [0, min(H_lang, H_source)] scale.
    *
    * Exactness: the docEntropy micro-unit pattern — every ln is
    * quantized to 1e-4 units BEFORE any sum (summed doubles are
    * partition-order-dependent; quantized BIGINTs are exact), and the
    * identity Σ_x c_x·ln(c_x) = Σ_cells c_xy·ln(c_x) lets all three
    * sums ride ONE aggregate over the cell table. MI can quantize
    * epsilon-negative, hence the sign/abs floor-div guard.
    *
    * Scale shape: one corpus pass partial-aggregates to the
    * (lang, source) cell table — bounded by the DOMAIN product
    * (languages × sources), not N — then the marginal windows and the
    * final one-row aggregate run over that bounded table. Counts are
    * BIGINT throughout; c·ln4(c) peaks at ~n·ln4(n) ≈ n·4·10⁵, inside
    * INT64 to n ≈ 10¹³ docs, and the ×100 micro lift rides
    * DECIMAL(38,0) (review finding: in INT64 the lift would overflow
    * ~100× earlier and silently wrap) so that bound is the binding
    * one. */
  def langSourceMi(docs: DataFrame): DataFrame = {
    val cells = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("c"))
    val m = cells
      .withColumn("cl", sum(col("c")).over(Window.partitionBy(col("lang"))))
      .withColumn("cs", sum(col("c")).over(Window.partitionBy(col("source"))))
    m.agg(
        sum(col("c")).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("c") * ln4(col("c"))).as("sj4"),
        sum(col("c") * ln4(col("cl"))).as("sl4"),
        sum(col("c") * ln4(col("cs"))).as("ss4"))
      .withColumn("lnn4", ln4(col("n_docs")))
      .select(col("n_docs"), col("n_langs"), col("n_sources"),
        expr("CAST(100 * CAST(n_docs * lnn4 - sl4 AS DECIMAL(38,0))" +
          " div n_docs AS BIGINT)").as("h_lang_micro"),
        expr("CAST(100 * CAST(n_docs * lnn4 - ss4 AS DECIMAL(38,0))" +
          " div n_docs AS BIGINT)").as("h_source_micro"),
        expr("CAST(" + signedDivSql(
          "CAST(n_docs * lnn4 + sj4 - sl4 - ss4 AS DECIMAL(38,0))", "n_docs", 100) +
          " AS BIGINT)").as("mi_micro"))
  }

  /** G² LOG-LIKELIHOOD KEYNESS (Dunning 1993) — per source, the most
    * DISTINCTIVE tokens among the top-`kCand` global vocabulary: for
    * each (token w, source s) 2×2 table (a = occurrences of w in s,
    * b = w elsewhere, c = other tokens in s, d = the rest),
    * G² = 2·[Σ_cells x·ln x − Σ_margins m·ln m + N·ln N], every term
    * an integer times a quantized ln → the lang_source_mi ladder makes
    * the statistic exact (zero cells contribute 0 by the x·ln x → 0
    * convention). Keyness sorts the phrase-cloud a corpus browser
    * shows per source; the sign (a·N vs (a+b)(a+c)) says enriched vs
    * depleted. Output: top-`kSel` per source by (g2 desc, token asc).
    *
    * Scale shape: one token-count pass shuffles on (source, token)
    * with partial aggregation; the candidate vocabulary is a
    * TakeOrdered top-kCand broadcast; the cell table is bounded by
    * kCand × |sources|, everything after it bounded-table work (the
    * per-source top window partitions by source). */
  /** Keyness candidate/selection cuts — shared plan/oracle literals
    * (the Search.MmrLambdaPermille rule). */
  val KeynessKCand = 50
  val KeynessKSel = 3

  def tokenKeynessG2(docs: DataFrame, kCand: Int = KeynessKCand,
      kSel: Int = KeynessKSel): DataFrame = {
    val occ = Materialize.stage(docs
      .select(col("source"),
        explode(tokenArray(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("a")))
    val cand = occ.groupBy(col("token")).agg(sum(col("a")).as("cw"))
      .orderBy(col("cw").desc, col("token").asc).limit(kCand)
    val srcTot = occ.groupBy(col("source")).agg(sum(col("a")).as("ts"))
    val nTot = occ.agg(sum(col("a")).as("nn"))
    // dense kCand × |sources| grid: a candidate absent from a source
    // still scores (a = 0 depletion)
    val grid = cand.crossJoin(srcTot)
      .join(occ, Seq("source", "token"), "left")
      .withColumn("a", coalesce(col("a"), lit(0L)))
      .crossJoin(broadcast(nTot))
    def f(e: String): String = s"CASE WHEN ($e) > 0 THEN ($e) * " +
      ln4Sql(e) +
      " ELSE 0 END"
    // x·ln4(x) stays INT64 to N ≈ 10¹³ token occurrences (the
    // langSourceMi bound — binding here too); the ×200 lift and the
    // a·N cross products ride DECIMAL(38,0) (the ×100-lift review
    // class: INT64 would wrap ~100× earlier)
    val scored = grid.select(col("source"), col("token"), col("a"),
      col("cw"), col("ts"), col("nn"),
      expr("CAST(200 * CAST(" +
        f("a") + " + " + f("cw - a") + " + " + f("ts - a") + " + " +
        f("nn - cw - ts + a") + " - " + f("cw") + " - " + f("nn - cw") +
        " - " + f("ts") + " - " + f("nn - ts") + " + " + f("nn") +
        " AS DECIMAL(38,0)) AS BIGINT)").as("g2_micro"),
      expr("CAST(CASE WHEN CAST(a AS DECIMAL(38,0)) * nn > " +
        "CAST(cw AS DECIMAL(38,0)) * ts THEN 1 " +
        "WHEN CAST(a AS DECIMAL(38,0)) * nn < " +
        "CAST(cw AS DECIMAL(38,0)) * ts THEN -1 ELSE 0 END AS BIGINT)")
        .as("enriched_sign"))
    scored
      .withColumn("rn", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("g2_micro").desc, col("token").asc)))
      .filter(col("rn") <= kSel)
      .select(col("source"), col("rn").cast("long").as("rank"),
        col("token"), col("a").as("n_in_source"), col("cw").as("n_total"),
        col("enriched_sign"), col("g2_micro"))
      .orderBy("source", "rank")
  }

  /** READABILITY PROFILE per language — the Flesch-reading-ease
    * family computed from three exact integer corpus totals: words W
    * (the tokenizer), sentences S (terminator runs `[.!?]+` + 1 per
    * doc — every doc has ≥ 1 sentence), and vowel-group "syllables" Y
    * (`[aeiouy]+` runs in the lowercased text — the standard cheap
    * syllable proxy). The published score is the QUANTIZED
    * composition: wps_milli = 10³·W div S, spw_milli = 10³·Y div W,
    * fre_milli = 206835 − (1015·wps_milli) div 1000 −
    * (84600·spw_milli) div 1000 — a deterministic function of the two
    * quantized ratios (documented as such; the real-valued FRE
    * differs from it by < 1 milli-unit per quantization step). For
    * non-Latin scripts (zh) the vowel proxy reads low — the per-lang
    * grouping is exactly what makes that visible instead of averaged
    * away.
    *
    * Scale shape: one corpus pass of three regexp counts per doc
    * (map-only), partial-aggregated per language — the wordcount
    * shuffle shape, |langs| output rows. */
  def readabilityScores(docs: DataFrame): DataFrame = {
    docs
      .select(col("lang"),
        // lit(pattern), not an embedded SQL string literal — the token
        // pattern contains an apostrophe
        size(tokenArray(col("text"))).cast("long").as("w"),
        (size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))) + 1)
          .cast("long").as("s"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"),
          lit(0))).cast("long").as("y"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("s")).as("n_sentences"), sum(col("y")).as("n_syllables"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_sentences"), col("n_syllables"),
        expr("1000 * n_words div n_sentences").as("wps_milli"),
        expr("CASE WHEN n_words > 0 THEN 1000 * n_syllables div n_words" +
          " END").as("spw_milli"))
      .withColumn("fre_milli",
        expr("CASE WHEN spw_milli IS NOT NULL THEN 206835" +
          " - (1015 * wps_milli) div 1000 - (84600 * spw_milli) div 1000" +
          " END"))
      .orderBy("lang")
  }

  /** Per-token first document: the distinct (doc, token) stream
    * aggregated to min doc_id per token — THE shared prefix
    * definition behind [[vocabGrowth]] and [[heapsExponent]] (one
    * definition, so the growth curve and its fitted exponent can
    * never disagree). */
  private def tokenFirstDoc(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      explode(array_distinct(tokenArray(col("text")))).as("token"))
    .groupBy(col("token")).agg(min(col("doc_id")).as("fd"))

  /** doc-id range bounds (d0, span) for the decile grid — doc_id need
    * not be 0-based-dense: deciles rank by position in [min, max+1). */
  private def docIdBounds(docs: DataFrame): DataFrame =
    docs.agg(min(col("doc_id")).as("d0"),
      (max(col("doc_id")) - min(col("doc_id")) + 1).as("span"))

  /** decile = 10·(v − d0) div span + 1, capped at 10 — THE decile
    * convention shared by curve and exponent; a change here must stay
    * mirrored in both oracles (the Exact.ln4 single-place rule). */
  private def decileOf(v: String): Column =
    expr(s"least(10 * ($v - d0) div span + 1, 10)")

  /** VOCABULARY GROWTH CURVE (the Heaps-law readout): distinct-token
    * count as the corpus is consumed in doc_id order, at decile
    * checkpoints — the curve a tokenizer-budget decision reads
    * (flattening = diminishing new-vocabulary returns; linear = the
    * corpus keeps surprising you). Each token's FIRST document
    * (min doc_id over the distinct doc-token stream) assigns it to
    * the decile where it enters the vocabulary; the cumulative over
    * the 10-row decile table is the curve. Exact integers throughout.
    *
    * Scale shape: distinct (doc, token) shuffles once on the token
    * key for the min-doc aggregate (wordcount shape); deciles come
    * from one broadcast doc-count scalar; the cumulative window runs
    * over 10 rows. */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    val byDecile = tokenFirstDoc(docs)
      .crossJoin(broadcast(docIdBounds(docs)))
      .select(decileOf("fd").as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("new_tokens"))
    // DENSE 10-row grid: a decile where no token first appears is a
    // data point (the curve has flattened), not a missing row
    docs.sparkSession.range(1, 11).select(col("id").as("decile"))
      .join(byDecile, Seq("decile"), "left")
      .withColumn("new_tokens", coalesce(col("new_tokens"), lit(0L)))
      .withColumn("vocab_size", sum(col("new_tokens"))
        .over(Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("decile")
  }

  /** HEAPS'-LAW EXPONENT — fits V = c·Nᵅ over the SAME doc-id-decile
    * grid as [[vocabGrowth]] (one prefix definition, so the growth
    * curve and its fitted exponent can never disagree): x_i = ln4 of
    * cumulative token OCCURRENCES through decile i, y_i = ln4 of
    * cumulative vocabulary, α from the integer-Cramer OLS slope (the
    * zipf_alpha machinery — quantize-then-sum, so the fit is EXACT
    * given the quantized points) as the signed micro floor-div. Pairs
    * with [[zipf_alpha]]: Zipf fits the frequency-rank law at one
    * corpus size, Heaps fits how the vocabulary SCALES with corpus
    * size — the two standard corpus-linguistics power laws a data
    * pipeline checks before extrapolating dedup/vocab budgets.
    *
    * Scale shape: one corpus pass for per-token first-doc (vocab-sized
    * aggregate), one for per-decile occurrence totals (10-cell
    * partial aggregate); cumulatives and the 10-point OLS run on the
    * dense 10-row grid (bounded global window, allowlisted). */
  def heapsExponent(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val bounds = docIdBounds(docs)
    // per-decile NEW vocabulary (vocabGrowth's grid, by construction:
    // the same tokenFirstDoc/decileOf helpers)
    val vByDecile = tokenFirstDoc(docs)
      .crossJoin(broadcast(bounds))
      .select(decileOf("fd").as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("nv"))
    // per-decile token occurrences
    val nByDecile = docs
      .select(col("doc_id"),
        size(tokenArray(col("text"))).cast("long").as("t"))
      .crossJoin(broadcast(bounds))
      .select(decileOf("doc_id").as("decile"), col("t"))
      .groupBy("decile").agg(sum(col("t")).as("nt"))
    // dense 10-row grid + cumulatives (bounded global window)
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = spark.range(1, 11).select(col("id").as("decile"))
      .join(vByDecile, Seq("decile"), "left")
      .join(nByDecile, Seq("decile"), "left")
      .withColumn("v", sum(coalesce(col("nv"), lit(0L))).over(wCum))
      .withColumn("nn", sum(coalesce(col("nt"), lit(0L))).over(wCum))
      .filter(col("v") > 0 && col("nn") > 0)
      .select(ln4(col("nn")).cast("long").as("x"),
        ln4(col("v")).cast("long").as("y"),
        col("v"), col("nn"))
    pts.agg(count(lit(1)).as("k"),
        max(col("nn")).as("total_tokens"), max(col("v")).as("vocab_total"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("k").as("n_points"), col("total_tokens"),
        col("vocab_total"),
        expr("CAST(CASE WHEN k * sxx - sx * sx > 0 THEN " +
          signedDivSql("k * sxy - sx * sy", "k * sxx - sx * sx") +
          " END AS BIGINT)").as("alpha_micro"))
  }
}
