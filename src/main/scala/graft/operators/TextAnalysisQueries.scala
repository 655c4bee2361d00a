package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Exact.{ln4Sql, nibSql}

/** Driver-contract wiring for the text-analysis family. */
object TextAnalysisQueries {

  /** The EnStopwords SQL IN-list, generated from the ONE Scala list
    * (shared with the MlEval oracles — one definition). */
  private[operators] val stopList =
    TextAnalysis.EnStopwords.map(w => s"'$w'").mkString(", ")

  /** BIGINT from the first `nNib` hex nibbles of a stored hex column —
    * the general form of [[graft.functions.Exact.nibSql]], shared by
    * the minhash-estimator, fingerprint, and skew oracles (one
    * definition; review finding: three copies of the ladder had
    * accreted). */
  private[operators] def hexBigSql(nNib: Int, col: String = "hex"): String =
    (0 until nNib).map { k =>
      val a = s"ascii(substr($col, ${k + 1}, 1))"
      s"(CAST($a - CASE WHEN $a >= 97 THEN 87 ELSE 48 END AS BIGINT) * ${1L << (4 * (nNib - 1 - k))})"
    }.mkString("(", " + ", ")")

  /** 20-bit md5-uniform draw (five nibbles) — mirror of the Spark side. */
  private def u20Sql(idCol: String): String =
    (0 until 5).map(i => s"${nibSql(i, idCol)} * ${1 << (4 * (4 - i))}")
      .mkString("(", " + ", ")")

  val defs: Seq[QueryDef] = Seq(
    QueryDef("lang_id",
      (s, d) => TextAnalysis.langId(Tables.documents(s, d)), Some(
        s"""WITH t AS (
           |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS w
           |  FROM documents),
           |b AS (
           |  SELECT doc_id, len(w) AS n_tokens,
           |         len(list_filter(w, x -> x IN ($stopList))) AS en_hits
           |  FROM t WHERE len(w) > 0),
           |r AS (
           |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           |         CAST(en_hits AS BIGINT) AS en_hits,
           |         round(CAST(en_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS en_ratio
           |  FROM b)
           |SELECT doc_id, n_tokens, en_hits, en_ratio,
           |       CASE WHEN en_ratio > 0.03 THEN 'en' ELSE 'other' END AS pred_lang
           |FROM r ORDER BY doc_id""".stripMargin)),

    QueryDef("label_agreement_kappa",
      (s, d) => TextAnalysis.labelAgreementKappa(Tables.documents(s, d)), Some(
        s"""WITH t AS (
           |  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z'']+') AS w
           |  FROM documents),
           |b AS (
           |  SELECT doc_id, lang, len(w) AS n_tokens,
           |         len(list_filter(w, x -> x IN ($stopList))) AS en_hits
           |  FROM t WHERE len(w) > 0),
           |p AS (
           |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a,
           |         CASE WHEN round(CAST(en_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
           |              > 0.03 THEN 1 ELSE 0 END AS p
           |  FROM b),
           |s AS (
           |  SELECT CAST(count(*) AS HUGEINT) AS n,
           |         CAST(sum(CASE WHEN a = 1 AND p = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n11,
           |         CAST(sum(CASE WHEN a = 0 AND p = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n00,
           |         CAST(sum(a) AS HUGEINT) AS ra, CAST(sum(p) AS HUGEINT) AS rp
           |  FROM p),
           |c AS (
           |  SELECT n, n11 + n00 AS agree,
           |         ra * rp + (n - ra) * (n - rp) AS chance, n * n AS nsq
           |  FROM s)
           |SELECT CAST(n AS BIGINT) AS n_docs, CAST(agree AS BIGINT) AS n_agree,
           |  CAST((1000000 * agree) // n AS BIGINT) AS po_micro,
           |  CAST((1000000 * chance) // nsq AS BIGINT) AS pe_micro,
           |  CASE WHEN nsq - chance = 0 THEN NULL ELSE
           |    CAST((CASE WHEN n * agree - chance < 0 THEN -1 ELSE 1 END) *
           |         ((1000000 * abs(n * agree - chance)) // (nsq - chance))
           |      AS BIGINT) END AS kappa_micro
           |FROM c""".stripMargin)),

    QueryDef("label_agreement_kappa_multiclass",
      (s, d) => TextAnalysis.labelAgreementKappaMulticlass(Tables.documents(s, d)), Some(
        s"""WITH t AS (
           |  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z'']+') AS w
           |  FROM documents),
           |b AS (
           |  SELECT doc_id, lang, len(w) AS n_tokens,
           |         len(list_filter(w, x -> x IN ($stopList))) AS en_hits
           |  FROM t WHERE len(w) > 0),
           |pr AS (
           |  SELECT lang AS a,
           |         CASE WHEN r > 0.03 THEN 'en' WHEN r > 0.02 THEN 'es'
           |              WHEN r > 0.01 THEN 'de' ELSE 'other' END AS p
           |  FROM (SELECT lang,
           |          round(CAST(en_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS r
           |        FROM b)),
           |cont AS (SELECT a, p, CAST(count(*) AS HUGEINT) AS m FROM pr GROUP BY a, p),
           |rm AS (SELECT a, sum(m) AS r FROM cont GROUP BY a),
           |cm AS (SELECT p, sum(m) AS c FROM cont GROUP BY p),
           |ch AS (SELECT CAST(coalesce(sum(r * c), 0) AS HUGEINT) AS chance
           |       FROM rm JOIN cm ON rm.a = cm.p),
           |nc AS (SELECT count(*) AS n_classes
           |       FROM (SELECT a AS c FROM pr UNION SELECT p FROM pr)),
           |tot AS (SELECT CAST(count(*) AS HUGEINT) AS n,
           |          CAST(coalesce(sum(CASE WHEN a = p THEN 1 ELSE 0 END), 0)
           |            AS HUGEINT) AS agree
           |        FROM pr)
           |SELECT CAST(n AS BIGINT) AS n_docs, n_classes,
           |  CAST(agree AS BIGINT) AS n_agree,
           |  CAST((1000000 * agree) // n AS BIGINT) AS po_micro,
           |  CAST((1000000 * chance) // (n * n) AS BIGINT) AS pe_micro,
           |  CASE WHEN n * n - chance = 0 THEN NULL ELSE
           |    CAST((CASE WHEN n * agree - chance < 0 THEN -1 ELSE 1 END) *
           |         ((1000000 * abs(n * agree - chance)) // (n * n - chance))
           |      AS BIGINT) END AS kappa_micro
           |FROM tot, ch, nc""".stripMargin)),

    // head-vocabulary token-mass coverage at k ∈ {16,64,256,1024} — the
    // vocab-budget curve; same count table and (c desc, t asc) order as
    // zipf_alpha, one conditional aggregate over the ranked vocabulary
    QueryDef("vocab_coverage",
      (s, d) => TextAnalysis.vocabCoverage(Tables.documents(s, d)), Some(
        """WITH c AS (
          |  SELECT t, count(*) AS c FROM (
          |    SELECT unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS t
          |    FROM documents) GROUP BY t),
          |r AS (
          |  SELECT row_number() OVER (ORDER BY c DESC, t ASC) AS rank, c
          |  FROM c),
          |a AS (
          |  SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
          |    CAST(count(*) AS BIGINT) AS n_types,
          |    CAST(sum(CASE WHEN rank <= 16 THEN c ELSE 0 END) AS BIGINT) AS cov16,
          |    CAST(sum(CASE WHEN rank <= 64 THEN c ELSE 0 END) AS BIGINT) AS cov64,
          |    CAST(sum(CASE WHEN rank <= 256 THEN c ELSE 0 END) AS BIGINT) AS cov256,
          |    CAST(sum(CASE WHEN rank <= 1024 THEN c ELSE 0 END) AS BIGINT) AS cov1024
          |  FROM r)
          |SELECT n_tokens, n_types,
          |  (1000 * cov16) // n_tokens AS cov16_permille,
          |  (1000 * cov64) // n_tokens AS cov64_permille,
          |  (1000 * cov256) // n_tokens AS cov256_permille,
          |  (1000 * cov1024) // n_tokens AS cov1024_permille
          |FROM a""".stripMargin)),

    QueryDef("zipf_alpha",
      (s, d) => TextAnalysis.zipfAlpha(Tables.documents(s, d)), Some(
        """WITH c AS (
          |  SELECT t, count(*) AS c FROM (
          |    SELECT unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS t
          |    FROM documents) GROUP BY t),
          |r AS (
          |  SELECT row_number() OVER (ORDER BY c DESC, t ASC) AS rank, c
          |  FROM c),
          |pts AS (
          |  SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 10000.0 + 0.5) AS HUGEINT) AS x,
          |         CAST(floor(ln(CAST(c AS DOUBLE)) * 10000.0 + 0.5) AS HUGEINT) AS y
          |  FROM r),
          |s AS (
          |  SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
          |         sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy
          |  FROM pts),
          |k AS (
          |  SELECT n, sx, sy,
          |         n*sxy - sx*sy AS num, n*sxx - sx*sx AS den,
          |         n*syy - sy*sy AS deny
          |  FROM s)
          |SELECT CAST(n AS BIGINT) AS n_types,
          |  CASE WHEN den = 0 THEN NULL ELSE
          |    CAST((CASE WHEN num > 0 THEN -1 ELSE 1 END) *
          |         ((1000000 * abs(num)) // den) AS BIGINT) END AS alpha_micro,
          |  CASE WHEN den = 0
          |         OR den > 300000000000000000 OR deny > 300000000000000000
          |         OR abs(sx) > 100000000000000 OR abs(sy) > 100000000000000
          |    THEN NULL ELSE
          |    CAST((CASE WHEN sy*den - num*sx < 0 THEN -1 ELSE 1 END) *
          |         ((1000000 * abs(sy*den - num*sx)) // (n*den)) AS BIGINT)
          |    END AS intercept_micro,
          |  CASE WHEN den = 0 OR deny = 0
          |         OR den > 300000000000000000 OR deny > 300000000000000000
          |    THEN NULL ELSE
          |    CAST((1000 * num * num) // (den * deny) AS BIGINT)
          |    END AS r2_permille
          |FROM k""".stripMargin)),

    QueryDef("token_concentration",
      (s, d) => TextAnalysis.tokenConcentration(Tables.documents(s, d)), Some(
        """WITH c AS (
          |  SELECT t, count(*) AS c FROM (
          |    SELECT unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS t
          |    FROM documents) GROUP BY t),
          |s AS (
          |  SELECT CAST(sum(c) AS HUGEINT) AS n,
          |         CAST(count(*) AS BIGINT) AS n_types,
          |         CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS HUGEINT) AS c2,
          |         CAST(max(c) AS HUGEINT) AS cmax
          |  FROM c)
          |SELECT CAST(n AS BIGINT) AS n_tokens, n_types,
          |  CAST((1000000000 * c2) // (n * n) AS BIGINT) AS hhi_ppb,
          |  CAST((1000000 * cmax) // n AS BIGINT) AS top1_ppm
          |FROM s""".stripMargin)),

    QueryDef("text_quality",
      (s, d) => TextAnalysis.qualityScore(Tables.documents(s, d)), Some(
        """WITH t AS (
          |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
          |         regexp_extract_all(lower(text), '[a-z'']+') AS w
          |  FROM documents),
          |b AS (
          |  SELECT doc_id, n_chars,
          |         CAST(len(w) AS BIGINT) AS n_tokens,
          |         CAST(len(list_distinct(w)) AS BIGINT) AS n_types,
          |         CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS BIGINT) AS sum_token_len
          |  FROM t WHERE len(w) > 0)
          |SELECT doc_id, n_chars, n_tokens, n_types,
          |       round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
          |       round(CAST(sum_token_len AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS avg_token_len,
          |       round((0.5 * (CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)))
          |             + (0.5 * (CAST(least(n_tokens, 100) AS DOUBLE) / 100.0)), 6) AS quality
          |FROM b ORDER BY doc_id""".stripMargin)),

    QueryDef("quality_regression",
      (s, d) => TextAnalysis.qualityRegression(Tables.documents(s, d)), Some(
        """WITH base AS (
          |  SELECT CAST(length(text) AS HUGEINT) AS y,
          |    CAST(length(text) - length(replace(text, ' ', '')) AS HUGEINT) AS f_words,
          |    CAST(length(text) - length(replace(text, 'e', '')) AS HUGEINT) AS f_e,
          |    CAST(length(text) - length(replace(text, 'a', '')) AS HUGEINT) AS f_a
          |  FROM documents),
          |stacked AS (
          |  SELECT 'words' AS feature, f_words AS x, y FROM base
          |  UNION ALL SELECT 'letter_e', f_e, y FROM base
          |  UNION ALL SELECT 'letter_a', f_a, y FROM base),
          |s AS (
          |  SELECT feature, CAST(count(*) AS HUGEINT) AS n,
          |         sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
          |         sum(x*y) AS sxy, sum(y*y) AS syy
          |  FROM stacked GROUP BY feature),
          |c AS (
          |  SELECT feature, n, sx, sy,
          |         n*sxy - sx*sy AS num, n*sxx - sx*sx AS den,
          |         n*syy - sy*sy AS deny
          |  FROM s)
          |SELECT feature, CAST(n AS BIGINT) AS n_docs,
          |  CASE WHEN den = 0 THEN NULL ELSE
          |    CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
          |         ((1000000 * abs(num)) // den) AS BIGINT) END AS slope_micro,
          |  CASE WHEN den = 0
          |         OR den > 300000000000000000 OR deny > 300000000000000000
          |         OR abs(sx) > 100000000000000 OR abs(sy) > 100000000000000
          |    THEN NULL ELSE
          |    CAST((CASE WHEN sy*den - num*sx < 0 THEN -1 ELSE 1 END) *
          |         ((1000000 * abs(sy*den - num*sx)) // (n*den)) AS BIGINT)
          |    END AS intercept_micro,
          |  CASE WHEN den = 0 OR deny = 0
          |         OR den > 300000000000000000 OR deny > 300000000000000000
          |    THEN NULL ELSE
          |    CAST((1000 * num * num) // (den * deny) AS BIGINT)
          |    END AS r2_permille
          |FROM c ORDER BY feature""".stripMargin)),

    QueryDef("quality_weighted_sample",
      (s, d) => TextAnalysis.qualityWeightedSample(Tables.documents(s, d)), Some(
        """WITH t AS (
          |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS w
          |  FROM documents),
          |q AS (
          |  SELECT doc_id,
          |    round((0.5 * (CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)))
          |          + (0.5 * (CAST(least(len(w), 100) AS DOUBLE) / 100.0)), 6) AS quality
          |  FROM t WHERE len(w) > 0),
          |j AS (
          |  SELECT d.lang, q.quality,
          |    ((ascii(substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1))
          |      - CASE WHEN ascii(substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) >= 97 THEN 87 ELSE 48 END) * 16 +
          |     (ascii(substr(md5(CAST(d.doc_id AS VARCHAR)), 2, 1))
          |      - CASE WHEN ascii(substr(md5(CAST(d.doc_id AS VARCHAR)), 2, 1)) >= 97 THEN 87 ELSE 48 END))
          |    < q.quality * 256.0 AS kept
          |  FROM documents d JOIN q ON d.doc_id = q.doc_id)
          |SELECT lang, count(*) AS n_total,
          |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |  CAST(sum(CASE WHEN kept THEN CAST(round(quality * 1000000) AS BIGINT)
          |           ELSE 0 END) AS BIGINT) AS q_micro_kept
          |FROM j GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("char_ngram_lang_confusion",
      (s, d) => TextAnalysis.charNgramLangConfusion(Tables.documents(s, d)), Some(
        """WITH g AS (
          |  SELECT doc_id, lang, substr(lower(text), i, 3) AS g
          |  FROM documents, unnest(generate_series(1, length(lower(text)) - 2, 1)) AS gs(i)
          |  WHERE length(lower(text)) >= 3),
          |prof AS (
          |  SELECT lang AS cand_lang, g, 31 - rank AS w FROM (
          |    SELECT lang, g, row_number() OVER (PARTITION BY lang
          |             ORDER BY count(*) DESC, g) AS rank
          |    FROM g GROUP BY lang, g)
          |  WHERE rank <= 30),
          |dg AS (SELECT DISTINCT doc_id, lang, g FROM g),
          |scored AS (
          |  SELECT doc_id, lang, cand_lang, CAST(sum(w) AS BIGINT) AS score
          |  FROM dg JOIN prof USING (g)
          |  GROUP BY doc_id, lang, cand_lang),
          |best AS (
          |  SELECT lang, cand_lang AS pred_lang,
          |    row_number() OVER (PARTITION BY doc_id
          |                       ORDER BY score DESC, cand_lang) AS rn
          |  FROM scored)
          |SELECT lang, pred_lang, count(*) AS n_docs
          |FROM best WHERE rn = 1
          |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin)),

    QueryDef("token_stats",
      (s, d) => TextAnalysis.tokenStats(Tables.documents(s, d)), Some(
        """WITH t AS (
          |  SELECT source,
          |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS BIGINT) AS ws,
          |    CAST(len(regexp_extract_all(lower(text),
          |      '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s'']+')) AS BIGINT) AS bpe
          |  FROM documents)
          |SELECT source, count(*) AS n_docs,
          |       CAST(sum(ws) AS BIGINT) AS ws_tokens,
          |       CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
          |       round(CAST(sum(bpe) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_bpe_per_doc
          |FROM t GROUP BY source ORDER BY source""".stripMargin)),

    QueryDef("repetition_stats",
      (s, d) => TextAnalysis.repetitionStats(Tables.documents(s, d)), Some(
        """WITH t AS (
          |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS w
          |  FROM documents),
          |g AS (
          |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
          |         list_transform(range(1, len(w) - 1),
          |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
          |  FROM t WHERE len(w) >= 3)
          |SELECT doc_id, n_tokens,
          |       CAST(len(g3) AS BIGINT) AS n_grams,
          |       CAST(len(list_distinct(g3)) AS BIGINT) AS n_distinct,
          |       round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)
          |             / CAST(len(g3) AS DOUBLE), 6) AS rep_ratio
          |FROM g ORDER BY doc_id""".stripMargin)),

    QueryDef("contamination",
      (s, d) => TextAnalysis.contamination(Tables.documents(s, d)), Some {
        val gram = (1 to 8).map(j => s"w[i+${j - 1}]").mkString(" || ' ' || ")
        s"""WITH t AS (
           |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS w
           |  FROM documents),
           |g AS (
           |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 6),
           |           i -> $gram))) AS g
           |  FROM t WHERE len(w) >= 8),
           |ev AS (SELECT DISTINCT g FROM g WHERE doc_id < 25),
           |hits AS (
           |  SELECT doc_id, count(*) AS n_shared FROM g JOIN ev USING (g)
           |  WHERE doc_id >= 25 GROUP BY doc_id)
           |SELECT d.doc_id, COALESCE(n_shared, 0) AS n_shared_grams,
           |       COALESCE(n_shared, 0) > 0 AS contaminated
           |FROM (SELECT doc_id FROM documents WHERE doc_id >= 25) d
           |LEFT JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin
      }),

    // identical output to `contamination` by construction (the Bloom is
    // a pure prefilter ahead of the exact verify join), so it shares the
    // exact oracle — the driver hash-proves prefilter ≡ no-prefilter
    QueryDef("contamination_bloom",
      (s, d) => TextAnalysis.contaminationBloom(s, Tables.documents(s, d)), Some {
        val gram = (1 to 8).map(j => s"w[i+${j - 1}]").mkString(" || ' ' || ")
        s"""WITH t AS (
           |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS w
           |  FROM documents),
           |g AS (
           |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 6),
           |           i -> $gram))) AS g
           |  FROM t WHERE len(w) >= 8),
           |ev AS (SELECT DISTINCT g FROM g WHERE doc_id < 25),
           |hits AS (
           |  SELECT doc_id, count(*) AS n_shared FROM g JOIN ev USING (g)
           |  WHERE doc_id >= 25 GROUP BY doc_id)
           |SELECT d.doc_id, COALESCE(n_shared, 0) AS n_shared_grams,
           |       COALESCE(n_shared, 0) > 0 AS contaminated
           |FROM (SELECT doc_id FROM documents WHERE doc_id >= 25) d
           |LEFT JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin
      }),

    QueryDef("substring_dedup",
      (s, d) => TextAnalysis.substringDedup(Tables.documents(s, d)), Some {
        val gram = (1 to 8).map(j => s"w[i+${j - 1}]").mkString(" || ' ' || ")
        s"""WITH t AS (
           |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS w
           |  FROM documents),
           |wins AS (
           |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 6), i ->
           |    struct_pack(p := i, g := $gram))) AS u
           |  FROM t WHERE len(w) >= 8),
           |wp AS (SELECT doc_id, u.p AS p, u.g AS g FROM wins),
           |dupg AS (SELECT g FROM wp GROUP BY g HAVING count(*) >= 2),
           |dup AS (SELECT doc_id, p FROM wp JOIN dupg USING (g)),
           |d AS (SELECT doc_id, p,
           |        CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 8
           |             THEN 0 ELSE 1 END AS ns FROM dup),
           |s AS (SELECT doc_id, p,
           |        sum(ns) OVER (PARTITION BY doc_id ORDER BY p) AS sid FROM d)
           |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
           |       CAST(max(p) + 7 AS BIGINT) AS span_end,
           |       CAST(max(p) + 7 - min(p) + 1 AS BIGINT) AS span_tokens,
           |       count(*) AS n_windows
           |FROM s GROUP BY doc_id, sid ORDER BY doc_id, span_start""".stripMargin
      }),

    // DocSlice (sf1 measurement mode): the span-arithmetic oracle is
    // DuckDB-infeasible at 50k docs; both sides restrict to the same
    // deterministic doc-id range there. Inert when the env is unset.
    QueryDef("substring_dedup_clean",
      (s, d) => TextAnalysis.substringDedupClean(
        DocSlice.docs(Tables.documents(s, d))), Some {
        val gram = (1 to 8).map(j => s"w[i+${j - 1}]").mkString(" || ' ' || ")
        s"""WITH t AS (
           |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS w
           |  FROM documents${DocSlice.docsWhere}),
           |wins AS (
           |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 6), i ->
           |    struct_pack(p := i, g := $gram))) AS u
           |  FROM t WHERE len(w) >= 8),
           |wp AS (SELECT doc_id, u.p AS p, u.g AS g FROM wins),
           |stats AS (
           |  SELECT g, count(*) AS cnt,
           |         min(struct_pack(d := doc_id, p := p)) AS frst
           |  FROM wp GROUP BY g),
           |red AS (
           |  SELECT wp.doc_id, wp.p FROM wp JOIN stats USING (g)
           |  WHERE cnt >= 2 AND struct_pack(d := wp.doc_id, p := wp.p) != frst),
           |d AS (SELECT doc_id, p,
           |        CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 8
           |             THEN 0 ELSE 1 END AS ns FROM red),
           |s AS (SELECT doc_id, p,
           |        sum(ns) OVER (PARTITION BY doc_id ORDER BY p) AS sid FROM d),
           |dt AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS n_dup FROM (
           |  SELECT doc_id, sid, max(p) - min(p) + 8 AS len FROM s
           |  GROUP BY doc_id, sid) GROUP BY doc_id)
           |SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
           |       COALESCE(n_dup, 0) AS n_dup_tokens,
           |       round(1.0 - COALESCE(n_dup, 0)
           |             / CAST(greatest(len(w), 1) AS DOUBLE), 6) AS keep_ratio
           |FROM t LEFT JOIN dt USING (doc_id) ORDER BY doc_id""".stripMargin
      }),

    QueryDef("train_val_test_split",
      (s, d) => TextAnalysis.trainValTestSplit(Tables.documents(s, d)), Some(
        """WITH h AS (
          |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hex FROM documents),
          |n AS (
          |  SELECT doc_id,
          |         ascii(substr(hex, 1, 1)) AS a0, ascii(substr(hex, 2, 1)) AS a1
          |  FROM h),
          |b AS (
          |  SELECT doc_id,
          |         (a0 - CASE WHEN a0 >= 97 THEN 87 ELSE 48 END) * 16 +
          |         (a1 - CASE WHEN a1 >= 97 THEN 87 ELSE 48 END) AS bucket
          |  FROM n)
          |SELECT doc_id,
          |       CASE WHEN bucket < 204 THEN 'train'
          |            WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split
          |FROM b ORDER BY doc_id""".stripMargin)),

    // budget 512 (not the 8192 production default) so the sf0.01 corpus
    // actually spans several bins per shard and the cumsum binning is
    // exercised, not vacuously bin 0
    QueryDef("pack_contexts",
      (s, d) => TextAnalysis.packContexts(Tables.documents(s, d), budget = 512), Some(
        """WITH t AS (
          |  SELECT doc_id,
          |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS BIGINT) AS toks,
          |    doc_id % 16 AS shard
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, shard, toks,
          |         COALESCE(SUM(toks) OVER (PARTITION BY shard ORDER BY doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_toks
          |  FROM t)
          |SELECT shard, CAST(FLOOR(prior_toks / 512) AS BIGINT) AS bin,
          |       count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS bin_tokens,
          |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
          |FROM c GROUP BY shard, bin ORDER BY shard, bin""".stripMargin)),

    QueryDef("tfidf_top_terms",
      (s, d) => TextAnalysis.tfidfTopTerms(Tables.documents(s, d)), Some(
        """WITH t AS (
          |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS term
          |  FROM documents),
          |tf AS (
          |  SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
          |dft AS (
          |  SELECT term, count(*) AS df FROM tf GROUP BY term),
          |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
          |s AS (
          |  SELECT doc_id, term, tf, df,
          |    round(CAST(tf AS DOUBLE) *
          |      ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
          |       (CAST(df AS DOUBLE) + 0.5)), 6) AS tfidf
          |  FROM tf JOIN dft USING (term) CROSS JOIN n),
          |r AS (
          |  SELECT doc_id, term, tf, df, tfidf,
          |    row_number() OVER (PARTITION BY doc_id
          |      ORDER BY tfidf DESC, term ASC) AS rnk
          |  FROM s)
          |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf, df, tfidf
          |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin)),

    QueryDef("stratified_sample",
      (s, d) => TextAnalysis.stratifiedSample(Tables.documents(s, d)), Some(
        """WITH h AS (
          |  SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS hex FROM documents),
          |b AS (
          |  SELECT lang, doc_id,
          |    ((ascii(substr(hex, 1, 1)) - CASE WHEN ascii(substr(hex, 1, 1)) >= 97 THEN 87 ELSE 48 END) * 16 +
          |     (ascii(substr(hex, 2, 1)) - CASE WHEN ascii(substr(hex, 2, 1)) >= 97 THEN 87 ELSE 48 END)) < 51 AS s
          |  FROM h)
          |SELECT lang, count(*) AS n_total,
          |       CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
          |       min(CASE WHEN s THEN doc_id END) AS first_sampled,
          |       max(CASE WHEN s THEN doc_id END) AS last_sampled
          |FROM b GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("length_gate",
      (s, d) => TextAnalysis.lengthQualityGate(Tables.documents(s, d)), Some(
        """WITH p AS (
          |  SELECT lang,
          |    round(quantile_cont(n_chars, 0.05), 6) AS p05,
          |    round(quantile_cont(n_chars, 0.95), 6) AS p95
          |  FROM documents GROUP BY lang),
          |j AS (
          |  SELECT d.lang, d.n_chars, p.p05, p.p95,
          |         d.n_chars >= p.p05 AND d.n_chars <= p.p95 AS kept
          |  FROM documents d JOIN p USING (lang))
          |SELECT lang, count(*) AS n_docs,
          |       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |       min(p05) AS p05, min(p95) AS p95,
          |       CAST(sum(CAST(CASE WHEN kept THEN n_chars ELSE 0 END AS DECIMAL(18,2))) AS DOUBLE)
          |         / CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) AS kept_avg_chars
          |FROM j GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("doc_fingerprint",
      (s, d) => TextAnalysis.docFingerprint(Tables.documents(s, d)), Some(
        """WITH p AS (
          |  SELECT doc_id, i, substr(md5(substr(lower(text), CAST(i AS INTEGER), 5)), 1, 8) AS h
          |  FROM documents, unnest(range(1, length(lower(text)) - 3)) AS u(i)
          |  WHERE length(lower(text)) >= 5),
          |w AS (
          |  SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY i
          |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
          |  FROM p)
          |SELECT doc_id, count(DISTINCT wmin) AS n_fp,
          |       min(wmin) AS fp_min, max(wmin) AS fp_max
          |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("heavy_hitter_tokens",
      (s, d) => TextAnalysis.heavyHitterTokens(Tables.documents(s, d)), Some(
        """WITH toks AS (
          |  SELECT unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS token
          |  FROM documents),
          |t AS (SELECT count(*) AS n_total FROM toks)
          |SELECT token, count(*) AS freq
          |FROM toks, t
          |GROUP BY token, n_total
          |HAVING count(*) * 64 > n_total
          |ORDER BY freq DESC, token""".stripMargin)),

    QueryDef("source_mix_rebalance",
      (s, d) => TextAnalysis.sourceMixRebalance(Tables.documents(s, d)), Some(
        """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
          |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total, count(*) AS n_sources FROM c),
          |r AS (SELECT source, n_docs,
          |        least(CAST(1.0 AS DOUBLE),
          |              CAST(total AS DOUBLE) / CAST(n_sources AS DOUBLE)
          |                / CAST(n_docs AS DOUBLE)) AS keep_rate
          |      FROM c, t),
          |k AS (SELECT d.source, r.n_docs, r.keep_rate,
          |        ((ascii(substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1))
          |          - CASE WHEN ascii(substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) >= 97 THEN 87 ELSE 48 END) * 16 +
          |         (ascii(substr(md5(CAST(d.doc_id AS VARCHAR)), 2, 1))
          |          - CASE WHEN ascii(substr(md5(CAST(d.doc_id AS VARCHAR)), 2, 1)) >= 97 THEN 87 ELSE 48 END))
          |        < r.keep_rate * 256.0 AS kept
          |      FROM documents d JOIN r ON d.source = r.source)
          |SELECT source, n_docs, keep_rate,
          |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
          |FROM k GROUP BY 1, 2, 3 ORDER BY source""".stripMargin)),

    QueryDef("fixed_size_sample",
      (s, d) => TextAnalysis.fixedSizeSample(Tables.documents(s, d)), Some(
        """SELECT doc_id, lang, source FROM (
          |  SELECT doc_id, lang, source FROM documents
          |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 64)
          |ORDER BY doc_id""".stripMargin)),

    QueryDef("stratified_fixed_k",
      (s, d) => TextAnalysis.stratifiedFixedK(Tables.documents(s, d)), Some(
        """SELECT doc_id, lang, rk FROM (
          |  SELECT doc_id, lang, CAST(row_number() OVER (
          |    PARTITION BY lang
          |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
          |  FROM documents)
          |WHERE rk <= 16 ORDER BY lang, rk""".stripMargin)),

    // Neyman-allocated stratified sample: integer weights n·⌊2^20·S⌋,
    // exact Hamilton apportionment of the shared budget, md5-ranked
    // realization — the whole chain (weights, quotas, realized counts,
    // membership witness) hash-exact cross-engine
    QueryDef("stratified_neyman",
      (s, d) => TextAnalysis.stratifiedNeyman(Tables.documents(s, d)), Some(
        s"""WITH rows0 AS (
           |  SELECT lang, source,
           |    CAST(len(regexp_extract_all(lower(text), '[a-z'']+'))
           |         AS BIGINT) AS t
           |  FROM documents),
           |strata AS (
           |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
           |    sum(CAST(t AS HUGEINT)) AS s,
           |    sum(CAST(t * t AS HUGEINT)) AS qq
           |  FROM rows0 GROUP BY 1, 2),
           |w AS (
           |  SELECT lang, source, n,
           |    CAST(CASE WHEN n > 1 AND n * qq - s * s > 0 THEN
           |      floor(sqrt(CAST(n * qq - s * s AS DOUBLE) /
           |        CAST(n * (n - 1) AS DOUBLE)) * 1048576.0) ELSE 0 END
           |      AS HUGEINT) * n AS w
           |  FROM strata),
           |t AS (SELECT sum(w) AS w_total,
           |             sum(CAST(n AS HUGEINT)) AS n_total FROM w),
           |a0 AS (
           |  SELECT lang, source, n, w,
           |    CASE WHEN w_total > 0
           |      THEN (${TextAnalysis.NeymanBudget} * w) // w_total
           |      ELSE (${TextAnalysis.NeymanBudget} * CAST(n AS HUGEINT))
           |           // n_total END AS fl,
           |    CASE WHEN w_total > 0
           |      THEN (${TextAnalysis.NeymanBudget} * w) % w_total
           |      ELSE (${TextAnalysis.NeymanBudget} * CAST(n AS HUGEINT))
           |           % n_total END AS rem
           |  FROM w, t),
           |d AS (SELECT sum(fl) AS fl_sum FROM a0),
           |a AS (
           |  SELECT lang, source, n, w,
           |    least(fl + CASE WHEN CAST(row_number() OVER (
           |        ORDER BY rem DESC, lang, source) AS HUGEINT)
           |      <= ${TextAnalysis.NeymanBudget} - fl_sum
           |      THEN 1 ELSE 0 END, CAST(n AS HUGEINT)) AS k_alloc
           |  FROM a0, d),
           |rk AS (
           |  SELECT doc_id, lang, source, CAST(row_number() OVER (
           |    PARTITION BY lang, source
           |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           |    AS BIGINT) AS rk
           |  FROM documents),
           |sampled AS (
           |  SELECT rk.lang, rk.source, rk.doc_id
           |  FROM rk JOIN a USING (lang, source)
           |  WHERE rk.rk <= CAST(a.k_alloc AS BIGINT)),
           |c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_sampled,
           |        min(doc_id) AS first_doc FROM sampled GROUP BY 1, 2)
           |SELECT a.lang, a.source, a.n AS n_docs,
           |  CAST(a.w AS BIGINT) AS w_neyman,
           |  CAST(a.k_alloc AS BIGINT) AS k_alloc,
           |  CAST(coalesce(c.n_sampled, 0) AS BIGINT) AS n_sampled,
           |  c.first_doc
           |FROM a LEFT JOIN c USING (lang, source)
           |ORDER BY lang, source""".stripMargin)),

    // Efraimidis-Spirakis weighted sample: minimize the exact integer
    // key (10^6 * ladder-penalty) div token-weight — both engines sort
    // the same integers, TakeOrdered realization
    QueryDef("weighted_sample_aes",
      (s, d) => TextAnalysis.weightedSampleAes(Tables.documents(s, d)), Some(
        s"""WITH w AS (
           |  SELECT doc_id,
           |    CAST(len(regexp_extract_all(lower(text), '[a-z'']+'))
           |         AS BIGINT) AS n_tokens,
           |    ${u20Sql("doc_id")} AS u20
           |  FROM documents),
           |k AS (
           |  SELECT doc_id, n_tokens,
           |    (1000000 * (${TextAnalysis.AesLnMax}
           |      - CAST(floor(ln(CAST(u20 + 1 AS DOUBLE)) * 10000.0 + 0.5)
           |             AS BIGINT))) // n_tokens AS key_q
           |  FROM w WHERE n_tokens > 0)
           |SELECT doc_id, n_tokens, CAST(key_q AS BIGINT) AS key_q FROM (
           |  SELECT * FROM k
           |  ORDER BY key_q, doc_id LIMIT ${TextAnalysis.AesSampleK})
           |ORDER BY doc_id""".stripMargin)),

    // α=0.5 temperature mixing — integer-thresholded so the keep
    // decisions (not just the rates) are hash-exact cross-engine
    QueryDef("temperature_mix",
      (s, d) => TextAnalysis.temperatureMix(Tables.documents(s, d)), Some(
        s"""WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
           |w AS (SELECT source, n_docs,
           |        CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1048576.0) AS BIGINT) AS w
           |      FROM c),
           |t AS (SELECT CAST(sum(w) AS BIGINT) AS w_total,
           |             CAST(sum(n_docs) AS BIGINT) // 2 AS k_target FROM w),
           |r AS (SELECT source, n_docs,
           |        CAST(floor(1048576.0 * CAST(k_target AS DOUBLE) * CAST(w AS DOUBLE)
           |             / (CAST(w_total AS DOUBLE) * CAST(n_docs AS DOUBLE))) AS BIGINT) AS keep_thresh
           |      FROM w, t),
           |k AS (SELECT d.source, r.n_docs, r.keep_thresh,
           |        ${u20Sql("d.doc_id")} < r.keep_thresh AS kept
           |      FROM documents d JOIN r USING (source))
           |SELECT source, n_docs, keep_thresh,
           |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
           |FROM k GROUP BY 1, 2, 3 ORDER BY source""".stripMargin)),

    // KL(split ‖ corpus) with ln quantized to integer 1e-4 units before
    // the weighted sum (the bigram_lm_score portability pattern)
    QueryDef("token_kl_drift",
      (s, d) => TextAnalysis.tokenKlDrift(Tables.documents(s, d)), Some(
        s"""WITH sp AS (
           |  SELECT CASE WHEN ${nibSql(0)} * 16 + ${nibSql(1)} < 204 THEN 'train'
           |              WHEN ${nibSql(0)} * 16 + ${nibSql(1)} < 230 THEN 'val'
           |              ELSE 'test' END AS split,
           |         text
           |  FROM documents),
           |tok AS (SELECT split, unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS tok FROM sp),
           |ts AS (SELECT split, tok, count(*) AS c FROM tok GROUP BY 1, 2),
           |g AS (SELECT tok, CAST(sum(c) AS BIGINT) AS c_all FROM ts GROUP BY tok),
           |st AS (SELECT split, CAST(sum(c) AS BIGINT) AS n_split FROM ts GROUP BY split),
           |ga AS (SELECT CAST(sum(n_split) AS BIGINT) AS n_all FROM st),
           |terms AS (
           |  SELECT ts.split, ts.c, st.n_split,
           |    CAST(floor(ln(CAST(ts.c AS DOUBLE) * CAST(n_all AS DOUBLE) /
           |      (CAST(st.n_split AS DOUBLE) * CAST(g.c_all AS DOUBLE))) * 10000.0 + 0.5) AS BIGINT) AS lp4
           |  FROM ts JOIN g USING (tok) JOIN st USING (split), ga)
           |SELECT split, n_split AS n_tokens, count(*) AS n_distinct_tokens,
           |  CAST(CASE WHEN sum(c * lp4) < 0 THEN -1 ELSE 1 END *
           |       ((100 * abs(CAST(sum(c * lp4) AS HUGEINT))) // n_split)
           |    AS BIGINT) AS kl_micro
           |FROM terms GROUP BY split, n_split ORDER BY split""".stripMargin)),

    QueryDef("corpus_summary",
      (s, d) => TextAnalysis.corpusSummary(Tables.documents(s, d)), Some(
        """WITH t AS (
          |  SELECT doc_id, lang, source,
          |         CAST(len(regexp_extract_all(lower(text), '[a-z'']+')) AS BIGINT) AS n_toks,
          |         CAST(length(text) AS BIGINT) AS n_chars
          |  FROM documents)
          |SELECT count(*) AS n_docs,
          |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
          |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
          |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
          |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
          |  min(n_toks) AS min_doc_tokens,
          |  max(n_toks) AS max_doc_tokens,
          |  round(CAST(sum(n_toks) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_doc_tokens
          |FROM t""".stripMargin)),

    QueryDef("pii_redact",
      (s, d) => TextAnalysis.redactPii(TextAnalysis.seedPii(Tables.documents(s, d))),
      Some {
        val email = """[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""
        val phone = """\b\d{3}-\d{4}\b"""
        val ip = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
        s"""WITH s AS (
           |  SELECT doc_id, text ||
           |    CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
           |    CASE WHEN doc_id % 7 = 0 THEN ' call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ELSE '' END ||
           |    CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
           |    AS text
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_email,
           |  CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phone,
           |  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ip,
           |  regexp_replace(regexp_replace(regexp_replace(text,
           |    '$email', '<EMAIL>', 'g'),
           |    '$phone', '<PHONE>', 'g'),
           |    '$ip', '<IP>', 'g') AS clean_text
           |FROM s ORDER BY doc_id""".stripMargin
      }),

    QueryDef("unicode_normalize",
      (s, d) => TextAnalysis.unicodeNormalize(
        TextAnalysis.seedUnicode(Tables.documents(s, d))), Some(
        """WITH s AS (
          |  SELECT doc_id, text ||
          |    CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) ELSE '' END ||
          |    CASE WHEN doc_id % 4 = 0 THEN ' A' || chr(778) ELSE '' END ||
          |    CASE WHEN doc_id % 7 = 0 THEN ' ' || chr(8486) ELSE '' END AS text
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(length(text) AS BIGINT) AS n_chars_raw,
          |  CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_nfc,
          |  (nfc_normalize(text) != text) AS changed,
          |  nfc_normalize(text) AS clean_text
          |FROM s ORDER BY doc_id""".stripMargin)),

    QueryDef("blocklist_gate",
      (s, d) => TextAnalysis.blocklistGate(Tables.documents(s, d)), Some {
        val bl = TextAnalysis.Blockwords.map(w => s"'$w'").mkString(", ")
        s"""WITH t AS (
           |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS w
           |  FROM documents),
           |b AS (
           |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
           |         CAST(len(list_filter(w, x -> x IN ($bl))) AS BIGINT) AS n_hits
           |  FROM t WHERE len(w) > 0),
           |r AS (
           |  SELECT doc_id, n_tokens, n_hits,
           |         round(CAST(n_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS hit_ratio
           |  FROM b)
           |SELECT doc_id, n_tokens, n_hits, hit_ratio, (hit_ratio <= 0.05) AS kept
           |FROM r ORDER BY doc_id""".stripMargin
      }),

    QueryDef("boilerplate_coverage",
      (s, d) => TextAnalysis.boilerplateCoverage(Tables.documents(s, d)), Some {
        val gram = (1 to 5).map(j => s"w[i+${j - 1}]").mkString(" || ' ' || ")
        s"""WITH t AS (
           |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS w
           |  FROM documents),
           |gs AS (
           |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
           |           i -> $gram)) AS g
           |  FROM t WHERE len(w) >= 5),
           |boiler AS (
           |  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM gs GROUP BY g)
           |  WHERE df >= 3),
           |per AS (SELECT doc_id, count(*) AS n_grams FROM gs GROUP BY doc_id),
           |hits AS (
           |  SELECT doc_id, count(*) AS n_boiler
           |  FROM gs JOIN boiler USING (g) GROUP BY doc_id)
           |SELECT p.doc_id, p.n_grams,
           |  CAST(coalesce(h.n_boiler, 0) AS BIGINT) AS n_boiler,
           |  round(CAST(coalesce(h.n_boiler, 0) AS DOUBLE)
           |        / CAST(p.n_grams AS DOUBLE), 6) AS boiler_ratio
           |FROM per p LEFT JOIN hits h ON p.doc_id = h.doc_id
           |ORDER BY 1""".stripMargin
      }),

    QueryDef("cms_token_counts",
      (s, d) => TextAnalysis.cmsTokenCounts(Tables.documents(s, d)), Some {
        def nib(i: Int) =
          s"(ascii(substr(h, $i, 1)) - CASE WHEN ascii(substr(h, $i, 1)) >= 97 THEN 87 ELSE 48 END)"
        // j-th bucket from nibbles 3j+1..3j+3 (1-based), mirroring cmsBuckets
        def bucket(j: Int) =
          s"(${nib(3 * j + 1)}*256 + ${nib(3 * j + 2)}*16 + ${nib(3 * j + 3)})"
        def bucketUnion(src: String) =
          (0 until TextAnalysis.CmsDepth).map(j =>
            s"SELECT tok, $j AS j, ${bucket(j)} AS bucket FROM $src")
            .mkString("\n  UNION ALL\n  ")
        s"""WITH toks AS (
           |  SELECT unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS tok
           |  FROM documents),
           |hx AS (SELECT tok, md5(tok) AS h FROM toks),
           |cellsrc AS (
           |  ${bucketUnion("hx")}),
           |cells AS (SELECT j, bucket, count(*) AS cnt FROM cellsrc GROUP BY 1, 2),
           |exact AS (SELECT tok, count(*) AS exact_cnt FROM toks GROUP BY tok),
           |dh AS (SELECT tok, md5(tok) AS h FROM exact),
           |eb AS (
           |  ${bucketUnion("dh")}),
           |est AS (
           |  SELECT tok, CAST(min(cnt) AS BIGINT) AS cms_est
           |  FROM eb JOIN cells USING (j, bucket) GROUP BY tok)
           |SELECT tok, exact_cnt, cms_est, (cms_est >= exact_cnt) AS overestimate
           |FROM exact JOIN est USING (tok)
           |ORDER BY exact_cnt DESC, tok LIMIT 50""".stripMargin
      }),

    QueryDef("doc_entropy",
      (s, d) => TextAnalysis.docEntropy(Tables.documents(s, d)), Some(
        """WITH t AS (
          |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS tok
          |  FROM documents),
          |c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
          |a AS (
          |  SELECT doc_id,
          |    CAST(sum(c) AS BIGINT) AS n_tokens,
          |    CAST(count(*) AS BIGINT) AS n_types,
          |    CAST(max(c) AS BIGINT) AS cmax,
          |    CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT))
          |         AS BIGINT) AS s4
          |  FROM c GROUP BY doc_id)
          |SELECT doc_id, n_tokens, n_types,
          |  (1000 * n_types) // n_tokens AS ttr_permille,
          |  (1000 * cmax) // n_tokens AS top_frac_permille,
          |  CAST(CASE WHEN n_tokens * ln4 - s4 < 0 THEN -1 ELSE 1 END *
          |       ((100 * abs(n_tokens * ln4 - s4)) // n_tokens) AS BIGINT)
          |    AS entropy_micro
          |FROM (SELECT *,
          |        CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT)
          |          AS ln4
          |      FROM a) af ORDER BY doc_id""".stripMargin)),

    QueryDef("bigram_lm_score",
      (s, d) => TextAnalysis.bigramLmScore(Tables.documents(s, d)), Some(
        """WITH t AS (
          |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS w
          |  FROM documents),
          |bg AS (
          |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
          |           i -> w[i] || ' ' || w[i+1])) AS g
          |  FROM t WHERE len(w) >= 2),
          |b2 AS (SELECT doc_id, g, split_part(g, ' ', 1) AS w1 FROM bg),
          |c2 AS (SELECT g, count(*) AS c2 FROM b2 GROUP BY g),
          |c1 AS (SELECT w1, count(*) AS c1 FROM b2 GROUP BY w1),
          |vv AS (SELECT count(DISTINCT tok) AS v
          |       FROM (SELECT unnest(w) AS tok FROM t)),
          |sc AS (
          |  SELECT b.doc_id,
          |    CAST(floor(ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + vv.v AS DOUBLE))
          |         * 10000.0 + 0.5) AS BIGINT) AS lp4
          |  FROM b2 b JOIN c2 USING (g) JOIN c1 USING (w1), vv)
          |SELECT doc_id, count(*) AS n_bigrams,
          |  CAST(CASE WHEN sum(lp4) < 0 THEN -1 ELSE 1 END *
          |       ((100 * abs(CAST(sum(lp4) AS BIGINT))) // count(*))
          |    AS BIGINT) AS avg_logp_micro
          |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("importance_resampling",
      (s, d) => TextAnalysis.importanceResampling(Tables.documents(s, d)), Some(
        """WITH t AS (
          |  SELECT doc_id, lang = 'en' AS is_target,
          |         unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS tok
          |  FROM documents),
          |db AS (
          |  SELECT doc_id, is_target, substr(md5(tok), 1, 2) AS bucket,
          |         count(*) AS c
          |  FROM t GROUP BY 1, 2, 3),
          |bt AS (
          |  SELECT bucket, sum(c) AS cr,
          |         sum(CASE WHEN is_target THEN c ELSE 0 END) AS ct
          |  FROM db GROUP BY 1),
          |g AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM bt),
          |llr AS (
          |  SELECT bucket,
          |    CAST(floor(ln((CAST(ct AS DOUBLE) + 1.0) * (CAST(nr AS DOUBLE) + 256.0)
          |        / ((CAST(cr AS DOUBLE) + 1.0) * (CAST(nt AS DOUBLE) + 256.0)))
          |      * 10000.0 + 0.5) AS BIGINT) AS llr4
          |  FROM bt, g),
          |w AS (
          |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
          |         CAST(sum(c * llr4) AS BIGINT) AS weight_units
          |  FROM db JOIN llr USING (bucket)
          |  GROUP BY doc_id)
          |SELECT d.doc_id, coalesce(w.n_tokens, 0) AS n_tokens,
          |       coalesce(w.weight_units, 0) AS weight_units
          |FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
          |ORDER BY weight_units DESC, d.doc_id LIMIT 100""".stripMargin)),

    QueryDef("source_overlap_minhash",
      (s, d) => TextAnalysis.sourceOverlapMinhash(Tables.documents(s, d)),
      Some {
        val k = 32
        val mins = (0 until k)
          .map(j => s"min(md5(g || ':$j')) AS m$j").mkString(",\n          |    ")
        val cases = (0 until k)
          .map(j => s"(CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END)")
          .mkString(" +\n          |    ")
        s"""WITH t AS (
          |  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z'']+') AS w
          |  FROM documents),
          |g0 AS (
          |  SELECT DISTINCT source,
          |    unnest(list_transform(range(1, len(w) - 1),
          |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
          |  FROM t WHERE len(w) >= 3),
          |sig AS (
          |  SELECT source,
          |    $mins
          |  FROM g0 GROUP BY source)
          |SELECT a.source AS source_a, b.source AS source_b,
          |  CAST($cases AS BIGINT) AS n_matches,
          |  CAST(($cases) * ${1000000 / k} AS BIGINT) AS jaccard_est_ppm
          |FROM sig a JOIN sig b ON a.source < b.source
          |ORDER BY source_a, source_b""".stripMargin
      }),

    QueryDef("source_overlap_exact",
      (s, d) => TextAnalysis.sourceOverlapExact(Tables.documents(s, d)),
      Some(
        """WITH t AS (
          |  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z'']+') AS w
          |  FROM documents),
          |g0 AS (
          |  SELECT DISTINCT source,
          |    unnest(list_transform(range(1, len(w) - 1),
          |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
          |  FROM t WHERE len(w) >= 3),
          |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g0 GROUP BY source),
          |pairs AS (
          |  SELECT a.source AS source_a, b.source AS source_b, a.n AS na, b.n AS nb
          |  FROM sizes a JOIN sizes b ON a.source < b.source),
          |inter AS (
          |  SELECT x.source AS source_a, y.source AS source_b,
          |         CAST(count(*) AS BIGINT) AS ni0
          |  FROM g0 x JOIN g0 y ON x.g = y.g AND x.source < y.source
          |  GROUP BY 1, 2)
          |SELECT source_a, source_b,
          |  coalesce(ni0, 0) AS n_inter,
          |  na + nb - coalesce(ni0, 0) AS n_union,
          |  coalesce(ni0, 0) * 1000000 // (na + nb - coalesce(ni0, 0)) AS jaccard_ppm
          |FROM pairs LEFT JOIN inter USING (source_a, source_b)
          |ORDER BY source_a, source_b""".stripMargin)),

    QueryDef("source_lang_entropy",
      (s, d) => TextAnalysis.sourceLangEntropy(Tables.documents(s, d)), Some(
        """WITH cells AS (
          |  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
          |  FROM documents GROUP BY 1, 2),
          |rk AS (
          |  SELECT *, row_number() OVER (PARTITION BY source
          |            ORDER BY c DESC, lang ASC) AS rn
          |  FROM cells),
          |a AS (
          |  SELECT source,
          |    CAST(sum(c) AS BIGINT) AS n_docs,
          |    CAST(count(*) AS BIGINT) AS n_langs,
          |    max(CASE WHEN rn = 1 THEN lang END) AS top_lang,
          |    CAST(max(CASE WHEN rn = 1 THEN c END) AS BIGINT) AS top_c,
          |    CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 10000.0 + 0.5)
          |         AS BIGINT)) AS BIGINT) AS s4
          |  FROM rk GROUP BY source)
          |SELECT source, n_docs, n_langs, top_lang,
          |  (1000 * top_c) // n_docs AS top_share_permille,
          |  CAST(CASE WHEN n_docs * ln4n - s4 < 0 THEN -1 ELSE 1 END *
          |       ((100 * CAST(abs(n_docs * ln4n - s4) AS HUGEINT)) // n_docs)
          |    AS BIGINT) AS entropy_micro
          |FROM (SELECT *,
          |        CAST(floor(ln(CAST(n_docs AS DOUBLE)) * 10000.0 + 0.5)
          |             AS BIGINT) AS ln4n
          |      FROM a) af
          |ORDER BY source""".stripMargin)),

    QueryDef("lang_source_mi",
      (s, d) => TextAnalysis.langSourceMi(Tables.documents(s, d)), Some(
        """WITH cells AS (
          |  SELECT lang, source, CAST(count(*) AS BIGINT) AS c
          |  FROM documents GROUP BY 1, 2),
          |m AS (
          |  SELECT c,
          |    CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS cl,
          |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS cs,
          |    lang, source
          |  FROM cells),
          |a AS (
          |  SELECT CAST(sum(c) AS BIGINT) AS n_docs,
          |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
          |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
          |    CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sj4,
          |    CAST(sum(c * CAST(floor(ln(CAST(cl AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sl4,
          |    CAST(sum(c * CAST(floor(ln(CAST(cs AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS ss4
          |  FROM m)
          |SELECT n_docs, n_langs, n_sources,
          |  CAST((100 * CAST(n_docs * lnn4 - sl4 AS HUGEINT)) // n_docs
          |       AS BIGINT) AS h_lang_micro,
          |  CAST((100 * CAST(n_docs * lnn4 - ss4 AS HUGEINT)) // n_docs
          |       AS BIGINT) AS h_source_micro,
          |  CAST(CASE WHEN n_docs * lnn4 + sj4 - sl4 - ss4 < 0 THEN -1 ELSE 1 END *
          |       ((100 * CAST(abs(n_docs * lnn4 + sj4 - sl4 - ss4) AS HUGEINT))
          |        // n_docs) AS BIGINT)
          |    AS mi_micro
          |FROM (SELECT *,
          |        CAST(floor(ln(CAST(n_docs AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT)
          |          AS lnn4
          |      FROM a) af""".stripMargin)),

    // G^2 keyness: per-source distinctive tokens among the top-50
    // global vocabulary, exact via the quantized-ln ladder
    QueryDef("token_keyness_g2",
      (s, d) => TextAnalysis.tokenKeynessG2(Tables.documents(s, d)), Some {
        def f(e: String) = s"CASE WHEN ($e) > 0 THEN ($e) * " +
          ln4Sql(e) +
          " ELSE 0 END"
        s"""WITH occ AS (
           |  SELECT source, t AS token, CAST(count(*) AS BIGINT) AS a
           |  FROM (SELECT source,
           |          unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS t
           |        FROM documents)
           |  GROUP BY 1, 2),
           |cand AS (SELECT token, CAST(sum(a) AS BIGINT) AS cw FROM occ
           |         GROUP BY 1 ORDER BY cw DESC, token
           |         LIMIT ${TextAnalysis.KeynessKCand}),
           |st AS (SELECT source, CAST(sum(a) AS BIGINT) AS ts FROM occ
           |       GROUP BY 1),
           |nt AS (SELECT CAST(sum(a) AS BIGINT) AS nn FROM occ),
           |grid AS (
           |  SELECT st.source, cand.token, cand.cw, st.ts,
           |    coalesce(occ.a, 0) AS a, nn
           |  FROM cand CROSS JOIN st
           |  LEFT JOIN occ ON occ.source = st.source
           |    AND occ.token = cand.token, nt),
           |sc AS (
           |  SELECT source, token, a, cw, ts, nn,
           |    CAST(200 * CAST(${f("a")} + ${f("cw - a")} + ${f("ts - a")}
           |      + ${f("nn - cw - ts + a")} - ${f("cw")} - ${f("nn - cw")}
           |      - ${f("ts")} - ${f("nn - ts")} + ${f("nn")}
           |      AS HUGEINT) AS BIGINT) AS g2_micro,
           |    CAST(CASE WHEN CAST(a AS HUGEINT) * nn >
           |        CAST(cw AS HUGEINT) * ts THEN 1
           |      WHEN CAST(a AS HUGEINT) * nn <
           |        CAST(cw AS HUGEINT) * ts THEN -1 ELSE 0 END AS BIGINT)
           |      AS enriched_sign
           |  FROM grid),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY source
           |         ORDER BY g2_micro DESC, token) AS rn FROM sc)
           |SELECT source, CAST(rn AS BIGINT) AS rank, token,
           |  a AS n_in_source, cw AS n_total, enriched_sign, g2_micro
           |FROM rk WHERE rn <= ${TextAnalysis.KeynessKSel}
           |ORDER BY source, rank""".stripMargin
      }),

    // readability profile per language: three exact integer totals +
    // the quantized Flesch composition
    QueryDef("readability_scores",
      (s, d) => TextAnalysis.readabilityScores(Tables.documents(s, d)), Some(
        """WITH per AS (
          |  SELECT lang,
          |    CAST(len(regexp_extract_all(lower(text), '[a-z'']+'))
          |      AS BIGINT) AS w,
          |    CAST(len(regexp_extract_all(text, '[.!?]+')) + 1 AS BIGINT)
          |      AS s,
          |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
          |      AS BIGINT) AS y
          |  FROM documents),
          |a AS (
          |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(sum(w) AS BIGINT) AS n_words,
          |    CAST(sum(s) AS BIGINT) AS n_sentences,
          |    CAST(sum(y) AS BIGINT) AS n_syllables
          |  FROM per GROUP BY 1)
          |SELECT lang, n_docs, n_words, n_sentences, n_syllables,
          |  (1000 * n_words) // n_sentences AS wps_milli,
          |  CASE WHEN n_words > 0 THEN (1000 * n_syllables) // n_words END
          |    AS spw_milli,
          |  CASE WHEN n_words > 0 THEN 206835
          |    - (1015 * ((1000 * n_words) // n_sentences)) // 1000
          |    - (84600 * ((1000 * n_syllables) // n_words)) // 1000 END
          |    AS fre_milli
          |FROM a ORDER BY lang""".stripMargin)),

    // vocabulary growth curve: first-occurrence decile of every token,
    // cumulative distinct-vocab size at decile checkpoints
    QueryDef("vocab_growth",
      (s, d) => TextAnalysis.vocabGrowth(Tables.documents(s, d)), Some(
        """WITH fd AS (
          |  SELECT t AS token, CAST(min(doc_id) AS BIGINT) AS fd
          |  FROM (SELECT doc_id, unnest(list_distinct(
          |          regexp_extract_all(lower(text), '[a-z'']+'))) AS t
          |        FROM documents)
          |  GROUP BY 1),
          |nd AS (SELECT CAST(min(doc_id) AS BIGINT) AS d0,
          |  CAST(max(doc_id) - min(doc_id) + 1 AS BIGINT) AS span
          |  FROM documents),
          |bd AS (
          |  SELECT least(10 * (fd - d0) // span + 1, 10) AS decile,
          |    CAST(count(*) AS BIGINT) AS new_tokens
          |  FROM fd, nd GROUP BY 1),
          |dn AS (
          |  SELECT CAST(g.decile AS BIGINT) AS decile,
          |    CAST(coalesce(bd.new_tokens, 0) AS BIGINT) AS new_tokens
          |  FROM (SELECT unnest(range(1, 11)) AS decile) g
          |  LEFT JOIN bd ON bd.decile = g.decile)
          |SELECT decile, new_tokens,
          |  CAST(sum(new_tokens) OVER (ORDER BY decile
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |    AS vocab_size
          |FROM dn ORDER BY decile""".stripMargin)),

    // Heaps'-law exponent: integer-Cramer OLS of ln4(vocab) on
    // ln4(occurrences) over the vocab_growth decile grid — the
    // corpus-scaling twin of zipf_alpha
    QueryDef("heaps_exponent",
      (s, d) => TextAnalysis.heapsExponent(Tables.documents(s, d)), Some {
        s"""WITH b AS (SELECT CAST(min(doc_id) AS BIGINT) AS d0,
           |  CAST(max(doc_id) - min(doc_id) + 1 AS BIGINT) AS span
           |  FROM documents),
           |fd AS (
           |  SELECT t AS token, CAST(min(doc_id) AS BIGINT) AS fd
           |  FROM (SELECT doc_id, unnest(list_distinct(
           |          regexp_extract_all(lower(text), '[a-z'']+'))) AS t
           |        FROM documents)
           |  GROUP BY 1),
           |vd AS (
           |  SELECT least(10 * (fd - d0) // span + 1, 10) AS decile,
           |    CAST(count(*) AS BIGINT) AS nv
           |  FROM fd, b GROUP BY 1),
           |nd AS (
           |  SELECT least(10 * (doc_id - d0) // span + 1, 10) AS decile,
           |    CAST(sum(len(regexp_extract_all(lower(text), '[a-z'']+')))
           |         AS BIGINT) AS nt
           |  FROM documents, b GROUP BY 1),
           |g AS (
           |  SELECT CAST(d.decile AS BIGINT) AS decile,
           |    CAST(sum(coalesce(nv, 0)) OVER (ORDER BY d.decile
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS v,
           |    CAST(sum(coalesce(nt, 0)) OVER (ORDER BY d.decile
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS nn
           |  FROM (SELECT unnest(range(1, 11)) AS decile) d
           |  LEFT JOIN vd ON vd.decile = d.decile
           |  LEFT JOIN nd ON nd.decile = d.decile),
           |p AS (SELECT ${ln4Sql("nn")} AS x, ${ln4Sql("v")} AS y, v, nn
           |      FROM g WHERE v > 0 AND nn > 0),
           |a AS (SELECT CAST(count(*) AS BIGINT) AS k,
           |  CAST(max(nn) AS BIGINT) AS total_tokens,
           |  CAST(max(v) AS BIGINT) AS vocab_total,
           |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |  CAST(sum(x * x) AS BIGINT) AS sxx,
           |  CAST(sum(x * y) AS BIGINT) AS sxy FROM p)
           |SELECT k AS n_points, total_tokens, vocab_total,
           |  CAST(CASE WHEN k * sxx - sx * sx > 0 THEN
           |    (CASE WHEN k * sxy - sx * sy < 0 THEN -1 ELSE 1 END) *
           |    ((1000000 * abs(k * sxy - sx * sy)) // (k * sxx - sx * sx))
           |    END AS BIGINT) AS alpha_micro
           |FROM a""".stripMargin
      }),
  )
}
