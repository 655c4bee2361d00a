package graft

import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Plan-shape regressions: the scale-design properties the operators
  * claim are asserted against the actual plans, so a refactor that
  * quietly reintroduces a forced broadcast, an exploded shuffle, or a
  * corpus-wide exchange fails here, not on a cluster. */
class PlanShapeSpec extends SparkSpec {

  lazy val docs = Tables.documents(spark, sf0001)
  lazy val emb = Tables.embeddings(spark, sf0001)

  test("near-dup pipeline contains no forced broadcast hints") {
    // candidate-pair and shingle-set sizes are unbounded at scale, and
    // even the "provably small" viral band/bucket tables are only
    // |rows|/cap — LINEAR in corpus size. The operator must leave every
    // join strategy to stats, never force broadcast; AQE broadcasts the
    // genuinely-small sides at runtime. Checked on the UNmaterialized
    // plan builders (the materialized index hides its build plan behind
    // a checkpoint scan).
    val b = Dedup.bandTable(Dedup.wordGrams(docs))
    val capped = Dedup.cappedBandsPlan(b, Dedup.MaxBandBucket)
    val pairPlan = Dedup.nearDupPairsFromBands(docs, capped, Dedup.wordGrams, 0.7)
      .queryExecution.analyzed.toString
    assert(!pairPlan.toLowerCase.contains("hint"),
      s"near-dup must not force join strategies:\n$pairPlan")
    val sig0 = emb.select(org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.col("embedding"),
      Similarity.lshBucketCol(spark,
        org.apache.spark.sql.functions.col("embedding")).as("bucket"))
    val bucketPlan = Dedup.cappedBandsPlan(sig0, Similarity.MaxLshBucket, "bucket")
      .queryExecution.analyzed.toString
    assert(!bucketPlan.toLowerCase.contains("hint"),
      s"hot-bucket cap must not force join strategies:\n$bucketPlan")
  }

  test("brute-force ANN broadcasts the query side, never shuffles the corpus") {
    val plan = Similarity.bruteForceTopK(emb, 4, 5)
      .queryExecution.executedPlan.toString
    // no equi-key (all-pairs scoring), so the right shape is a nested-loop
    // join with the SMALL query side broadcast and the corpus streamed
    assert(plan.contains("BroadcastNestedLoopJoin BuildRight"),
      s"expected query-side broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus must not shuffle for the scoring join:\n$plan")
  }

  test("doc_fingerprint is computed without explode or window operators") {
    // the winnowing minima are per-row array transforms: one map stage,
    // no ~10x-corpus explode pushed through an exchange
    val plan = TextAnalysis.docFingerprint(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"no explode expected:\n$plan")
    assert(!plan.contains("RunningWindowFunction") && !plan.contains("Window "),
      s"no window operator expected:\n$plan")
  }

  test("frequent-band cap bounds the LSH self-join input by construction") {
    // the capped index build is a LEFT ANTI join against the aggregated
    // over-cap (bn > cap) band key set — partial-aggregated counts
    // (skew-immune) and no forced broadcast. Pin that exact shape.
    val plan = Dedup.cappedBandsPlan(Dedup.bandTable(Dedup.wordGrams(docs)),
      Dedup.MaxBandBucket).queryExecution.optimizedPlan.toString
    assert(plan.contains("> 64"), s"expected over-cap viral filter in:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected anti-join drop in:\n$plan")
  }

  test("centroid tables over MaxBroadcastCentroids are never force-broadcast") {
    // K > 4096: the √N centroid table of a genuinely large corpus does
    // not fit a broadcast — the assignment/rep joins must fall back to
    // stats-planned joins with NO hint, and the results must be
    // byte-identical whichever strategy the planner then picks (proved
    // by toggling autoBroadcastJoinThreshold, which flips the runtime
    // strategy without touching the logical plan).
    val k = Similarity.MaxBroadcastCentroids + 1
    val n = Tables.rowCount(spark, sf0001, "embeddings")
    def pq() = Similarity.ivfPqTopK(emb, k, 4, 5, Some(n))
    def sem() = Similarity.semanticDedup(emb, k, 0.35, Some(n))
    // the bounded query-side / 128-row-codebook broadcasts stay (they
    // are size-capped by construction); only hints covering the
    // CENTROID or REPRESENTATIVE tables are scale-killers here
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val centroidCols = Set("ce1", "cent_id", "re", "rep_id")
    for ((name, df) <- Seq("ivfPqTopK" -> pq(), "semanticDedup" -> sem())) {
      val bad = df.queryExecution.analyzed.collect {
        case h: ResolvedHint if h.output.exists(a => centroidCols(a.name)) => h
      }
      assert(bad.isEmpty,
        s"$name force-broadcasts a ${k}-row centroid/rep table:\n${bad.mkString("\n")}")
    }
    val withStats = (pq().collect().toSeq, sem().collect().toSeq)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(pq().collect().toSeq == withStats._1,
        "ivfPqTopK results change with join strategy")
      assert(sem().collect().toSeq == withStats._2,
        "semanticDedup results change with join strategy")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("bucketed range join runs as an equi join, not a nested loop") {
    // the whole point of the bucket rewrite: the proximity predicate
    // must reach the executor as a hash/sort-merge equi join on bucket
    val plan = graft.operators.Temporal.purchasesNearErrors(
      Tables.events(spark, sf0001)).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$plan")
  }

  test("q6 pushes all three predicates into the parquet scan") {
    // the forecast-revenue scan is the pushdown proof: shipdate range,
    // discount band, and quantity cap must reach the reader, and the
    // ReadSchema must be pruned to the 4 referenced columns
    // read the scan node's metadata map, not the plan string — plan
    // rendering truncates PushedFilters at 100 chars
    val scan = operators.Relational.forecastRevenue(spark, sf0001)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
    val pushed = scan.metadata("PushedFilters")
    Seq("l_shipdate", "l_discount", "l_quantity").foreach { c =>
      assert(pushed.contains(s"($c,") || pushed.contains(s"($c)"),
        s"filter on $c not pushed: $pushed")
    }
    val readSchema = scan.metadata("ReadSchema")
    Seq("l_shipdate", "l_discount", "l_quantity", "l_extendedprice").foreach(c =>
      assert(readSchema.contains(c), s"$c missing from ReadSchema: $readSchema"))
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_returnflag"),
      s"scan reads columns the query never touches: $readSchema")
  }

  test("exact similarity joins never re-tokenize — every gram is an index scan") {
    // both joins and BOTH their verification stages must serve from the
    // shared rankedGramIndex: the optimized plans carry no Generate
    // (explode/posexplode of a tokenizer) anywhere — a regression that
    // re-derives grams from `documents.text` reintroduces corpus
    // tokenize passes per consumer (measured at 2.4x the query cost)
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    Seq("ssjoin_exact", "containment_pairs").foreach { name =>
      val q = SparkEntry.registry.find(_.name == name).get
      val gens = q.fn(spark, sf0001).queryExecution.optimizedPlan.collect {
        // the candidate-id explode in verify is a 2-element array, fine;
        // tokenizer Generates explode regexp_extract_all/sequence output
        case g: Generate if g.generator.toString.contains("regexp_extract_all")
          || g.generator.toString.contains("sequence(") => g
      }
      assert(gens.isEmpty, s"$name re-tokenizes instead of scanning the index")
    }
  }

  test("no registered query plans a cartesian product or accidental nested loop") {
    // blanket scale-killer audit over the whole registry. BNLJ is
    // allowed ONLY where it is the intended shape: a tiny broadcast side
    // scored against the streamed corpus (brute-force ANN queries and
    // the IVF centroid assignment, the quantized variant, and tfidf's
    // one-row corpus-total broadcast).
    // round-3 additions to the intended-BNLJ list, all single-row or
    // broadcast-tiny build sides: q22's scalar average, vocab_prune's
    // corpus-count row, gap_fill's bounds row × distinct types, and
    // knn's held-out query set.
    // round-4: q11's global-total row and source_mix's source-histogram
    // total row — both one-row broadcast build sides by construction
    // round-5: semantic_dedup (broadcast K-row centroid/rep tables, the
    // IVF assignment shape) and bigram_lm_score (one-row vocabulary-size
    // broadcast)
    // round-11 ann_ivf_incremental: same broadcast centroid/query-side
    // shapes as ann_ivf_topk, over the base+delta assignment union
    val allowedBnlj = Set("ann_topk", "ann_ivf_topk", "ann_ivf_multiprobe",
      "ann_ivf_incremental", "ann_ivf_tombstoned",
      "ann_quantized_topk", "tfidf_top_terms",
      "q22_dormant_balances", "vocab_prune", "gap_fill_counts", "knn_classify",
      "revenue_share", "q11_important_parts", "source_mix_rebalance",
      "heavy_hitter_tokens", "near_dup_graph_stats",
      "semantic_dedup", "bigram_lm_score", "ann_ivfpq_topk",
      // round-8 search probes: a one-row broadcast scalar (the top
      // phrase / the corpus doc count) crossJoined onto the postings
      // probe — the same bounded pattern as tfidf's corpus total
      "phrase_search", "keyword_search", "bm25_search",
      // round-9 explicit-query twins share the identical scorer (and
      // its one-row corpus-stat broadcast scalar); the NDCG evaluator
      // additionally crossJoins its two ONE-ROW aggregate legs
      // (dcg × idcg — bounded by construction)
      "keyword_search_explicit", "bm25_search_explicit", "search_eval_ndcg",
      // round-13 autocorr: the one-row denominator aggregate
      // crossJoined onto the <= |lags|-row numerator table
      "autocorr_daily",
      // round-13 behavior: one-row total/stat aggregates crossJoined
      // onto bounded tables (basket top-20, triangle census pair,
      // trigram top-20)
      "basket_lift", "triangle_copurchase", "event_trigrams",
      // round-12+: diversified/reranked twins of the explicit probe —
      // the identical scorer (and its one-row corpus-stat broadcast
      // scalar); mmr additionally argmaxes over ≤kCand-row rounds;
      // survival_km crossJoins the ONE-ROW corpus-horizon scalar
      // (the dedup_savings class)
      "bm25_search_dedup", "mmr_rerank", "survival_km",
      // round-13: nelson_aalen shares survival_km's one-row horizon
      // scalar; keyness crossJoins the 50-row candidate vocabulary
      // onto the |sources| totals (bounded grid) + the one-row corpus
      // total; vocab_growth crossJoins the one-row d0/span scalar
      "nelson_aalen", "token_keyness_g2", "vocab_growth",
      // logrank_conversion shares survival_km's one-row horizon scalar
      "logrank_conversion",
      // lorenz crossJoins the one-row total-cents scalar onto the
      // 10-row decile table
      "lorenz_deciles",
      // kendall_tau crossJoins its four one-row aggregate legs
      // (concordant/discordant/tie sums) onto the one-row marginal
      "kendall_tau",
      // round-10 incremental-serving twin: identical scorer over the
      // union(base, delta) postings view — same one-row corpus-stat
      // broadcast scalar as bm25_search_explicit
      "bm25_search_incremental",
      // round-11 served/tombstoned shapes: the same scorer (and its
      // one-row corpus-stat broadcast scalar) over the durable-base
      // union view / the tombstone-anti-joined view
      "bm25_search_served", "bm25_search_tombstoned",
      // round-11 recall audit: its ground-truth leg IS ann_topk's
      // intended brute-force shape (16-row broadcast query side scored
      // against the streamed corpus); the graded IVF legs are the
      // already-allowlisted ann_ivf_topk / ann_ivf_multiprobe subtrees
      "ann_recall_audit",
      // round-11 skew diagnostics: two ONE-ROW aggregate legs (key-grain
      // and partition-grain stats) crossJoined per audited key — the
      // search_eval_ndcg dcg×idcg bounded pattern
      "key_skew_stats",
      // round-11 bootstrap: the full-data mean row × the 64-replicate
      // CI row — the same bounded one-row × one-row pattern
      "bootstrap_ci",
      // round-12 percentile-sketch audit: the ONE-ROW staged sketch
      // scalar (N + 3 approx values) broadcast-crossJoined onto the
      // conditional-count pass — the equidepth/winsorized fence-row
      // pattern
      "agg_approx_percentiles_audit",
      // round-8 continuation: equidepth's quartile-boundary row — a
      // one-row broadcast scalar crossJoined onto the fact scan (the
      // q11/revenue_share pattern)
      "equidepth_histogram",
      // round-11 winsorized stats: the same one-row percentile-bounds
      // broadcast crossJoined onto the fact scan
      "winsorized_stats",
      // temperature_mix's integer normalizer row onto the source
      // histogram (both broadcast-tiny), token_kl_drift's one-row
      // corpus total onto the vocabulary aggregate
      "temperature_mix", "token_kl_drift",
      // hybrid fusion embeds both ranked legs (each carries the bounded
      // one-row broadcast scalars already allowed above)
      "hybrid_search_rrf",
      // iqr_outliers: the same one-row broadcast fence row as equidepth
      "iqr_outliers",
      // negative_samples: one-row corpus-count broadcast onto the probes
      "negative_samples",
      // dedup_savings: three ONE-ROW aggregates crossJoined into the
      // report row — bounded by construction
      "dedup_savings",
      // ann_ivf_int8: the same broadcast K-row centroid table as the
      // other IVF consumers (probe ranking on the query slice) — the
      // inherent, size-gated scoreAgainst crossJoin
      "ann_ivf_int8",
      // source-overlap pair stages: |sources|-row signature/size tables
      // self-joined on a < b — bounded by the source count (a
      // data-model constant), broadcast-hinted by construction
      "source_overlap_minhash", "source_overlap_exact",
      // embedding_split_drift: the 3-row split-centroid table
      // self-joined on a < b — bounded by the split count
      "embedding_split_drift",
      // importance_resampling: the one-row grand-total broadcast onto
      // the 256-row bucket table (the token_kl_drift pattern)
      "importance_resampling",
      // multiclass kappa: the ONE-ROW chance/class-count aggregates
      // crossJoined into the report row (the dedup_savings pattern —
      // bounded by construction)
      "label_agreement_kappa_multiclass",
      // round-12+: ks_drift's CDF grid is bins × types — two
      // domain-bounded aggregates (the value_histogram bin-table
      // class), guard-commented at the definition
      "ks_drift",
      // token_pmi: the one-row corpus-count broadcast onto the ≤K²/2
      // pair table (the negative_samples pattern)
      "token_pmi",
      // stratified_neyman: the one-row weight-total and floor-sum
      // aggregates crossJoined onto the |langs|x|sources|-bounded
      // strata table (the dedup_savings bounded pattern)
      "stratified_neyman",
      // gini_split_quantity: the |flags|-row broadcast densify onto
      // the |quantity|-row split grid (both data-model constants);
      // heaps_exponent: the one-row doc-id-bounds broadcast (the
      // vocab_growth pattern)
      "gini_split_quantity", "heaps_exponent",
      // naive_bayes_lang: the |langs|-row broadcast lang list onto the
      // test-split term table, and the one-row vocab/doc-total scalars
      // onto the |langs|-row constants table — all broadcast-tiny,
      // vocabulary/lang-bounded by construction
      "naive_bayes_lang",
      // loo_source_influence: the one-row corpus-total broadcast onto
      // the |sources|-row table (the dedup_savings bounded pattern)
      "loo_source_influence")
    SparkEntry.registry.foreach { q =>
      val plan = q.fn(spark, sf0001).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"${q.name} plans a cartesian product")
      if (!allowedBnlj(q.name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"${q.name} plans an accidental nested-loop join")
    }
  }

  test("every window in every registered query is partitioned (one allowed exception)") {
    // an unpartitioned window = ALL rows through one task. The single
    // exception is window_monthly_lag, whose input is pre-aggregated to
    // one row per calendar month (guard-commented at the definition).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.registry.flatMap { q =>
      val plan = q.fn(spark, sf0001).queryExecution.optimizedPlan
      plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => q.name
      }
    }.distinct
    // value_histogram's CDF window runs over the aggregated bin table —
    // cardinality is the bin count, not N (guard-commented at the
    // definition), so a single task is the correct shape.
    // recursive_quarterly_ema's row_number orders the pre-aggregated
    // quarter table (~27 rows at any sf — guard-commented at the
    // definition), the same bounded-aggregate class as monthly_lag.
    // hybrid_search_rrf ranks each leg's ≤20-row top-k output — the
    // same bounded-by-construction class as value_histogram's bins.
    // md5_global_rank (and negative_samples, which embeds it) windows
    // only the 256-row bucket-count aggregate for the offset cumsum;
    // the corpus itself ranks under PARTITIONED per-bucket windows.
    // sequence_packing uses the identical 256-row bucket-total cumsum
    // for its global token offsets (per-doc running sums are
    // partitioned per bucket).
    // search_eval_ndcg ranks the BM25 leg's ≤20-row top-k output —
    // the same bounded-by-construction class as hybrid_search_rrf.
    // (zipf_alpha de-allowlisted in round 11: its vocabulary ranking
    // now runs under the zipfRanks three-level partitioned
    // decomposition — no unpartitioned window anywhere in its plan.)
    // benford_value_audit's total-mass window runs over the ≤9-row
    // leading-digit aggregate — the value_histogram bin-table class
    // (guard-commented at the definition).
    // mmr_rerank ranks the BM25 top-20 candidate set — the
    // hybrid_search_rrf bounded-by-construction class.
    val allowedGlobal = Set("window_monthly_lag", "value_histogram",
      "cumulative_users", "recursive_quarterly_ema", "hybrid_search_rrf",
      "md5_global_rank", "negative_samples", "search_eval_ndcg",
      // survival_km's risk-set/lnS windows run over the calendar-
      // bounded per-day table (guard-commented at the definition)
      // markov_stationary's init/renormalize windows run over the
      // |event-type|-bounded state table (guard-commented there)
      "sequence_packing", "benford_value_audit", "mmr_rerank",
      "survival_km", "markov_stationary",
      // chi2's marginal/total windows run over the |langs|x|sources|-
      // bounded cell table; mannwhitney's running-rank cumulative runs
      // over the <= 599,001-row milli-value cell table (bounded and
      // assert_true-guarded by Tables.MaxEventValue; guard comments
      // at both definitions)
      "chi2_lang_source", "mannwhitney_value",
      // autocorr/cusum: index/cumulative/total windows run over the
      // calendar-bounded daily table, never events (guard-commented)
      "autocorr_daily", "cusum_daily",
      // rfm's three rank windows run over the customer DIMENSION
      // (honest-exact-quantile class, guard-commented at the def)
      "rfm_segments",
      // nelson_aalen shares survival_km's calendar-bounded day-table
      // windows; vocab_growth's cumulative runs over the 10-row grid
      "nelson_aalen", "vocab_growth",
      // logrank_conversion's risk-set cumulatives run over the same
      // calendar-bounded per-variant day table (guard-commented)
      "logrank_conversion",
      // heaps_exponent's cumulatives run over the dense 10-row decile
      // grid (the vocab_growth bounded class)
      "heaps_exponent",
      // lorenz's rank window runs over the customer DIMENSION (the
      // rfm_segments honest-exact-quantile class); its cumulative
      // runs over the 10-row decile table
      "lorenz_deciles",
      // page_hinkley shares cusum_daily's calendar-bounded daily-table
      // windows (cumulative + running min + total)
      "page_hinkley",
      // stratified_neyman's Hamilton-remainder rank runs over the
      // |langs|x|sources|-bounded strata table (guard-commented at the
      // definition); the realization window is partitioned per stratum
      "stratified_neyman",
      // auc_langid's running-rank cumulative runs over the micro-ratio
      // score grid — bounded to <= 1e6+1 cells BY CONSTRUCTION
      // (score = (1e6·hits) div tokens, hits <= tokens; guard comment
      // at the definition — the mannwhitney class)
      "auc_langid",
      // score_lift_deciles' mass/total cumulatives run over the same
      // bounded score grid; its gains cumulative over the <= 10-row
      // decile table (guard comments at the definition)
      "score_lift_deciles",
      // equidepth_histogram's quartile cumulatives run over the
      // l_extendedprice VALUE-CELL table — bounded by the 2-decimal
      // cents domain of the column (the spearman/mannwhitney bounded-
      // grid class; guard comment at Relational.cellPercentiles, the
      // r14 rewrite that replaced the percentile map's single-task
      // merge); winsorized_stats shares the same extendedprice cell
      // table; iqr_outliers' cell table is the 2-decimal
      // Tables.MaxEventValue-bounded events.value domain (≤ ~60k cells)
      "equidepth_histogram", "winsorized_stats", "iqr_outliers")
    assert(offenders.forall(allowedGlobal),
      s"unpartitioned windows outside the allowed exceptions: $offenders")
  }

  test("spearman derives its ranks from cell tables — no window ever sees corpus rows") {
    // r13 verdict item 1: the old plan ranked corpus rows under a
    // 3-value partition key (one task sorts ~n/3 rows at 100 TB). The
    // rewrite computes per-cell double-ranks 2F+c+1 as RANGE-frame
    // windows DIRECTLY over the bounded joint (flag, q, cents) cell
    // table — the corpus aggregate itself — so EVERY window in the
    // plan must sit above an Aggregate (cell-table input), never a
    // bare scan; and no rank()/row_number() (the per-row rank path,
    // IntegerType-capped at 2^31/group) may survive anywhere.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = operators.Stats.spearmanQuantityPrice(
      Tables.lineitem(spark, sf0001)).queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "expected the joint-cell-table rank windows")
    windows.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
        s"a spearman window runs over un-aggregated rows:\n$w")
    }
    val planStr = plan.toString
    assert(!planStr.contains("rank(") && !planStr.contains("row_number("),
      s"spearman must not use a per-row rank:\n$planStr")
  }

  test("spread kill-switch leaves the scan plan untouched") {
    // spark.graft.spread.enabled=false is the cluster deployment mode:
    // the single-row-group spreader (a toy-environment repair) must
    // inject NOTHING — the table loads as the bare parquet scan.
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation
    spark.conf.set("spark.graft.spread.enabled", "false")
    try {
      val plans = Seq(
        Tables.lineitem(spark, sf0001), Tables.orders(spark, sf0001),
        Tables.events(spark, sf0001), Tables.documents(spark, sf0001),
        Tables.embeddings(spark, sf0001)).map(_.queryExecution.optimizedPlan)
      val injected = plans.flatMap(_.collect { case r: RepartitionOperation => r })
      assert(injected.isEmpty, s"spreader ran with the flag off: $injected")
    } finally spark.conf.set("spark.graft.spread.enabled", "true")
  }

  test("substring-span dedup aggregates map-side and never rank()s over the window text") {
    // the window-occurrence count must partially aggregate (a viral
    // boilerplate window contributes one row per map task to the
    // shuffle, not its occurrence list) — both the find and the clean
    // step
    for (df <- Seq(TextAnalysis.substringDedup(docs),
        TextAnalysis.substringDedupClean(docs))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("partial_count") || plan.contains("partial count"),
        s"window counts must map-side combine:\n$plan")
    }
    // the canonical-site choice in clean is an aggregate min(struct),
    // never a row_number window partitioned by the window TEXT (which
    // has no partial aggregation and ships a viral window's full
    // occurrence list to one reducer)
    val cleanPlan = TextAnalysis.substringDedupClean(docs)
      .queryExecution.optimizedPlan.toString
    assert(!cleanPlan.contains("windowspecdefinition(g"),
      s"canonical site must not be a window over the gram text:\n$cleanPlan")
  }

  test("language classifier dedups doc grams row-locally, not with a corpus shuffle") {
    // per-doc distinct trigrams come from array_distinct before the
    // explode; the old .distinct() formulation re-shuffled the whole
    // corpus-sized gram stream on (doc_id, lang, g) just to dedup
    // within each doc
    val plan = TextAnalysis.charNgramLangConfusion(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.matches("(?s).*hashpartitioning\\(doc_id#\\d+L?, lang#.*"),
      s"doc-gram dedup must not exchange on (doc_id, lang, g):\n$plan")
    assert(plan.contains("array_distinct"),
      s"expected row-local array_distinct in:\n$plan")
  }
}
