package graft.flagship

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Flagship.Ctx
import graft.operators.{Dedup, Materialize, Search, SimJoin, Tokenizer, WordCount}

/** The near-dup family at ~1 GB, on one seeded corpus.
  *
  * Corpus design (all pure Catalyst expressions — the generator is a
  * distributed job, words from [[WordCount1G.zipfWord]]):
  *  - `nBase` base docs of `WordsPerDoc` words;
  *  - `nDup` seeded duplicates: dup j copies base doc src(j) = j·9
  *    (distinct sources, so no two seeded dups share a source and the
  *    planted truth stays a simple pair list) with per-position word
  *    mutations. Even j: 1-in-25 words mutated (word-3-gram jaccard
  *    ≈ 0.75 — ABOVE the 0.7 operator threshold, should be found);
  *    odd j: 1-in-3 words mutated (jaccard ≈ 0.1 — far below, must
  *    NOT be found). Both the recall target and the rejection set are
  *    planted.
  *  - Ground truth is refined exactly ([[plantedJaccard]]): the planted
  *    pairs' true set-jaccard, with the operator's tokenizer, gram and
  *    set semantics; truth = planted pairs with jaccard ≥ threshold.
  *
  * Usage: scripts/run.sh graft.Flagship {dedup|simjoin|bpe|band_lifecycle}
  *   [n=…] [work=…]
  *
  *  - `dedup`: capped band index → LSH candidate pairs → exact-jaccard
  *    verify → connected components → canonical keeper selection, with
  *    recall/precision against the planted truth. Banded LSH (4 bands ×
  *    2 rows) catches a j=0.75 pair with prob 1−(1−j²)⁴ ≈ 0.96, so
  *    recall ≈ 0.96 by design — reported, not asserted. DEDUP_1GB.md.
  *  - `simjoin`: the AllPairs/PPJoin EXACT jaccard join enumerates the
  *    COMPLETE pair set at τ = 0.7, so LSH recall is measured against
  *    every true pair, and the exact join is cross-checked two ways: it
  *    must contain every refined planted pair (missing_planted = 0) and
  *    every LSH-verified pair (lsh_outside_exact = 0 by construction —
  *    both verify with the same exact jaccard). A 50k zipf vocabulary
  *    makes most word 3-grams globally rare: the realistic case for
  *    AllPairs (sf0.1's 40-word vocabulary is the near-adversarial
  *    one). SSJOIN_1GB.md.
  *  - `bpe`: the BPE trainer; the only corpus-sized cost is the initial
  *    word count, the ten merge rounds run over the word-TYPE table
  *    (the corpus's vocabulary, not its token count), and the encode is
  *    a map-side broadcast lookup. BPE_1GB.md.
  *  - `band_lifecycle`: the band index driven through the LSM lifecycle
  *    `compaction` proves for postings (base ~82%, 6 deltas of 3%, a
  *    tombstone batch riding generation 3, the 20% size-tiered trigger
  *    on band ROW counts), with three parity gates: the newest delta's
  *    probe over the stack equals the probe over the compacted base; the
  *    compacted table equals [[Dedup.cappedBands]] rebuilt from the live
  *    corpus EXACTLY ([[Dedup.serveBandsLsm]] re-derives the cap over
  *    surviving rows); |folded raw| = |base raw| − |tombstoned base raw|
  *    + Σ|delta raw|. DEDUP_1GB.md.
  */
object NearDup {

  val WordsPerDoc = 400 // 2 KB/doc (5 B/word) → 500k docs = 1.0 GB of text
  val DupEvery = 10     // 1 dup per 9 base docs (10% of corpus is dups)
  val Threshold = 0.7

  private def genCorpus(spark: SparkSession, dir: String, nDocs: Long): Unit = {
    val nDup = nDocs / DupEvery
    val nBase = nDocs - nDup
    // one row per (doc, position); base docs draw from stream
    // (src_doc, pos); dups draw from their SOURCE doc's stream except
    // at mutated positions, which draw from an independent stream
    val rows = spark.range(nDocs)
      .select(col("id").as("doc_id"),
        explode(sequence(lit(0), lit(WordsPerDoc - 1))).as("pos"))
    val isDup = col("doc_id") >= nBase
    val j = col("doc_id") - nBase
    val src = when(isDup, j * 9L).otherwise(col("doc_id"))
    // mutation gate: even dup → 1/25 positions, odd dup → 1/3
    val mutEvery = when(pmod(j, lit(2)) === 0, lit(25L)).otherwise(lit(3L))
    val mutated = isDup &&
      pmod(xxhash64(col("doc_id"), col("pos"), lit(7)), mutEvery) === 0
    val w = when(mutated, WordCount1G.zipfWord(xxhash64(struct(col("doc_id"), col("pos"), lit(13)))))
      .otherwise(WordCount1G.zipfWord(xxhash64(struct(src.as("s"), col("pos"), lit(42)))))
    writeDocs(rows.select(col("doc_id"), col("pos"), w.as("w")), dir)
  }

  /** (doc_id, pos, w) word rows → (doc_id, text, n_chars) parquet, the
    * words of a doc joined in position order. */
  private[flagship] def writeDocs(words: DataFrame, dir: String): Unit =
    words.groupBy("doc_id")
      // deterministic order: collect under an array_sort on position
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
        x => x.getField("w")), " ").as("text"))
      .select(col("doc_id"), col("text"), length(col("text")).as("n_chars"))
      .repartition(64)
      .write.mode("overwrite").parquet(dir)

  /** The `n`-doc corpus of generator `name`, generated once per work dir
    * and size, with its measured doc count and text bytes. */
  private[flagship] def corpus(c: Ctx, name: String = "dedup_corpus",
      gen: (SparkSession, String, Long) => Unit = genCorpus): (DataFrame, Long, Long) = {
    val dir = c.cached(name, c.long("n"))(d => c.stage("gen")(gen(c.spark, d, c.long("n"))))
    val docs = c.spark.read.parquet(dir)
    val r = docs.agg(count(lit(1)), sum("n_chars")).head()
    (docs, r.getLong(0), r.getLong(1))
  }

  /** Planted (doc_a, doc_b) pairs with their design class and their
    * exact word-3-gram set jaccard. */
  private def plantedJaccard(spark: SparkSession, docs: DataFrame, nDocs: Long): DataFrame = {
    val nDup = nDocs / DupEvery
    val p = spark.range(nDup)
      .select((col("id") * 9L).as("doc_a"), (col("id") + nDocs - nDup).as("doc_b"),
        (pmod(col("id"), lit(2)) === 0).as("designed_close"))
    val ids = p.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val sets = Dedup.shingleSets(Dedup.wordGrams(docs.join(ids, Seq("doc_id"), "left_semi")))
    p.join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("designed_close"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_distinct(concat(col("sha"), col("shb")))).cast("double")).as("jac"))
  }

  /** The production band index: one xxhash64 + 8 affine permutations per
    * gram (Dedup.fastBandTable; the md5 variant measured 47.6 s vs
    * 28.0 s at 1 GB, DEDUP_1GB.md). */
  private def fastBands(docs: DataFrame): DataFrame =
    Dedup.cappedBands(Dedup.wordGrams(docs), Dedup.MaxBandBucket, table = Dedup.fastBandTable)

  private def lshPairs(docs: DataFrame, bands: DataFrame): DataFrame =
    Dedup.nearDupPairsFromBands(docs, bands, Dedup.wordGrams, Threshold).localCheckpoint()

  private def pairKeys(df: DataFrame) = df.select("doc_a", "doc_b")
  private def semi(a: DataFrame, b: DataFrame) = a.join(pairKeys(b), Seq("doc_a", "doc_b"), "left_semi")
  private def anti(a: DataFrame, b: DataFrame) = a.join(pairKeys(b), Seq("doc_a", "doc_b"), "left_anti")

  def dedup(c: Ctx): Seq[(String, Any)] = {
    val (docs, nDocs, bytes) = corpus(c)
    // each stage materialized so the timings attribute to the right operator
    val bands = c.stage("band_index")(fastBands(docs))
    val pairs = c.stage("pairs")(lshPairs(docs, bands))
    val nPairs = pairs.count()
    val clusters = c.stage("clusters")(Dedup.nearDupClusters(pairs).localCheckpoint())
    val nClustered = clusters.count()
    val canon = c.stage("canonical")(Dedup.canonicalDocs(docs, clusters).localCheckpoint())
    val nClusters = canon.count()
    val nDropped = canon.agg(sum("n_dropped")).head().getLong(0)

    val (nTruth, hit, extra, farFound) = c.stage("truth") {
      val withJac = plantedJaccard(c.spark, docs, nDocs)
      val truth = pairKeys(withJac.filter(col("jac") >= Threshold)).localCheckpoint()
      (truth.count(), semi(truth, pairs).count(), anti(pairs, truth).count(),
        semi(pairs, withJac.filter(!col("designed_close"))).count())
    }
    Seq("docs" -> nDocs, "bytes" -> bytes, "pairs" -> nPairs, "truth_pairs" -> nTruth,
      "recall" -> hit.toDouble / math.max(1L, nTruth),
      "precision_vs_planted" -> hit.toDouble / math.max(1L, nPairs),
      "extra_pairs" -> extra, "far_planted_found" -> farFound,
      "clustered_docs" -> nClustered, "clusters" -> nClusters, "dropped_docs" -> nDropped,
      "index_sec" -> c.wall("band_index"), "pairs_sec" -> c.wall("pairs"),
      "clusters_sec" -> c.wall("clusters"), "canonical_sec" -> c.wall("canonical"),
      "truth_sec" -> c.wall("truth"))
  }

  def simJoin(c: Ctx): Seq[(String, Any)] = {
    val (docs, nDocs, bytes) = corpus(c)
    // exact path: canonical-order gram index → prefix join → verify
    val index = c.stage("gram_index")(SimJoin.rankedGramIndex(docs, Dedup.wordGrams).localCheckpoint())
    val exact = c.stage("exact_join")(SimJoin.jaccardJoinFromIndex(index, 7, 10).localCheckpoint())
    val nExact = exact.count()
    // LSH path on the SAME corpus
    val bands = c.stage("lsh_index")(fastBands(docs))
    val lsh = c.stage("lsh_pairs")(lshPairs(docs, bands))
    val nLsh = lsh.count()
    val lshHit = semi(lsh, exact).count()
    // completeness cross-check vs refined planted truth
    val missingPlanted = c.stage("truth_check") {
      anti(plantedJaccard(c.spark, docs, nDocs).filter(col("jac") >= Threshold), exact).count()
    }
    val exactSec = c.wall("gram_index") + c.wall("exact_join")
    val lshSec = c.wall("lsh_index") + c.wall("lsh_pairs")
    Seq("docs" -> nDocs, "bytes" -> bytes, "exact_pairs" -> nExact, "lsh_pairs" -> nLsh,
      "lsh_recall_vs_exact" -> lshHit.toDouble / math.max(1L, nExact),
      // approximate ⊆ exact must hold by construction (same verify)
      "lsh_outside_exact" -> anti(lsh, exact).count(), "missing_planted" -> missingPlanted,
      "exact_index_sec" -> c.wall("gram_index"), "exact_join_sec" -> c.wall("exact_join"),
      "exact_total_sec" -> exactSec, "lsh_total_sec" -> lshSec,
      "exact_vs_lsh_cost" -> exactSec / math.max(0.1, lshSec), "truth_sec" -> c.wall("truth_check"))
  }

  def bpe(c: Ctx): Seq[(String, Any)] = {
    val (docs, nDocs, bytes) = corpus(c)
    val words = c.stage("word_count") {
      val w = Materialize.stage(Tokenizer.initWords(docs))
      w.count() // the stage is eager, but pin the row count for the report
      w
    }
    val nTypes = words.count()
    val nTokens = words.agg(sum("freq")).head().getLong(0)
    val st = c.stage("merge_loop") {
      val s = Tokenizer.learnBpeFrom(words, Tokenizer.Rounds)
      s.merges.count() // force the last round's argmax
      s
    }
    val merges = st.merges.orderBy("rank").collect()
      .map(r => s"${r.getString(2).stripPrefix("(").stripSuffix(")")}:${r.getLong(3)}")
    val encoded = c.stage("encode") {
      val counts = st.vocab.select(col("word"),
        size(regexp_extract_all(col("sym"), lit("\\([^)]*\\)"), lit(0))).cast("long").as("n_sym"))
      docs.select(col("doc_id"), explode(WordCount.tokenArray(col("text"))).as("word"))
        .join(broadcast(counts), "word")
        .agg(sum(col("n_sym")).as("n_symbols"), count(lit(1)).as("n_toks"))
        .head()
    }
    Seq("n_docs" -> nDocs, "bytes" -> bytes, "n_tokens" -> nTokens,
      "n_word_types" -> nTypes, "rounds" -> Tokenizer.Rounds,
      "word_count_sec" -> c.wall("word_count"), "merge_loop_sec" -> c.wall("merge_loop"),
      "encode_sec" -> c.wall("encode"), "n_symbols" -> encoded.getLong(0),
      "merges" -> merges.mkString(","))
  }

  def bandLifecycle(c: Ctx): Seq[(String, Any)] = {
    val (spark, work) = (c.spark, c.str("work"))
    val (docs, nDocs, bytes) = corpus(c)
    // generation bounds: base ~82%, 6 deltas of 3%
    val dSize = math.floor(nDocs * 0.03).toLong
    val nBase = nDocs - 6 * dSize
    def bounds(g: Int) = if (g == 0) (0L, nBase) else (nBase + (g - 1) * dSize, nBase + g * dSize)
    // raw (uncapped) band tables per generation, durable — the
    // maintained index files; each delta build is |Δ|-sized work
    val rawDirs = (0 to 6).map(g => c.cached("band_raw", nDocs, g) { dir =>
      val (lo, hi) = bounds(g)
      c.stage(s"build_raw_g$g")(Dedup.fastBandTable(Dedup.wordGrams(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi))).write.parquet(dir))
    })
    def raw(g: Int) = spark.read.parquet(rawDirs(g))

    val tombs = docs.filter(col("doc_id") < nBase && col("doc_id") % 97 === 3)
      .select("doc_id").localCheckpoint()
    val live = docs.join(tombs, Seq("doc_id"), "left_anti")
    def gens(g: Int): Seq[Search.Generation] =
      Search.Generation(raw(0)) +: (1 to g).map(i =>
        Search.Generation(raw(i), if (i == 3) Some(tombs) else None))
    def probe(liveG: DataFrame, bands: DataFrame, g: Int) =
      Dedup.nearDupPairsIncrementalFromBands(liveG, bands, Dedup.wordGrams, bounds(g)._1, Threshold)
        .select(col("doc_a"), col("doc_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // probe-vs-generation-count curve + the compaction trigger
    val baseRows = raw(0).count()
    val deltaRows = (1 to 6).map(raw(_).count())
    val probes = (1 to 6).map { g =>
      // the verify doc set must match the index's LSM state AT THIS
      // GENERATION: the tombstone batch rides generation 3, so for
      // g < 3 the served index still contains (and can pair) the
      // to-be-deleted base docs
      val liveG = (if (g >= 3) live else docs).filter(col("doc_id") < bounds(g)._2)
      // staged like the registry twin: the candidate self-join and the
      // recap's two consumers would otherwise re-run the fold up to 4×
      c.stage(s"probe_g$g")(probe(liveG, Materialize.stage(Dedup.serveBandsLsm(gens(g))), g))
    }
    val firedAt = (1 to 6).find(g => Search.compactionDue(baseRows, deltaRows.take(g).sum)).getOrElse(-1)
    require(firedAt == 6,
      s"20% trigger expected at generation 6 (3%×6 = 18%→22% of 82%), fired at $firedAt")

    // compact: write the served view as the new base
    c.stage("compact")(Dedup.serveBandsLsm(gens(6)).write.mode("overwrite").parquet(s"$work/base_epoch2"))
    val compacted = spark.read.parquet(s"$work/base_epoch2")
    // gate 1: stack-vs-compacted probe parity
    val probeCompacted = probe(live, compacted, 6)
    require(probeCompacted == probes.last,
      s"stack-vs-compacted probe mismatch: ${probeCompacted.size} vs ${probes.last.size}")
    // gate 2: rebuild parity (EXACT — compacted-epoch cap), compared by
    // an order-invariant digest: XOR of per-row hashes + row count
    val rebuild = c.stage("rebuild_parity")(fastBands(live).localCheckpoint())
    def bandSet(df: DataFrame) = df.agg(expr("bit_xor(xxhash64(doc_id, band))"), count(lit(1))).head()
    require(bandSet(compacted) == bandSet(rebuild),
      s"rebuild parity failed: compacted ${bandSet(compacted)} vs rebuild ${bandSet(rebuild)}")
    // gate 3: physical-removal arithmetic on the pre-cap fold
    val folded = Search.servePostingsLsm(gens(6)).count()
    val tombedBaseRows = raw(0).join(tombs, Seq("doc_id"), "left_semi").count()
    require(folded == baseRows - tombedBaseRows + deltaRows.sum,
      s"fold arithmetic: $folded != $baseRows - $tombedBaseRows + ${deltaRows.sum}")

    Seq("n_docs" -> nDocs, "bytes" -> bytes, "base_rows" -> baseRows,
      "delta_rows" -> deltaRows.sum, "tombstones" -> tombs.count(), "fired_at_gen" -> firedAt,
      "compact_sec" -> c.wall("compact"), "rebuild_sec" -> c.wall("rebuild_parity"),
      "probe_pairs" -> probes.last.size, "parity" -> true)
  }
}
