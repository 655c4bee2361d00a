package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Dedup flagship at ~1 GB: the full near-dup pipeline — capped band
  * index → LSH candidate pairs → exact-jaccard verify → connected
  * components → canonical keeper selection — on a ~500k-document
  * synthetic corpus with SEEDED near-duplicates, so recall/precision
  * are measurable against planted ground truth instead of assumed.
  * This is the first empirical test of the capped-LSH design beyond
  * sf0.1 (the registry's correctness scale): per-stage wall time +
  * retrieval quality at three orders of magnitude more gram volume.
  *
  * Corpus design (all pure Catalyst expressions — the generator is a
  * distributed job, same pattern as [[Flagship1G.genCorpus]]):
  *  - `nBase` base docs of `wordsPerDoc` zipf-ish words (xxhash64-
  *    derived, deterministic);
  *  - `nDup` seeded duplicates: dup j copies base doc src(j) = j·9
  *    (distinct sources, so no two seeded dups share a source and the
  *    planted truth stays a simple pair list) with per-position word
  *    mutations. Even j: 1-in-25 words mutated (word-3-gram jaccard
  *    ≈ 0.75 — ABOVE the 0.7 operator threshold, should be found);
  *    odd j: 1-in-3 words mutated (jaccard ≈ 0.1 — far below, must
  *    NOT be found). Both the recall target and the rejection set are
  *    planted.
  *  - Ground truth is refined exactly: the planted pairs' true set-
  *    jaccard is computed directly (same tokenizer, gram, and set
  *    semantics as the operator), and truth = planted pairs with
  *    jaccard ≥ threshold. Recall/precision are then exact set
  *    comparisons, not probabilistic claims.
  *
  * Expected quality: banded LSH (4 bands × 2 rows) catches a j=0.75
  * pair with prob 1−(1−j²)⁴ ≈ 0.96, so recall ≈ 0.96 by design —
  * reported, not asserted, because the POINT of the artifact is the
  * measured number. Precision vs planted truth is ~1.0 by
  * construction (every reported pair is exact-jaccard-verified ≥
  * threshold; non-planted verified pairs are genuine random
  * collisions and reported separately).
  *
  * Results + config recorded in DEDUP_1GB.md. Usage:
  *   scripts/run.sh graft.DedupFlagship [nDocs] [workDir]
  */
object DedupFlagship {

  val WordsPerDoc = 400 // 2 KB/doc (5 B/word) → 500k docs = 1.0 GB of text
  val DupEvery = 10     // 1 dup per 9 base docs (10% of corpus is dups)
  val Threshold = 0.7

  /** Zipf-ish 4-letter word for a (stream, draw) pair — the
    * [[Flagship1G]] generator's word scheme, parameterized by a salt so
    * mutated draws come from an independent stream. */
  private def word(vocab: Long, seed: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val u = pmod(xxhash64(seed), lit(Long.MaxValue)).cast("double") /
      lit(Long.MaxValue.toDouble)
    val r = floor(pow(lit(vocab.toDouble), u)).cast("long") + lit(17576L)
    // base-26 letters of r: injective for ranks < 26^4 − 26^3
    def letter(div: Long) = chr(lit(97) + pmod((r / div).cast("long"), lit(26)))
    concat(letter(1), letter(26), letter(676), letter(17576))
  }

  /** Generate the corpus parquet: (doc_id, text, n_chars, seeded
    * columns for truth derivation are NOT written — truth is derived
    * from ids alone, deterministically). */
  private[graft] def genCorpus(spark: SparkSession, dir: String, nDocs: Long): Unit = {
    val vocab = 50000L
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
    val w = when(mutated, word(vocab, struct(col("doc_id"), col("pos"), lit(13))))
      .otherwise(word(vocab, struct(src.as("s"), col("pos"), lit(42))))
    rows.select(col("doc_id"), col("pos"), w.as("w"))
      .groupBy("doc_id")
      // deterministic order: collect under an array_sort on position
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
        x => x.getField("w")), " ").as("text"))
      .select(col("doc_id"), col("text"), length(col("text")).as("n_chars"))
      .repartition(64)
      .write.mode("overwrite").parquet(dir)
  }

  /** Planted (doc_a, doc_b) pairs with their design class. */
  private[graft] def planted(spark: SparkSession, nDocs: Long): DataFrame = {
    val nDup = nDocs / DupEvery
    val nBase = nDocs - nDup
    spark.range(nDup)
      .select((col("id") * 9L).as("doc_a"), (col("id") + nBase).as("doc_b"),
        (pmod(col("id"), lit(2)) === 0).as("designed_close"))
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val work = if (args.length > 1) args(1) else "/tmp/graft_dedup1g"
    val spark = Session.build("graft-dedup-flagship")

    // ---- untimed setup
    val corpusDir = s"$work/corpus"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$corpusDir/_SUCCESS"))) {
      val t0 = System.nanoTime()
      genCorpus(spark, corpusDir, nDocs)
      println(f"setup: corpus generated in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val docs = spark.read.parquet(corpusDir)
    val bytes = docs.agg(sum("n_chars")).head().getLong(0)

    def timed[T](name: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"stage $name%-12s $dt%8.1f s")
      (r, dt)
    }

    // ---- timed pipeline, stage by stage (each stage materialized so
    // the timings attribute to the right operator)
    // production-hash band index (one xxhash64 + 8 affine permutations
    // per gram vs the oracle path's two md5 digests — Dedup.fastBandTable
    // scaladoc; GRAFT_MD5_BANDS=true re-runs the md5 variant for the
    // before/after comparison recorded in DEDUP_1GB.md)
    val useMd5 = sys.env.getOrElse("GRAFT_MD5_BANDS", "false").toBoolean
    val (bands, tIndex) = timed("band_index") {
      if (useMd5) Dedup.cappedBands(Dedup.wordGrams(docs), Dedup.MaxBandBucket)
      else Dedup.cappedBands(Dedup.wordGrams(docs), Dedup.MaxBandBucket,
        table = Dedup.fastBandTable)
    }
    val (pairs, tPairs) = timed("pairs") {
      Dedup.nearDupPairsFromBands(docs, bands, Dedup.wordGrams, Threshold)
        .localCheckpoint()
    }
    val nPairs = pairs.count()
    val (clusters, tClusters) = timed("clusters") {
      Dedup.nearDupClusters(pairs).localCheckpoint()
    }
    val nClustered = clusters.count()
    val (canon, tCanon) = timed("canonical") {
      Dedup.canonicalDocs(docs, clusters).localCheckpoint()
    }
    val nClusters = canon.count()
    val nDropped = canon.agg(sum("n_dropped")).head().getLong(0)

    // ---- ground truth: planted pairs refined by their EXACT gram-set
    // jaccard (same tokenizer/gram/set semantics as the operator)
    val (truthAgg, tTruth) = timed("truth") {
      val p = planted(spark, nDocs)
      val ids = p.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
      val sets = Dedup.shingleSets(
        Dedup.wordGrams(docs.join(ids, Seq("doc_id"), "left_semi")))
      val withJac = p
        .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("designed_close"),
          (size(array_intersect(col("sha"), col("shb"))).cast("double") /
            size(array_distinct(concat(col("sha"), col("shb")))).cast("double"))
            .as("jac"))
      val truth = withJac.filter(col("jac") >= Threshold)
        .select("doc_a", "doc_b").localCheckpoint()
      val found = pairs.select("doc_a", "doc_b")
      val hit = truth.join(found, Seq("doc_a", "doc_b"), "left_semi").count()
      val extra = found.join(truth, Seq("doc_a", "doc_b"), "left_anti").count()
      Map("truth" -> truth.count(), "hit" -> hit, "extra" -> extra,
        "planted_close" -> withJac.filter(col("designed_close")).count(),
        "planted_far_found" -> found
          .join(withJac.filter(!col("designed_close")).select("doc_a", "doc_b"),
            Seq("doc_a", "doc_b"), "left_semi").count())
    }
    val recall = truthAgg("hit").toDouble / math.max(1L, truthAgg("truth"))
    val precisionVsPlanted = truthAgg("hit").toDouble / math.max(1L, nPairs)
    println(f"""{"metric":"dedup_1gb","docs":$nDocs,"bytes":$bytes,"pairs":$nPairs,"truth_pairs":${truthAgg("truth")},"recall":$recall%.4f,"precision_vs_planted":$precisionVsPlanted%.4f,"extra_pairs":${truthAgg("extra")},"far_planted_found":${truthAgg("planted_far_found")},"clustered_docs":$nClustered,"clusters":$nClusters,"dropped_docs":$nDropped,"index_sec":${f"$tIndex%.1f"},"pairs_sec":${f"$tPairs%.1f"},"clusters_sec":${f"$tClusters%.1f"},"canonical_sec":${f"$tCanon%.1f"},"truth_sec":${f"$tTruth%.1f"},"cpus":${Session.cpus}}""")
    spark.stop()
  }
}
