package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, SimJoin}

/** Exact-similarity-join flagship at ~1 GB: run the AllPairs/PPJoin
  * EXACT jaccard join ([[graft.operators.SimJoin]]) over the same
  * ~500k-document seeded corpus as [[DedupFlagship]], and use its
  * output — the COMPLETE pair set at τ = 0.7, a certificate no sampled
  * or planted truth can provide — to measure the banded-LSH operator's
  * true recall over the whole corpus.
  *
  * Why this artifact matters: DEDUP_1GB.md measures LSH recall against
  * PLANTED pairs only — pairs the generator knows about. The exact join
  * turns the question around: it enumerates every pair the corpus
  * actually contains (including generator accidents), so
  *  - LSH recall is measured against ALL true pairs, and
  *  - the exact join's own completeness is cross-checked two ways:
  *    it must contain every refined planted pair (missing = 0), and
  *    every LSH-verified pair (lsh_outside = 0; both operators verify
  *    with the same exact-jaccard semantics, so LSH ⊆ exact must hold
  *    BY CONSTRUCTION — a nonzero value is a bug, not noise).
  *
  * Scale note: this corpus is the REALISTIC case for AllPairs — a 50k
  * zipf vocabulary makes most word 3-grams globally rare, so the
  * df-ascending prefixes are dominated by df≈1 grams and the candidate
  * self-join stays within a small factor of the true pair set. (The
  * sf0.1 registry fixture, with its 40-word vocabulary, is the
  * near-adversarial case — both are reported.) Usage:
  *   scripts/run.sh graft.SimJoinFlagship [nDocs] [workDir]
  * Reuses [[DedupFlagship]]'s corpus parquet when present.
  */
object SimJoinFlagship {

  val Threshold = (7, 10) // τ = 0.7, the published near-dup threshold

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val work = if (args.length > 1) args(1) else "/tmp/graft_dedup1g"
    val spark = Session.build("graft-simjoin-flagship")

    val corpusDir = s"$work/corpus"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$corpusDir/_SUCCESS"))) {
      val t0 = System.nanoTime()
      DedupFlagship.genCorpus(spark, corpusDir, nDocs)
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

    // ---- exact path: canonical-order gram index → prefix join → verify
    val (index, tIndex) = timed("gram_index") {
      SimJoin.rankedGramIndex(docs, Dedup.wordGrams).localCheckpoint()
    }
    val (exact, tExact) = timed("exact_join") {
      SimJoin.jaccardJoinFromIndex(index, Threshold._1, Threshold._2)
        .localCheckpoint()
    }
    val nExact = exact.count()

    // ---- LSH path on the SAME corpus (production xxhash64 bands)
    val (bands, tLshIndex) = timed("lsh_index") {
      Dedup.cappedBands(Dedup.wordGrams(docs), Dedup.MaxBandBucket,
        table = Dedup.fastBandTable)
    }
    val (lsh, tLshPairs) = timed("lsh_pairs") {
      Dedup.nearDupPairsFromBands(docs, bands, Dedup.wordGrams, 0.7)
        .localCheckpoint()
    }
    val nLsh = lsh.count()

    // ---- recall of LSH measured against the COMPLETE exact pair set
    val exactPairs = exact.select("doc_a", "doc_b")
    val lshPairs = lsh.select("doc_a", "doc_b")
    val lshHit = lshPairs.join(exactPairs, Seq("doc_a", "doc_b"), "left_semi").count()
    // approximate ⊆ exact must hold by construction (same verify)
    val lshOutside = lshPairs.join(exactPairs, Seq("doc_a", "doc_b"), "left_anti").count()

    // ---- completeness cross-check vs refined planted truth
    val (missingPlanted, tTruth) = timed("truth_check") {
      val p = DedupFlagship.planted(spark, nDocs)
      val ids = p.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
      val sets = Dedup.shingleSets(
        Dedup.wordGrams(docs.join(ids, Seq("doc_id"), "left_semi")))
      val truth = p
        .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (size(array_intersect(col("sha"), col("shb"))).cast("double") /
            size(array_distinct(concat(col("sha"), col("shb")))).cast("double"))
            .as("jac"))
        .filter(col("jac") >= 0.7)
      truth.join(exactPairs, Seq("doc_a", "doc_b"), "left_anti").count()
    }

    val lshRecall = lshHit.toDouble / math.max(1L, nExact)
    val exactSec = tIndex + tExact
    val lshSec = tLshIndex + tLshPairs
    println(f"""{"metric":"ssjoin_1gb","docs":$nDocs,"bytes":$bytes,"exact_pairs":$nExact,"lsh_pairs":$nLsh,"lsh_recall_vs_exact":$lshRecall%.4f,"lsh_outside_exact":$lshOutside,"missing_planted":$missingPlanted,"exact_index_sec":${f"$tIndex%.1f"},"exact_join_sec":${f"$tExact%.1f"},"exact_total_sec":${f"$exactSec%.1f"},"lsh_total_sec":${f"$lshSec%.1f"},"exact_vs_lsh_cost":${f"${exactSec / math.max(0.1, lshSec)}%.2f"},"truth_sec":${f"$tTruth%.1f"},"cpus":${Session.cpus}}""")
    spark.stop()
  }
}
