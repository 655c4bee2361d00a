package graft

import graft.operators.{Pipeline, Similarity}

/** Embedding-QA flagship at ~1M vectors (r12 verdict item 6): the
  * embedding-quality family — the suite's #1 CPU entry
  * `embedding_pca_power` plus the round-12 additions
  * `random_projection_audit` / drift audits — measured at three orders
  * of magnitude above the sf0.1 correctness scale, the way
  * [[AnnFlagship]] proved the ANN family at 1M.
  *
  * What it measures:
  *  1. PCA power iteration cost per pass: `embeddingPcaPower` run at
  *     iters = 1..6 (each run is cumulative, so the marginal delta
  *     between consecutive runs is the cost of ONE corpus pass). The
  *     100 TB claim under test is that each pass is one partial-
  *     aggregated corpus scan + a 64-row shuffle — so the marginal
  *     cost must be FLAT in the pass number, not growing (an unstaged
  *     v would re-execute earlier passes and show super-linear cost).
  *  2. Orbit determinism: the iters=6 run repeated — the integer orbit
  *     must reproduce row-for-row (the property that lets the DuckDB
  *     oracle pin the registry entry exactly).
  *  3. JL projection audit at 1M: `randomProjectionAudit` distortion
  *     stats over the stride pairs — mean/min/max ratio_ppm and the
  *     within-20% share, plus its wall/CPU cost.
  *  4. Split drift at 1M: `embeddingSplitDrift` (per-split per-dim
  *     mean drift) wall/CPU.
  *  5. ks/psi event-distribution drift at 10× events (the sf1 tables):
  *     `ksDrift` / `psiDrift` wall/CPU, confirming the staged
  *     bin-count aggregate holds its one-scan shape at 10× the bench
  *     scale. Skipped with a notice when the events dir is absent.
  *
  * Corpus: the [[AnnFlagship]] generator (1,000 latent centers +
  * noise), reused across runs via _SUCCESS. Results recorded in
  * EMBEDQA_1M.md. Usage:
  *   scripts/run.sh graft.EmbedQaFlagship [nVecs] [workDir] [eventsDir]
  */
object EmbedQaFlagship {

  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val work = if (args.length > 1) args(1) else "/tmp/graft_embedqa1m"
    val eventsDir = if (args.length > 2) args(2) else "/tmp/sf1"
    val spark = Session.build("graft-embedqa-flagship")

    // stages run sequentially, so whole-app task CPU between two bus
    // drains attributes exactly
    val metrics = Metrics.install(spark)
    def timed[T](name: String)(f: => T): (T, Double, Double) = {
      val ((r, wall), m) = metrics.measure {
        val t0 = System.nanoTime()
        val r = f
        (r, (System.nanoTime() - t0) / 1e9)
      }
      println(f"stage $name%-22s wall $wall%8.1f s   cpu ${m.cpuSec}%8.1f s")
      (r, wall, m.cpuSec)
    }

    // ---- corpus (shared ANN generator; reused across runs)
    val corpusDir = s"$work/corpus_$nVecs"
    if (!new java.io.File(s"$corpusDir/_SUCCESS").exists()) {
      val t0 = System.nanoTime()
      AnnFlagship.genVectors(spark, corpusDir, nVecs, 1000)
      println(f"setup: $nVecs vectors in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    } else println(s"setup: corpus reused at $corpusDir")
    val emb = spark.read.parquet(corpusDir)

    // ---- 1. PCA per-pass cost (cumulative runs; marginal = one pass)
    val pcaRuns = (1 to 6).map { k =>
      val (rows, w, c) = timed(s"pca_iters_$k") {
        Similarity.embeddingPcaPower(emb, iters = k).collect()
      }
      (k, rows, w, c)
    }
    println("pca marginal per-pass cost (run k minus run k-1):")
    pcaRuns.sliding(2).foreach { case Seq((_, _, w1, c1), (k2, _, w2, c2)) =>
      println(f"  pass $k2: wall ${w2 - w1}%6.1f s   cpu ${c2 - c1}%6.1f s")
    }

    // ---- 2. orbit determinism at iters=6
    val (rerun, _, _) = timed("pca_iters_6_rerun") {
      Similarity.embeddingPcaPower(emb, iters = 6).collect()
    }
    val orbit6 = pcaRuns.last._2
    require(orbit6.map(_.toSeq).toSeq == rerun.map(_.toSeq).toSeq,
      "PCA integer orbit must reproduce row-for-row across runs")
    println("pca orbit determinism: OK (iters=6 rerun identical)")

    // ---- 3. JL projection audit at 1M
    val (jl, _, _) = timed("jl_audit") {
      Similarity.randomProjectionAudit(emb).collect()
    }
    jl.foreach { r =>
      println(s"  jl stride=${r.getLong(0)} n_pairs=${r.getLong(1)} " +
        s"mean_ratio_ppm=${r.getLong(2)} min=${r.getLong(3)} " +
        s"max=${r.getLong(4)} within20_permille=${r.getLong(5)}")
    }

    // ---- 4. split drift at 1M
    val (sd, _, _) = timed("split_drift") {
      Similarity.embeddingSplitDrift(emb).collect()
    }
    println(s"  split_drift rows: ${sd.length}")

    // ---- 5. ks/psi at 10x events (sf1)
    if (new java.io.File(s"$eventsDir/events.parquet").exists() ||
        new java.io.File(eventsDir, "events").exists()) {
      val ev = Tables.events(spark, eventsDir)
      val n = ev.count()
      println(s"events at $eventsDir: $n rows")
      val (ks, _, _) = timed("ks_drift_10x") { Pipeline.ksDrift(ev).collect() }
      println(s"  ks rows: ${ks.length}")
      val (psi, _, _) = timed("psi_drift_10x") { Pipeline.psiDrift(ev).collect() }
      println(s"  psi rows: ${psi.length}")
    } else println(s"events dir $eventsDir absent - ks/psi leg skipped " +
      "(generate with scripts/run.sh graft.GenSf /tmp/sf1 10)")

    spark.stop()
  }
}
