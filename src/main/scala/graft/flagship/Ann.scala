package graft.flagship

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Flagship.Ctx
import graft.Tables
import graft.operators.{Materialize, Pipeline, Similarity}

/** The similarity family at 10⁶–10⁷ vectors, three orders of magnitude
  * above sf0.1 (the correctness scale where the IVF/PQ recall claims
  * previously lived).
  *
  * Corpus: `n` 64-dim float vectors with CLUSTER STRUCTURE — `clusters`
  * latent centers (deterministic xxhash64 draws in [-1,1]) plus
  * per-vector noise at 0.25 amplitude — so "nearest neighbors" are
  * semantically meaningful (cluster mates) rather than uniform-random
  * noise where every method degenerates to chance. The default 1,000
  * centers align with the √N = 1,000 IVF cells at 1M vectors, the regime
  * where nprobe=1 already captures every true neighbor; more centers
  * than cells make clusters STRADDLE cells, the regime where multiprobe
  * is the recall lever. One generator for every scenario, so their
  * recall numbers stay comparable across scales.
  *
  * Usage: scripts/run.sh graft.Flagship {ann|ann_pq} [n=…] [work=…] [clusters=…]
  *        scripts/run.sh graft.Flagship embedqa [n=…] [work=…] [events_dir=…]
  *
  *  - `ann`: recall@10 of every approximate path against
  *    exact brute-force ground truth (64 query vectors = `vec_id < 64`,
  *    each path's own registry semantics) — [[Methods]]. ANN_1M.md.
  *  - `ann_pq`: PQ's memory regime at 10M vectors — only
  *    the contested paths ([[PqMethods]]), plus the on-disk bytes of
  *    each durable index structure. At equal candidate generation the
  *    PQ path scans the codes table (~9 B/vec) vs the int8 path's
  *    quantized corpus (~70 B/vec). Run it twice with the same
  *    `GRAFT_INDEX_DIR`: the first run pays the builds, a rerun in a
  *    fresh JVM measures pure serve cost. ANN_1M.md (10M section).
  *  - `embedqa`: the embedding-quality family —
  *    `embeddingPcaPower` at iters = 1..6 (each run is cumulative, so
  *    the marginal delta between consecutive runs is the cost of ONE
  *    corpus pass, which must be FLAT in the pass number: each pass is
  *    one partial-aggregated corpus scan + a 64-row shuffle), the
  *    iters=6 integer orbit reproduced row-for-row (required), the
  *    `randomProjectionAudit` JL distortion stats, `embeddingSplitDrift`,
  *    and ks/psi drift over the events of `events_dir` (an sf1 dir: 10×
  *    the bench scale), skipped when it has none. EMBEDQA_1M.md.
  *
  * Wall times include each path's one-time index build on first call;
  * the record's `index_build` attributes build vs serve cost.
  */
object Ann {
  val K = 10
  val NQueries = 64

  /** The vector corpus of `n` vectors around `clusters` centers,
    * generated once per work dir and geometry. */
  private def vectors(c: Ctx, n: Long, clusters: Int): String =
    c.cached("ann_vectors", n, clusters) { dir =>
      c.stage("gen")(c.spark.range(n)
        .select(col("id").as("vec_id"), expr(
          s"""transform(sequence(1, ${Similarity.Dim}), i -> CAST(
             |  (pmod(xxhash64(id % $clusters, i, 1), 1000000) / 500000.0 - 1.0)
             |  + 0.25 * (pmod(xxhash64(id, i, 2), 1000000) / 500000.0 - 1.0)
             |AS FLOAT))""".stripMargin).as("embedding"))
        .repartition(64)
        .write.mode("overwrite").parquet(dir))
    }

  type Method = (DataFrame, Option[Long]) => DataFrame

  val Methods: Seq[(String, Method)] = Seq(
    ("lsh", (e, n) => Similarity.lshTopK(e, NQueries, K, n)),
    ("lsh_mp", (e, n) => Similarity.lshTopK(e, NQueries, K, n, radius = 1)),
    ("ivf", (e, n) => Similarity.ivfTopK(e, 8, NQueries, K, n)),
    ("ivf_mp", (e, n) => Similarity.ivfTopK(e, 8, NQueries, K, n, nprobe = 2)),
    // default = the committed operating point (refine=16 since round 9);
    // the sweep brackets it with the old r8 point, the nprobe=2
    // insurance, and the r32 headroom row
    ("ivfpq", (e, n) => Similarity.ivfPqTopK(e, 8, NQueries, K, corpusCount = n)),
    ("ivfpq_r8", (e, n) => Similarity.ivfPqTopK(e, 8, NQueries, K, corpusCount = n, refine = 8)),
    ("ivfpq_p2", (e, n) => Similarity.ivfPqTopK(e, 8, NQueries, K, corpusCount = n, nprobe = 2)),
    ("ivfpq_r32", (e, n) => Similarity.ivfPqTopK(e, 8, NQueries, K, corpusCount = n, refine = 32)),
    // deep-probe rows: the straddle-regime repair path (nprobe recovers
    // cross-cell candidates, refine re-ranks them exactly)
    ("ivf_p4", (e, n) => Similarity.ivfTopK(e, 8, NQueries, K, n, nprobe = 4)),
    ("ivfpq_p4r32", (e, n) => Similarity.ivfPqTopK(e, 8, NQueries, K,
      corpusCount = n, nprobe = 4, refine = 32)),
    ("int8", (e, _) => Similarity.quantizedTopK(e, NQueries, K)),
    // int8 folded inside IVF cells (IVF,SQ8 + refine): the variant that
    // makes the quantized corpus build pay for itself at scale
    ("ivf_int8", (e, n) => Similarity.ivfInt8TopK(e, 8, NQueries, K,
      nprobe = 2, refine = 4, corpusCount = n)),
    ("ivf_int8_p4", (e, n) => Similarity.ivfInt8TopK(e, 8, NQueries, K,
      nprobe = 4, refine = 4, corpusCount = n)))

  val PqMethods: Seq[(String, Method)] = Methods.filter(m => Set("ivfpq", "ivfpq_p2")(m._1)) ++ Seq[(String, Method)](
    // refine must scale with cell occupancy: at 10M the same 1,000 cells
    // hold 10× the vectors, so refine=16 re-ranks only the top 1.6% of a
    // probed cell by ADC score (vs 16% at 1M) — sweep it to find where
    // PQ recall recovers. Serve-time knob: the codes index is reused.
    ("ivfpq_r64", (e, n) => Similarity.ivfPqTopK(e, 8, NQueries, K, corpusCount = n, refine = 64)),
    ("ivfpq_p2_r64", (e, n) => Similarity.ivfPqTopK(e, 8, NQueries, K,
      corpusCount = n, nprobe = 2, refine = 64)),
    ("ivfpq_p2_r160", (e, n) => Similarity.ivfPqTopK(e, 8, NQueries, K,
      corpusCount = n, nprobe = 2, refine = 160))) ++
    Methods.filter(_._1.startsWith("ivf_int8"))

  /** Brute-force truth, then each method's recall@K and wall seconds. */
  private def recalls(c: Ctx, methods: Seq[(String, Method)]): (String, Seq[(String, Any)]) = {
    val (n, clusters) = (c.long("n"), c.int("clusters"))
    val dir = vectors(c, n, clusters)
    val emb = c.spark.read.parquet(dir)
    val truth = c.stage("brute")(Similarity.bruteForceTopK(emb, NQueries, K, Some(n)).localCheckpoint())
      .select("query_id", "cand_id")
    val nTruth = truth.count()
    val rows = methods.map { case (name, f) =>
      val approx = c.stage(name)(f(emb, Some(n)).localCheckpoint())
      val hit = truth.join(approx.select("query_id", "cand_id"), Seq("query_id", "cand_id"), "left_semi")
      name -> ListMap("recall" -> hit.count().toDouble / nTruth, "sec" -> c.wall(name))
    }
    (dir, Seq("n_vectors" -> n, "dim" -> Similarity.Dim, "k" -> K, "n_queries" -> NQueries,
      "truth_pairs" -> nTruth, "brute_sec" -> c.wall("brute")) ++ rows)
  }

  def flagship(c: Ctx): Seq[(String, Any)] = recalls(c, Methods)._2

  def pqRegime(c: Ctx): Seq[(String, Any)] = {
    val (dir, fields) = recalls(c, PqMethods)
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum else f.length()
    // on-disk bytes per durable index structure (the footprint claim,
    // measured). Materialize.table sanitizes ':' in keys to '_', so the
    // structure name is the first '_'-segment of the directory name
    val indexes = Option(new java.io.File(c.spark.conf.get(Materialize.DirConf, "")).listFiles())
      .toSeq.flatten.filter(f => f.isDirectory && !f.getName.startsWith("."))
      .groupMapReduce(_.getName.takeWhile(_ != '_'))(size)(_ + _)
    fields ++ Seq("index_bytes" -> ListMap(indexes.toSeq.sortBy(-_._2): _*),
      // raw corpus bytes, for the 256 B/vec reference row
      "raw_corpus_bytes" -> size(new java.io.File(dir)))
  }

  def embedQa(c: Ctx): Seq[(String, Any)] = {
    val emb = c.spark.read.parquet(vectors(c, c.long("n"), 1000))
    // PCA per-pass cost (cumulative runs; marginal = one pass)
    val orbits = (1 to 6).map(k => c.stage(s"pca_iters_$k")(Similarity.embeddingPcaPower(emb, iters = k).collect()))
    val rerun = c.stage("pca_iters_6_rerun")(Similarity.embeddingPcaPower(emb, iters = 6).collect())
    require(orbits.last.map(_.toSeq).toSeq == rerun.map(_.toSeq).toSeq,
      "PCA integer orbit must reproduce row-for-row across runs")
    def marginal(f: graft.Metrics.Totals => Double) =
      (2 to 6).map(k => f(c.stages(s"pca_iters_$k")) - f(c.stages(s"pca_iters_${k - 1}")))
    val jl = c.stage("jl_audit")(Similarity.randomProjectionAudit(emb).collect()).map { r =>
      ListMap(Seq("stride", "n_pairs", "mean_ratio_ppm", "min", "max", "within20_permille")
        .zipWithIndex.map { case (k, i) => k -> r.getLong(i) }: _*)
    }
    val splitDrift = c.stage("split_drift")(Similarity.embeddingSplitDrift(emb).collect())
    // ks/psi at 10x events
    val dir = c.str("events_dir")
    val events = if (new java.io.File(s"$dir/events.parquet").exists() ||
        new java.io.File(dir, "events").exists()) {
      val ev = Tables.events(c.spark, dir)
      Some(ListMap("rows" -> ev.count(),
        "ks_rows" -> c.stage("ks_drift_10x")(Pipeline.ksDrift(ev).collect()).length,
        "psi_rows" -> c.stage("psi_drift_10x")(Pipeline.psiDrift(ev).collect()).length))
    } else {
      println(s"events dir $dir absent - ks/psi leg skipped " +
        "(generate with scripts/run.sh graft.GenSf /tmp/sf1 10)")
      None
    }
    Seq("n_vectors" -> c.long("n"), "pca_pass_wall_s" -> marginal(_.wallSec),
      "pca_pass_cpu_s" -> marginal(_.cpuSec), "orbit_deterministic" -> true,
      "jl" -> jl.toSeq, "split_drift_rows" -> splitDrift.length, "events" -> events)
  }
}
