package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{Materialize, Similarity}

/** PQ's memory-regime adjudication at 10M vectors (r9 verdict item 4):
  * `ann_ivf_int8` dominates `ann_ivfpq` at 1M on recall AND serve cost,
  * leaving PQ's classical justification — 8 B/vec codes vs 64 B/vec
  * int8 vs 256 B/vec float — asserted rather than measured. This main
  * measures it: the same corpus recipe as [[AnnFlagship]] at 10× the
  * vectors, ONLY the contested paths (brute truth, IVFPQ+refine,
  * IVF,SQ8+refine), with durable content-keyed indexes whose on-disk
  * bytes are reported per structure. Run it twice: the first run pays
  * the builds; a rerun in a fresh JVM (same GRAFT_INDEX_DIR) measures
  * pure serve cost — optionally under a constrained heap
  * (SPARK_DRIVER_MEM=3g) to expose the bytes-bound serving regime.
  *
  * What "PQ wins a named regime" must look like in the output: at equal
  * candidate generation (same IVF cells, same nprobe), the PQ path's
  * scan bytes are the codes table (~9 B/vec incl. vec_id overhead) vs
  * the int8 path's quantized corpus (~70 B/vec), an ~8× footprint gap
  * that compounds with corpus size; serve wall at 10M quantifies what
  * that buys on this host. Results recorded in ANN_1M.md (10M section).
  *
  * Usage: scripts/run.sh graft.AnnPqRegime [nVecs] [workDir] [nClusters]
  */
object AnnPqRegime {
  val K = 10
  val NQueries = 64

  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toLong).getOrElse(10000000L)
    val work = if (args.length > 1) args(1) else "/tmp/graft_ann10m"
    val nClusters = if (args.length > 2) args(2).toInt else 1000
    val spark = Session.build("graft-ann-pq-regime",
      // struct-buffer aggregates (the assignment argmax) run through
      // ObjectHashAggregate, whose sort-based fallback triggers at 128
      // in-memory keys by default — absurdly conservative for ~50 B
      // buffers: at 10M vectors the fallback sorted (and spilled) the
      // whole N×K scored stream. ~300k keys/task × 50 B ≈ 16 MB —
      // keep it hashed.
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4000000",
      Materialize.DirConf -> sys.env.getOrElse("GRAFT_INDEX_DIR", ""))

    // the AnnFlagship corpus recipe — THE SAME generator, not a copy:
    // the cross-scale recall comparison in ANN_1M.md is only valid while
    // the two corpora share one formula (review finding)
    val vecDir = s"$work/vectors_n${nVecs}_c$nClusters"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$vecDir/_SUCCESS"))) {
      val t0 = System.nanoTime()
      AnnFlagship.genVectors(spark, vecDir, nVecs, nClusters)
      println(f"setup: vectors generated in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val emb = spark.read.parquet(vecDir)
    val n = Some(nVecs)

    def timed(name: String)(f: => DataFrame): (DataFrame, Double) = {
      val t0 = System.nanoTime()
      val r = f.localCheckpoint()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"stage $name%-12s $dt%8.1f s")
      (r, dt)
    }
    val (truth, tBrute) =
      timed("brute")(Similarity.bruteForceTopK(emb, NQueries, K, n))
    val truthPairs = truth.select("query_id", "cand_id")
    val nTruth = truthPairs.count()
    def recallOf(approx: DataFrame): Double =
      truthPairs.join(approx.select("query_id", "cand_id"),
        Seq("query_id", "cand_id"), "left_semi").count().toDouble / nTruth

    val methods = Seq[(String, () => DataFrame)](
      "ivfpq" -> (() => Similarity.ivfPqTopK(emb, 8, NQueries, K, corpusCount = n)),
      "ivfpq_p2" -> (() => Similarity.ivfPqTopK(emb, 8, NQueries, K,
        corpusCount = n, nprobe = 2)),
      // refine must scale with cell occupancy: at 10M the same 1,000 cells
      // hold 10× the vectors, so refine=16 re-ranks only the top 1.6% of a
      // probed cell by ADC score (vs 16% at 1M) — sweep it to find where
      // PQ recall recovers. Serve-time knob: the codes index is reused.
      "ivfpq_r64" -> (() => Similarity.ivfPqTopK(emb, 8, NQueries, K,
        corpusCount = n, refine = 64)),
      "ivfpq_p2_r64" -> (() => Similarity.ivfPqTopK(emb, 8, NQueries, K,
        corpusCount = n, nprobe = 2, refine = 64)),
      "ivfpq_p2_r160" -> (() => Similarity.ivfPqTopK(emb, 8, NQueries, K,
        corpusCount = n, nprobe = 2, refine = 160)),
      "ivf_int8" -> (() => Similarity.ivfInt8TopK(emb, 8, NQueries, K,
        nprobe = 2, refine = 4, corpusCount = n)),
      "ivf_int8_p4" -> (() => Similarity.ivfInt8TopK(emb, 8, NQueries, K,
        nprobe = 4, refine = 4, corpusCount = n)))
    val results = methods.map { case (name, f) =>
      val (df, dt) = timed(name)(f())
      name -> (recallOf(df), dt)
    }

    // on-disk bytes per durable index structure (the footprint claim,
    // measured): recursive size of each content-keyed subdirectory
    val idxDir = sys.env.getOrElse("GRAFT_INDEX_DIR", "")
    val sizes: Map[String, Long] =
      if (idxDir.isEmpty) Map.empty
      else {
        val root = new java.io.File(idxDir)
        def dirSize(d: java.io.File): Long = {
          val fs = Option(d.listFiles()).getOrElse(Array.empty)
          fs.map(f => if (f.isDirectory) dirSize(f) else f.length()).sum
        }
        // Materialize.table sanitizes ':' in keys to '_', so the
        // on-disk name is e.g. pqCodes_v3_<hash>_... — the structure
        // name is the first '_'-segment (none of the structure names
        // contain '_'). Splitting on ':' here was a no-op (review
        // finding): the JSON reported full hashed keys, not structures.
        Option(root.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && !f.getName.startsWith("."))
          .map(f => f.getName.takeWhile(_ != '_') -> dirSize(f))
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      }
    // raw corpus bytes, for the 256 B/vec reference row
    val rawBytes = {
      def sz(d: java.io.File): Long = Option(d.listFiles())
        .getOrElse(Array.empty).map(_.length()).sum
      sz(new java.io.File(vecDir))
    }
    val builds = Materialize.buildTimes
    def r4(v: Double) = math.round(v * 10000.0) / 10000.0
    val methodJson = results.map { case (nm, (rec, dt)) =>
      s""""$nm":{"recall":${r4(rec)},"sec":${r4(dt)}}""" }.mkString(",")
    val buildJson = builds.toSeq.sortBy(-_._2)
      .map { case (k, v) => s""""$k":${r4(v)}""" }.mkString("{", ",", "}")
    val sizeJson = sizes.toSeq.sortBy(-_._2)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"metric":"ann_pq_regime","n_vectors":$nVecs,"dim":${Similarity.Dim},""" +
      s""""k":$K,"n_queries":$NQueries,"truth_pairs":$nTruth,""" +
      s""""brute_sec":${r4(tBrute)},$methodJson,""" +
      s""""index_bytes":$sizeJson,"raw_corpus_bytes":$rawBytes,""" +
      s""""index_build":$buildJson,"cpus":${Session.cpus}}""")
    spark.stop()
  }
}
