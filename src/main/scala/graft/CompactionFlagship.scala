package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Search

/** Index-lifecycle flagship at ~1 GB (r10 verdict item 2): the
  * incremental postings index driven END-TO-END through the lifecycle
  * the round-10/11 APIs define but nothing previously exercised —
  * ingest generations accumulate, a tombstone batch rides one of them,
  * the probe-latency-vs-generation-count curve is measured, the 20%
  * size-tiered trigger ([[Search.compactionDue]]) fires, compaction
  * rewrites the stack into a new durable base WITH physical tombstone
  * removal, and parity is proven three ways:
  *
  *  1. stack-vs-compacted: the BM25 probe over the generation stack
  *     equals the same probe over the compacted base (compaction is
  *     invisible to queries);
  *  2. rebuild parity: the compacted base's probe equals a probe over a
  *     FULL REBUILD from the surviving documents (the strongest
  *     end-to-end gate — serve-time deletes + generation unions
  *     reproduce the from-scratch answer at 1 GB);
  *  3. row arithmetic: |compacted| = |base| − |tombstoned base rows| +
  *     Σ|deltas| (physical removal really happened).
  *
  * Corpus: the SearchFlagship generator — nDocs docs of 15–60 words
  * over a 17,576-word alphabetic vocabulary (≈1 GB of text at the
  * 3.3M default). Base = the first ~82%; 6 deltas of 3% each; the
  * tombstone batch (base doc_id ≡ 3 mod 97, ≈1%) rides generation 3.
  * Σ|delta| crosses 20% of base at generation 6 → compaction fires
  * there by the policy, not by script fiat.
  *
  * Results recorded in SEARCH_1GB.md. Usage:
  *   scripts/run.sh graft.CompactionFlagship [workDir] [nDocs]
  */
object CompactionFlagship {

  /** One shared corpus definition with [[SearchFlagship]] — the header
    * claim "the SearchFlagship generator" is enforced by reuse. */
  private def gen(spark: SparkSession, lo: Long, hi: Long): DataFrame =
    SearchFlagship.genDocs(spark, lo, hi)

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("/tmp/graft_compact1g")
    val nDocs = if (args.length > 1) args(1).toLong else 3300000L
    val spark = Session.build("graft-compaction-flagship")

    def timed[T](name: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"stage $name%-20s $dt%8.1f s")
      (r, dt)
    }
    def r2(v: Double) = math.round(v * 100) / 100.0

    // ---- generation layout -----------------------------------------
    val nGens = 6
    val baseN = (nDocs * 82) / 100
    val deltaN = (nDocs - baseN) / nGens
    val tombGen = 3

    // ---- durable base + deltas (each written once, reused warm) ----
    def writeOnce(dir: String, df: => DataFrame): DataFrame = {
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/_SUCCESS")))
        df.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    val (basePost, tBase) = timed("base_index")(writeOnce(s"$work/base_n$nDocs",
      Search.postings(gen(spark, 0, baseN).repartition(64))))
    val deltas = (1 to nGens).map { g =>
      val lo = baseN + (g - 1) * deltaN
      val hi = if (g == nGens) nDocs else baseN + g * deltaN
      val (d, t) = timed(s"delta_$g")(writeOnce(s"$work/delta${g}_n$nDocs",
        Search.postingsDelta(gen(spark, lo, hi).repartition(8))))
      (d, t)
    }
    val tombs = spark.range(0, baseN).filter(pmod(col("id"), lit(97)) === 3)
      .select(col("id").as("doc_id"))

    // probe terms from doc 0 (a base doc — guaranteed hits everywhere)
    val w0 = gen(spark, 0, 1).head().getString(1).split(" ")
    val terms = w0.distinct.take(3).toSeq

    /** The serving stack after generation g (tombstones ride gen 3). */
    def stack(g: Int): DataFrame = {
      val gens = Search.Generation(basePost) +: (1 to g).map(i =>
        Search.Generation(deltas(i - 1)._1,
          if (i == tombGen) Some(tombs) else None))
      Search.servePostingsLsm(gens)
    }

    // maintained doc-length index, mirroring the serving stack: base dl
    // computed ONCE (it is part of the durable index), per-delta dls
    // delta-sized, tombstones anti-joined from generation 3 on — without
    // this every probe would pay a corpus-sized dl aggregate and the
    // latency curve would measure the wrong thing (the r10 "benched the
    // rebuild" lesson). Doc sets are disjoint so the union is exact.
    val baseDl = Search.docLengths(basePost).localCheckpoint()
    val deltaDls = deltas.map(d => Search.docLengths(d._1).localCheckpoint())
    // the SAME LSM fold as the postings stack — the tombstones at gen 3
    // hide base AND gen-1/2 dls, so the two index legs can never
    // disagree even if the tombstone predicate is later widened to hit
    // delta docs (review finding: the earlier base-only anti-join was
    // correct only because tombs ⊂ [0, baseN))
    def dlStack(g: Int): DataFrame =
      (1 to g).foldLeft(baseDl) { (acc, i) =>
        (if (i == tombGen) Search.applyTombstones(acc, tombs) else acc)
          .unionByName(deltaDls(i - 1))
      }

    // ---- probe latency vs generation count -------------------------
    // min of 2 reps per point (rep 1 of gen 0 absorbs codegen)
    def probeSec(idx: DataFrame, dl: Option[DataFrame]): (Long, Double) = {
      val reps = (1 to 2).map { _ =>
        timed("probe")(Search.bm25SearchFor(idx, terms, dl = dl).count())
      }
      (reps.head._1, reps.map(_._2).min)
    }
    val curve = (0 to nGens).map { g =>
      val (rows, sec) = probeSec(stack(g), Some(dlStack(g)))
      println(f"probe over base+$g%d gens: $sec%6.2f s ($rows rows)")
      (g, rows, sec)
    }

    // ---- the 20% trigger fires at the policy point, not by fiat ----
    val baseRows = basePost.count()
    val deltaRowCounts = deltas.map(_._1.count())
    val firedAt = (1 to nGens).find(g =>
      Search.compactionDue(baseRows, deltaRowCounts.take(g).sum)).getOrElse(-1)
    require(firedAt == nGens,
      s"trigger fired at generation $firedAt, expected $nGens — layout drifted")

    // ---- compact: write the served view as the new durable base ----
    val compactDir = s"$work/compacted_n$nDocs"
    val (_, tCompact) = timed("compact")(
      stack(nGens).write.mode("overwrite").parquet(compactDir))
    val compacted = spark.read.parquet(compactDir)
    // the compacted epoch starts with a fresh durable dl (part of the
    // new base, like the original build)
    val compactedDl = Search.docLengths(compacted).localCheckpoint()
    val (_, tProbeC) = probeSec(compacted, Some(compactedDl))

    // ---- parity 1: stack vs compacted ------------------------------
    def probeRows(idx: DataFrame, dl: Option[DataFrame]) =
      Search.bm25SearchFor(idx, terms, dl = dl).collect().map(_.toSeq).toSeq
    // one probe of the compacted index feeds both parity gates
    val compactedProbe = probeRows(compacted, Some(compactedDl))
    val parityStack = probeRows(stack(nGens), Some(dlStack(nGens))) ==
      compactedProbe

    // ---- parity 2: compacted vs full rebuild on surviving docs -----
    // dl = None here on purpose: the rebuild recomputes EVERYTHING from
    // the raw documents, maintained-index paths included
    val survivors = gen(spark, 0, nDocs).repartition(64)
      .join(tombs, Seq("doc_id"), "left_anti")
    val (rebuildRows, tRebuild) = timed("rebuild_probe")(
      probeRows(Search.postings(survivors), None))
    val parityRebuild = rebuildRows == compactedProbe

    // ---- parity 3: physical-removal row arithmetic -----------------
    val tombedBaseRows = basePost.join(tombs, Seq("doc_id"), "left_semi").count()
    val nCompacted = compacted.count()
    val arithmetic =
      nCompacted == baseRows - tombedBaseRows + deltaRowCounts.sum

    println(s"""{"metric":"search_compaction_1g","n_docs":$nDocs,""" +
      s""""base_rows":$baseRows,"delta_rows":[${deltaRowCounts.mkString(",")}],""" +
      s""""tombstoned_docs":${tombs.count()},"tombstoned_base_rows":$tombedBaseRows,""" +
      s""""probe_sec_by_gen":[${curve.map(c => r2(c._3)).mkString(",")}],""" +
      s""""trigger_gen":$firedAt,"compact_sec":${r2(tCompact)},""" +
      s""""probe_sec_compacted":${r2(tProbeC)},""" +
      s""""rebuild_probe_sec":${r2(tRebuild)},""" +
      s""""parity_stack_vs_compacted":$parityStack,""" +
      s""""parity_vs_rebuild":$parityRebuild,""" +
      s""""row_arithmetic_exact":$arithmetic,""" +
      s""""compacted_rows":$nCompacted,"cpus":${Session.cpus}}""")
    spark.stop()
    if (!(parityStack && parityRebuild && arithmetic)) sys.exit(1)
  }
}
