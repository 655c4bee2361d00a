package graft.flagship

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Flagship.Ctx
import graft.operators.{Pipeline, Search}

/** The search family at ~1 GB of text.
  *
  * Corpus: `n` documents of 15–60 three-letter words from a 17,576-word
  * alphabetic vocabulary ([[genDocs]]) — at the 3.3M default ≈ 1 GB of
  * text and ~122M postings. Probe terms (and the phrase) are taken from
  * doc 0, so every probe has guaranteed hits at any corpus size.
  *
  * Usage: scripts/run.sh graft.Flagship {search|compaction} [work=…] [n=…]
  *
  *  - `search`: the positional inverted index (build cost, the
  *    corpus-sized cost paid once; a rerun reuses it and reports its
  *    build as null), the ranked/phrase/eval probes against it (which
  *    must be POSTING-LIST-BOUNDED, not corpus-bounded) and the
  *    concat-and-chunk sequence packing layout (one corpus pass).
  *    SEARCH_1GB.md.
  *  - `compaction`: the incremental postings index driven END-TO-END
  *    through its lifecycle — base = the first ~82%, 6 deltas, a
  *    tombstone batch (base doc_id ≡ 3 mod 97) riding generation 3, the
  *    probe-latency-vs-generation-count curve, the 20% size-tiered
  *    trigger ([[Search.compactionDue]], required to fire at generation
  *    6 by the policy, not by script fiat), compaction into a new durable
  *    base WITH physical tombstone removal, and parity three ways
  *    (required): the probe over the stack equals the probe over the
  *    compacted base; that equals a probe over a FULL REBUILD from the
  *    surviving documents; |compacted| = |base| − |tombstoned base rows|
  *    + Σ|deltas|. SEARCH_1GB.md.
  */
object SearchIndex {

  /** Docs [lo, hi), content a pure function of doc_id — ONE definition
    * for both scenarios, so their corpora cannot desynchronize. */
  private def genDocs(spark: SparkSession, lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).selectExpr("id AS doc_id",
      """array_join(transform(
        |  sequence(1, CAST(15 + pmod(xxhash64(id, 7), 46) AS INT)),
        |  i -> concat(char(97 + pmod(xxhash64(id, i, 8), 26)),
        |              char(97 + pmod(xxhash64(id, i, 9), 26)),
        |              char(97 + pmod(xxhash64(id, i, 10), 26)))), ' ') AS text"""
        .stripMargin)

  /** The distinct first three words of doc 0 (guaranteed hits), and
    * its first three words as a phrase. */
  private def probeTerms(spark: SparkSession): (Seq[String], String) = {
    val w0 = genDocs(spark, 0, 1).head().getString(1).split(" ")
    (w0.distinct.take(3).toSeq, w0.take(3).mkString(" "))
  }

  private def rowsSec(rows: Long, sec: Double) = ListMap("rows" -> rows, "sec" -> sec)

  def search(c: Ctx): Seq[(String, Any)] = {
    val (spark, nDocs) = (c.spark, c.long("n"))
    val docs = spark.read.parquet(c.cached("search_docs", nDocs) { dir =>
      c.stage("gen")(genDocs(spark, 0, nDocs).repartition(64).write.mode("overwrite").parquet(dir))
    })
    val (terms, phrase) = probeTerms(spark)
    val idx = spark.read.parquet(c.cached("search_postings", nDocs) { dir =>
      c.stage("index_build")(Search.postings(docs).write.mode("overwrite").parquet(dir))
    })
    val nPost = idx.count()
    // the per-doc length table is PART OF THE INDEX (a pure function of
    // it, precomputed once like the centroid tables) — its build cost is
    // reported separately; probes below pay only posting-list work
    val dl = c.stage("doc_lengths")(Search.docLengths(idx).localCheckpoint())
    val nBm = c.stage("bm25")(Search.bm25SearchFor(idx, terms, dl = Some(dl)).count())
    val nKw = c.stage("keyword")(Search.keywordSearchFor(idx, terms).count())
    val nPh = c.stage("phrase")(Search.phraseSearchFor(idx, phrase).count())
    val ndcg = c.stage("ndcg")(Search.searchEvalNdcg(idx, terms, dl = Some(dl)).head())
    // sequence packing over the same corpus
    val pack = c.stage("packing")(Pipeline.packedSequences(docs, capacity = 2048L)
      .agg(count(lit(1)), sum(col("n_tokens")), sum(col("n_docs"))).head())

    Seq("n_docs" -> nDocs, "n_postings" -> nPost,
      "index_build_sec" -> c.stages.get("index_build").map(_.wallSec),
      "index_reused" -> !c.stages.contains("index_build"), "doc_lengths_sec" -> c.wall("doc_lengths"),
      "bm25" -> rowsSec(nBm, c.wall("bm25")), "keyword" -> rowsSec(nKw, c.wall("keyword")),
      "phrase" -> rowsSec(nPh, c.wall("phrase")),
      "ndcg" -> ListMap("permille" -> ndcg.getLong(4), "n_relevant" -> ndcg.getLong(0),
        "sec" -> c.wall("ndcg")),
      "packing" -> ListMap("sequences" -> pack.getLong(0), "tokens" -> pack.getLong(1),
        "doc_memberships" -> pack.getLong(2), "sec" -> c.wall("packing")))
  }

  def compaction(c: Ctx): Seq[(String, Any)] = {
    val (spark, nDocs) = (c.spark, c.long("n"))
    val nGens = 6
    val baseN = (nDocs * 82) / 100
    val deltaN = (nDocs - baseN) / nGens
    val tombGen = 3

    // durable base + deltas (each written once, reused warm)
    def postings(name: String, g: Int, lo: Long, hi: Long, parts: Int, index: DataFrame => DataFrame) =
      spark.read.parquet(c.cached(name, nDocs, g)(dir => c.stage(s"${name}_$g")(
        index(genDocs(spark, lo, hi).repartition(parts)).write.parquet(dir))))
    val basePost = postings("compaction_base", 0, 0, baseN, 64, Search.postings)
    val deltas = (1 to nGens).map { g =>
      postings("compaction_delta", g, baseN + (g - 1) * deltaN,
        if (g == nGens) nDocs else baseN + g * deltaN, 8, Search.postingsDelta)
    }
    val tombs = spark.range(0, baseN).filter(pmod(col("id"), lit(97)) === 3)
      .select(col("id").as("doc_id"))
    val (terms, _) = probeTerms(spark)

    /** The serving stack after generation g (tombstones ride gen 3). */
    def stack(g: Int): DataFrame = Search.servePostingsLsm(Search.Generation(basePost) +:
      (1 to g).map(i => Search.Generation(deltas(i - 1), if (i == tombGen) Some(tombs) else None)))

    // maintained doc-length index, mirroring the serving stack: base dl
    // computed ONCE (it is part of the durable index), per-delta dls
    // delta-sized, and the SAME LSM fold as the postings stack (the
    // tombstones at gen 3 hide base AND gen-1/2 dls) — without it every
    // probe would pay a corpus-sized dl aggregate and the latency curve
    // would measure the wrong thing. Doc sets are disjoint, so the union
    // is exact.
    val baseDl = Search.docLengths(basePost).localCheckpoint()
    val deltaDls = deltas.map(d => Search.docLengths(d).localCheckpoint())
    def dlStack(g: Int): DataFrame = (1 to g).foldLeft(baseDl) { (acc, i) =>
      (if (i == tombGen) Search.applyTombstones(acc, tombs) else acc).unionByName(deltaDls(i - 1))
    }
    def probeRows(idx: DataFrame, dl: Option[DataFrame]) =
      Search.bm25SearchFor(idx, terms, dl = dl).collect().map(_.toSeq).toSeq
    // probe latency: min of 2 reps per point (rep 1 of gen 0 absorbs codegen)
    def probeSec(label: String, idx: DataFrame, dl: DataFrame): Double = (1 to 2).map { r =>
      c.stage(s"probe_${label}_$r")(Search.bm25SearchFor(idx, terms, dl = Some(dl)).count())
      c.wall(s"probe_${label}_$r")
    }.min
    val curve = (0 to nGens).map(g => probeSec(s"g$g", stack(g), dlStack(g)))

    // the 20% trigger fires at the policy point, not by fiat
    val baseRows = basePost.count()
    val deltaRows = deltas.map(_.count())
    val firedAt = (1 to nGens).find(g =>
      Search.compactionDue(baseRows, deltaRows.take(g).sum)).getOrElse(-1)
    require(firedAt == nGens, s"trigger fired at generation $firedAt, expected $nGens — layout drifted")

    // compact: write the served view as the new durable base, which
    // starts its epoch with a fresh durable dl
    val compactDir = s"${c.str("work")}/compacted_n$nDocs"
    c.stage("compact")(stack(nGens).write.mode("overwrite").parquet(compactDir))
    val compacted = spark.read.parquet(compactDir)
    val compactedDl = Search.docLengths(compacted).localCheckpoint()
    val probeCompactedSec = probeSec("compacted", compacted, compactedDl)

    // parity 1: stack vs compacted (one probe of the compacted index
    // feeds both parity gates)
    val compactedProbe = probeRows(compacted, Some(compactedDl))
    val parityStack = probeRows(stack(nGens), Some(dlStack(nGens))) == compactedProbe
    // parity 2: compacted vs a full rebuild on the surviving docs; dl =
    // None on purpose: the rebuild recomputes EVERYTHING from the raw
    // documents, maintained-index paths included
    val survivors = genDocs(spark, 0, nDocs).repartition(64).join(tombs, Seq("doc_id"), "left_anti")
    val parityRebuild =
      c.stage("rebuild_probe")(probeRows(Search.postings(survivors), None)) == compactedProbe
    // parity 3: physical-removal row arithmetic
    val tombedBaseRows = basePost.join(tombs, Seq("doc_id"), "left_semi").count()
    val nCompacted = compacted.count()
    val arithmetic = nCompacted == baseRows - tombedBaseRows + deltaRows.sum
    require(parityStack && parityRebuild && arithmetic, s"parity failed: stack vs compacted " +
      s"$parityStack, vs rebuild $parityRebuild, row arithmetic $arithmetic")

    Seq("n_docs" -> nDocs, "base_rows" -> baseRows, "delta_rows" -> deltaRows,
      "tombstoned_docs" -> tombs.count(), "tombstoned_base_rows" -> tombedBaseRows,
      "probe_sec_by_gen" -> curve, "trigger_gen" -> firedAt, "compact_sec" -> c.wall("compact"),
      "probe_sec_compacted" -> probeCompactedSec, "rebuild_probe_sec" -> c.wall("rebuild_probe"),
      "parity_stack_vs_compacted" -> parityStack, "parity_vs_rebuild" -> parityRebuild,
      "row_arithmetic_exact" -> arithmetic, "compacted_rows" -> nCompacted)
  }
}
