package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Pipeline, Search}

/** Search + packing flagship at ~1 GB of text — the last operator
  * families without a ≥1 GB measurement: the positional inverted
  * index (build cost), the ranked/phrase/eval probes against it
  * (which must be POSTING-LIST-BOUNDED, not corpus-bounded — the
  * claim the round-9 probe rework makes), and the concat-and-chunk
  * sequence packing layout (one corpus pass).
  *
  * Corpus: nDocs documents of 15–60 words from a 17,576-word
  * alphabetic vocabulary (the StreamFlagship generator without the
  * timestamp column) — at the 3.3M default ≈ 1 GB of text and ~122M
  * postings. The probe phrase and query terms are taken from the
  * first document (driver-side read of ONE row), so every probe has
  * guaranteed hits at any corpus size.
  *
  * What the numbers must show: index build is the corpus-sized cost
  * (one map-only explode + write); each probe afterwards touches only
  * its terms' posting lists (~N/|V| rows per term), so probe wall
  * stays orders of magnitude under any corpus-sized aggregate; the
  * packing pass is one prefix-sum + explode over the corpus.
  * Results recorded in SEARCH_1GB.md. Usage:
  *   scripts/run.sh graft.SearchFlagship [workDir] [nDocs]
  */
object SearchFlagship {

  /** The shared 1 GB-corpus generator: docs of 15–60 three-letter words
    * from the 17,576-word alphabetic vocabulary, content a pure
    * function of doc_id. ONE definition — [[CompactionFlagship]] reuses
    * it, so the two flagships' corpora can never silently
    * desynchronize (review finding). */
  private[graft] def genDocs(spark: SparkSession, lo: Long,
      hi: Long): DataFrame =
    spark.range(lo, hi).selectExpr("id AS doc_id",
      """array_join(transform(
        |  sequence(1, CAST(15 + pmod(xxhash64(id, 7), 46) AS INT)),
        |  i -> concat(char(97 + pmod(xxhash64(id, i, 8), 26)),
        |              char(97 + pmod(xxhash64(id, i, 9), 26)),
        |              char(97 + pmod(xxhash64(id, i, 10), 26)))), ' ') AS text"""
        .stripMargin)

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("/tmp/graft_search1g")
    val nDocs = if (args.length > 1) args(1).toLong else 3300000L
    val spark = Session.build("graft-search-flagship")

    def timed[T](name: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"stage $name%-16s $dt%8.1f s")
      (r, dt)
    }

    // ---- corpus ----------------------------------------------------
    val docDir = s"$work/docs_n$nDocs"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$docDir/_SUCCESS"))) {
      val (_, sec) = timed("gen") {
        genDocs(spark, 0, nDocs)
          .repartition(64).write.mode("overwrite").parquet(docDir)
      }
      println(f"setup: $nDocs docs in $sec%.1f s")
    }
    val docs = spark.read.parquet(docDir)

    // probe terms/phrase from doc 0 — guaranteed hits, deterministic
    val w0 = docs.filter(col("doc_id") === 0L).head().getString(1).split(" ")
    val terms = w0.distinct.take(3).toSeq
    val phrase = w0.take(3).mkString(" ")

    // ---- index build (the corpus-sized cost, paid once) ------------
    val idxDir = s"$work/postings_n$nDocs"
    // a rerun against a warm workDir reuses the committed index; its
    // build cost is reported as null + reused flag, never a misleading
    // 0.0 s "build" (advisor finding)
    val reused =
      java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idxDir/_SUCCESS"))
    val buildSec: Option[Double] =
      if (reused) None
      else Some(timed("index_build")(
        Search.postings(docs).write.mode("overwrite").parquet(idxDir))._2)
    val idx = spark.read.parquet(idxDir)
    val nPost = idx.count()

    // the per-doc length table is PART OF THE INDEX (a pure function of
    // it, precomputed once like the centroid tables) — its build cost is
    // reported separately; probes below pay only posting-list work
    val (dl, tDl) = timed("doc_lengths")(
      Search.docLengths(idx).localCheckpoint())

    // ---- probes (must be posting-list-bounded) ---------------------
    val (nBm, tBm) = timed("bm25")(
      Search.bm25SearchFor(idx, terms, dl = Some(dl)).count())
    val (nKw, tKw) = timed("keyword")(
      Search.keywordSearchFor(idx, terms).count())
    val (nPh, tPh) = timed("phrase")(
      Search.phraseSearchFor(idx, phrase).count())
    val (ndcgRow, tNd) = timed("ndcg")(
      Search.searchEvalNdcg(idx, terms, dl = Some(dl)).head())

    // ---- sequence packing over the same corpus ---------------------
    val (packStats, tPack) = timed("packing") {
      val p = Pipeline.packedSequences(docs, capacity = 2048L)
        .agg(count(lit(1)), sum(col("n_tokens")), sum(col("n_docs"))).head()
      (p.getLong(0), p.getLong(1), p.getLong(2))
    }

    def r2(v: Double) = math.round(v * 100) / 100.0
    println(s"""{"metric":"search_1g","n_docs":$nDocs,"n_postings":$nPost,""" +
      s""""index_build_sec":${buildSec.map(r2).map(_.toString).getOrElse("null")},""" +
      s""""index_reused":$reused,"doc_lengths_sec":${r2(tDl)},""" +
      s""""bm25":{"rows":$nBm,"sec":${r2(tBm)}},""" +
      s""""keyword":{"rows":$nKw,"sec":${r2(tKw)}},""" +
      s""""phrase":{"rows":$nPh,"sec":${r2(tPh)}},""" +
      s""""ndcg":{"permille":${ndcgRow.getLong(4)},"n_relevant":${ndcgRow.getLong(0)},"sec":${r2(tNd)}},""" +
      s""""packing":{"sequences":${packStats._1},"tokens":${packStats._2},"doc_memberships":${packStats._3},"sec":${r2(tPack)}},""" +
      s""""cpus":${Session.cpus}}""")
    spark.stop()
  }
}
