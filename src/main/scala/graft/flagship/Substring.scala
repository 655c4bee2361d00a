package graft.flagship

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Flagship.Ctx
import graft.operators.TextAnalysis

/** The substring family at ~1 GB, on one seeded corpus.
  *
  * Corpus design (pure Catalyst, words from [[WordCount1G.zipfWord]]):
  * every doc draws its `WordsPerDoc` tokens from a doc-private stream
  * (cross-doc natural window repeats: expected ≈ 0.05 corpus-wide at
  * 500k docs — any that occur surface as `disjoint_spans`), except that
  * every `PassEvery`-th doc embeds a `PassLen`-token passage from a
  * shared pool at a per-doc pseudorandom offset, each pool passage used
  * by EXACTLY TWO docs. Ground truth per planted doc: one maximal
  * duplicated span covering exactly the passage tokens (boundary windows
  * mix doc-private tokens and are unique by construction).
  *
  * Usage: scripts/run.sh graft.Flagship {substr|bloom} [n=…] [work=…]
  *
  *  - `substr`: [[TextAnalysis.substringDedup]] (the Lee-et-al
  *    ExactSubstr operator) with span-level recall against the planted
  *    truth, once with the xxhash64 production window keys (`hash`) and
  *    once with the exact string keys (`str`, the oracle surface): the
  *    cheaper shuffle is validated at unchanged quality. SUBSTR_1GB.md.
  *  - `bloom`: exact [[TextAnalysis.contamination]] vs the
  *    Bloom-prefiltered [[TextAnalysis.contaminationBloom]] with the
  *    eval slice = the first 1% of docs: the shuffle the exact operator
  *    pays to find the ~1% of corpus grams that hit the eval set, and
  *    the two outputs' row equality re-verified at scale (required).
  *    SUBSTR_1GB.md.
  *
  * Wall-clock on a shared VM is noisy (BENCH_NOTES_r07/r08); the
  * drift-immune evidence for both trades is each stage's shuffle volume
  * and task CPU.
  */
object Substring {

  val WordsPerDoc = 400 // 2 KB/doc → 500k docs ≈ 1.0 GB of text
  val PassEvery = 10    // every 10th doc carries a planted passage
  val PassLen = 40      // passage tokens; windows inside it: PassLen-k+1
  val K = 8             // window width (the operator's default)

  /** 0-based token offset of doc's planted passage (deterministic). */
  private def passOffset: Column =
    pmod(xxhash64(col("doc_id"), lit(5)), lit((WordsPerDoc - PassLen).toLong))

  private def hasPass: Column = pmod(col("doc_id"), lit(PassEvery.toLong)) === 0

  private def genCorpus(spark: SparkSession, dir: String, nDocs: Long): Unit = {
    val rows = spark.range(nDocs)
      .select(col("id").as("doc_id"),
        explode(sequence(lit(0), lit(WordsPerDoc - 1))).as("pos"))
    // passage pool: docs 0 and PassEvery share passage 0; 2·PassEvery
    // and 3·PassEvery share passage 1; ... — each passage in exactly 2 docs
    val passId = expr(s"(doc_id div $PassEvery) div 2")
    val off = passOffset
    val inPass = hasPass && col("pos") >= off && col("pos") < off + PassLen
    val w = when(inPass,
        WordCount1G.zipfWord(xxhash64(struct(passId.as("p"), (col("pos") - off).as("i"), lit(99)))))
      .otherwise(WordCount1G.zipfWord(xxhash64(struct(col("doc_id"), col("pos"), lit(42)))))
    NearDup.writeDocs(rows.select(col("doc_id"), col("pos"), w.as("w")), dir)
  }

  private def corpus(c: Ctx) = NearDup.corpus(c, "substr_corpus", genCorpus)

  /** A stage's wall, shuffle write and task CPU as record fields. */
  private def cost(s: graft.Metrics.Totals) = Seq("sec" -> s.wallSec,
    "shuffle_gb" -> s.shuffleWriteBytes / 1e9, "cpu_sec" -> s.cpuSec)

  def substr(c: Ctx): Seq[(String, Any)] = {
    val (docs, nDocs, bytes) = corpus(c)
    // planted truth: (doc_id, span_start, span_end), 1-based inclusive
    val tr = docs.select("doc_id").filter(hasPass)
      .select(col("doc_id"), (passOffset + 1).as("span_start"), (passOffset + PassLen).as("span_end"))
      .localCheckpoint()
    val nTruth = tr.count()
    val overlap = col("s.doc_id") === col("t.doc_id") &&
      col("s.span_start") <= col("t.span_end") && col("s.span_end") >= col("t.span_start")

    def run(label: String, hashed: Boolean) = {
      val (spans, nSpans) = c.stage(s"substr_$label") {
        val spans = TextAnalysis.substringDedup(docs, K, hashWindows = hashed).localCheckpoint()
        (spans, spans.count())
      }
      // exact span hits: detected span ≡ the planted passage bounds
      val hit = spans.join(tr, Seq("doc_id", "span_start", "span_end"), "left_semi").count()
      val inexact = spans.join(tr, Seq("doc_id", "span_start", "span_end"), "left_anti")
        .localCheckpoint()
      // an inexact span OVERLAPPING its doc's planted passage is the
      // operator being RIGHT about more text than we planted (a doc-
      // private token adjoining the passage coincides across the pair —
      // zipf head makes that ~1.3% per boundary — so the true duplicated
      // substring extends past the planted bounds); a DISJOINT span
      // would be a natural window repeat or a hash collision
      val widened = inexact.as("s").join(tr.as("t"), overlap, "left_semi").count()
      // token-level coverage of the planted passages (exact or widened)
      val covered = spans.as("s").join(tr.as("t"), overlap)
        .select((least(col("s.span_end"), col("t.span_end")) -
          greatest(col("s.span_start"), col("t.span_start")) + 1).as("ov"))
        .agg(coalesce(sum("ov"), lit(0L))).head().getLong(0)
      label -> ListMap(Seq("spans" -> nSpans, "exact_hits" -> hit, "widened_spans" -> widened,
        "disjoint_spans" -> (inexact.count() - widened),
        "recall_exact" -> hit.toDouble / math.max(1L, nTruth),
        "recall_tokens" -> covered.toDouble / math.max(1L, nTruth * PassLen))
        ++ cost(c.stages(s"substr_$label")): _*)
    }
    Seq("docs" -> nDocs, "bytes" -> bytes, "k" -> K, "truth_spans" -> nTruth, run("hash", hashed = true),
      run("str", hashed = false))
  }

  def bloom(c: Ctx): Seq[(String, Any)] = {
    val (docs, nDocs, bytes) = corpus(c)
    // 1% eval slice, +10 so the threshold SPLITS one planted passage
    // pair (pairs are (20m, 20m+10): a cut at ≡10 mod 20 straddles
    // exactly one) — the true-positive path executes at scale, not just
    // in the sf0.01 oracle where hits are plentiful
    val evalMax = nDocs / 100 + 10
    def run(label: String)(mk: => DataFrame) = {
      val (out, n, flagged) = c.stage(label) {
        val out = mk.localCheckpoint()
        (out, out.count(), out.filter(col("contaminated")).count())
      }
      (out, label -> ListMap(Seq("rows" -> n, "flagged" -> flagged) ++ cost(c.stages(label)): _*))
    }
    val (exact, exactFields) = run("exact")(TextAnalysis.contamination(docs, evalMaxId = evalMax))
    val (bloom, bloomFields) =
      run("bloom")(TextAnalysis.contaminationBloom(c.spark, docs, evalMaxId = evalMax))
    // row-level equality at scale, both directions
    val diff = exact.exceptAll(bloom).count() + bloom.exceptAll(exact).count()
    require(diff == 0, s"bloom path diverged from exact: $diff rows")
    Seq("docs" -> nDocs, "bytes" -> bytes, "eval_docs" -> evalMax, exactFields, bloomFields, "diff_rows" -> diff)
  }
}
