package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Substring-span dedup flagship at ~1 GB: [[TextAnalysis.substringDedup]]
  * (the Lee-et-al ExactSubstr operator) on a ~500k-document synthetic
  * corpus with SEEDED shared passages, so span-level recall/precision are
  * measured against planted ground truth — the [[DedupFlagship]] pattern
  * applied to the span operator. The sf0.01 oracle proves the algorithm
  * matches its SQL spec; this measures retrieval quality and stage cost
  * at three orders of magnitude more window volume (~200M windows).
  *
  * Corpus design (pure Catalyst generator, [[DedupFlagship]]'s word
  * scheme): every doc draws its `WordsPerDoc` tokens from a doc-private
  * stream (cross-doc natural window repeats: expected ≈ 0.05 corpus-wide
  * at 500k docs — any that occur surface as `extra_spans`), except that
  * every `PassEvery`-th doc embeds a `PassLen`-token passage from a
  * shared pool at a per-doc pseudorandom offset, each pool passage used
  * by EXACTLY TWO docs. Ground truth per planted doc: one maximal
  * duplicated span covering exactly the passage tokens (boundary windows
  * mix doc-private tokens and are unique by construction).
  *
  * Both window-key variants run in one session: the exact string keys
  * (the oracle surface) and the xxhash64 production keys
  * ([[TextAnalysis.substringDedup]] hashWindows) — same planted truth,
  * so the cheaper shuffle is validated at unchanged quality, the same
  * protocol as the md5/xxhash64 band split in DEDUP_1GB.md.
  *
  * Results recorded in SUBSTR_1GB.md. Usage:
  *   scripts/run.sh graft.SubstrFlagship [nDocs] [workDir]
  */
object SubstrFlagship {

  val WordsPerDoc = 400 // 2 KB/doc → 500k docs ≈ 1.0 GB of text
  val PassEvery = 10    // every 10th doc carries a planted passage
  val PassLen = 40      // passage tokens; windows inside it: PassLen-k+1
  val K = 8             // window width (the operator's default)

  /** Zipf-ish 4-letter word for a seed struct ([[DedupFlagship.word]]). */
  private def word(vocab: Long, seed: Column): Column = {
    val u = pmod(xxhash64(seed), lit(Long.MaxValue)).cast("double") /
      lit(Long.MaxValue.toDouble)
    val r = floor(pow(lit(vocab.toDouble), u)).cast("long") + lit(17576L)
    def letter(div: Long) = chr(lit(97) + pmod((r / div).cast("long"), lit(26)))
    concat(letter(1), letter(26), letter(676), letter(17576))
  }

  /** 0-based token offset of doc's planted passage (deterministic). */
  private def passOffset: Column =
    pmod(xxhash64(col("doc_id"), lit(5)), lit((WordsPerDoc - PassLen).toLong))

  private def hasPass: Column = pmod(col("doc_id"), lit(PassEvery.toLong)) === 0

  private def genCorpus(spark: SparkSession, dir: String, nDocs: Long): Unit = {
    val vocab = 50000L
    val rows = spark.range(nDocs)
      .select(col("id").as("doc_id"),
        explode(sequence(lit(0), lit(WordsPerDoc - 1))).as("pos"))
    // passage pool: docs 0 and PassEvery share passage 0; 2·PassEvery
    // and 3·PassEvery share passage 1; ... — each passage in exactly 2 docs
    val passId = expr(s"(doc_id div $PassEvery) div 2")
    val off = passOffset
    val inPass = hasPass && col("pos") >= off && col("pos") < off + PassLen
    val w = when(inPass,
        word(vocab, struct(passId.as("p"), (col("pos") - off).as("i"), lit(99))))
      .otherwise(word(vocab, struct(col("doc_id"), col("pos"), lit(42))))
    rows.select(col("doc_id"), col("pos"), w.as("w"))
      .groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
        x => x.getField("w")), " ").as("text"))
      .select(col("doc_id"), col("text"), length(col("text")).as("n_chars"))
      .repartition(64)
      .write.mode("overwrite").parquet(dir)
  }

  /** Planted truth: (doc_id, span_start, span_end) — 1-based inclusive. */
  private def truth(spark: SparkSession, nDocs: Long): DataFrame =
    spark.range(nDocs).select(col("id").as("doc_id"))
      .filter(hasPass)
      .select(col("doc_id"), (passOffset + 1).as("span_start"),
        (passOffset + PassLen).as("span_end"))

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val work = if (args.length > 1) args(1) else "/tmp/graft_substr1g"
    val spark = Session.build("graft-substr-flagship")

    val corpusDir = s"$work/corpus"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$corpusDir/_SUCCESS"))) {
      val t0 = System.nanoTime()
      genCorpus(spark, corpusDir, nDocs)
      println(f"setup: corpus generated in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val docs = spark.read.parquet(corpusDir)
    val bytes = docs.agg(sum("n_chars")).head().getLong(0)
    val tr = truth(spark, nDocs).localCheckpoint()
    val nTruth = tr.count()

    // wall-clock on a shared VM is noisy (BENCH_NOTES_r07/r08); the
    // drift-immune evidence for the hash-vs-string key trade is the
    // SHUFFLE VOLUME the window pipeline writes and its task CPU time
    val metrics = Metrics.install(spark)

    def run(label: String, hashed: Boolean): Unit = {
      val ((spans, nSpans, dt), m) = metrics.measure {
        val t0 = System.nanoTime()
        val spans = TextAnalysis.substringDedup(docs, K, hashWindows = hashed)
          .localCheckpoint()
        val nSpans = spans.count()
        (spans, nSpans, (System.nanoTime() - t0) / 1e9)
      }
      val shufGb = m.shuffleWriteBytes / 1e9
      val cpuSec = m.cpuSec
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
      val widened = inexact.as("s").join(tr.as("t"),
          col("s.doc_id") === col("t.doc_id") &&
            col("s.span_start") <= col("t.span_end") &&
            col("s.span_end") >= col("t.span_start"), "left_semi").count()
      val disjoint = inexact.count() - widened
      // token-level coverage of the planted passages (exact or widened)
      val covered = spans.as("s").join(tr.as("t"),
          col("s.doc_id") === col("t.doc_id") &&
            col("s.span_start") <= col("t.span_end") &&
            col("s.span_end") >= col("t.span_start"))
        .select((least(col("s.span_end"), col("t.span_end")) -
          greatest(col("s.span_start"), col("t.span_start")) + 1).as("ov"))
        .agg(coalesce(sum("ov"), lit(0L))).head().getLong(0)
      val recall = hit.toDouble / math.max(1L, nTruth)
      val tokRecall = covered.toDouble / math.max(1L, nTruth * PassLen)
      println(f"""{"metric":"substr_1gb_$label","docs":$nDocs,"bytes":$bytes,"k":$K,"truth_spans":$nTruth,"spans":$nSpans,"exact_hits":$hit,"widened_spans":$widened,"disjoint_spans":$disjoint,"recall_exact":$recall%.4f,"recall_tokens":$tokRecall%.4f,"sec":${f"$dt%.1f"},"shuffle_gb":$shufGb%.2f,"cpu_sec":${f"$cpuSec%.1f"},"cpus":${Session.cpus}}""")
    }

    run("hash", hashed = true)
    run("str", hashed = false)
    spark.stop()
  }
}
