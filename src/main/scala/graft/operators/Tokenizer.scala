package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Distributed BPE tokenizer TRAINING — the vocabulary-induction step a
  * pretraining stack runs before anything else (Sennrich et al.,
  * "Neural Machine Translation of Rare Words with Subword Units",
  * ACL'16; the scheme GPT-2/LLaMA tokenizers descend from).
  *
  * The classic formulation is a driver-side loop over an in-memory
  * word-frequency dict. The distributed shape used here is the one that
  * survives 100 TB:
  *
  *  - The ONLY corpus-sized pass is the initial word count (tokenize →
  *    partial-aggregated groupBy — the reference's own O5-O10 dataflow,
  *    reference worker/worker.py:14-22). Everything after operates on
  *    the WORD-TYPE table (vocabulary-sized: bounded by distinct words,
  *    not corpus tokens — this is also how production BPE trainers get
  *    their speed, e.g. HuggingFace tokenizers' word-count pretraining).
  *  - Each merge round is: adjacent-symbol-pair extraction (map-only
  *    explode over word types, weighted by word freq), one
  *    partial-aggregated groupBy(pair), a top-1 argmax
  *    (TakeOrderedAndProject — no full sort), then a 1-row broadcast
  *    back onto the word table to apply the merge. No round ever
  *    shuffles anything wider than the (pair, weight) aggregate.
  *  - Rounds are staged through [[Materialize.stage]] (the CC-loop
  *    pattern: per-round lineage truncation, reliable-checkpoint mode
  *    under `spark.graft.checkpoint.reliable` for real clusters).
  *
  * Symbol sequences are strings of '('-')'-wrapped symbols —
  * "(t)(h)(e)" — so a merge is ONE engine-native `replace`:
  * left-to-right, non-overlapping in both Spark (UTF8String.replace)
  * and DuckDB, and the wrapping makes adjacent matches share no
  * characters (the classic ' a b ' encoding breaks on "a b a b", where
  * consecutive matches share the separator space and greedy replace
  * misses the second pair). Parens cannot collide with symbol text:
  * the token alphabet is [a-z'] (reference worker/worker.py:7). The
  * same property makes the greedy merge IDENTICAL across engines, so
  * ten unrolled rounds match the DuckDB oracle hash-for-hash.
  *
  * The trained artifacts — the merge list and the word → symbol-string
  * vocabulary — are durable content-keyed indexes like the LSH band
  * tables: under `spark.graft.index.dir` a fresh session serves them
  * from parquet without re-running the loop (encode-side consumers pay
  * a broadcast lookup, never a retrain).
  */
object Tokenizer {

  /** Merge rounds learned by the registry queries (each round = one
    * vocabulary entry beyond the byte alphabet). */
  val Rounds = 10

  final case class BpeState(merges: DataFrame, vocab: DataFrame)

  /** Word-frequency table with initial per-character symbol strings. */
  private[graft] def initWords(docs: DataFrame): DataFrame =
    docs
      .select(explode(WordCount.tokenArray(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("sym", regexp_replace(col("word"), "(.)", "($1)"))

  /** Run `rounds` greedy merge rounds. Returns the merge table
    * (rank, pair, merged, weight) and the final vocabulary
    * (word, freq, sym). */
  def learnBpe(docs: DataFrame, rounds: Int = Rounds): BpeState =
    learnBpeFrom(Materialize.stage(initWords(docs)), rounds)

  /** The merge loop alone, over an already-staged word table (the
    * flagship times the corpus pass and the vocabulary-sized loop
    * separately — their scaling regimes differ). */
  private[graft] def learnBpeFrom(words0: DataFrame, rounds: Int): BpeState = {
    var words = words0
    val merges = Seq.newBuilder[DataFrame]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      r += 1
      val pairs = words
        .select(col("freq"),
          regexp_extract_all(col("sym"), lit("\\([^)]*\\)"), lit(0)).as("ss"))
        .filter(size(col("ss")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(ss) - 1), i -> concat(element_at(ss, i), element_at(ss, i + 1)))"))
          .as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("weight"))
      // deterministic argmax: weight desc, pair asc — a top-1
      // TakeOrderedAndProject over the vocabulary-sized pair aggregate
      val best = Materialize.stage(
        pairs.orderBy(col("weight").desc, col("pair").asc).limit(1)
          .select(lit(r.toLong).as("rank"), col("pair"),
            regexp_replace(col("pair"), "\\)\\(", "").as("merged"),
            col("weight")))
      // a fully-collapsed vocabulary (every word one symbol) yields an
      // EMPTY pair table before `rounds` runs out; without this guard
      // the crossJoin with the empty argmax row would annihilate the
      // whole word table (caught in review). `best` is staged, so the
      // emptiness check is a metadata-cheap count of one small table.
      if (best.isEmpty) {
        exhausted = true
      } else {
        merges += best
        words = Materialize.stage(
          words.crossJoin(broadcast(
              best.select(col("pair").as("_p"), col("merged").as("_m"))))
            .withColumn("sym", expr("replace(sym, _p, _m)"))
            .select("word", "freq", "sym"))
      }
    }
    val ms = merges.result()
    val mergesDf =
      if (ms.nonEmpty) ms.reduce(_ union _)
      else words.sparkSession.range(0).select(col("id").as("rank"),
        lit("").as("pair"), lit("").as("merged"), col("id").as("weight"))
    BpeState(mergesDf, words)
  }

  /** Train-once per (session, dataset); both artifacts durable
    * content-keyed tables under spark.graft.index.dir. The training
    * loop is inside the lazy thunk, so a session that finds BOTH
    * committed parquet tables never runs it at all. */
  def trained(s: SparkSession, d: String): BpeState = {
    val fp = Materialize.sourceFingerprint(s, Seq(d))
    lazy val st = learnBpe(Tables.documents(s, d))
    BpeState(
      merges = Materialize.index(s, s"bpeMerges$Rounds:$d@$fp")(st.merges),
      vocab = Materialize.index(s, s"bpeVocab$Rounds:$d@$fp")(st.vocab))
  }

  /** The learned merge list — rank, pair (wrapped form), merged symbol,
    * corpus weight at merge time. */
  def bpeVocabQuery(s: SparkSession, d: String): DataFrame =
    trained(s, d).merges
      .select(col("rank"), col("pair"), col("merged"), col("weight"))
      .orderBy("rank")

  /** ENCODE-side statistics: per document, tokens vs post-BPE symbol
    * count. Encoding is a broadcast word → symbol-count lookup (every
    * corpus word type is in the vocabulary by construction — the
    * trainer saw the same corpus), so the encode pass is map-side:
    * corpus-sized explode, one tiny broadcast join, one groupBy(doc) —
    * the word-cache encode path production tokenizers use. */
  /** word → post-BPE symbol count, the shared encode lookup of
    * [[bpeEncodeStats]] and [[bpeFertility]] (one definition so a
    * wrapped-symbol format change can't silently diverge the two). */
  private def encodeCounts(s: SparkSession, d: String): DataFrame =
    trained(s, d).vocab
      .select(col("word"),
        size(regexp_extract_all(col("sym"), lit("\\([^)]*\\)"), lit(0)))
          .cast("long").as("n_sym"))

  def bpeEncodeStats(s: SparkSession, d: String): DataFrame = {
    val counts = encodeCounts(s, d)
    Tables.documents(s, d)
      .select(col("doc_id"), explode(WordCount.tokenArray(col("text"))).as("word"))
      .join(broadcast(counts), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_sym")).as("n_symbols"))
      .select(col("doc_id"), col("n_tokens"), col("n_symbols"),
        round(col("n_symbols").cast("double") / col("n_tokens").cast("double"), 6)
          .as("syms_per_token"))
      .orderBy("doc_id")
  }

  /** Tokenizer FERTILITY by language — symbols-per-token aggregated per
    * lang, the standard multilingual tokenizer-evaluation metric (a
    * vocabulary trained on a skewed mix over-fragments the minority
    * languages; fertility per lang is how that is detected). Same
    * map-side encode as [[bpeEncodeStats]] (broadcast word→symbol-count
    * lookup), rolled up to the lang grain — output is |langs| rows, so
    * the aggregate is trivially bounded at any corpus size. */
  def bpeFertility(s: SparkSession, d: String): DataFrame = {
    val counts = encodeCounts(s, d)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        explode(WordCount.tokenArray(col("text"))).as("word"))
      .join(broadcast(counts), "word")
      .groupBy("lang")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"), sum(col("n_sym")).as("n_symbols"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_symbols"),
        round(col("n_symbols").cast("double") / col("n_tokens").cast("double"), 6)
          .as("fertility"))
      .orderBy("lang")
  }
}
