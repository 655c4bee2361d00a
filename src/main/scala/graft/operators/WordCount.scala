package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, Literal,
  Lower, RegExpExtractAll}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The reference engine's core dataflow — tokenize → map-side combine →
  * hash-shuffle → reduce(SUM) → top-k — re-expressed as declarative
  * Catalyst plans over `documents.text`.
  *
  * Reference semantics reproduced (see SURVEY.md §2.1):
  *  - token regex `[A-Za-z']+`, lowercased (reference worker/worker.py:7,16-18)
  *  - map-side combine = one word → count table per partition
  *    ([[combine]], the reference's per-chunk Counter, worker/worker.py:15-18)
  *  - hash partitioning = ShuffleExchange (Murmur3; layout-independent results)
  *  - top-20 by (count DESC, length DESC) with the reference's unstable tie
  *    made deterministic by a final `word ASC` key
  *    (reference coordinator/coordinator.py:251)
  *
  * Why a kernel and not explode → partial HashAggregate: that form builds
  * one key row per token (4 M rows for 50 k distinct words per pass of the
  * benchmark's ingest), and those rows, not the regex, were the map
  * stage's cost: a codegen'd tokenizer that kept them saved only a third
  * of the CPU (JFR: fast-hash-map key compares and key-row writes).
  * Tokenizing and combining each partition in one pass more than halved
  * the pass's executor CPU (`wordcount_ingest` cpu_s medians 2.14 → 1.02 s
  * and 2.44 → 1.08 s in two 10-pair series at local[4]; CHANGES.md).
  *
  * Scale notes: the whole family is a single shuffle on `word` with partial
  * aggregation before the exchange — the reference's driver-side shuffle
  * bottleneck (coordinator.py:187-195) does not exist here. At 100 TB the
  * plan is scan → combine → partial agg → exchange → final agg; top-k uses
  * TakeOrderedAndProject (per-partition heap, no global sort).
  */
object WordCount {

  /** ASCII letters + apostrophe, after lowercasing — identical token
    * alphabet to the reference's `[A-Za-z']+` + `.lower()`. */
  val TokenPattern = "[a-z']+"

  /** The builtin token array of a text column: every Spark-side
    * tokenizer in the engine is this one expression. */
  def tokenArray(text: Column): Column =
    regexp_extract_all(lower(text), lit(TokenPattern), lit(0))

  /** The word n-grams of a token array `w`, in order, each its `n`
    * tokens joined by one space: every array-form n-gram in the engine
    * is this one expression. Precondition: `size(w) >= n` — callers keep
    * that filter or `when` guard, because below n − 1 tokens `sequence`
    * counts down and `slice` rejects index 0. */
  def tokenGrams(w: Column, n: Int): Column =
    transform(sequence(lit(1), size(w) - (n - 1)), i => concat_ws(" ", slice(w, i, lit(n))))

  /** lines/docs → one row per token ("word"); the builtin reference form
    * of what [[combine]] counts. */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(explode(tokenArray(col("text"))).as("word"))

  /** Full word → count table (reference O7+O10: combiner + reduce SUM).
    * `cnt` stays a non-nullable BIGINT, as under `count`. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("text")).as(Encoders.STRING)
      .mapPartitions(combine)(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .toDF("word", "cnt")
      .groupBy("word").agg(coalesce(sum(col("cnt")), lit(0L)).as("cnt"))

  /** The reference's one real query: word-count + Top-20 report.
    * Deterministic total order: (cnt DESC, length DESC, word ASC). */
  def top20(docs: DataFrame): DataFrame =
    tokenCounts(docs)
      .orderBy(col("cnt").desc, length(col("word")).desc, col("word").asc)
      .limit(20)

  /** Counts bucketed by a process-stable hash of the word — validates the
    * reference's MD5 hash-partitioning invariant (mass preservation across
    * partitions, worker/worker.py:10-11,19-21). Bucket = first hex nibble of
    * md5(word), which is engine-portable (md5 is md5 everywhere). */
  def partitionCounts(docs: DataFrame): DataFrame =
    tokenCounts(docs)
      .groupBy(substring(md5(col("word")), 1, 1).as("part"))
      .agg(count(lit(1)).as("n_words"), sum(col("cnt")).as("total_cnt"))
      .orderBy("part")

  /** Per-document corpus stats — per-group aggregation over the generator
    * output without materializing tokens twice. */
  def docStats(docs: DataFrame): DataFrame = {
    val toks = tokenArray(col("text"))
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"))
      .orderBy("doc_id")
  }

  /** Distinct words one combining table holds before it emits its partial
    * counts and starts over. The builtin partial aggregate spills; this
    * bound keeps a split of mostly distinct tokens from growing a task's
    * table without limit instead. */
  private[graft] val MaxWords: Int = 1 << 16
  /** Key chars one table holds before it emits, for the same reason. */
  private val MaxKeyChars: Int = 1 << 21
  /** Chars the line buffer starts with; it grows to the longest line. */
  private[graft] val InitialBuffer: Int = 256

  /** The map-side combiner: lines → one (word, partial count) per distinct
    * word, tokenized exactly as [[tokens]]. Nulls count nothing. A table
    * that reaches [[MaxWords]] emits its counts and is cleared, so a word
    * may appear more than once in the output; the sum is exact. */
  def combine(lines: Iterator[String]): Iterator[(String, Long)] = new Combiner(lines)

  /** One line's tokens, by the same rule as [[tokens]] (and the index). */
  def lineTokens(line: String): Seq[String] = {
    val t = new LineTokenizer
    t.tokenize(line)
    (0 until t.nTok).map(i => new String(t.chars, t.start(i), t.end(i) - t.start(i)))
  }

  /** Splits one line into lowercased `[a-z']+` runs, held in a reused
    * buffer: `chars(start(i) until end(i))` is token i, `hash(i)` its
    * polynomial hash. A pure-ASCII line is lowercased and split in one pass
    * over its chars. A line with any char ≥ 0x80 is tokenized by Spark's
    * own Lower + RegExpExtractAll instead, so non-ASCII case mapping (ICU,
    * e.g. U+212A KELVIN SIGN → `k`) is Spark's by construction. */
  private final class LineTokenizer {
    var chars = new Array[Char](InitialBuffer)
    private var ends = new Array[Int](InitialBuffer / 2)
    private var hashes = new Array[Int](InitialBuffer / 2)
    var nTok = 0

    def start(i: Int): Int = if (i == 0) 0 else ends(i - 1)
    def end(i: Int): Int = ends(i)
    def hash(i: Int): Int = hashes(i)

    /** Bound once, on the first non-ASCII line. */
    private lazy val builtin = RegExpExtractAll(
      Lower(BoundReference(0, StringType, nullable = false)),
      Literal(TokenPattern), Literal(0))
    private lazy val row = new GenericInternalRow(1)

    def tokenize(line: String): Unit =
      if (!tokenizeAscii(line)) {
        row.update(0, UTF8String.fromString(line))
        val arr = builtin.eval(row).asInstanceOf[ArrayData]
        // Spark's tokens are pure [a-z'] runs: joined by spaces, they scan
        // back to exactly themselves
        tokenizeAscii((0 until arr.numElements()).map(arr.getUTF8String).mkString(" "))
      }

    /** False, with the buffer undefined, at the first char ≥ 0x80. */
    private def tokenizeAscii(line: String): Boolean = {
      val len = line.length
      // a line of len chars holds at most len chars and len / 2 + 1 tokens
      if (len > chars.length) chars = new Array[Char](math.max(len, 2 * chars.length))
      if (len / 2 + 1 > ends.length) {
        ends = new Array[Int](math.max(len / 2 + 1, 2 * ends.length))
        hashes = new Array[Int](ends.length)
      }
      nTok = 0
      var n = 0
      var tokStart = 0
      var h = 0
      var i = 0
      while (i < len) {
        var c = line.charAt(i)
        if (c >= 0x80) return false
        if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
        if ((c >= 'a' && c <= 'z') || c == '\'') {
          chars(n) = c
          h = 31 * h + c
          n += 1
        } else if (n > tokStart) {
          push(n, h)
          tokStart = n
          h = 0
        }
        i += 1
      }
      if (n > tokStart) push(n, h)
      true
    }

    private def push(end: Int, h: Int): Unit = {
      ends(nTok) = end
      hashes(nTok) = h
      nTok += 1
    }
  }

  /** [[combine]]'s iterator: an open-addressing (word → count) table
    * filled from the tokenizer's buffer, emitted whole when the lines run
    * out or the table is full. A full table stops mid-line and resumes at
    * the next token after it is emitted. */
  private final class Combiner(lines: Iterator[String]) extends Iterator[(String, Long)] {
    private val tok = new LineTokenizer
    private var nextTok = 0
    // slot arrays; slotLen 0 marks an empty slot (tokens are never empty)
    private var slotHash = new Array[Int](1024)
    private var slotOff = new Array[Int](1024)
    private var slotLen = new Array[Int](1024)
    private var slotCnt = new Array[Long](1024)
    private var nWords = 0
    private var keyChars = new Array[Char](8192)
    private var keyUsed = 0
    private var out: Iterator[(String, Long)] = Iterator.empty

    def hasNext: Boolean = out.hasNext || { fill(); out.hasNext }

    def next(): (String, Long) = {
      if (!hasNext) throw new NoSuchElementException
      out.next()
    }

    private def fill(): Unit = {
      var room = addPending()
      while (room && lines.hasNext) {
        val line = lines.next()
        if (line != null) {
          tok.tokenize(line)
          nextTok = 0
          room = addPending()
        }
      }
      out = drain()
    }

    /** Adds the buffered tokens; false when the table filled first. */
    private def addPending(): Boolean = {
      while (nextTok < tok.nTok) {
        val s = tok.start(nextTok)
        if (!add(s, tok.end(nextTok) - s, tok.hash(nextTok))) return false
        nextTok += 1
      }
      true
    }

    private def slotOf(h: Int): Int = {
      val x = h * 0x9E3779B9
      (x ^ (x >>> 16)) & (slotLen.length - 1)
    }

    private def add(off: Int, len: Int, h: Int): Boolean = {
      val buf = tok.chars
      var s = slotOf(h)
      while (slotLen(s) != 0) {
        if (slotHash(s) == h && slotLen(s) == len &&
            java.util.Arrays.equals(keyChars, slotOff(s), slotOff(s) + len, buf, off, off + len)) {
          slotCnt(s) += 1
          return true
        }
        s = (s + 1) & (slotLen.length - 1)
      }
      if (nWords > 0 && (nWords >= MaxWords || keyUsed + len > MaxKeyChars)) return false
      if (keyUsed + len > keyChars.length)
        keyChars = java.util.Arrays.copyOf(keyChars, math.max(keyUsed + len, 2 * keyChars.length))
      System.arraycopy(buf, off, keyChars, keyUsed, len)
      slotHash(s) = h
      slotOff(s) = keyUsed
      slotLen(s) = len
      slotCnt(s) = 1L
      keyUsed += len
      nWords += 1
      if (2 * nWords > slotLen.length) grow()
      true
    }

    private def grow(): Unit = {
      val (oh, oo, ol, oc) = (slotHash, slotOff, slotLen, slotCnt)
      val cap = 2 * ol.length
      slotHash = new Array[Int](cap)
      slotOff = new Array[Int](cap)
      slotLen = new Array[Int](cap)
      slotCnt = new Array[Long](cap)
      var i = 0
      while (i < ol.length) {
        if (ol(i) != 0) {
          var s = slotOf(oh(i))
          while (slotLen(s) != 0) s = (s + 1) & (cap - 1)
          slotHash(s) = oh(i)
          slotOff(s) = oo(i)
          slotLen(s) = ol(i)
          slotCnt(s) = oc(i)
        }
        i += 1
      }
    }

    /** The table's (word, count) pairs; the table is left empty. */
    private def drain(): Iterator[(String, Long)] = {
      val res = new Array[(String, Long)](nWords)
      var k = 0
      var i = 0
      while (i < slotLen.length) {
        if (slotLen(i) != 0) {
          res(k) = (new String(keyChars, slotOff(i), slotLen(i)), slotCnt(i))
          k += 1
          slotLen(i) = 0
        }
        i += 1
      }
      nWords = 0
      keyUsed = 0
      res.iterator
    }
  }
}
