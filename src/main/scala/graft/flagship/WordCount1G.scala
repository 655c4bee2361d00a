package graft.flagship

import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.Flagship.Ctx
import graft.Session
import graft.operators.WordCount
import graft.sources.{JsonSink, TextIngest}

/** The reference's word count at its actual operating point: ~1 GB of
  * text (the reference's default workload is the 10⁹-byte enwik9 zip,
  * coordinator/coordinator.py:248). The build environment is zero-egress,
  * so the corpus is generated locally — a deterministic Zipf-distributed
  * word stream — then ZIPPED, so the TIMED section is the reference's
  * full O1→O13 dataflow:
  *
  *   fetchCached(file://corpus.zip)            O1  (download+memoize)
  *   extractZipRaw (bytes only)                O2
  *   readLinesLenient (errors=ignore decode in
  *     the executors), line-aligned splits     O3–O4
  *   tokenCounts (one-pass tokenize + combine
  *     per partition → hash shuffle →
  *     reduce SUM)                             O5–O10
  *   writeReduceObjects (per-partition JSON)   O11–O12
  *   top20 report                              O13–O14
  *
  * The distributed decode replaced a serial whole-file transcode that
  * took 19.1 s of a 30.9 s total (BASELINE_1GB.md). Results + config are
  * recorded in BASELINE_1GB.md. Usage:
  *   scripts/run.sh graft.Flagship wordcount [bytes=…] [work=…]
  */
object WordCount1G {

  /** The 4-letter Zipf-ish word of a 64-bit hash: u ∈ [0,1) from the
    * hash, rank ⌊V^u⌋ (log-uniform ⇒ P(rank) ∝ 1/rank, V = 50 000, an
    * enwik-scale working vocabulary), and rank r to the base-26 word of
    * (r + 26³) — injective, always exactly 4 letters. Every text corpus
    * of the scenarios draws its words here. */
  def zipfWord(hash: Column): Column = {
    // pmod, not abs: abs(Long.MinValue) is Long.MinValue (still
    // negative), which would push u below 0 and rank out of range
    val u = pmod(hash, lit(Long.MaxValue)).cast("double") / lit(Long.MaxValue.toDouble)
    val r = floor(pow(lit(50000.0), u)).cast("long") + lit(17576L)
    def letter(div: Long) = chr(lit(97) + pmod((r / div).cast("long"), lit(26)))
    concat(letter(1), letter(26), letter(676), letter(17576))
  }

  /** Zipf corpus: each line is 12 [[zipfWord]] draws, so every line is
    * exactly 12·4 + 11 + 1 = 60 bytes and the byte target is hit
    * precisely. Pure Catalyst — the generator is a distributed job. */
  private def genCorpus(spark: SparkSession, dir: String, targetBytes: Long): Unit = {
    val wordsPerLine = 12
    spark.range(targetBytes / (wordsPerLine * 5L))
      .select(col("id"), explode(sequence(lit(1), lit(wordsPerLine))).as("j"))
      .select(col("id"), zipfWord(xxhash64(col("id"), col("j"), lit(42))).as("w"))
      .groupBy("id").agg(concat_ws(" ", collect_list(col("w"))).as("value"))
      .select("value")
      .write.mode("overwrite").text(dir)
  }

  /** Concatenate the generated part files into one zip member — the
    * reference unzips and processes files[0], a single text file. Deflate
    * level 1: the corpus must actually decompress in the timed section,
    * but compression effort is not the thing being measured. */
  private def zipCorpus(genDir: String, zipPath: String): Unit = {
    // NB match on the FILE NAME prefix: a contains("part-") test would
    // also sweep in Hadoop's hidden .part-*.crc checksum siblings and
    // concatenate binary garbage into the corpus
    val parts = Files.list(Paths.get(genDir)).toArray.map(_.toString)
      .filter(p => Paths.get(p).getFileName.toString.startsWith("part-")).sorted
    val zos = new ZipOutputStream(Files.newOutputStream(Paths.get(zipPath)))
    zos.setLevel(1)
    zos.putNextEntry(new ZipEntry("corpus_synth"))
    parts.foreach(p => Files.copy(Paths.get(p), zos))
    zos.closeEntry(); zos.close()
  }

  def run(c: Ctx): Seq[(String, Any)] = {
    val (spark, bytes, work) = (c.spark, c.long("bytes"), c.str("work"))
    // untimed setup: stands in for the enwik9 download the zero-egress
    // sandbox cannot perform
    val zipDir = c.cached("wordcount_zip", bytes) { dir =>
      c.stage("setup") {
        genCorpus(spark, s"$dir/text", bytes)
        zipCorpus(s"$dir/text", s"$dir/corpus.zip")
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/text"))
      }
    }

    // timed: the reference's O1→O13 dataflow
    val files = c.stage("extract") {
      val cached = TextIngest.fetchCached(s"file://$zipDir/corpus.zip", s"$work/cache")
      // files[0]: the reference processes the first archive member only
      TextIngest.extractZipRaw(Files.newInputStream(cached), s"$work/extract_raw")
    }
    val (counts, top20) = c.stage("count") {
      val counts = WordCount.tokenCounts(TextIngest.readLinesLenient(spark, files.head).toDF("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // NUM_REDUCERS = 2 × parallelism (reference coordinator.py:11)
      JsonSink.writeReduceObjects(counts, s"$work/out", 2 * Session.cpus)
      // top-20 from the SAME persisted counts (WordCount.top20 semantics;
      // the one tokenize pass feeds both the sink and the report)
      (counts, counts.orderBy(col("cnt").desc, length(col("word")).desc, col("word").asc)
        .limit(20).collect())
    }
    val nWords = counts.agg(sum("cnt")).head().getLong(0)
    val nDistinct = counts.count()
    counts.unpersist()
    println("top-20: " + top20.map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", "))
    Seq("extract_sec" -> c.wall("extract"), "total_sec" -> (c.wall("extract") + c.wall("count")),
      "bytes" -> bytes, "tokens" -> nWords, "distinct" -> nDistinct)
  }
}
