package graft

import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.WordCount
import graft.sources.{JsonSink, TextIngest}

/** Flagship run at the reference's actual operating point: ~1 GB of text
  * (the reference's default workload is the 10⁹-byte enwik9 zip,
  * coordinator/coordinator.py:248). The build environment is zero-egress,
  * so the corpus is generated locally — a deterministic Zipf-distributed
  * word stream (log-uniform rank draw ⇒ frequency ∝ 1/rank, the shape of
  * natural-language token frequencies) — then ZIPPED, so the TIMED section
  * is the reference's full O1→O13 dataflow:
  *
  *   fetchCached(file://corpus.zip)            O1  (download+memoize)
  *   extractZipUtf8 (errors=ignore transcode)  O2
  *   readLines, 32 MB line-aligned splits      O3–O4
  *   tokenCounts (one-pass tokenize + combine
  *     per partition → hash shuffle →
  *     reduce SUM)                             O5–O10
  *   writeReduceObjects (per-partition JSON)   O11–O12
  *   top20 report                              O13–O14
  *
  * Results + config are recorded in BASELINE_1GB.md. Usage:
  *   scripts/run.sh graft.Flagship1G [targetBytes] [workDir]
  */
object Flagship1G {

  /** Zipf corpus: each line is `wordsPerLine` draws; a draw maps a
    * deterministic xxhash64 uniform u∈[0,1) to rank ⌊V^u⌋ (log-uniform ⇒
    * P(rank) ∝ 1/rank), and rank r to the base-26 word of (r + 26³) —
    * injective, always exactly 4 letters, so every line is exactly
    * 12·4 + 11 + 1 = 60 bytes and the byte target is hit precisely.
    * Pure Catalyst expressions — the generator itself is a distributed
    * Spark job, no driver loop. */
  private def genCorpus(spark: SparkSession, dir: String, targetBytes: Long): Unit = {
    val vocab = 50000L // ⌊V^u⌋ ranks 1..V; ~enwik-scale working vocabulary
    val wordsPerLine = 12
    val lineBytes = wordsPerLine * 5L // 4-letter words + separators + \n
    val nLines = targetBytes / lineBytes
    // pmod, not abs: abs(Long.MinValue) is Long.MinValue (still
    // negative), which would push u below 0 and rank out of range
    val u = pmod(xxhash64(col("id"), col("j"), lit(42)), lit(Long.MaxValue))
      .cast("double") / lit(Long.MaxValue.toDouble)
    val rank = floor(pow(lit(vocab.toDouble), u)).cast("long") + lit(17576L)
    def letter(div: Long) = chr(lit(97) + pmod((col("r") / div).cast("long"), lit(26)))
    val word = concat(letter(1), letter(26), letter(676), letter(17576))
    spark.range(nLines)
      .select(col("id"), explode(sequence(lit(1), lit(wordsPerLine))).as("j"))
      .select(col("id"), rank.as("r"))
      .select(col("id"), word.as("w"))
      .groupBy("id").agg(concat_ws(" ", collect_list(col("w"))).as("value"))
      .select("value")
      .write.mode("overwrite").text(dir)
  }

  /** Concatenate the generated part files into one zip member — the
    * reference unzips and processes files[0], a single text file. Deflate
    * level 1: the corpus must actually decompress in the timed section,
    * but compression effort is not the thing being measured. */
  private def zipCorpus(genDir: String, zipPath: String): Long = {
    // NB match on the FILE NAME prefix: a contains("part-") test would
    // also sweep in Hadoop's hidden .part-*.crc checksum siblings and
    // concatenate binary garbage into the corpus
    val parts = Files.list(Paths.get(genDir)).toArray.map(_.toString)
      .filter(p => Paths.get(p).getFileName.toString.startsWith("part-")).sorted
    val zos = new ZipOutputStream(Files.newOutputStream(Paths.get(zipPath)))
    zos.setLevel(1)
    zos.putNextEntry(new ZipEntry("corpus_synth"))
    val buf = new Array[Byte](1 << 20)
    var total = 0L
    parts.foreach { p =>
      val in = Files.newInputStream(Paths.get(p))
      var n = in.read(buf)
      while (n >= 0) { zos.write(buf, 0, n); total += n; n = in.read(buf) }
      in.close()
    }
    zos.closeEntry(); zos.close()
    total
  }

  def main(args: Array[String]): Unit = {
    val targetBytes = args.headOption.map(_.toLong).getOrElse(1000000000L)
    val work = if (args.length > 1) args(1) else "/tmp/graft_1gb"
    val spark = Session.build("graft-flagship-1g")

    // ---- untimed setup: synthesize + zip the corpus (stands in for the
    // enwik9 download the zero-egress sandbox cannot perform)
    val zipPath = s"$work/corpus.zip"
    if (!Files.exists(Paths.get(zipPath))) {
      val t0 = System.nanoTime()
      genCorpus(spark, s"$work/gen", targetBytes)
      val raw = zipCorpus(s"$work/gen", zipPath)
      println(f"setup: generated+zipped $raw%d bytes in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    // ---- timed: the reference's O1→O13 dataflow. Default path extracts
    // RAW bytes (I/O only) and runs the errors=ignore decode inside the
    // distributed job (readLinesLenient) — the serial whole-file
    // transcode (GRAFT_SERIAL_DECODE=true, the reference's literal
    // shape) measured 19.1 s of the 30.9 s total, i.e. the pipeline's
    // only non-scaling stage; the distributed decode removes it.
    val serialDecode = sys.env.getOrElse("GRAFT_SERIAL_DECODE", "false") == "true"
    val t0 = System.nanoTime()
    val cached = TextIngest.fetchCached(s"file://$zipPath", s"$work/cache")
    // files[0]: the reference processes the first archive member only
    val (files, mkDocs) =
      if (serialDecode) {
        val fs = TextIngest.extractZipUtf8(
          Files.newInputStream(cached), s"$work/extract")
        (fs, () => TextIngest.readLines(spark, fs.head).toDF("text"))
      } else {
        val fs = TextIngest.extractZipRaw(
          Files.newInputStream(cached), s"$work/extract_raw")
        (fs, () => TextIngest.readLinesLenient(spark, fs.head).toDF("text"))
      }
    val tExtract = System.nanoTime()
    val docs = mkDocs()
    val counts = WordCount.tokenCounts(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // NUM_REDUCERS = 2 × parallelism (reference coordinator.py:11)
    JsonSink.writeReduceObjects(counts, s"$work/out", 2 * Session.cpus)
    // top-20 from the SAME persisted counts (WordCount.top20 semantics;
    // the one tokenize pass feeds both the sink and the report)
    val top20 = counts
      .orderBy(col("cnt").desc, length(col("word")).desc, col("word").asc)
      .limit(20).collect()
    val t1 = System.nanoTime()

    val nWords = counts.agg(sum("cnt")).head().getLong(0)
    val nDistinct = counts.count()
    counts.unpersist()
    println("top-20: " + top20.map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", "))
    println(f"""{"metric":"flagship_1gb","extract_sec":${(tExtract - t0) / 1e9}%.2f,"total_sec":${(t1 - t0) / 1e9}%.2f,"bytes":$targetBytes,"tokens":$nWords,"distinct":$nDistinct,"cpus":${Session.cpus}}""")
    spark.stop()
  }
}
