package graft

import graft.sources.{JsonSink, TextIngest}
import graft.operators.WordCount
import org.apache.spark.sql.functions._
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Reference-semantics source/sink tests (SURVEY.md O1–O3, O11). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("fetchCached downloads a file:// URL and memoizes the copy") {
    val src = Files.createTempFile("graft-src", ".txt")
    Files.writeString(src, "hello ingest")
    val dest = Files.createTempDirectory("graft-fetch").toString
    val p1 = TextIngest.fetchCached(src.toUri.toString, dest)
    assert(Files.readString(p1) == "hello ingest")
    // mutate the source: the cached copy must be reused, not re-fetched
    Files.writeString(src, "changed")
    val p2 = TextIngest.fetchCached(src.toUri.toString, dest)
    assert(p1 == p2 && Files.readString(p2) == "hello ingest")
  }

  test("fetchCached keys its copy by the whole URL, not the file name") {
    val dirs = Seq("first", "second").map { body =>
      val d = Files.createTempDirectory("graft-src")
      Files.writeString(d.resolve("corpus.zip"), body)
      d
    }
    val dest = Files.createTempDirectory("graft-fetch").toString
    val Seq(p1, p2) = dirs.map(d => TextIngest.fetchCached(d.resolve("corpus.zip").toUri.toString, dest))
    assert(p1 != p2)
    assert(Files.readString(p1) == "first" && Files.readString(p2) == "second")
  }

  test("gzip-compressed text reads transparently with line splits intact") {
    // 100 TB corpora ship compressed; Spark's text source decompresses
    // .gz per file (not splittable — one task per file, the spread()
    // rationale applies to compressed single files too)
    val dir = Files.createTempDirectory("graft-gz")
    val gz = dir.resolve("corpus.txt.gz")
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(gz))
    out.write("alpha beta\ngamma\ndelta epsilon zeta\n".getBytes("UTF-8"))
    out.close()
    val lines = TextIngest.readLines(spark, dir.toString)
    assert(lines.count() == 3)
    assert(WordCount.tokenCounts(lines.toDF("text")).count() == 6)
  }

  private def makeZip(entries: (String, Array[Byte])*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    entries.foreach { case (name, bytes) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(bytes)
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  test("zip extract drops invalid UTF-8 bytes (python errors='ignore' parity)") {
    // 0xFF 0xFE are invalid in UTF-8 and must be DROPPED, not replaced
    val dirty = "héllo ".getBytes("UTF-8") ++ Array(0xff.toByte, 0xfe.toByte) ++
      "world".getBytes("UTF-8")
    val dir = Files.createTempDirectory("graft-zip").toString
    val paths = TextIngest.extractZipUtf8(
      new ByteArrayInputStream(makeZip("a.txt" -> dirty, "sub/b.txt" -> "second".getBytes)),
      dir)
    assert(paths.length == 2, "both non-dir members extracted, archive order kept")
    val text = new String(Files.readAllBytes(Paths.get(paths.head)), "UTF-8")
    assert(text == "héllo world", s"got '$text'")
  }

  test("decodeLenient drops invalid bytes mid-sequence") {
    val bytes = "ab".getBytes("UTF-8") ++ Array(0xC3.toByte) ++ "cd".getBytes("UTF-8")
    // 0xC3 with no continuation is malformed → dropped
    assert(TextIngest.decodeLenient(bytes) == "abcd")
  }

  test("distributed lenient decode equals the serial whole-file transcode") {
    // adversarial bytes: valid multibyte chars, a bare continuation, a
    // truncated lead byte RIGHT BEFORE a newline (the split-boundary
    // case), and an invalid pair mid-line — the serial decoder and the
    // per-line distributed decoder must produce identical lines
    val dirty =
      "héllo ".getBytes("UTF-8") ++ Array(0xff.toByte) ++ "wörld".getBytes("UTF-8") ++
      Array(0xC3.toByte) ++ "\n".getBytes("UTF-8") ++
      Array(0x80.toByte) ++ "second ligne\n".getBytes("UTF-8") ++
      "tail no newline".getBytes("UTF-8") ++ Array(0xE2.toByte, 0x82.toByte)
    val dir = Files.createTempDirectory("graft-lenient").toString
    val serialPaths = TextIngest.extractZipUtf8(
      new ByteArrayInputStream(makeZip("d.txt" -> dirty)), dir + "/serial")
    val serialLines = TextIngest.readLines(spark, serialPaths.head)
      .collect().toSeq
    val rawPaths = TextIngest.extractZipRaw(
      new ByteArrayInputStream(makeZip("d.txt" -> dirty)), dir + "/raw")
    val distLines = TextIngest.readLinesLenient(spark, rawPaths.head)
      .collect().toSeq
    assert(distLines == serialLines,
      s"distributed $distLines vs serial $serialLines")
    assert(serialLines == Seq("héllo wörld", "second ligne", "tail no newline"))
  }

  test("readLines + wordcount over an extracted text file") {
    val dir = Files.createTempDirectory("graft-txt").toString
    Files.write(Paths.get(dir, "c.txt"), "Don't stop\nme now don't\n".getBytes("UTF-8"))
    val lines = TextIngest.readLines(spark, dir + "/c.txt")
    val counts = WordCount.tokenCounts(lines.toDF("text"))
      .orderBy("word").as[(String, Long)].collect().toSeq
    assert(counts == Seq(("don't", 2L), ("me", 1L), ("now", 1L), ("stop", 1L)))
  }

  test("reduce-object JSON sink writes one object per partition, mass preserved") {
    val dir = Files.createTempDirectory("graft-sink").toString
    val counts = WordCount.tokenCounts(Tables.documents(spark, sf0001))
    JsonSink.writeReduceObjects(counts, dir, 3)
    val files = new java.io.File(dir).listFiles().filter(_.getName.startsWith("reduce-"))
    assert(files.length == 3)
    // merged JSON objects must equal the full count table
    val merged: Map[String, Long] = files.toSeq.flatMap { f =>
      val s = new String(Files.readAllBytes(f.toPath), "UTF-8")
      val df = spark.read.json(Seq(s).toDS())
      df.columns.toSeq.map(c => c -> df.select(col(s"`$c`")).as[Long].head())
    }.toMap
    val expected = counts.as[(String, Long)].collect().toMap
    assert(merged == expected)
  }
}
