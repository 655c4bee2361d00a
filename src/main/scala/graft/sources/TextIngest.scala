package graft.sources

import java.io.{BufferedReader, FileOutputStream, InputStream, InputStreamReader}
import java.nio.charset.{CharsetDecoder, CodingErrorAction, StandardCharsets}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.ZipInputStream
import org.apache.spark.sql.{Dataset, SparkSession}

/** Ingest path reproducing the reference's source semantics (SURVEY.md
  * O1–O3): ZIP extraction with UTF-8 errors="ignore" transcode (invalid
  * byte sequences are DROPPED, not replaced — reference
  * coordinator/coordinator.py:36-50), then line-aligned splits sized via
  * `spark.sql.files.maxPartitionBytes` (the reference's 32 MB chunker,
  * coordinator.py:57-89, is Spark's TextInputFormat split policy).
  *
  * Driver-side utility by design: the reference's download/extract is
  * coordinator-side too; at scale the transcode would run once per file
  * in a distributed binaryFile pass, but the semantics live here.
  */
object TextIngest {

  /** 32 MB — the reference's chunk target (coordinator.py:57). */
  val DefaultSplitBytes: Long = 32L * 1024 * 1024

  private def ignoringDecoder: CharsetDecoder =
    StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.IGNORE)
      .onUnmappableCharacter(CodingErrorAction.IGNORE)

  /** Decode bytes as UTF-8 dropping invalid sequences (python
    * `errors="ignore"` parity; Spark's own text reader would substitute
    * U+FFFD instead). */
  def decodeLenient(bytes: Array[Byte]): String =
    ignoringDecoder.decode(java.nio.ByteBuffer.wrap(bytes)).toString

  /** Download a URL to destDir with memoization — completes the
    * reference's fetch step (coordinator/coordinator.py:17-55: download
    * once, reuse the cached copy). Uses java.net.http so file:// and
    * http(s):// both work; unit-tested against file:// (this build
    * environment is zero-egress, so no live-HTTP test is possible). The
    * copy is keyed by the whole URL (`destDir/<url hash>/<file name>`):
    * two URLs with the same file name never serve each other's bytes. */
  def fetchCached(url: String, destDir: String): Path = {
    val key = java.security.MessageDigest.getInstance("SHA-256")
      .digest(url.getBytes(StandardCharsets.UTF_8)).take(8).map("%02x".format(_)).mkString
    val dir = Files.createDirectories(Paths.get(destDir, key))
    val name = Paths.get(new java.net.URI(url).getPath).getFileName.toString
    val dest = dir.resolve(name)
    if (!Files.exists(dest)) {
      val tmp = dir.resolve(name + ".part")
      val in = new java.net.URI(url).toURL.openStream()
      try Files.copy(in, tmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      Files.move(tmp, dest, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    dest
  }

  /** Extract every non-directory ZIP member to destDir as clean UTF-8
    * .txt; returns the extracted paths in archive order (the reference
    * processes files[0] — the FIRST member — coordinator.py:137-138). */
  def extractZipUtf8(zipIn: InputStream, destDir: String): Seq[String] = {
    Files.createDirectories(Paths.get(destDir))
    val zis = new ZipInputStream(zipIn)
    val out = Seq.newBuilder[String]
    var entry = zis.getNextEntry
    while (entry != null) {
      if (!entry.isDirectory) {
        val name = Paths.get(entry.getName).getFileName.toString
        val dest = Paths.get(destDir, name + ".txt")
        val reader = new BufferedReader(new InputStreamReader(zis, ignoringDecoder))
        val fos = new FileOutputStream(dest.toFile)
        val writer = new java.io.OutputStreamWriter(fos, StandardCharsets.UTF_8)
        val buf = new Array[Char](1 << 16)
        var n = reader.read(buf)
        while (n >= 0) { writer.write(buf, 0, n); n = reader.read(buf) }
        writer.flush(); fos.close()
        out += dest.toString
      }
      entry = zis.getNextEntry
    }
    out.result()
  }

  /** Line dataset with the reference's 32 MB line-aligned split policy. */
  def readLines(spark: SparkSession, path: String,
      splitBytes: Long = DefaultSplitBytes): Dataset[String] = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", splitBytes.toString)
    spark.read.textFile(path)
  }

  /** Extract ZIP members as RAW BYTES (no transcode) — the fast I/O-only
    * step that [[readLinesLenient]] pairs with to make the decode
    * distributed. Returns extracted paths in archive order. */
  def extractZipRaw(zipIn: InputStream, destDir: String): Seq[String] = {
    Files.createDirectories(Paths.get(destDir))
    val zis = new ZipInputStream(zipIn)
    val out = Seq.newBuilder[String]
    var entry = zis.getNextEntry
    val buf = new Array[Byte](1 << 20)
    while (entry != null) {
      if (!entry.isDirectory) {
        val name = Paths.get(entry.getName).getFileName.toString
        val dest = Paths.get(destDir, name + ".bin")
        val fos = new FileOutputStream(dest.toFile)
        var n = zis.read(buf)
        while (n >= 0) { fos.write(buf, 0, n); n = zis.read(buf) }
        fos.close()
        out += dest.toString
      }
      entry = zis.getNextEntry
    }
    out.result()
  }

  /** DISTRIBUTED errors=ignore decode: read the raw file with Hadoop's
    * TextInputFormat — whose line splitting is byte-oriented on \n, and
    * \n can never appear inside a multibyte UTF-8 sequence, so splits
    * are safe regardless of encoding — and decode each line's BYTES with
    * the ignoring decoder in the executors.
    *
    * Exactly equal to the serial whole-file transcode
    * ([[extractZipUtf8]]): UTF-8 is self-synchronizing, so an invalid
    * sequence truncated at a line boundary is dropped by both framings
    * (spec-pinned on adversarial bytes). This removes the flagship
    * pipeline's only serial stage — at 100 TB the decode runs as ~3,000
    * map tasks per 100 GB instead of one coordinator thread. */
  def readLinesLenient(spark: SparkSession, path: String,
      splitBytes: Long = DefaultSplitBytes): Dataset[String] = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.setLong("mapreduce.input.fileinputformat.split.maxsize", splitBytes)
    val lines = spark.sparkContext
      .newAPIHadoopFile(path, classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text], conf)
      .map { case (_, t) =>
        decodeLenient(java.util.Arrays.copyOf(t.getBytes, t.getLength))
      }
    import spark.implicits._
    spark.createDataset(lines)
  }
}
