package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // GRAFT_ONLY=a,b,c: dump (and emit oracle SQL for) just those
    // queries — local builder iteration; the driver never sets it
    val selected = QueryRunner.selected(SparkEntry.queries)
    val timeoutSec = sys.env.getOrElse("GRAFT_QUERY_TIMEOUT", "240").toLong
    // GRAFT_MASTER=local-cluster[2,8,4096] runs the whole correctness
    // dump across real forked executor JVMs (see Cluster.scala)
    val spark = Session.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      // one wedged query must cost the correctness run one result, not
      // the whole artifact
      QueryRunner.run(spark, name, timeoutSec) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } match {
        case Right(_) =>
        case Left(_: java.util.concurrent.TimeoutException) =>
          System.err.println(s"[verify] $name timed out after ${timeoutSec}s")
        case Left(c) =>
          System.err.println(s"[verify] $name failed: ${c.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
