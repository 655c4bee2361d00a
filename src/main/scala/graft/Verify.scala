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
    val timeoutSec = QueryRunner.timeoutSec(default = 240)
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
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) }))
    spark.stop()
  }
}
