package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Decontamination flagship at ~1 GB: exact [[TextAnalysis.contamination]]
  * vs the Bloom-prefiltered [[TextAnalysis.contaminationBloom]] on the
  * [[SubstrFlagship]] corpus (500k docs, ~196M word-8-gram occurrences),
  * eval slice = the first 1% of docs. The sf0.01 oracle proves the two
  * operators return identical rows; this measures WHY the Bloom shape
  * exists — the shuffle the exact operator pays to find the ~1% of
  * corpus grams that hit the eval set, and the equality of the two
  * outputs re-verified at 500k docs (not just sf0.01).
  *
  * Results recorded in SUBSTR_1GB.md (shared corpus section). Usage:
  *   scripts/run.sh graft.BloomFlagship [nDocs] [workDir]
  * (generates the corpus if the SubstrFlagship run has not already)
  */
object BloomFlagship {

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val work = if (args.length > 1) args(1) else "/tmp/graft_substr1g"
    val spark = Session.build("graft-bloom-flagship")

    val corpusDir = s"$work/corpus"
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$corpusDir/_SUCCESS")),
      s"run graft.SubstrFlagship first to generate $corpusDir")
    val docs = spark.read.parquet(corpusDir)
    val bytes = docs.agg(sum("n_chars")).head().getLong(0)
    // 1% eval slice, +10 so the threshold SPLITS one planted passage
    // pair (pairs are (20m, 20m+10): a cut at ≡10 mod 20 straddles
    // exactly one) — the true-positive path executes at scale, not just
    // in the sf0.01 oracle where hits are plentiful
    val evalMax = nDocs / 100 + 10

    val metrics = Metrics.install(spark)
    def run(label: String)(mk: => org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val ((out, n, flagged, dt), m) = metrics.measure {
        val t0 = System.nanoTime()
        val out = mk.localCheckpoint()
        val n = out.count()
        val flagged = out.filter(col("contaminated")).count()
        (out, n, flagged, (System.nanoTime() - t0) / 1e9)
      }
      println(f"""{"metric":"decontam_1gb_$label","docs":$nDocs,"bytes":$bytes,"eval_docs":$evalMax,"rows":$n,"flagged":$flagged,"sec":${f"$dt%.1f"},"shuffle_gb":${m.shuffleWriteBytes / 1e9}%.2f,"cpu_sec":${f"${m.cpuSec}%.1f"},"cpus":${Session.cpus}}""")
      out
    }

    val exact = run("exact")(TextAnalysis.contamination(docs, evalMaxId = evalMax))
    val bloom = run("bloom")(TextAnalysis.contaminationBloom(spark, docs, evalMaxId = evalMax))
    // row-level equality at scale, both directions
    val diff = exact.exceptAll(bloom).count() + bloom.exceptAll(exact).count()
    println(s"""{"metric":"decontam_1gb_equal","diff_rows":$diff}""")
    require(diff == 0, s"bloom path diverged from exact: $diff rows")
    spark.stop()
  }
}
