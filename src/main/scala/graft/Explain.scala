package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** Dev tool, two modes.
  *
  * `Explain <query> [sfDir]` prints the formatted physical plan of one
  * registry query (default sf0.01), then runs it twice as a full result
  * ([[QueryRunner.result]], never a pruned `count()`) — once warm
  * (codegen, index builds) and once audited under [[Metrics.measure]],
  * and prints the audited pass's wall time and per-stage table:
  * executor CPU, tasks, input records, shuffle read/write records and
  * the stage's name/callsite — the evidence a plan-shape claim needs
  * when per-query totals cannot localize cost (e.g. the same input
  * scanned by two stages).
  *
  * `Explain [sfDir]` sweeps EVERY registry query's physical plan (AQE
  * off, default sf0.001) and prints the operator counts that localize
  * duplicated-subtree waste — parquet scans, exchanges (a reused one is
  * not a second exchange), generates, object/sort aggregates, sort-merge
  * joins, counted over the plan's nodes and its subqueries' — sorted by
  * scan count. A
  * query whose plan scans a table far more often than its documented
  * pass count re-evaluates a shared subtree per consumer (the
  * naive_bayes_lang finding: 12 scans where 3 passes suffice).
  */
object Explain {
  def main(args: Array[String]): Unit = args.toList match {
    case name :: rest if SparkEntry.queries.contains(name) =>
      audit(name, rest.headOption.getOrElse("/root/testdata/sf0.01"))
    case Nil => sweep("/root/testdata/sf0.001")
    case sfDir :: Nil if new java.io.File(sfDir).isDirectory => sweep(sfDir)
    case other =>
      System.err.println(s"not a registry query or an sf dir: ${other.mkString(" ")}")
      sys.exit(2)
  }

  private def audit(name: String, sfDir: String): Unit = {
    val spark = Session.build("graft-explain")
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).explain("formatted")
    QueryRunner.result(fn(spark, sfDir)) // warm
    val (_, m) = Metrics.install(spark).measure(QueryRunner.result(fn(spark, sfDir)))
    val ss = m.stages.sortBy(-_.cpuNs)
    println(f"== $name: wall ${m.wallSec}%.2f s, stage CPU total ${m.cpuSec}%.2f s, " +
      s"${ss.size} stages")
    ss.foreach { s =>
      println(f"  stage ${s.id}%4d cpu=${s.cpuSec}%7.2f s tasks=${s.tasks}%3d " +
        f"in=${s.recordsIn}%10d shufR=${s.shuffleReadRecords}%9d " +
        f"shufW=${s.shuffleWriteRecords}%9d  ${s.name}")
    }
    spark.stop()
  }

  private def sweep(sfDir: String): Unit = {
    val spark = Session.build("graft-plan-sweep", Session.Aqe -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    val rows = SparkEntry.registry.map { q =>
      val counts = try {
        val plan = q.fn(spark, sfDir).queryExecution.executedPlan
        def c(p: PartialFunction[SparkPlan, Unit]) = plan.collectWithSubqueries(p).size
        (c { case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[ParquetFileFormat] => },
          c { case _: Exchange => }, c { case _: GenerateExec => },
          c { case _: ObjectHashAggregateExec | _: SortAggregateExec => },
          c { case _: SortMergeJoinExec => })
      } catch { case _: Throwable => (-1, -1, -1, -1, -1) }
      (q.name, counts)
    }
    println(f"${"query"}%-34s scans exch gen objAgg smj")
    rows.sortBy(-_._2._1).foreach { case (n, (s, e, g, o, j)) =>
      println(f"$n%-34s $s%5d $e%4d $g%3d $o%6d $j%3d")
    }
    spark.stop()
  }
}
