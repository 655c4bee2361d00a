package graft

/** Dev tool, two modes.
  *
  * `Explain <query> [sfDir]` prints the formatted physical plan and wall
  * time of one registry query (default sf0.01).
  *
  * `Explain [sfDir]` sweeps EVERY registry query's physical plan (AQE
  * off, default sf0.001) and prints the operator counts that localize
  * duplicated-subtree waste — parquet scans, exchanges, generates,
  * object/sort aggregates, sort-merge joins — sorted by scan count. A
  * query whose plan scans a table far more often than its documented
  * pass count re-evaluates a shared subtree per consumer (the
  * naive_bayes_lang finding: 12 scans where 3 passes suffice).
  */
object Explain {
  def main(args: Array[String]): Unit = args.toList match {
    case name :: rest if SparkEntry.queries.contains(name) =>
      val spark = Session.build("graft-explain")
      val df = SparkEntry.queries(name)(spark, rest.headOption.getOrElse("/root/testdata/sf0.01"))
      df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
      spark.stop()
    case Nil => sweep("/root/testdata/sf0.001")
    case sfDir :: Nil if new java.io.File(sfDir).isDirectory => sweep(sfDir)
    case other =>
      System.err.println(s"not a registry query or an sf dir: ${other.mkString(" ")}")
      sys.exit(2)
  }

  private def sweep(sfDir: String): Unit = {
    val spark = Session.build("graft-plan-sweep", Session.Aqe -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    val rows = SparkEntry.registry.map { q =>
      val counts = try {
        val plan = q.fn(spark, sfDir).queryExecution.executedPlan.toString
        def c(p: String) = p.r.findAllIn(plan).length
        (c("Scan parquet"), c("Exchange"), c("Generate"),
          c("(?:ObjectHash|Sort)Aggregate"), c("SortMergeJoin"))
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
