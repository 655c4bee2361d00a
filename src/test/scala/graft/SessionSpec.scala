package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit, TimeoutException}

import org.apache.spark.JobExecutionStatus

/** The mains' shared harness: the one session config, the per-query
  * watchdog and the GRAFT_ONLY selector — plus a guard that keeps the
  * per-main copies they replaced from growing back. */
class SessionSpec extends SparkSpec {

  private def read(f: File): String = Files.readString(f.toPath)

  test("batch config: exactly Verify's values at SPARK_GRAFT_CPUS, one value per key") {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    assert(Session.cpus == cpus)
    val expected = Map(
      "spark.master" -> sys.env.getOrElse("GRAFT_MASTER", s"local[$cpus]"),
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      "spark.sql.broadcastTimeout" -> "600",
      "spark.executor.heartbeatInterval" -> "20s",
      "spark.network.timeout" -> "600s",
      "spark.executor.heartbeat.maxFailures" -> "180",
      "spark.ui.enabled" -> "false")
    assert(Session.batch.toMap == expected)
    assert(Session.batch.size == expected.size)
    val local = Session.conf(Session.Master -> "local[8]", "spark.sql.shuffle.partitions" -> "8")
    assert(local.map(_._1).distinct.size == local.size, "an extra must replace, not repeat, a key")
    assert(local.toMap == expected ++ Map("spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8"))
  }

  test("batch config matches the benchmark's session on every key it records") {
    // the benchmark builds its own session (it must not depend on the
    // mains); its Runner records RecordedConf per run — read both from
    // its source so a drift on either side fails here
    val src = read(new File("perfbench/src/main/scala/perfbench/Runner.scala"))
    val rec = src.indexOf("val RecordedConf")
    val recorded = "\"([^\"]+)\"".r.findAllMatchIn(src.substring(rec, src.indexOf(")", rec)))
      .map(_.group(1)).toSeq
    assert(recorded.contains("spark.sql.adaptive.enabled"), recorded)
    val at = src.indexOf("def buildSession")
    val builder = src.substring(at, src.indexOf(".getOrCreate()", at))
    val benchConf = """\.config\("([^"]+)",\s*([^)]+)\)""".r.findAllMatchIn(builder)
      .map(m => m.group(1) -> m.group(2).trim).toMap
    assert(builder.contains(".master(s\"local[$cores]\")"))
    assert(benchConf("spark.sql.shuffle.partitions") == "cores.toString")
    val ours = Session.batch.toMap
    recorded.filterNot(Set("spark.master", "spark.sql.shuffle.partitions")).foreach { k =>
      assert(ours.get(k) == benchConf.get(k).map(_.stripPrefix("\"").stripSuffix("\"")), k)
    }
  }

  test("streaming config turns AQE off and names a state-store provider") {
    val c = Session.conf(Session.streaming: _*).toMap
    assert(c("spark.sql.adaptive.enabled") == "false")
    assert(c("spark.sql.streaming.stateStore.providerClass").endsWith("StateStoreProvider"))
    assert(c("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("watchdog: a query past its timeout is cancelled, and the session stays usable") {
    val sc = spark.sparkContext
    val group = "session-spec-sleeper"
    val t0 = System.nanoTime()
    val r = QueryRunner.run(spark, group, 2) {
      sc.parallelize(1 to 2, 2).map { x => Thread.sleep(120000L); x }.count()
    }
    val waited = (System.nanoTime() - t0) / 1e9
    assert(r.swap.exists(_.isInstanceOf[TimeoutException]), r)
    assert(waited >= 2 && waited < 30, waited)
    // job status reaches the status store through the listener bus
    val deadline = System.nanoTime() + 30L * 1000000000L
    def statuses = sc.statusTracker.getJobIdsForGroup(group).toSeq
      .flatMap(sc.statusTracker.getJobInfo).map(_.status)
    while (!(statuses.nonEmpty && statuses.forall(_ == JobExecutionStatus.FAILED)) &&
        System.nanoTime() < deadline) Thread.sleep(100)
    assert(statuses.nonEmpty && statuses.forall(_ == JobExecutionStatus.FAILED), statuses)
    assert(QueryRunner.run(spark, "session-spec-after", 60)(spark.range(10).count()) == Right(10L))
  }

  test("watchdog: a failing query comes back as its cause") {
    val r = QueryRunner.run(spark, "session-spec-failing", 60)(sys.error("boom"))
    assert(r.swap.exists(_.getMessage == "boom"), r)
  }

  test("metrics: measure returns the body's wall, task deltas and stage rows") {
    val m = Metrics.install(spark)
    try {
      // a fresh plan per run: a re-run Dataset would reuse its map output
      def shuffled = spark.range(0, 20000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count()
      val (rows, d) = m.measure(shuffled.collect().length)
      assert(rows == 7)
      assert(d.cpuNs > 0 && d.shuffleWriteBytes > 0 && d.wallSec > 0, d)
      // the stage rows come from the same task events as the totals
      assert(d.stages.size >= 2 && d.stages.map(_.cpuNs).sum == d.cpuNs, d)
      val idle = m.measure(())._2
      assert(idle.cpuNs == 0L && idle.stages.isEmpty, s"no work, no delta: $idle")
      // Bench's path: a body measured on the watchdog's worker thread
      val g = QueryRunner.run(spark, "session-spec-metrics", 60)(m.measure(shuffled.collect())._2)
      assert(g.exists(t => t.cpuNs > 0 && t.shuffleWriteBytes > 0 && t.stages.size >= 2), g)
    } finally spark.sparkContext.removeSparkListener(m)
  }

  test("metrics: a measured body counts its own jobs, not another thread's") {
    val m = Metrics.install(spark)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val (idleIn, spinDone) = (new CountDownLatch(1), new CountDownLatch(1))
      // the idle body is open from before the spinner starts until after it ends
      val idle = pool.submit(() => m.measure {
        idleIn.countDown()
        spark.range(1).count()
        spinDone.await()
      }._2)
      idleIn.await()
      val spin = pool.submit(() => try m.measure {
        spark.sparkContext.parallelize(1 to 4, 4).map { i =>
          var x = i.toLong
          var j = 0
          while (j < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; j += 1 }
          x
        }.filter(_ != 0L).count()
      }._2 finally spinDone.countDown())
      val (s, i) = (spin.get(300, TimeUnit.SECONDS), idle.get(300, TimeUnit.SECONDS))
      assert(s.cpuNs > 200000000L, s)
      assert(i.cpuNs < s.cpuNs / 10, s"idle $i, spinner $s")
    } finally {
      pool.shutdown()
      spark.sparkContext.removeSparkListener(m)
    }
  }

  test("GRAFT_ONLY selector: unknown names rejected by name, blank means all") {
    val all = SparkEntry.queries
    assert(QueryRunner.only(all, None) == Right(all))
    assert(QueryRunner.only(all, Some("")) == Right(all))
    assert(QueryRunner.only(all, Some(" , ")) == Right(all))
    assert(QueryRunner.only(all, Some("q1_pricing_summary, nope,wc_top20x,nope")) ==
      Left(Seq("nope", "wc_top20x")))
    val picked = QueryRunner.only(all, Some(" q1_pricing_summary ,spearman_corr"))
    assert(picked.map(_.keySet) == Right(Set("q1_pricing_summary", "spearman_corr")))
  }

  test("GRAFT_QUERY_TIMEOUT reader: the caller's default when unset or blank, bad values by name") {
    assert(QueryRunner.timeout(None, 240) == Right(240L))
    assert(QueryRunner.timeout(Some("  "), 300) == Right(300L))
    assert(QueryRunner.timeout(Some(" 90 "), 240) == Right(90L))
    Seq("abc", "1.5", "0", "-3", "9223372036854775808").foreach { bad =>
      assert(QueryRunner.timeout(Some(bad), 240) == Left(bad), bad)
    }
  }

  /** (path under src/main/scala, text) of every main source file. */
  private lazy val sources = {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (cwd ${new File(".").getAbsolutePath})")
    def files(d: File): Seq[File] = Option(d.listFiles()).toSeq.flatten
      .flatMap(f => if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    files(root).map(f => root.toPath.relativize(f.toPath).toString -> read(f))
  }

  private def offenders(token: String, home: String) =
    sources.collect { case (n, s) if n != home && s.contains(token) => n }

  test("tooling guard: one session builder, one bus drain, one watchdog, no retired knobs") {
    assert(offenders("SparkSession.builder", "graft/Session.scala").isEmpty)
    assert(offenders("listenerBus", "graft/Metrics.scala").isEmpty)
    assert(offenders("FutureTask", "graft/QueryRunner.scala").isEmpty)
    assert(offenders("\"GRAFT_ONLY\"", "graft/QueryRunner.scala").isEmpty)
    assert(offenders("\"GRAFT_QUERY_TIMEOUT\"", "graft/QueryRunner.scala").isEmpty)
    // env knobs retired as constants (their evidence: BENCH_r03_aqe.json,
    // BENCH_r04_aqe.json, BENCH_r05_noaqe.json, BENCH_r07_noaqe.json) and
    // before/after knobs whose "before" is frozen in ANN_1M.md (OPQ),
    // DEDUP_1GB.md (MD5_BANDS) and BASELINE_1GB.md (SERIAL_DECODE); the
    // bench reads one baseline file (PREV_BENCH) at one log level (LOG);
    // the streamed gates size state partitions from the backlog alone
    // (STREAM_SHUFFLE) and their per-batch splits are frozen in
    // OPTIMIZATION_r15.md (STREAM_PROFILE)
    Seq("AQE", "WARM_PASS", "KILL_STALE", "OPQ", "MD5_BANDS", "SERIAL_DECODE", "PREV_BENCH",
        "LOG", "STREAM_SHUFFLE", "STREAM_PROFILE").map("GRAFT_" + _).foreach { knob =>
      assert(offenders(knob, "").isEmpty, knob)
    }
  }

  test("tooling guard: one metrics listener, no job-group reads") {
    // task metrics come from graft.Metrics; the index memo's eviction
    // hook is the one other listener
    val listener = "\\b(?:extends|with|new)\\s+(?:org\\.apache\\.spark\\.scheduler\\.)?SparkListener\\b".r
    val listeners = sources.flatMap { case (n, s) => Seq.fill(listener.findAllIn(s).length)(n) }
    assert((listeners.sorted, offenders("\"spark.jobGroup.id\"", "")) ==
      (Seq("graft/Metrics.scala", "graft/operators/Materialize.scala"), Nil))
  }

  test("tooling guard: one AvailableNow replay, stream progress read off the query") {
    val trigger = scala.util.matching.Regex.quote("Trigger.AvailableNow()").r
    val replays = sources.flatMap { case (n, s) => Seq.fill(trigger.findAllIn(s).length)(n) }
    assert(replays == Seq("graft/streaming/EventsStream.scala"), replays)
    assert(offenders("StreamingQueryListener", "").isEmpty)
  }

  test("tooling guard: one result sink, one JSON writer") {
    assert(offenders("format(\"noop\")", "graft/QueryRunner.scala").isEmpty)
    Seq("{\"metric\"", "{\\\"metric\\\"").foreach { literal =>
      assert(offenders(literal, "graft/Json.scala").isEmpty, literal)
    }
  }

  test("tooling guard: one token pattern, read only by WordCount") {
    // DuckDB oracle SQL in *Queries.scala spells the pattern on its own
    assert(offenders("TokenPattern", "graft/operators/WordCount.scala")
      .filterNot(_.endsWith("Queries.scala")).isEmpty)
  }

  test("tooling guard: one index memo, one ANN ranker") {
    assert(offenders("computeIfAbsent", "graft/operators/Materialize.scala")
      .filter(_.startsWith("graft/operators/")).isEmpty)
    val similarity = sources.toMap.apply("graft/operators/Similarity.scala")
    val ranker = java.util.regex.Pattern.quote("Window.partitionBy(col(\"query_id\"))")
    assert(ranker.r.findAllIn(similarity).length == 1)
  }

  test("tooling guard: one home for the exact-arithmetic conventions") {
    // the plan side reads the division, the ln ladder and the nibble
    // arithmetic from functions/Exact.scala; DuckDB oracle SQL in
    // *Queries.scala spells them on its own
    val plans = sources.filter { case (n, _) =>
      n.startsWith("graft/operators/") && !n.endsWith("Queries.scala")
    }
    Seq("THEN -1 ELSE 1 END", "lit(10000.0) + lit(0.5)", ">= 97").foreach { copy =>
      assert(plans.collect { case (n, s) if s.contains(copy) => n }.isEmpty, copy)
    }
    Seq("ln4", "lnq4", "lnq4x", "exprLn4", "ln4c").foreach { alias =>
      val homes = sources.collect { case (n, s) if s"def $alias\\b".r.findFirstIn(s).nonEmpty => n }
      assert(homes.forall(_ == "graft/functions/Exact.scala"), s"def $alias in $homes")
    }
  }

  test("tooling guard: one definition per text-similarity core") {
    // word n-grams are WordCount.tokenGrams; the frequent-bucket cap and
    // its eager index staging are Dedup's; DuckDB oracle SQL in
    // *Queries.scala spells its own
    val plans = sources.filter { case (n, _) =>
      n.startsWith("graft/operators/") && !n.endsWith("Queries.scala")
    }
    def homes(copy: String) = plans.collect { case (n, s) if s.contains(copy) => n }
    Seq("concat_ws(' ', slice(", "concat_ws(\" \", slice(", "element_at(col(\"w\")").foreach { copy =>
      assert(homes(copy).forall(_ == "graft/operators/WordCount.scala"), copy)
    }
    Seq("join(viral,", "raw = Some(").foreach { copy =>
      assert(homes(copy) == Seq("graft/operators/Dedup.scala"), copy)
    }
    // one k-extended prefix filter and one probe join in SimJoin
    val simJoin = sources.toMap.apply("graft/operators/SimJoin.scala")
    Seq("+ PrefixExt)", "col(\"x.r\").as(\"rx\")", "least(col(\"doc_a\"), col(\"doc_b\"))")
      .foreach { copy =>
        val q = java.util.regex.Pattern.quote(copy)
        assert(q.r.findAllIn(simJoin).length == 1, copy)
      }
  }

  test("tooling guard: one commit protocol, one runner for the at-scale scenarios") {
    // every cached or durable directory goes through Materialize.commit
    assert(offenders("_SUCCESS", "graft/operators/Materialize.scala").isEmpty)
    val mains = sources.collect { case (n, s) if s.contains("def main(") => n }
    assert(mains.sorted == Seq("Bench", "ClusterCheck", "Explain", "Flagship", "GenSf",
      "StreamResume", "Verify").map(m => s"graft/$m.scala"))
  }
}
