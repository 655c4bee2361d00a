package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, length}
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.operators.{Materialize, WordCount}
import graft.sources.{JsonSink, TextIngest}

/** One benchmark run in one JVM: build the session, warm up, run timed
  * passes for the given seconds, optionally run traced passes, then write
  * every result once (untimed) for the oracle check. Writes
  * `<out>/record.json`; run.py turns it into metrics.
  *
  * Usage: Runner <workload> <dataDir> <outDir> <seconds> <trace 0|1> <cores>
  */
object Runner {

  /** Registry entries per workload; every one must carry an oracle. */
  val RegistryWorkloads: Map[String, Seq[String]] = Map(
    "registry_mix" -> Seq("q1_pricing_summary", "q3_shipping_priority",
      "spearman_corr", "sessionize", "sessionize_streamed", "near_dup_minhash",
      "ann_ivf_topk"))

  /** Line-split size of the word-count ingest. */
  val SplitBytes: Long = 2L << 20

  /** Entries whose traced result time is recorded beside a count() time. */
  val CountProbes = Seq("spearman_corr", "q1_pricing_summary")

  private val clock0Ns = System.nanoTime()
  private val clock0Ms = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with nanosecond-clock resolution. */
  def nowMs: Double = clock0Ms + (System.nanoTime() - clock0Ns) / 1e6

  /** The session config Verify uses (graft.Verify), at `cores`. */
  def buildSession(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.broadcastTimeout", "600")
      .config("spark.executor.heartbeatInterval", "20s")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeat.maxFailures", "180")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  val RecordedConf = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.sql.codegen.cache.maxEntries",
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone",
    "spark.sql.files.maxPartitionBytes", "spark.sql.autoBroadcastJoinThreshold",
    "spark.serializer", "spark.local.dir")

  /** A span of the traced run. */
  final case class Span(id: String, parent: String, name: String,
      start: Double, end: Double, pass: Int, query: String)

  def main(args: Array[String]): Unit = {
    val Array(workload, data, out, secondsArg, traceArg, coresArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val rec = mutable.LinkedHashMap[String, Any]()
    val spans = mutable.ArrayBuffer[Span]()

    val tSession = nowMs
    val base = buildSession(cores)
    base.sparkContext.setLogLevel("WARN")
    val sessionS = (nowMs - tSession) / 1e3
    val sc = base.sparkContext
    val cpu = new CpuCounter
    sc.addSparkListener(cpu)
    val probe = new Probe

    val queries: Seq[String] = RegistryWorkloads.getOrElse(workload, Seq("wordcount"))
    val registry = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    if (workload != "wordcount_ingest")
      queries.foreach { q =>
        require(registry.contains(q), s"unknown registry entry $q")
        require(oracles.contains(q), s"$q has no oracle (rows-only entries are excluded)")
      }
    // each pass in a fresh session: index builds are memoized per session,
    // so every timed result includes the builds it waits on
    val freshSessionPerPass = workload == "registry_mix"
    val work = s"$out/work"

    /** One full result of query q in session s: the registry fn with a
      * noop write, or the word-count pipeline with its own sinks. */
    def runQuery(s: SparkSession, q: String, pass: Int, traced: Boolean,
        dumpTo: Option[String]): Unit = {
      val qid = s"q:$pass:$q"
      def span[T](name: String)(body: => T): T =
        if (!traced) body
        else {
          val t0 = nowMs
          try body finally spans += Span(s"$qid:$name", qid, name, t0, nowMs, pass, q)
        }
      sc.setJobGroup(qid, q, interruptOnCancel = true)
      try {
        if (workload == "wordcount_ingest") {
          val files = span("sources.inflate") {
            TextIngest.extractZipRaw(Files.newInputStream(Paths.get(s"$data/corpus.zip")),
              s"$work/extract")
          }
          // the reference's 32 MB chunks, scaled to the corpus: ~10 splits,
          // as a 200 MB-class corpus has at 32 MB
          val counts = span("operators.construct") {
            WordCount.tokenCounts(TextIngest.readLinesLenient(s, files.head, SplitBytes)
              .toDF("text"))
              .persist(StorageLevel.MEMORY_AND_DISK)
          }
          // NUM_REDUCERS = 2 x parallelism, as in graft.Flagship1G
          span("sinks.json") {
            JsonSink.writeReduceObjects(counts, dumpTo.getOrElse(work) + "/reduce", 2 * cores)
          }
          val top = counts.orderBy(col("cnt").desc, length(col("word")).desc, col("word").asc)
            .limit(20)
          span("sinks.collect") {
            dumpTo match {
              case Some(d) => top.coalesce(1).write.mode("overwrite").parquet(s"$d/wordcount_top20")
              case None => top.collect()
            }
          }
          counts.unpersist(blocking = true)
        } else {
          val df = span("operators.construct")(registry(q)(s, data))
          if (traced) probe.phases(qid, df.queryExecution)
          span("sinks.write") {
            dumpTo match {
              case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$q")
              case None => df.write.format("noop").mode("overwrite").save()
            }
          }
        }
      } finally sc.clearJobGroup()
    }

    final case class PassResult(wall: Double, queryS: Seq[(String, Double)], cpuS: Double,
        builds: Int, buildS: Double, storedMb: Double, gcS: Double, failed: Seq[String])

    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

    def storedMb: Double =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

    var session = base
    def pass(n: Int, traced: Boolean, dumpTo: Option[String] = None): PassResult = {
      Probe.drain(sc)
      val cpu0 = cpu.cpuNs.get
      val builds0 = Materialize.buildTimes
      val gc0 = gcMs
      val t0 = nowMs
      if (freshSessionPerPass) session = base.newSession()
      if (traced) probe.attach(session)
      val failed = mutable.ArrayBuffer[String]()
      val times = queries.flatMap { q =>
        val qid = s"q:$n:$q"
        probe.current = qid
        val q0 = nowMs
        val ok = try { runQuery(session, q, n, traced, dumpTo); true }
          catch { case e: Exception =>
            System.err.println(s"[perfbench] $q failed in pass $n: $e")
            failed += q
            false
          }
        val q1 = nowMs
        if (traced) {
          spans += Span(qid, s"pass:$n", "query", q0, q1, n, q)
          Probe.drain(sc)
        }
        if (ok) Some(q -> (q1 - q0) / 1e3) else None
      }
      if (traced) probe.detach(session)
      val t1 = nowMs
      if (traced) spans += Span(s"pass:$n", "", "pass", t0, t1, n, "")
      Probe.drain(sc)
      val builds1 = Materialize.buildTimes
      val changed = builds1.filter { case (k, v) => !builds0.get(k).contains(v) }
      PassResult((t1 - t0) / 1e3, times, (cpu.cpuNs.get - cpu0) / 1e9, changed.size,
        changed.values.sum, storedMb, (gcMs - gc0) / 1e3, failed.toSeq)
    }

    // ---- warm-up: first execution of every query (codegen, JIT, first
    // index builds, stream checkpoint init)
    Files.createDirectories(Paths.get(work))
    val warm = pass(0, traced = false)
    val setupS = (nowMs - jvmStartMs) / 1e3

    val calibStart = Calib.run(base, cores)
    val load0 = Calib.loadavg()

    // ---- timed passes for `seconds`, and at least two passes and eleven
    // query results, so every median has two samples and query_tail_s
    // always has ten samples beyond it, however fast the passes run. With
    // tracing on, untraced and traced passes alternate (at least
    // untraced, traced, untraced), so the run reports its own tracing
    // overhead without the JIT's warming trend biasing it.
    val minPasses = if (trace) 3 else math.max(2, (11 + queries.size - 1) / queries.size)
    val timed = mutable.ArrayBuffer[PassResult]()
    val tracedPasses = mutable.ArrayBuffer[(PassResult, Map[String, SpanStats])]()
    var n = 1
    val tTimed = nowMs
    while (n <= minPasses || nowMs - tTimed < seconds * 1000) {
      if (trace && n % 2 == 0) {
        System.setProperty("spark.callstack.depth", "400")
        sc.addSparkListener(probe)
        val r = pass(n, traced = true)
        sc.removeSparkListener(probe)
        System.clearProperty("spark.callstack.depth")
        tracedPasses += ((r, queries.map(q => q -> probe.take(s"q:$n:$q")).toMap))
      } else timed += pass(n, traced = false)
      n += 1
    }
    val measuredS = (nowMs - tTimed) / 1e3

    // ---- end of measurement: heap, host drift
    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    val calibEnd = Calib.run(base, cores)
    val load1 = Calib.loadavg()

    // one-off count() beside the traced result time (timing covers the
    // full result; this pins how much a count() plan leaves out)
    val countProbe = if (!trace) Map.empty[String, Double] else
      CountProbes.filter(queries.contains).map { q =>
        val t0 = nowMs
        registry(q)(session, data).count()
        q -> (nowMs - t0) / 1e3
      }.toMap

    // ---- untimed result pass for the oracle check
    val results = s"$out/results"
    val failures = mutable.LinkedHashMap[String, String]()
    queries.foreach { q =>
      try runQuery(session, q, 10000, traced = false, Some(results))
      catch { case e: Exception =>
        failures(q) = Option(e.getMessage).getOrElse(e.getClass.getName).take(300) }
    }

    def passJson(p: PassResult): Map[String, Any] = Map(
      "wall_s" -> p.wall, "cpu_s" -> p.cpuS, "builds" -> p.builds,
      "build_s" -> p.buildS, "stored_mb" -> p.storedMb, "gc_s" -> p.gcS, "failed" -> p.failed,
      "queries" -> p.queryS.map { case (q, t) => Map("query" -> q, "s" -> t) })

    rec("workload") = workload
    rec("queries") = queries
    rec("cores") = cores
    rec("seconds") = seconds
    rec("session_s") = sessionS
    rec("setup_s") = setupS
    rec("warmup") = passJson(warm)
    rec("passes") = timed.map(passJson)
    rec("measured_s") = measuredS
    rec("live_heap_mb") = heapMb
    rec("calib_s") = Map("start" -> calibStart, "end" -> calibEnd)
    rec("loadavg") = Map("start" -> load0, "end" -> load1)
    rec("config") = RecordedConf.map(k => k -> base.conf.getOption(k).orNull).toMap ++
      Map("java.vm" -> System.getProperty("java.vm.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "spark.version" -> base.version)
    rec("oracle_sql") = queries.flatMap(q => oracles.get(q).map(q -> _)).toMap
    rec("dump_failures") = failures.toMap
    if (trace) {
      rec("traced_passes") = tracedPasses.map { case (p, st) =>
        passJson(p) ++ Map("stats" -> st.map { case (q, s) => q -> statsJson(s) }) }
      rec("spans") = spans.toSeq
      rec("count_probe_s") = countProbe
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    json.writeValue(new java.io.File(s"$out/record.json"), rec)
    base.stop()
  }

  def statsJson(s: SpanStats): Map[String, Any] = Map(
    "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
    "failed_tasks" -> s.failedTasks, "task_run_ms" -> s.taskRunMs,
    "task_cpu_ns" -> s.taskCpuNs, "gc_ms" -> s.gcMs, "sched_delay_ms" -> s.schedDelayMs,
    "shuffle_write_bytes" -> s.shuffleWriteBytes, "shuffle_read_bytes" -> s.shuffleReadBytes,
    "shuffle_records_read" -> s.shuffleRecordsRead,
    "fetch_wait_ms" -> s.fetchWaitMs, "spill_bytes" -> s.spillBytes,
    "peak_exec_mem" -> s.peakExecMem, "input_bytes" -> s.inputBytes,
    "input_records" -> s.inputRecords, "splits" -> s.splits,
    "batches" -> s.batches, "trigger_ms" -> s.triggerMs, "add_batch_ms" -> s.addBatchMs,
    "wal_commit_ms" -> s.walCommitMs, "commit_ms" -> s.commitMs,
    "state_commit_ms" -> s.stateCommitMs, "state_rows" -> s.stateRows,
    "state_bytes" -> s.stateBytes,
    "exchanges" -> s.exchanges, "joins" -> s.joins, "scans" -> s.scans,
    "rescans" -> s.rescans, "exchange_rows" -> s.exchangeRows,
    "intervals" -> s.intervals.toSeq)
}

/** Host-drift probes: a fixed-work xorshift spin (graft.Bench's
  * calibration at a smaller size) and the 1-minute load average. */
object Calib {
  def run(spark: SparkSession, cores: Int): Double = {
    import spark.implicits._
    val tasks = cores * 4
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, tasks, 1, tasks).as[Long].map { i =>
        var x = i + 0x9e3779b97f4a7c15L
        var j = 0
        while (j < 5000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; j += 1 }
        x
      }.filter(_ != 0L).count()
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }
}
