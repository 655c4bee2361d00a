package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import graft.streaming.EventsStream
import scala.collection.mutable.ArrayBuffer

/** Streaming throughput flagship at ~1 GB replayed event volume — the
  * round-8 verdict's last spec-only subsystem, measured: a parquet
  * backlog replayed through the two hardest streaming operators as
  * real micro-batches (file source + maxFilesPerTrigger +
  * Trigger.AvailableNow — the production backfill shape), recording
  * per-batch rows, trigger latency, and STATE-STORE ROWS from the
  * engine's own StreamingQueryProgress, then hash-checking the
  * streamed output against the batch twin at full scale.
  *
  * Stages:
  *  1. `sessionizeStateful` — flatMapGroupsWithState gap sessionization
  *     over N events (default 16M ≈ 1 GB logical at ~60 B/row; 50k
  *     users over 30 simulated days). Event time increases with id, so
  *     sequentially-written slices arrive in event-time order and the
  *     watermark never drops data. A far-future sentinel event flushes
  *     the tail sessions (the TemporalStreamingSpec protocol), then
  *     the streamed session table is compared to batch
  *     Temporal.sessionize by order-independent checksum (count + sum
  *     of per-row xxhash64 over the session key) — EXACT parity.
  *  2. `nearDupGate` — dropDuplicatesWithinWatermark ingestion dedup
  *     over M docs (default 3.3M ≈ 1 GB text; ~3% planted dups of a
  *     doc ≤ 1000 ids earlier ≈ 11 simulated seconds — well inside the
  *     10-minute watermark, so eviction never re-admits a planted
  *     dup). Parity vs batch Dedup.sigDedupBatch is on the SURVIVOR
  *     SIGNATURE SET (count + signature checksum): the gate's contract
  *     is one survivor per signature; which member survives an
  *     intra-batch tie is task-order-dependent by design, so the
  *     signature set is the semantically-defined invariant (the
  *     keeper-id match fraction is reported, not asserted).
  *
  * State bounds measured, not argued: session state ≈ users active
  * within (gap + delay) of the watermark; gate state ≈ distinct
  * signatures inside the delay window — both O(rate × window), never
  * O(history), which is what the max numRowsTotal row demonstrates.
  *
  * Usage: scripts/run.sh graft.StreamFlagship [workDir] [nEvents] [nDocs]
  * Results recorded in STREAM_1GB.md.
  */
object StreamFlagship {
  val Slices = 64

  // ---- shared with StreamResume (the crash-resume twin) -------------
  // One event formula, one sentinel, one parity projection: the two
  // streaming flagships' results are only comparable while these are
  // literally the same code (review finding — they were copies).
  private[graft] val EvUsers = 50000L
  private[graft] val EvSpanMs = 30L * 86400 * 1000 // 30 simulated days
  private[graft] val EvT0 =
    java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private[graft] val EvSchema = "user_id LONG, ts TIMESTAMP, value DOUBLE"

  /** One generator slice [lo, hi): event time strictly increasing with
    * id → slice order = event-time order → watermark-safe replay. */
  private[graft] def eventSlice(spark: SparkSession, lo: Long, hi: Long,
      nEvents: Long): DataFrame =
    spark.range(lo, hi).selectExpr(
      s"pmod(xxhash64(id, 1), $EvUsers) AS user_id",
      s"timestamp_millis($EvT0 + CAST(id * ${EvSpanMs.toDouble} / $nEvents AS BIGINT)) AS ts",
      "CAST(pmod(xxhash64(id, 2), 10000) AS DOUBLE) / 100.0 AS value")

  /** One far-future event (user −1): appended after the backlog so a
    * second AvailableNow run fires every open session's timeout. */
  private[graft] def flushSentinel(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((-1L, new java.sql.Timestamp(EvT0 + EvSpanMs + 2L * 86400000), 0.0))
      .toDF("user_id", "ts", "value")
  }

  /** Canonical session-table parity projection: drop the sentinel
    * user, epoch-millis timestamps, sum_value quantized to integer
    * thousandths (exact across engines/orders). */
  private[graft] def sessionKey(df: DataFrame): DataFrame =
    df.filter(col("user_id") >= 0)
      .select(col("user_id"), unix_millis(col("session_start")).as("s"),
        unix_millis(col("session_end")).as("e"), col("n_events"),
        round(col("sum_value") * 1000).cast("long").as("v"))

  /** [[sessionKey]] + [[checksum]] in one step, for callers comparing
    * whole session tables. */
  private[graft] def sessionChecksum(df: DataFrame): (Long, String) = {
    val keyed = sessionKey(df)
    checksum(keyed, keyed.columns.toIndexedSeq)
  }

  case class BatchStat(batchId: Long, rows: Long, triggerMs: Long,
      stateRows: Long)

  private final class Recorder extends StreamingQueryListener {
    val stats = ArrayBuffer[BatchStat]()
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val state = if (p.stateOperators.nonEmpty)
        p.stateOperators.map(_.numRowsTotal).max else 0L
      stats.synchronized {
        stats += BatchStat(p.batchId, p.numInputRows,
          p.durationMs.getOrDefault("triggerExecution", 0L), state)
      }
    }
  }

  /** Order-independent table checksum: (row count, exact DECIMAL sum
    * of xxhash64 over the key columns — a LONG sum would overflow
    * under ANSI arithmetic). */
  private[graft] def checksum(df: DataFrame, cols: Seq[String]): (Long, String) = {
    val r = df.select(xxhash64(cols.map(col): _*).as("h"))
      .agg(count(lit(1)),
        sum(col("h").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString)
  }

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("/tmp/graft_stream1g")
    val nEvents = if (args.length > 1) args(1).toLong else 16000000L
    val nDocs = if (args.length > 2) args(2).toLong else 3300000L
    val spark = Session.build("graft-stream-flagship", Session.streaming: _*)
    val recorder = new Recorder
    spark.streams.addListener(recorder)

    /** Listener delivery is async with NO flush guarantee: a fixed
      * sleep can miss trailing QueryProgress events on a loaded host,
      * silently undercounting batches / max_state_rows (advisor
      * finding). Poll until the recorder has seen the query's final
      * batchId (bounded fallback for the no-batch edge). */
    def drainStats(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val last = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (last >= 0 && System.nanoTime() < deadline &&
          recorder.stats.synchronized(!recorder.stats.exists(_.batchId >= last)))
        Thread.sleep(50)
    }

    /** Generate `total` rows as [[Slices]] sequential time-ordered
      * slice writes — into a temp dir, atomically renamed into place
      * when the LAST slice has committed. Slice 0's parquet commit
      * already drops a `_SUCCESS` at the dir root, so `_SUCCESS` is
      * NOT a completeness marker for an incremental multi-write dir
      * (review finding: a crash mid-generation would leave a
      * half-backlog that a `_SUCCESS` guard happily replays); the
      * rename is the done-marker — the final dir either exists
      * complete or not at all. */
    def sliceWrite(dir: String, total: Long,
        gen: (Long, Long) => DataFrame): Double = {
      val tW = System.nanoTime()
      val tmp = new java.io.File(dir + ".tmp")
      if (tmp.exists()) {
        org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      }
      val per = total / Slices
      for (i <- 0 until Slices) {
        val lo = i * per
        val hi = if (i == Slices - 1) total else (i + 1) * per
        gen(lo, hi).coalesce(4).write.mode(if (i == 0) "overwrite" else "append")
          .parquet(tmp.getPath)
      }
      java.nio.file.Files.move(tmp.toPath, java.nio.file.Paths.get(dir))
      (System.nanoTime() - tW) / 1e9
    }

    // Reruns against an existing workDir are made idempotent the blunt
    // way: output/checkpoint dirs are always wiped (a leftover
    // checkpoint would make the "main" run replay only the sentinel and
    // report garbage throughput — review finding), and an input dir
    // already contaminated by a previous run's flush sentinel is
    // regenerated from scratch.
    def wipe(paths: String*): Unit = paths.foreach { p =>
      val f = new java.io.File(p)
      if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
    }
    def sentinelFree(dir: String, col0: String): Boolean =
      !java.nio.file.Files.exists(java.nio.file.Paths.get(dir)) || {
        val clean = spark.read.parquet(dir)
          .filter(org.apache.spark.sql.functions.col(col0) < 0).isEmpty
        if (!clean) wipe(dir)
        clean
      }

    // ---- stage 1: sessionizeStateful over ~1 GB of events ----------
    // row count is part of the dir name (the AnnFlagship geometry-key
    // pattern): a rerun with different nEvents/nDocs must never reuse
    // an old-size backlog — and it also retires any partial dir a
    // pre-rename-fix run left behind under the old bare names
    val evDir = s"$work/events_in_n$nEvents"
    sentinelFree(evDir, "user_id")
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(evDir))) {
      val sec = sliceWrite(evDir, nEvents,
        (lo, hi) => eventSlice(spark, lo, hi, nEvents))
      println(f"setup: $nEvents events written in $sec%.1f s")
    }
    val evSchema = EvSchema
    val sessOut = s"$work/sessions_out"
    val sessCkpt = s"$work/sessions_ckpt"
    wipe(sessOut, sessCkpt)
    recorder.stats.clear()
    val tS = System.nanoTime()
    val q1 = EventsStream.sessionizeStateful(spark,
        spark.readStream.schema(evSchema)
          // each slice writes 4 files → 8 files/trigger = 2 slices,
          // ~32 micro-batches over the backlog
          .option("maxFilesPerTrigger", 8)
          .parquet(evDir))
      .writeStream.outputMode("append").format("parquet")
      .option("path", sessOut).option("checkpointLocation", sessCkpt)
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination()
    val sessMainSec = (System.nanoTime() - tS) / 1e9
    drainStats(q1)
    val mainStats = recorder.stats.synchronized(recorder.stats.toSeq)

    // flush the open tail: one far-future sentinel event, second
    // AvailableNow run on the same checkpoint fires every timeout
    flushSentinel(spark).coalesce(1).write.mode("append").parquet(evDir)
    val q1b = EventsStream.sessionizeStateful(spark,
        spark.readStream.schema(evSchema).parquet(evDir))
      .writeStream.outputMode("append").format("parquet")
      .option("path", sessOut).option("checkpointLocation", sessCkpt)
      .trigger(Trigger.AvailableNow()).start()
    q1b.awaitTermination()

    // parity vs the batch twin, at full scale, order-independent
    val tB = System.nanoTime()
    val csBatch = sessionChecksum(operators.Temporal.sessionize(
      spark.read.parquet(evDir).filter(col("user_id") >= 0)))
    val batchSec = (System.nanoTime() - tB) / 1e9
    val csStream = sessionChecksum(spark.read.parquet(sessOut))
    val sessParity = csStream == csBatch

    // ---- stage 2: nearDupGate over ~1 GB of docs -------------------
    val docDir = s"$work/docs_in_n$nDocs"
    val docSpanMs = 10L * 3600 * 1000 // 10 simulated hours
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(docDir))) {
      val sec = sliceWrite(docDir, nDocs, (lo, hi) =>
        spark.range(lo, hi)
          .selectExpr("id",
            // ~3% of docs duplicate a doc ≤ 1000 ids earlier (≈ 11
            // simulated seconds — inside the 10-min watermark)
            s"CASE WHEN pmod(xxhash64(id, 5), 100) < 3 AND id >= 1000 " +
              s"THEN id - 1 - pmod(xxhash64(id, 6), 1000) ELSE id END AS tseed")
          .selectExpr("id AS doc_id",
            s"timestamp_millis($EvT0 + CAST(id * ${docSpanMs.toDouble} / $nDocs AS BIGINT)) AS ts",
            // 15..60 words from a 17,576-word ALPHABETIC vocab (3
            // base-26 letters — the index tokenizer keeps only
            // [a-z']+ runs, so digit-suffixed words would all collapse
            // to one token); sig collisions only among planted dups
            """array_join(transform(
              |  sequence(1, CAST(15 + pmod(xxhash64(tseed, 7), 46) AS INT)),
              |  i -> concat(char(97 + pmod(xxhash64(tseed, i, 8), 26)),
              |              char(97 + pmod(xxhash64(tseed, i, 9), 26)),
              |              char(97 + pmod(xxhash64(tseed, i, 10), 26)))), ' ') AS text""".stripMargin))
      println(f"setup: $nDocs docs written in $sec%.1f s")
    }
    val docSchema = "doc_id LONG, ts TIMESTAMP, text STRING"
    val gateOut = s"$work/gate_out"
    val gateCkpt = s"$work/gate_ckpt"
    wipe(gateOut, gateCkpt)
    recorder.stats.clear()
    val tG = System.nanoTime()
    val q2 = EventsStream.nearDupGate(
        spark.readStream.schema(docSchema)
          .option("maxFilesPerTrigger", 8).parquet(docDir))
      .writeStream.outputMode("append").format("parquet")
      .option("path", gateOut).option("checkpointLocation", gateCkpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val gateSec = (System.nanoTime() - tG) / 1e9
    drainStats(q2)
    val gateStats = recorder.stats.synchronized(recorder.stats.toSeq)

    val survivors = spark.read.parquet(gateOut)
    val batchKept = operators.Dedup.sigDedupBatch(spark.read.parquet(docDir))
    // semantic parity: one survivor per signature — compare the
    // signature SETS; also report keeper-id agreement (informational)
    val sigCols = (0 until 8).map(j => s"m$j")
    val csGateStream = checksum(
      operators.Dedup.withMinhashSig(survivors), sigCols)
    val csGateBatch = checksum(
      operators.Dedup.withMinhashSig(batchKept), sigCols)
    val gateParity = csGateStream == csGateBatch
    val keeperMatch = survivors.select("doc_id")
      .join(batchKept.select("doc_id"), "doc_id", "left_semi").count()

    // ---- report ----------------------------------------------------
    def stats(name: String, ss: Seq[BatchStat], totalSec: Double,
        rows: Long): String = {
      val lat = ss.map(_.triggerMs).sorted
      val p50 = if (lat.isEmpty) 0L else lat(lat.size / 2)
      val pMax = if (lat.isEmpty) 0L else lat.last
      val maxState = if (ss.isEmpty) 0L else ss.map(_.stateRows).max
      f""""$name":{"rows":$rows,"sec":${math.round(totalSec * 100) / 100.0},"rows_per_sec":${math.round(rows / totalSec)},"batches":${ss.size},"batch_ms_p50":$p50,"batch_ms_max":$pMax,"max_state_rows":$maxState}"""
    }
    val nSess = csStream._1 // checksum row count = sessionKey'd output rows
    val json = "{\"metric\":\"stream_1g\"," +
      stats("sessionize", mainStats, sessMainSec, nEvents) + "," +
      s""""sessionize_out_rows":$nSess,"sessionize_parity":$sessParity,"batch_twin_sec":${math.round(batchSec * 100) / 100.0},""" +
      stats("near_dup_gate", gateStats, gateSec, nDocs) + "," +
      s""""gate_survivors":${csGateStream._1},"gate_parity":$gateParity,"gate_keeper_match":$keeperMatch,"cpus":${Session.cpus}}"""
    println(json)
    spark.stop()
  }
}
