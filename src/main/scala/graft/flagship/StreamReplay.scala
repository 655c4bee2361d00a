package graft.flagship

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Flagship.Ctx
import graft.operators.{Dedup, Temporal}
import graft.streaming.EventsStream

/** The streaming family at ~1 GB replayed volume: a parquet backlog
  * replayed through the two hardest streaming operators as real
  * micro-batches (file source + maxFilesPerTrigger +
  * Trigger.AvailableNow — the production backfill shape), recording per
  * batch rows, trigger latency and STATE-STORE ROWS from the engine's
  * own StreamingQueryProgress, then checking the streamed output against
  * the batch twin at full scale.
  *
  * Usage: scripts/run.sh graft.Flagship stream [work=…] [events=…] [docs=…]
  *
  *  1. `sessionizeStateful` — flatMapGroupsWithState gap sessionization
  *     over `events` events (default 16M ≈ 1 GB logical at ~60 B/row;
  *     50k users over 30 simulated days). Event time increases with id,
  *     so sequentially-written slices arrive in event-time order and the
  *     watermark never drops data. A far-future sentinel event flushes
  *     the tail sessions, then the streamed session table is compared
  *     to batch Temporal.sessionize by order-independent checksum —
  *     EXACT parity.
  *  2. `nearDupGate` — dropDuplicatesWithinWatermark ingestion dedup
  *     over `docs` docs (default 3.3M ≈ 1 GB text; ~3% planted dups of a
  *     doc ≤ 1000 ids earlier ≈ 11 simulated seconds at that size and
  *     at most 5 minutes at any size — inside the 10-minute watermark,
  *     see [[DocStepMs]]). Parity vs batch Dedup.sigDedupBatch is on
  *     the SURVIVOR SIGNATURE SET: the gate's contract is one survivor
  *     per signature, and which member survives an intra-batch tie is
  *     task-order-dependent by design (the keeper-id match is reported,
  *     not asserted).
  *
  * State bounds measured, not argued: session state ≈ users active
  * within (gap + delay) of the watermark; gate state ≈ distinct
  * signatures inside the delay window — both O(rate × window), never
  * O(history), which the max numRowsTotal shows. STREAM_1GB.md.
  *
  * The event formula, slice writer, session replay, sentinel flush and
  * parity projection are shared with [[graft.StreamResume]] (the
  * crash-resume twin), so the two results stay comparable by
  * construction.
  */
object StreamReplay {
  val Slices = 64
  val EvUsers = 50000L
  val EvSpanMs: Long = 30L * 86400 * 1000 // 30 simulated days
  val EvT0: Long = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
  val EvSchema = "user_id LONG, ts TIMESTAMP, value DOUBLE"
  /** Largest simulated gap between consecutive docs of the gate's
    * backlog: 1000 docs span at most 5 minutes, half the watermark. */
  val DocStepMs = 300L

  /** One generator slice [lo, hi): event time strictly increasing with
    * id → slice order = event-time order → watermark-safe replay. */
  def eventSlice(spark: SparkSession, lo: Long, hi: Long, nEvents: Long): DataFrame =
    spark.range(lo, hi).selectExpr(
      s"pmod(xxhash64(id, 1), $EvUsers) AS user_id",
      s"timestamp_millis($EvT0 + CAST(id * ${EvSpanMs.toDouble} / $nEvents AS BIGINT)) AS ts",
      "CAST(pmod(xxhash64(id, 2), 10000) AS DOUBLE) / 100.0 AS value")

  /** `total` rows written to `dir` as [[Slices]] sequential
    * time-ordered slice appends (4 files each). */
  def writeSlices(dir: String, total: Long)(gen: (Long, Long) => DataFrame): Unit = {
    val per = total / Slices
    for (i <- 0 until Slices)
      gen(i * per, if (i == Slices - 1) total else (i + 1) * per).coalesce(4)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(dir)
  }

  /** Order-independent table checksum: (row count, exact DECIMAL sum
    * of xxhash64 over the key columns — a LONG sum would overflow
    * under ANSI arithmetic). */
  def checksum(df: DataFrame, cols: Seq[String]): (Long, String) = {
    val r = df.select(xxhash64(cols.map(col): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString)
  }

  /** [[checksum]] of a session table's canonical parity projection:
    * the sentinel user dropped, epoch-millis timestamps, sum_value
    * quantized to integer thousandths (exact across engines/orders). */
  def sessionChecksum(df: DataFrame): (Long, String) = {
    val keyed = df.filter(col("user_id") >= 0)
      .select(col("user_id"), unix_millis(col("session_start")).as("s"),
        unix_millis(col("session_end")).as("e"), col("n_events"),
        round(col("sum_value") * 1000).cast("long").as("v"))
    checksum(keyed, keyed.columns.toIndexedSeq)
  }

  /** Hardlink view of a committed backlog, so a run appends its own
    * sentinel without touching the shared source. (listFiles, not
    * Files.list — the stream variant leaks a directory fd unless
    * closed.) */
  def linkDir(src: String, dst: String): Unit = {
    EventsStream.wipe(dst)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    Option(new java.io.File(src).listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).foreach { f =>
        java.nio.file.Files.createLink(java.nio.file.Paths.get(dst, f.getName), f.toPath)
      }
  }

  /** [[EventsStream.sessionizeStateful]] over the backlog at `evDir`,
    * replayed to its end at 8 files per trigger (~32 micro-batches over
    * the 64-slice backlog). */
  def sessionReplay(spark: SparkSession, evDir: String, out: String, ckpt: String): StreamingQuery =
    EventsStream.replay(EventsStream.sessionizeStateful(spark, spark.readStream
      .option("maxFilesPerTrigger", 8).schema(EvSchema).parquet(evDir)), out, ckpt)

  /** Flush the open tail: one far-future event (user −1) appended to the
    * backlog, and a second [[sessionReplay]] on the same checkpoint fires
    * every open session's timeout. */
  def sentinelFlush(spark: SparkSession, evDir: String, out: String, ckpt: String): Unit = {
    import spark.implicits._
    Seq((-1L, new java.sql.Timestamp(EvT0 + EvSpanMs + 2L * 86400000), 0.0))
      .toDF("user_id", "ts", "value").coalesce(1).write.mode("append").parquet(evDir)
    sessionReplay(spark, evDir, out, ckpt)
  }

  /** The record of one replay, read off the terminated query's own
    * progress (see [[EventsStream.replay]]). */
  private def stats(q: StreamingQuery, sec: Double, rows: Long) = {
    val ps = q.recentProgress.toSeq
    val ids = ps.map(_.batchId).distinct
    require(ids == (0L until ids.size), s"progress misses batches of the run: $ids")
    val lat = ps.map(_.durationMs.getOrDefault("triggerExecution", 0L).longValue).sorted
    ListMap("rows" -> rows, "sec" -> sec, "rows_per_sec" -> math.round(rows / sec),
      "batches" -> ps.size, "batch_ms_p50" -> lat.lift(lat.size / 2).getOrElse(0L),
      "batch_ms_max" -> lat.lastOption.getOrElse(0L),
      "max_state_rows" -> ps.flatMap(_.stateOperators.map(_.numRowsTotal)).maxOption.getOrElse(0L))
  }

  def run(c: Ctx): Seq[(String, Any)] = {
    val (spark, work, nEvents, nDocs) = (c.spark, c.str("work"), c.long("events"), c.long("docs"))
    // stage 1: sessionizeStateful over the event backlog. The run reads
    // a hardlink view, which takes the flush sentinel; the committed
    // backlog is never written to. Output and checkpoint dirs are
    // wiped: a leftover checkpoint would make the main run replay only
    // the sentinel.
    val evDir = s"$work/events_run"
    linkDir(c.cached("stream_events", nEvents)(d => c.stage("gen_events")(
      writeSlices(d, nEvents)(eventSlice(spark, _, _, nEvents)))), evDir)
    val (sessOut, sessCkpt) = (s"$work/sessions_out", s"$work/sessions_ckpt")
    EventsStream.wipe(sessOut, sessCkpt)
    val sessQuery = c.stage("sessionize")(sessionReplay(spark, evDir, sessOut, sessCkpt))
    sentinelFlush(spark, evDir, sessOut, sessCkpt)
    // parity vs the batch twin, at full scale, order-independent
    val csBatch = c.stage("batch_twin")(sessionChecksum(
      Temporal.sessionize(spark.read.parquet(evDir).filter(col("user_id") >= 0))))
    val csStream = sessionChecksum(spark.read.parquet(sessOut))

    // stage 2: nearDupGate over the doc backlog: 10 simulated hours,
    // or DocStepMs per doc below 120 000 docs
    val spanMs = math.min(10L * 3600 * 1000, DocStepMs * nDocs)
    val docDir = c.cached("stream_docs", nDocs, spanMs)(d => c.stage("gen_docs")(writeSlices(d, nDocs) {
      (lo, hi) => spark.range(lo, hi)
        .selectExpr("id",
          // ~3% of docs duplicate a doc ≤ 1000 ids earlier
          s"CASE WHEN pmod(xxhash64(id, 5), 100) < 3 AND id >= 1000 " +
            s"THEN id - 1 - pmod(xxhash64(id, 6), 1000) ELSE id END AS tseed")
        .selectExpr("id AS doc_id",
          s"timestamp_millis($EvT0 + CAST(id * ${spanMs.toDouble} / $nDocs AS BIGINT)) AS ts",
          // 15..60 words from a 17,576-word ALPHABETIC vocab (3
          // base-26 letters — the index tokenizer keeps only [a-z']+
          // runs, so digit-suffixed words would all collapse to one
          // token); sig collisions only among planted dups
          """array_join(transform(
            |  sequence(1, CAST(15 + pmod(xxhash64(tseed, 7), 46) AS INT)),
            |  i -> concat(char(97 + pmod(xxhash64(tseed, i, 8), 26)),
            |              char(97 + pmod(xxhash64(tseed, i, 9), 26)),
            |              char(97 + pmod(xxhash64(tseed, i, 10), 26)))), ' ') AS text""".stripMargin)
    }))
    val (gateOut, gateCkpt) = (s"$work/gate_out", s"$work/gate_ckpt")
    EventsStream.wipe(gateOut, gateCkpt)
    val gateQuery = c.stage("near_dup_gate")(EventsStream.replay(EventsStream.nearDupGate(
      spark.readStream.schema("doc_id LONG, ts TIMESTAMP, text STRING")
        .option("maxFilesPerTrigger", 8).parquet(docDir)), gateOut, gateCkpt))
    val survivors = spark.read.parquet(gateOut)
    val batchKept = Dedup.sigDedupBatch(spark.read.parquet(docDir))
    // semantic parity: one survivor per signature — compare the
    // signature SETS; keeper-id agreement is informational
    val sigCols = (0 until 8).map(j => s"m$j")
    val csGateStream = checksum(Dedup.withMinhashSig(survivors), sigCols)
    val csGateBatch = checksum(Dedup.withMinhashSig(batchKept), sigCols)

    Seq("sessionize" -> stats(sessQuery, c.wall("sessionize"), nEvents),
      "sessionize_out_rows" -> csStream._1, "sessionize_parity" -> (csStream == csBatch),
      "batch_twin_sec" -> c.wall("batch_twin"),
      "near_dup_gate" -> stats(gateQuery, c.wall("near_dup_gate"), nDocs),
      "gate_survivors" -> csGateStream._1, "gate_parity" -> (csGateStream == csGateBatch),
      "gate_keeper_match" -> survivors.select("doc_id")
        .join(batchKept.select("doc_id"), "doc_id", "left_semi").count())
  }
}
