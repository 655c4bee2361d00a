package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DecimalType, StructType}
import org.apache.spark.sql.Row

/** Structured Streaming equivalents of the batch temporal operators.
  *
  * The transformation functions take a DataFrame and are source-agnostic:
  * applied to `spark.read` they are the (oracle-checked) batch queries in
  * graft.operators.Temporal; applied to `spark.readStream` they run
  * incrementally with watermark-bounded state. This "one transform, two
  * execution modes" shape is the Spark-native answer to the reference's
  * batch-only coordinator (it exits when done — SURVEY.md §2.10): the
  * same operator library serves both.
  */
object EventsStream {

  /** Watermarked tumbling-window counts — append-mode safe. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("ws"), col("event_type"), col("n_events"))

  /** Watermarked native session_window (30-minute gap) — gap-sessions
    * with per-user state in the state store, bounded by the watermark.
    * Append-mode emits each session once it can no longer grow. Mirrors
    * batch Temporal.sessionWindowAgg. */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Streaming exact deduplication: dropDuplicatesWithinWatermark keeps
    * the first occurrence of each event_id; dedup state is evicted once
    * the watermark passes — the streaming counterpart of batch
    * Dedup.exactDedup, and the standard at-least-once → effectively-once
    * repair for replayed sources at scale. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** STREAMING NEAR-DUP GATE: ingestion-time near-duplicate filtering —
    * each document's 8-way MinHash signature is computed row-local
    * (map-only, graft.operators.Dedup.withMinhashSig), and
    * dropDuplicatesWithinWatermark keyed on the signature keeps the
    * first document per signature while the watermark holds. This is
    * the streaming member of the dedup taxonomy: exact batch, MinHash
    * batch, incremental-vs-index, and ingestion-gate. State is
    * O(distinct signatures inside the watermark window) — bounded by
    * stream rate × delay, NOT by corpus size, which is what makes the
    * gate runnable forever. Signature equality ≈ jaccard ≳ 0.9 w.h.p.;
    * lower-threshold dedup stays a batch/incremental concern (it needs
    * the band index). Batch≡stream parity is spec-pinned against
    * Dedup.sigDedupBatch. */
  def nearDupGate(docs: DataFrame, delay: String = "10 minutes"): DataFrame =
    graft.operators.Dedup.withMinhashSig(docs)
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("m0", (1 until 8).map(j => s"m$j"): _*)
      .drop((0 until 8).map(j => s"m$j"): _*)

  /** Watermarked stream-stream interval join: each purchase matched to
    * the same user's signups within the preceding 7 days. Both sides
    * carry watermarks and the join condition bounds event time, so state
    * on each side is evictable — the only join shape that runs unbounded
    * streams at scale (an unconstrained stream join would accrete state
    * forever). Batch form of the same predicate: Temporal.funnel's
    * θ-join. */
  def purchasesWithSignups(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    purchases.join(signups,
      col("p_user") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
      .select(col("p_user").as("user_id"), col("p_ts"), col("s_ts"))
  }

  /** Memory-sink writer for deterministic local smoke tests. */
  def toMemorySink(df: DataFrame, name: String): DataStreamWriter[Row] =
    df.writeStream.outputMode(OutputMode.Append).format("memory").queryName(name)

  /** Streaming running-distinct users: dropDuplicates on user_id keeps
    * each user's first PROCESSED event; day-bucketed counts of the
    * survivors are the per-day new-user counts — the streaming analogue
    * of batch Pipeline.cumulativeUsers. State is O(distinct users) by
    * semantic NECESSITY (running COUNT(DISTINCT) must remember every key
    * it has seen) — unlike runningUserTotals this is not an eviction
    * bug; for a truly unbounded keyspace the right trade is
    * approx_count_distinct's HLL sketch. Day attribution follows arrival
    * order, so it equals the batch min(ts) form only for in-order
    * streams (watermark-ordered replay); the total is order-invariant. */
  def newUsersPerDay(events: DataFrame): DataFrame =
    events
      .dropDuplicates("user_id")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("new_users"))

  /** Stream-STATIC join: the streaming side enriched by a static
    * dimension (here a per-type weight table). The static side is
    * planned once per micro-batch as an ordinary batch relation —
    * broadcast when small — and requires NO watermark or join-state:
    * the canonical dimension-enrichment pattern at 100 TB (static dims
    * refresh by restarting the query or via Delta-style snapshot
    * reads). */
  def enrichWithStatic(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), "event_type")
      .select(col("event_id"), col("user_id"), col("event_type"),
        (col("value") * col("weight")).as("weighted_value"))

  /** foreachBatch parquet sink with EXACTLY-ONCE semantics by
    * idempotent overwrite: each micro-batch writes to a batchId-named
    * directory with mode=overwrite, so a batch replayed after a failure
    * (foreachBatch is at-least-once) overwrites its own previous attempt
    * instead of duplicating rows. This is the production pattern for
    * sinks without transactional support; the checkpoint dir supplies
    * the replay bookkeeping. */
  def toIdempotentParquetSink(df: DataFrame, outDir: String,
      checkpointDir: String): DataStreamWriter[Row] =
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }

  /** foreachBatch MERGE sink: each micro-batch UPSERTS its per-user
    * delta into a keyed parquet state table — read current state, full
    * outer join with the batch aggregate, rewrite, swap. This is the
    * pattern a transactional table format executes as MERGE INTO; with
    * plain parquet the rewrite covers the (keyed, compact) state table,
    * fine while state ≪ stream — the usual aggregate-state case.
    *
    * An accumulating merge is NOT naturally idempotent (replaying a
    * batch would double-count), so exactly-once comes from a
    * versioned-state commit protocol — the transaction-log trick of the
    * table formats, reduced to its two load-bearing rules:
    *
    *  1. State versions are IMMUTABLE dirs `v<batchId>`; a merge writes
    *     the NEW version beside the old one — the live state is never
    *     deleted or renamed, so no crash window can lose it.
    *  2. The `_merged_<batchId>` marker is the COMMIT POINTER, created
    *     LAST (one atomic empty-file create). Readers and the next
    *     batch resolve state as v(max committed marker id); an
    *     uncommitted (partial or complete) version dir is invisible. A
    *     crash before the marker → replay re-merges from the old
    *     version and mode(overwrite) replaces the orphan; a crash after
    *     → the marker makes the replay a no-op. Double-count and
    *     state-loss windows are both closed.
    *
    * Keep-only-latest: pruning runs only AFTER the new marker commits
    * and deletes everything except the just-committed `v<batchId>` and
    * its marker — older version dirs, older markers, and any
    * uncommitted orphan a crashed writer left. One marker is all the
    * ledger replay needs: only the LAST batch can re-run after a crash,
    * and its own marker is the one retained, so deleting older markers
    * can never resurrect a double-merge. Complements
    * [[toIdempotentParquetSink]], which handles the naturally-
    * idempotent (partitioned-overwrite) case instead. */
  def toMergeSink(df: DataFrame, stateDir: String,
      checkpointDir: String): DataStreamWriter[Row] =
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val fs = fsOf(spark, stateDir)
        val marker = new org.apache.hadoop.fs.Path(s"$stateDir/_merged_$batchId")
        if (!fs.exists(marker)) {
          val delta = batch
            .groupBy(col("user_id"))
            .agg(count(lit(1)).as("d_n"),
              sum(col("value").cast(DecimalType(18, 2))).as("d_total"))
          val zero = lit(0).cast(DecimalType(18, 2))
          val merged = mergeState(spark, stateDir).join(delta, Seq("user_id"), "full_outer")
            .select(col("user_id"),
              (coalesce(col("n_events"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
                .as("n_events"),
              (coalesce(col("total_value"), zero) + coalesce(col("d_total"), zero))
                .cast(DecimalType(18, 2)).as("total_value"))
          merged.write.mode("overwrite")
            .parquet(s"$stateDir/v$batchId")
          fs.create(marker).close() // commit point
          // Prune EVERYTHING except the just-committed version: older
          // committed dirs AND their markers, plus any uncommitted v*
          // orphan a writer that crashed before its commit marker left
          // behind (these previously accumulated forever). Safe against
          // replay: only the LAST batch can re-run after a crash, and
          // its own marker is the one kept, so deleting older markers
          // can never resurrect a double-merge.
          val base = new org.apache.hadoop.fs.Path(stateDir)
          fs.listStatus(base).foreach { st =>
            val n = st.getPath.getName
            val keep = n == s"v$batchId" || n == s"_merged_$batchId"
            if (!keep && (n.startsWith("v") || n.startsWith("_merged_")))
              fs.delete(st.getPath, true)
          }
        }
      }

  private def fsOf(spark: SparkSession, dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read [[toMergeSink]]'s current state: the newest COMMITTED version,
    * the highest `_merged_<id>` marker (uncommitted orphans from a
    * crashed batch are invisible). Empty-state schema if no batch has
    * committed yet. */
  def mergeState(spark: SparkSession, stateDir: String): DataFrame = {
    val fs = fsOf(spark, stateDir)
    val base = new org.apache.hadoop.fs.Path(stateDir)
    val committed = if (!fs.exists(base)) Seq.empty[Long]
      else fs.listStatus(base).map(_.getPath.getName)
        .filter(_.startsWith("_merged_")).map(_.stripPrefix("_merged_").toLong).toSeq
    committed.maxOption match {
      case Some(v) => spark.read.parquet(s"$stateDir/v$v")
      case None => spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType.fromDDL("user_id LONG, n_events LONG, total_value DECIMAL(18, 2)"))
    }
  }

  /** Per-user running aggregates via mapGroupsWithState — the custom
    * stateful-operator surface. State is evicted by an EVENT-TIME idle
    * timeout: once the watermark passes a user's last activity plus
    * `idleMs`, the state is removed (the function re-emits the final
    * snapshot on eviction), so state size tracks the ACTIVE user set,
    * not the all-time user cardinality — the difference between bounded
    * and unbounded state at 100 TB. A user reappearing after eviction
    * restarts from zero. Event-time (not processing-time) eviction keeps
    * replays deterministic — and processing-time timeouts make the
    * micro-batch engine run no-data batches continuously (its
    * shouldRunAnotherBatch is unconditionally true), a busy loop that
    * also never signals processAllAvailable. */
  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class UserTotal(user_id: Long, n: Long, total: Double)

  def runningUserTotals(spark: SparkSession, events: DataFrame,
      idleMs: Long = 60L * 60 * 1000): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("value")).as[UserEvent]
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserTotal]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            last // final flush for downstream consumers; state is gone
          } else {
            val prev = state.getOption.getOrElse(UserTotal(uid, 0L, 0.0))
            var n = prev.n
            var total = prev.total
            var maxTs = Long.MinValue
            rows.foreach { e =>
              n += 1; total += e.value
              maxTs = math.max(maxTs, e.ts.getTime)
            }
            val next = UserTotal(uid, n, total)
            state.update(next)
            // timeout must sit beyond the current watermark; a late
            // batch for an already-quiet user evicts on the next advance
            state.setTimeoutTimestamp(
              math.max(maxTs + idleMs, state.getCurrentWatermarkMs() + 1))
            next
          }
      }.toDF()
  }

  /** Gap-sessionization as a CUSTOM stateful operator —
    * flatMapGroupsWithState with an EVENT-TIME timeout. Semantically
    * identical to batch Temporal.sessionize (inclusive 30-min gap: an
    * event exactly gap after the previous one merges) and to the native
    * session_window streaming form, but with the state machine explicit:
    * per-user open-session state in the state store, a session closing
    * either when a later event arrives past the gap (emitted in-batch) or
    * when the watermark passes session_end + gap (timeout path — state
    * removed, session emitted). This is the production-idiomatic shape
    * for custom session logic the built-in operator can't express. */
  case class SessEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  // public: the state encoder's generated code instantiates it reflectively
  case class OpenSession(startMs: Long, endMs: Long, n: Long, total: Double)
  case class SessionRow(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  def sessionizeStateful(spark: SparkSession, events: DataFrame,
      gapMs: Long = 30L * 60 * 1000): DataFrame = {
    import spark.implicits._
    def emit(uid: Long, s: OpenSession) = SessionRow(uid,
      new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.endMs),
      s.n, s.total)
    events.select(col("user_id"), col("ts"), col("value")).as[SessEvent]
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[SessEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            Iterator(emit(uid, last))
          } else {
            // iterator order within a group is not guaranteed; a group's
            // per-batch rows are sorted here (bounded by batch size, not
            // by history — state carries only the open session)
            val sorted = rows.toArray.sortBy(_.ts.getTime)
            val closed = Seq.newBuilder[SessionRow]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.endMs <= gapMs =>
                  cur = Some(OpenSession(s.startMs, math.max(s.endMs, t),
                    s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed += emit(uid, s)
                  cur = Some(OpenSession(t, t, 1L, e.value))
                case None =>
                  cur = Some(OpenSession(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endMs + gapMs)
            }
            closed.result().iterator
          }
      }.toDF()
  }

  /** Streaming twin of Temporal.eventTransitions: per-user first-order
    * transitions emitted AT INGESTION — state is only each user's last
    * event (type + its (ts, event_id) order key), evicted by event-time
    * idle timeout like [[runningUserTotals]], so state tracks the
    * active-user set, never history. Within a batch the group's rows
    * sort by the same (ts, event_id) total order the batch operator
    * uses; parity with the batch Markov table holds whenever per-user
    * order is preserved across batch boundaries (the replay/no-late
    * case the parity spec drives). Downstream counts are a plain
    * streaming aggregation over the emitted pairs. */
  case class TransEvent(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, event_type: String)
  case class LastEvent(ms: Long, event_id: Long, event_type: String)
  case class TransitionRow(user_id: Long, from_type: String, to_type: String)

  def transitionsStream(spark: SparkSession, events: DataFrame,
      idleMs: Long = 60L * 60 * 1000): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[TransEvent]
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[TransEvent], state: GroupState[LastEvent]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // (getTime, getNanos) is the full-precision event-time order:
            // getTime alone floors to milliseconds, and two sub-ms-apart
            // events would sort by event_id against the batch operator's
            // microsecond (ts, event_id) order (review finding)
            val sorted = rows.toArray
              .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            val out = Seq.newBuilder[TransitionRow]
            var last = state.getOption
            sorted.foreach { e =>
              last.foreach(l => out += TransitionRow(uid, l.event_type, e.event_type))
              last = Some(LastEvent(e.ts.getTime, e.event_id, e.event_type))
            }
            last.foreach { l =>
              state.update(l)
              state.setTimeoutTimestamp(
                math.max(l.ms + idleMs, state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }.toDF()
  }

  /** Streaming twin of Temporal.activityIntervals: fixed-span coverage
    * intervals merged AT INGESTION — state is each user's one open
    * interval [s, e) in MICROS (carried as longs end-to-end, so the
    * ms-flooring Timestamp state trap never applies; micros are
    * reconstructed from (getTime, getNanos) because getTime alone
    * floors to milliseconds — review-pinned finding). An interval
    * closes either when a later event arrives past its end (emitted
    * in-batch; touching events MERGE, the batch operator's half-open
    * convention) or when the watermark passes its end (timeout path).
    * State tracks the active-user set, never history. */
  case class IvEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
  case class OpenInterval(sUs: Long, eUs: Long, nEv: Long)
  case class IntervalRow(user_id: Long, iv_s_us: Long, iv_e_us: Long,
      n_ev: Long)

  private def microsOf(ts: java.sql.Timestamp): Long =
    ts.getTime / 1000 * 1000000L + ts.getNanos / 1000

  def intervalsStream(spark: SparkSession, events: DataFrame,
      spanUs: Long = 10L * 60 * 1000 * 1000): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("event_id")).as[IvEvent]
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[IvEvent], state: GroupState[OpenInterval]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            Iterator(IntervalRow(uid, last.sUs, last.eUs, last.nEv))
          } else {
            val sorted = rows.toArray
              .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            val closed = Seq.newBuilder[IntervalRow]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = microsOf(e.ts)
              cur match {
                case Some(iv) if t <= iv.eUs =>
                  cur = Some(OpenInterval(iv.sUs,
                    math.max(iv.eUs, t + spanUs), iv.nEv + 1))
                case Some(iv) =>
                  closed += IntervalRow(uid, iv.sUs, iv.eUs, iv.nEv)
                  cur = Some(OpenInterval(t, t + spanUs, 1L))
                case None =>
                  cur = Some(OpenInterval(t, t + spanUs, 1L))
              }
            }
            cur.foreach { iv =>
              state.update(iv)
              // timeout in MS, strictly beyond both the interval end
              // and the current watermark
              state.setTimeoutTimestamp(
                math.max(iv.eUs / 1000 + 1, state.getCurrentWatermarkMs() + 1))
            }
            closed.result().iterator
          }
      }.toDF()
  }

  private val streamRunSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Delete each path and everything under it, if it exists. */
  def wipe(paths: String*): Unit = paths.foreach { p =>
    val f = new java.io.File(p)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  /** Work dirs created by the streamed gates, deleted on JVM exit (the
    * returned DataFrame reads the sink lazily, so in-call cleanup would
    * race the consumer; a shutdown hook bounds the leak to one process
    * lifetime — review finding). */
  private val streamWorkDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
  private lazy val streamCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      streamWorkDirs.forEach(d => try wipe(d) catch { case _: Throwable => () })))

  /** Run `stream` to the end of its available input (Trigger.AvailableNow)
    * into a parquet sink at `path` with its checkpoint at `ckpt`, and
    * return the terminated query. Its `recentProgress` then holds every
    * batch of the run: each progress is recorded before its trigger
    * finishes (the session keeps the last 100). */
  def replay(stream: DataFrame, path: String, ckpt: String): StreamingQuery = {
    val q = stream.writeStream.outputMode("append").format("parquet")
      .option("path", path).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** Shared scaffold of the streamed registry gates — the hard-won
    * pieces live ONCE here (review finding: the gates had copied
    * them): a per-run work dir under GRAFT_STREAM_WORK_DIR (defaults to
    * the driver-local tmpdir; on a MULTI-NODE cluster this MUST be a
    * shared filesystem — source, checkpoint, and sink are read by
    * executors AND the driver's read-back; driver-local paths only work
    * when executors share the host, the local/local-cluster topologies
    * this repo tests), shutdown-hook cleanup registration, and the
    * backlog write (the whole corpus lands in micro-batch 0 where the
    * watermark is still unset, so no parquet row order can late-drop
    * events — multi-batch replay discipline is the 1 GB flagship's
    * subject, not these gates'). */
  private final class StreamedGate(spark: SparkSession, prefix: String,
      backlog: DataFrame, inSchema: String,
      stream: DataFrame => DataFrame) {
    private val root = java.nio.file.Paths.get(
      sys.env.getOrElse("GRAFT_STREAM_WORK_DIR", sys.props("java.io.tmpdir")))
    // a long-lived process that re-runs the registry (Verify loops,
    // repeated bench passes) would otherwise accumulate corpus-sized
    // copies per run (advisor r11): drop THIS process's prior runs of
    // the same prefix now — by the time the same query builds a new
    // gate, its previous sink has been consumed. Other pids' dirs are
    // left alone (they may be live).
    private val pidPrefix =
      s"graft_${prefix}_${ProcessHandle.current().pid()}_"
    Option(root.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(pidPrefix))
      .foreach { f =>
        try { wipe(f.getPath); streamWorkDirs.remove(f.getAbsolutePath) }
        catch { case _: Throwable => () }
      }
    private val base = root.resolve(
      s"$pidPrefix${streamRunSeq.incrementAndGet()}").toString
    streamCleanupHook
    streamWorkDirs.add(base)
    private val inDir = s"$base/in"
    private val outDir = s"$base/out"
    private val ckpt = s"$base/ckpt"
    // natural partitioning, NOT coalesce(1) (r14 optimization round):
    // the single-file form serialized the whole scan→union→write chain
    // through one task. Multi-file is equally single-batch: the file
    // source has no maxFilesPerTrigger set, so batch 0 takes EVERY
    // listed file (watermark still unset — no row order can late-drop
    // events), and files appended after a run belong to a later batch
    // of the next run by checkpoint construction, whatever their count.
    backlog.write.mode("overwrite").parquet(inDir)

    def append(df: DataFrame): Unit =
      df.write.mode("append").parquet(inDir)

    def runOnce(): Unit = {
      // State-store sizing (r14 optimization round, guide §2.2): the
      // state-partition count is PINNED into the checkpoint at first
      // batch, so it is a deliberate capacity decision, not an
      // inherited batch setting — and every state partition costs a
      // provider instance plus one delta file + fsync PER BATCH.
      // Sized to the backlog (one partition per 32 MB of input — the
      // reference's chunk size), clamped to the session's shuffle
      // partitions. At sf0.1 the floor gives 4 partitions instead of
      // the session's 32 (the five gates' wall is checkpoint
      // machinery, not compute — measurements in OPTIMIZATION_r14.md;
      // per-batch splits in OPTIMIZATION_r15.md). Scale-adaptive by
      // construction: a 100 TB backlog derives thousands of partitions.
      val sessParts = spark.conf.get("spark.sql.shuffle.partitions")
      val bytes = Option(new java.io.File(inDir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(_.length).sum
      val per = 32L << 20
      // parallelism floor min(4, session): a 1-partition stateful
      // batch serializes addBatch (measured 1.48 s of the 2 s
      // batch-0 trigger); 2–8 partitions measured equal within
      // noise and ~1 s better than 1 across the five gates
      val parts = math.max(math.min(4L, sessParts.toLong),
        math.min(sessParts.toLong, (bytes + per - 1) / per))
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try replay(stream(spark.readStream.schema(inSchema).parquet(inDir)), outDir, ckpt)
      finally spark.conf.set("spark.sql.shuffle.partitions", sessParts)
    }

    /** Explicit schema: a zero-row run leaves the sink with no part
      * files and a schemaless read would fail. */
    def sink(outSchema: String): DataFrame =
      spark.read.schema(outSchema).parquet(outDir)
  }

  private object StreamedGate {
    /** The flush protocol of the timer gates (intervals, sessionize,
      * tumbling), in one run: the backlog's max(ts) is observed on its
      * own write (r15 optimization round — no second events scan), one
      * `sentinel` row 2 days past it is appended, and batch 0 takes both
      * (no maxFilesPerTrigger, watermark unset: no event can be
      * late-dropped whatever the file row order). The post-batch-0
      * watermark (sentinel − delay) passes every open state's end, so
      * the engine's trailing no-data batch fires every event-time
      * timeout (r14 optimization round: one query lifecycle, not two).
      * `rollUp` turns the sink (read as `sinkSchema`) into the result;
      * an empty backlog has no max(ts), so no run: the result is
      * `rollUp` of an empty sink. */
    def flushed(spark: SparkSession, prefix: String, backlog: DataFrame,
        inSchema: String, stream: DataFrame => DataFrame, sinkSchema: String)(
        sentinel: java.sql.Timestamp => Row)(rollUp: DataFrame => DataFrame): DataFrame = {
      val obs = org.apache.spark.sql.Observation()
      val gate = new StreamedGate(spark, prefix,
        backlog.observe(obs, max(unix_millis(col("ts"))).as("max_ts")), inSchema, stream)
      obs.get("max_ts") match {
        case maxTs: Long =>
          gate.append(spark.createDataFrame(
            java.util.List.of(sentinel(new java.sql.Timestamp(maxTs + 2L * 86400000))),
            StructType.fromDDL(inSchema)))
          gate.runOnce()
          rollUp(gate.sink(sinkSchema))
        case _ => rollUp(spark.createDataFrame(
          new java.util.ArrayList[Row](), StructType.fromDDL(sinkSchema)))
      }
    }
  }

  /** The [[sessionizeStreamedQuery]] pattern applied to
    * [[transitionsStream]]: the last-event-state Markov extractor run
    * as a REAL AvailableNow stream, its emitted (user, from, to) pairs
    * aggregated into the batch `event_transitions` output shape and
    * held to the SAME DuckDB oracle. No sentinel is needed — a
    * transition is emitted when its LATER event arrives, so the
    * backlog's final batch has already emitted every pair (state holds
    * only each user's last event, which by definition starts no further
    * transition). */
  def transitionsStreamedQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val gate = new StreamedGate(spark, "trans_stream", ev,
      "user_id LONG, ts TIMESTAMP, event_id LONG, event_type STRING",
      transitionsStream(spark, _))
    gate.runOnce()
    val pairs = gate.sink("user_id LONG, from_type STRING, to_type STRING")
    val trans = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy("from_type").agg(sum(col("n")).as("n_from"))
    trans.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("n_from").cast("double"), 6)
          .as("p"))
      .orderBy("from_type", "to_type")
  }

  /** The third streamed registry gate: [[intervalsStream]] run as a
    * REAL AvailableNow stream under the [[StreamedGate.flushed]]
    * protocol, its emitted closed intervals rolled up into the batch
    * `activity_intervals` output shape and held to the SAME DuckDB
    * oracle. Micros survive end-to-end because the state machine
    * carries longs, so the oracle is the batch operator's, unchanged. */
  def intervalsStreamedQuery(spark: SparkSession, dir: String): DataFrame =
    StreamedGate.flushed(spark, "iv_stream",
      graft.Tables.events(spark, dir).select(col("user_id"), col("ts"), col("event_id")),
      "user_id LONG, ts TIMESTAMP, event_id LONG", intervalsStream(spark, _),
      "user_id LONG, iv_s_us LONG, iv_e_us LONG, n_ev LONG")(Row(-1L, _, -1L)) {
      _.filter(col("user_id") >= 0)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("iv_e_us") - col("iv_s_us")).as("covered_us"),
          max(col("iv_e_us") - col("iv_s_us")).as("max_interval_us"),
          sum(col("n_ev")).as("n_events"))
        .orderBy("user_id")
    }

  /** STREAMING EXECUTION UNDER THE BATCH ORACLE — the first registry
    * entry whose Spark side actually runs Structured Streaming
    * end-to-end: the corpus events replayed through
    * [[sessionizeStateful]] under Trigger.AvailableNow (real checkpoint,
    * real state store, real parquet sink) and the
    * [[StreamedGate.flushed]] protocol (the `stream` scenario's sentinel
    * flush, single-run form since the r14 optimization round), and the
    * sink read back into the batch `sessionize` output shape. The DuckDB
    * oracle is the BATCH gap-sessionization — the driver hash gate pins
    * streaming ≡ batch semantics, the parity the 1 GB flagship asserts,
    * as a per-round oracle check. session_id is reconstructed as the
    * per-user session_start rank; sum_value is emitted quantized to
    * integer thousandths (state accumulates in arrival order, the oracle
    * in scan order — the values are 2-decimal, so the milli-quantization
    * is exact for both). */
  def sessionizeStreamedQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the state machine floors event times to epoch millis (SessionRow
    // carries java.sql.Timestamp ms) while the corpus has microsecond
    // timestamps — so the output exposes the ms values it actually
    // computed with, and the oracle floors identically via epoch_ms()
    val w = Window.partitionBy(col("user_id")).orderBy(col("session_start"))
    StreamedGate.flushed(spark, "sess_stream",
      graft.Tables.events(spark, dir).select(col("user_id"), col("ts"), col("value")),
      "user_id LONG, ts TIMESTAMP, value DOUBLE", sessionizeStateful(spark, _),
      "user_id LONG, session_start TIMESTAMP, session_end TIMESTAMP, n_events LONG, " +
        "sum_value DOUBLE")(Row(-1L, _, 0.0)) {
      _.filter(col("user_id") >= 0)
        .withColumn("session_id", row_number().over(w).cast("long"))
        .select(col("user_id"), col("session_id"), col("n_events"),
          unix_millis(col("session_start")).as("session_start_ms"),
          unix_millis(col("session_end")).as("session_end_ms"),
          round(col("sum_value") * 1000).cast("long").as("sum_value_milli"),
          (unix_millis(col("session_end")) - unix_millis(col("session_start")))
            .as("duration_ms"))
        .orderBy("user_id", "session_id")
    }
  }

  /** The FIFTH streamed gate — the canonical streaming operation,
    * WATERMARKED TUMBLING-WINDOW AGGREGATION, executed for real and
    * held to the batch `window_tumbling` oracle shape: hourly windows
    * × event_type with counts and exact milli-quantized value sums
    * accumulate in the state store and flush append-mode once the
    * watermark passes each window's end (the [[StreamedGate.flushed]]
    * sentinel advances it past the last real window; the sentinel's own
    * still-open window never reaches the sink, and its type is filtered
    * belt-and-braces). Values are 2-decimal, so per-event milli
    * quantization makes the state-store accumulation order-independent —
    * the same reason sessionize_streamed emits millis. */
  def tumblingStreamedQuery(spark: SparkSession, dir: String): DataFrame =
    StreamedGate.flushed(spark, "tumb_stream",
      graft.Tables.events(spark, dir).select(col("ts"), col("event_type"),
        round(col("value") * 1000).cast("long").as("value_milli")),
      "ts TIMESTAMP, event_type STRING, value_milli LONG",
      _.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value_milli")).as("sum_value_milli"))
        .select(col("w.start").as("ws"), col("event_type"),
          col("n_events"), col("sum_value_milli")),
      "ws TIMESTAMP, event_type STRING, n_events LONG, sum_value_milli LONG")(
      Row(_, "zzz_sentinel", 0L)) {
      _.filter(col("event_type") =!= "zzz_sentinel")
        .select(unix_millis(col("ws")).as("ws_ms"), col("event_type"),
          col("n_events"), col("sum_value_milli"))
        .orderBy("ws_ms", "event_type")
    }

  /** The FOURTH streamed gate — streaming DEDUPLICATION executed for
    * real: exact-duplicate events are PLANTED (every 7th event appears
    * twice inside micro-batch 0; every 13th is replayed again as a
    * SECOND batch) and removed by state-store-backed
    * `dropDuplicates(event_id, ts)` under a 10-minute watermark. Both
    * removal paths of the production dedup run: in-window replays hit
    * retained state, replays older than the watermark are dropped by
    * the late-record filter — either way an at-least-once upstream
    * (the Kafka/file-ingest reality this models) collapses to
    * exactly-once rows. The sink is rolled into a per-type aggregate
    * and held to the DuckDB oracle over the ORIGINAL corpus — the
    * driver hash gate proves the planted copies vanished without
    * touching a genuine row. Values are 2-decimal, so the per-event
    * milli quantization is exact on both engines. */
  def dedupStreamedQuery(spark: SparkSession, dir: String): DataFrame = {
    val evSchema =
      "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, " +
        "value DOUBLE"
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val gate = new StreamedGate(spark, "dedup_stream",
      ev.unionAll(ev.filter(col("event_id") % 7 === 0)), evSchema,
      s => s.withWatermark("ts", "10 minutes")
        .dropDuplicates("event_id", "ts"))
    gate.runOnce()
    gate.append(ev.filter(col("event_id") % 13 === 0))
    gate.runOnce()
    gate.sink(evSchema)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(round(col("value") * 1000).cast("long")).as("sum_value_milli"))
      .orderBy("event_type")
  }
}
