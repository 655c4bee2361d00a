package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialization policy for index builds / shared intermediates —
  * the band tables, LSH signature tables, IVF centroid tables, and
  * near-dup pair tables that are BUILT ONCE and served to every
  * downstream consumer.
  *
  * Two backends, selected by `spark.graft.index.dir`:
  *
  *  - DURABLE (conf set, cluster mode): the built table is written
  *    once as parquet under a content-keyed subdirectory and read
  *    back; later builds with the same key — including from a brand
  *    new session or a restarted driver — reuse the files without
  *    recomputing. Parquet on shared storage survives executor loss,
  *    which localCheckpoint blocks do not: this is the path a 100 TB
  *    deployment runs on (the reference likewise persists its shuffle
  *    intermediates on disk — reference worker/worker.py:34-36,
  *    coordinator/coordinator.py:57-89). An uncommitted directory
  *    (crashed writer) is rebuilt, see [[commit]].
  *  - IN-MEMORY (default, single-JVM): eager `localCheckpoint` — RDD
  *    storage, intentionally OUTSIDE the SQL cache so per-query
  *    `clearCache()` hygiene in Bench/Verify cannot evict an index
  *    build.
  *
  * Keys must identify the build CONTENT (source table path + operator
  * parameters), never session identity — the durable path is shared
  * across sessions by design. DurabilitySpec exercises the full
  * build → new-session → reuse-without-rebuild cycle.
  */
object Materialize {
  val DirConf = "spark.graft.index.dir"

  /** Self seconds spent building each index this JVM: the build's wall
    * minus the wall of the builds nested inside it, so the keys sum to
    * the time spent building — the amortized-away cost the bench's warm
    * pass would otherwise hide. Bench reports the snapshot as
    * "index_build" so the one-time build price is visible next to the
    * steady-state query times. */
  private val buildSecs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** Wall seconds of the builds nested in the one running on this
    * thread: a build forces the builds it reads on its own thread. */
  private val nestedSecs = ThreadLocal.withInitial[Double](() => 0.0)

  /** Runs every build [[memo]] forces (the benchmark's probe tags a job
    * as an index build by this frame on its call site). */
  private[operators] def timedBuild[T](key: String)(f: => T): T = {
    val outer = nestedSecs.get
    nestedSecs.set(0.0)
    val t0 = System.nanoTime()
    try {
      val r = f
      buildSecs.put(key, (System.nanoTime() - t0) / 1e9 - nestedSecs.get)
      r
    } finally nestedSecs.set(outer + (System.nanoTime() - t0) / 1e9)
  }

  def buildTimes: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildSecs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }

  /** A build forced at most once; the lock is the holder's own. */
  private final class Once(build: => Any) { lazy val value: Any = build }

  private val built = new java.util.concurrent.ConcurrentHashMap[String, Once]()
  private val evictionHooked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The one in-JVM index memo: `build` runs at most once per
    * (session, content key), its self time lands in [[buildTimes]]
    * under `key`, and every later call gets the same value.
    *
    * The map stores a lazy holder and the build is forced OUTSIDE
    * `computeIfAbsent`, so a build may memoize other builds (the PQ
    * code table trains its codebook and reads the assignment inside its
    * own build) — a value computed inside `computeIfAbsent` may not
    * touch the map ("Recursive update"). Entries clear when the
    * session's SparkContext ends, so a JVM that cycles contexts keeps
    * no dead context's index plans reachable. */
  def memo[T](spark: SparkSession, key: String)(build: => T): T = {
    val sc = spark.sparkContext
    if (evictionHooked.add(sc.applicationId))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          built.clear()
      })
    built.computeIfAbsent(s"${sessionKey(spark)}:$key",
      _ => new Once(timedBuild(key)(build))).value.asInstanceOf[T]
  }

  /** [[memo]] over [[table]]: a materialized index, built once. */
  def index(spark: SparkSession, key: String)(df: => DataFrame): DataFrame =
    memo(spark, key)(table(spark, key)(df))

  /** Row count of `df`, one columnar count per (session, plan). */
  def count(df: DataFrame): Long =
    memo(df.sparkSession, s"count:${df.queryExecution.logical.semanticHash()}")(
      df.select(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1))).head().getLong(0))

  private def fsPath(spark: SparkSession, p: String) = {
    val hp = new org.apache.hadoop.fs.Path(p)
    (hp, hp.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** Materialize `df` under `key`, once. The builder argument is
    * by-name: when the durable table already exists it is never
    * evaluated (no plan construction, no upstream jobs). The durable
    * table goes through [[commit]]. */
  def table(spark: SparkSession, key: String)(df: => DataFrame): DataFrame = {
    val dir = spark.conf.get(DirConf, "")
    if (dir.isEmpty) df.localCheckpoint()
    else spark.read.parquet(commit(spark, dir, key.replaceAll("[^A-Za-z0-9._-]", "_"))(
      df.write.mode("overwrite").parquet(_)))
  }

  /** The directory `dir/name`, written by `write` at most once: the path
    * of a committed directory, which is never rewritten.
    *
    * Commit protocol (multi-driver safe): `write` fills a PRIVATE temp
    * directory, the `_SUCCESS` done-marker is put in it, and it is
    * atomically renamed into place, so two sessions sharing one index
    * dir (the stated multi-driver design) can race freely — exactly one
    * rename wins, losers discard their temp dir, and a concurrent reader
    * only ever observes either no directory or a fully-committed one
    * (never a half-overwritten dir, the failure mode of an in-place
    * `mode(overwrite)` write). A leftover dir with no `_SUCCESS` (crashed
    * writer) is cleared before building. Temp names start with '.' so
    * even the worst rename interleaving (a temp moved INTO a
    * just-committed target by a lagging loser) is invisible to parquet
    * readers, which skip dot-prefixed paths, and a crashed writer's temp
    * dir is never read. */
  def commit(spark: SparkSession, dir: String, name: String)(write: String => Unit): String = {
    val (path, fs) = fsPath(spark, s"$dir/$name")
    val ok = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    if (!fs.exists(ok)) {
      if (fs.exists(path)) fs.delete(path, true)
      val tmp = new org.apache.hadoop.fs.Path(
        s"$dir/.tmp-$name-${java.util.UUID.randomUUID.toString.take(8)}")
      write(tmp.toString)
      fs.create(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), true).close()
      // lost the race (another builder committed meanwhile) → discard
      if (fs.exists(ok) || !fs.rename(tmp, path)) fs.delete(tmp, true)
    }
    path.toString
  }

  /** Content fingerprint of source data, to fold into durable index
    * keys: a hash of the recursive file listing (path, length, mtime)
    * of each root. Without it, keys are path+parameters only, and a
    * REGENERATED dataset under the same path (fixtures do change) would
    * silently serve a stale band/bucket/centroid index — wrong pairs,
    * no error. Memoized per (session, roots): one listing per session,
    * matching Spark's own per-session file-index caching; a source
    * mutated mid-session is out of scope by the same contract. */
  private val fpMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def sourceFingerprint(spark: SparkSession, paths: Seq[String]): String = {
    val memoKey = sessionKey(spark) + ":" + paths.sorted.mkString(",")
    fpMemo.computeIfAbsent(memoKey, { _ =>
      val conf = spark.sparkContext.hadoopConfiguration
      val entries = scala.collection.mutable.ArrayBuffer[String]()
      paths.foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        try {
          val fs = hp.getFileSystem(conf)
          val st = fs.getFileStatus(hp)
          if (st.isDirectory) {
            val it = fs.listFiles(hp, true)
            while (it.hasNext) {
              val f = it.next()
              entries += s"${f.getPath.toUri.getPath}:${f.getLen}:${f.getModificationTime}"
            }
          } else entries += s"${st.getPath.toUri.getPath}:${st.getLen}:${st.getModificationTime}"
        } catch { case _: java.io.FileNotFoundException => entries += s"absent:$p" }
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      entries.sorted.foreach(e => md.update((e + "\n").getBytes("UTF-8")))
      md.digest().take(6).map("%02x".format(_)).mkString
    })
  }

  val ReliableConf = "spark.graft.checkpoint.reliable"

  /** Stage a multi-consumer intermediate with lineage truncation — the
    * iterative-algorithm counterpart of [[table]] (connected-components
    * round edges, the graph-stats edge/orientation tables). Default is
    * localCheckpoint (single-JVM: fast, dies with an executor); with
    * `spark.graft.checkpoint.reliable=true` AND a context checkpoint
    * dir set, it becomes a RELIABLE `checkpoint()` to shared storage —
    * the cluster mode where a lost executor must not kill a 30-round
    * CC fixpoint loop. `eager = false` preserves the CC loop's
    * one-action-per-round contract (the convergence check both
    * materializes the round and decides the fixpoint).
    *
    * Cluster-mode operational note: Spark never deletes reliable
    * checkpoint dirs on its own, so a 30-round fixpoint leaves one
    * edge-RDD dir per round on shared storage for the life of the
    * context. Deployments MUST set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (the
    * ContextCleaner then removes each round's files once its RDD is
    * unreachable — true the moment the next round materializes).
    * ClusterCheck's cluster session sets it; per-round eager deletion
    * here would race the non-eager contract (the previous round's
    * checkpoint is still the current round's lineage parent until the
    * convergence action runs). */
  def stage(df: DataFrame, eager: Boolean = true): DataFrame = {
    val s = df.sparkSession
    val reliable = s.conf.get(ReliableConf, "false").toBoolean &&
      s.sparkContext.getCheckpointDir.isDefined
    if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)
  }

  /** Stable per-session identity for in-JVM memo keys: the session
    * UUID (unique per session, never reused — unlike identityHashCode,
    * which is neither). `sessionUUID` is bytecode-public but
    * Scala-`private[sql]`, so it is read reflectively; any session
    * without it falls back to identity hash. */
  def sessionKey(s: SparkSession): String =
    try s.getClass.getMethod("sessionUUID").invoke(s).toString
    catch { case _: ReflectiveOperationException =>
      s"idhash-${System.identityHashCode(s)}"
    }
}
