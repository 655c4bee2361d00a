package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session config every main runs with — the batch
  * configuration Verify checks and the benchmark records, at
  * `SPARK_GRAFT_CPUS` (default: this host's cores) on `GRAFT_MASTER`
  * (default `local[cpus]`, see [[Cluster]]).
  *
  * Mains pass only their own additions as `extra` pairs, which win over
  * the batch values (a `spark.master` pair replaces the default master).
  * Function registration is deliberately NOT done here: operators
  * register what they use lazily, so any session — the benchmark's, the
  * test suite's — can run every registry entry.
  */
object Session {
  val Master = "spark.master"
  val Aqe = "spark.sql.adaptive.enabled"

  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Verify's configuration, which the timed Bench shares:
    *  - AQE on: skew-join splitting is the shipped configuration, and the
    *    round-4 twin artifacts measured AQE on faster in aggregate
    *    (60.5 s vs 68.6 s, BENCH_r04_aqe.json);
    *  - a codegen cache sized for the whole registry: the default 100
    *    entries evict-and-recompile in both bench passes (static conf —
    *    it must be set before the first session exists);
    *  - a bounded broadcast wait, so a wedged broadcast fails one query;
    *  - heartbeat headroom: local-mode heartbeats share the JVM with the
    *    executor threads, and steal bursts + GC must not add up to a lost
    *    executor. */
  def batch: Seq[(String, String)] = Seq(
    Master -> Cluster.master(cpus),
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet stores INT64 TIMESTAMP(NANOS)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    Aqe -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.sql.broadcastTimeout" -> "600",
    "spark.executor.heartbeatInterval" -> "20s",
    "spark.network.timeout" -> "600s",
    "spark.executor.heartbeat.maxFailures" -> "180",
    "spark.ui.enabled" -> "false")

  /** The streaming mains' additions: AQE off (stateful streaming plans
    * do not re-plan), and the state-store provider —
    * `GRAFT_STATE_STORE=rocksdb` keeps large state off-heap on local disk
    * with changelog checkpointing; the default is HDFS-backed. */
  def streaming: Seq[(String, String)] = Seq(
    Aqe -> "false",
    "spark.sql.streaming.stateStore.providerClass" ->
      (if (sys.env.get("GRAFT_STATE_STORE").contains("rocksdb"))
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      else
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"))

  /** The batch config with `extra` applied, plus the executor wiring the
    * resulting master needs. */
  def conf(extra: (String, String)*): Seq[(String, String)] = {
    val overridden = extra.map(_._1).toSet
    val merged = batch.filterNot(kv => overridden(kv._1)) ++ extra
    merged ++ Cluster.executorConf(merged.collectFirst { case (Master, m) => m }.get)
  }

  def build(app: String, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder().appName(app)
    conf(extra: _*).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
