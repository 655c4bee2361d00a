package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.flagship._
import graft.operators.Materialize

/** The one runner of the at-scale evidence scenarios: one `key=value`
  * parser, one cached-corpus helper, one stage timer and one JSON
  * record per run.
  *
  * Usage: scripts/run.sh graft.Flagship <scenario> [key=value …]
  *
  * Each scenario's keys and their defaults are in [[scenarios]]; an
  * unknown scenario or key exits 2 naming it. The record is the last
  * stdout line: `metric`, the scenario's fields, `stages` (per stage
  * wall, executor CPU, shuffle write and spill), `index_build` (the
  * [[Materialize.buildTimes]] this run added) and `cpus`.
  */
object Flagship {

  /** A scenario: its record's metric name, its keys with their
    * defaults, its session extras and its body, which returns the
    * record's own fields. */
  final case class Scenario(metric: String, defaults: ListMap[String, String],
      run: Ctx => Seq[(String, Any)], extras: Seq[(String, String)])

  private def scenario(metric: String, run: Ctx => Seq[(String, Any)],
      extras: (String, String)*)(defaults: (String, String)*) =
    Scenario(metric, ListMap(defaults: _*), run, extras)

  /** Durable ANN indexes when `GRAFT_INDEX_DIR` is set: a second run in a
    * fresh JVM serves every path from the parquet indexes. */
  private val indexDir = Materialize.DirConf -> sys.env.getOrElse("GRAFT_INDEX_DIR", "")

  val scenarios: ListMap[String, Scenario] = ListMap(
    "wordcount" -> scenario("flagship_1gb", WordCount1G.run)(
      "bytes" -> "1000000000", "work" -> "/tmp/graft_1gb"),
    "dedup" -> scenario("dedup_1gb", NearDup.dedup)(
      "n" -> "500000", "work" -> "/tmp/graft_dedup1g"),
    "simjoin" -> scenario("ssjoin_1gb", NearDup.simJoin)(
      "n" -> "500000", "work" -> "/tmp/graft_dedup1g"),
    "bpe" -> scenario("bpe_1g", NearDup.bpe)(
      "n" -> "500000", "work" -> "/tmp/graft_bpe1g"),
    "band_lifecycle" -> scenario("band_lifecycle", NearDup.bandLifecycle)(
      "n" -> "500000", "work" -> "/tmp/graft_bandlife1g"),
    "substr" -> scenario("substr_1gb", Substring.substr)(
      "n" -> "500000", "work" -> "/tmp/graft_substr1g"),
    "bloom" -> scenario("decontam_1gb", Substring.bloom)(
      "n" -> "500000", "work" -> "/tmp/graft_substr1g"),
    "ann" -> scenario("ann_1m", Ann.flagship, indexDir)(
      "n" -> "1000000", "work" -> "/tmp/graft_ann1m", "clusters" -> "1000"),
    // ObjectHashAggregate's sort fallback triggers at 128 in-memory keys
    // by default; at 10M vectors it sorted (and spilled) the whole N×K
    // assignment stream for ~50 B buffers: keep it hashed
    "ann_pq" -> scenario("ann_pq_regime", Ann.pqRegime, indexDir,
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4000000")(
      "n" -> "10000000", "work" -> "/tmp/graft_ann10m", "clusters" -> "1000"),
    "embedqa" -> scenario("embedqa_1m", Ann.embedQa)(
      "n" -> "1000000", "work" -> "/tmp/graft_embedqa1m", "events_dir" -> "/tmp/sf1"),
    "rankdim" -> scenario("rankdim", RankDim.run)("n" -> "100000000"),
    "search" -> scenario("search_1g", SearchIndex.search)(
      "work" -> "/tmp/graft_search1g", "n" -> "3300000"),
    "compaction" -> scenario("search_compaction_1g", SearchIndex.compaction)(
      "work" -> "/tmp/graft_compact1g", "n" -> "3300000"),
    "stream" -> scenario("stream_1g", StreamReplay.run, Session.streaming: _*)(
      "work" -> "/tmp/graft_stream1g", "events" -> "16000000", "docs" -> "3300000"))

  /** The scenario `args` names and its keys (defaults overridden by
    * `key=value` pairs), or Left(what is not known). */
  def parse(args: Seq[String]): Either[String, (Scenario, Map[String, String])] =
    args match {
      case name +: pairs => scenarios.get(name)
        .toRight(s"not a scenario: $name (one of ${scenarios.keys.mkString(", ")})")
        .flatMap { sc =>
          val kvs = pairs.map(_.split("=", 2))
          kvs.find(kv => kv.length != 2 || !sc.defaults.contains(kv(0))) match {
            case Some(bad) => Left(s"not a key=value of $name: ${bad.mkString("=")} " +
              s"(keys: ${sc.defaults.keys.mkString(", ")})")
            case None => Right(sc -> (sc.defaults ++ kvs.map(kv => kv(0) -> kv(1))))
          }
        }
      case _ => Left(s"usage: graft.Flagship <scenario> [key=value ...]; " +
        s"scenarios: ${scenarios.keys.mkString(", ")}")
    }

  /** One stage: wall seconds and the task metrics its body added. */
  final case class Stage(wall: Double, m: Metrics.Totals)

  /** What a scenario gets: its session, its keys, the corpus cache and
    * the stage timer. */
  final class Ctx(val spark: SparkSession, args: Map[String, String]) {
    private[Flagship] val metrics = Metrics.install(spark)
    val stages = scala.collection.mutable.LinkedHashMap[String, Stage]()

    def str(k: String): String = args(k)
    def long(k: String): Long = args(k).toLong
    def int(k: String): Int = args(k).toInt

    /** Run `body` as stage `name` (timed, its task metrics measured). */
    def stage[T](name: String)(body: => T): T = {
      val ((r, wall), m) = metrics.measure {
        val t0 = System.nanoTime()
        val r = body
        (r, (System.nanoTime() - t0) / 1e9)
      }
      stages(name) = Stage(wall, m)
      println(f"stage $name%-22s wall $wall%8.2f s   cpu ${m.cpuSec}%8.2f s")
      r
    }

    def wall(name: String): Double = stages(name).wall

    /** `$work/<name>_<params…>`, written once by `write` (which gets the
      * temp dir to fill) through [[Materialize.commit]]. The name and
      * every generator parameter are the key, so a run at another size
      * never reads a corpus generated for the old one. */
    def cached(name: String, params: Any*)(write: String => Unit): String =
      Materialize.commit(spark, str("work"), (name +: params).mkString("_"))(write)
  }

  /** Run `sc` on `spark` (which the caller owns and stops) and return
    * its JSON record. */
  def run(spark: SparkSession, sc: Scenario, args: Map[String, String]): String = {
    val builtBefore = Materialize.buildTimes
    val c = new Ctx(spark, args)
    try {
      val fields = sc.run(c)
      val stages = c.stages.map { case (n, s) => n -> ListMap("wall_s" -> s.wall,
        "cpu_s" -> s.m.cpuSec, "shuffle_write_mb" -> s.m.shuffleWriteBytes / 1e6,
        "spill_mb" -> (s.m.memSpillBytes + s.m.diskSpillBytes) / 1e6) }
      val built = Materialize.buildTimes.filter { case (k, v) => !builtBefore.get(k).contains(v) }
      Json(ListMap("metric" -> sc.metric) ++ fields ++ ListMap("stages" -> stages,
        "index_build" -> ListMap(built.toSeq.sortBy(-_._2): _*), "cpus" -> Session.cpus))
    } finally spark.sparkContext.removeSparkListener(c.metrics)
  }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Left(err) =>
      System.err.println(err)
      sys.exit(2)
    case Right((sc, kv)) =>
      val spark = Session.build(s"graft-flagship-${args.head}", sc.extras: _*)
      try println(run(spark, sc, kv)) finally spark.stop()
  }
}
