package graft

import java.io.{File, IOException}
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeoutException

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Materialize

/** Headline benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR as a full result ([[QueryRunner.result]]: every
  * column and the final order, the plan Verify checks, never a pruned
  * `count()`) and prints one compact JSON line last:
  * `metric` "cpu_total", `value` (task CPU seconds), `wall_total`,
  * `timing` "result", `cpus`, the capped error and regression maps. The
  * full record — per-query wall ("queries") and task CPU ("cpu"), both
  * from [[Metrics.measure]], and index builds ("index_build", each key's
  * self seconds: its wall minus the builds nested in it) — is printed
  * before it and written to [[DetailFile]] by a run over the whole
  * registry; the next run at the same sf dir and cpus diffs against that
  * file. A detail file written before builds reported self time holds
  * inclusive build seconds, so against it `index_build_regressions` can
  * only under-flag.
  *
  * One bad query or a busy host cannot zero the run: a loadavg gate
  * waits out CPU-steal bursts, and each query runs under the watchdog —
  * on timeout its job group is cancelled, the query records -1 and is
  * named under "errors".
  */
object Bench {
  val DetailFile = "bench_detail.json"
  /** What a run times; a baseline that timed something else is not one. */
  val Timing = "result"

  /** Wait (bounded) for the 1-min loadavg to drop below `cores`, so a
    * decaying CPU-steal burst doesn't bleed into the first queries'
    * timings. */
  private def waitForQuietHost(cores: Int, maxWaitSec: Int): Unit = {
    val deadline = System.nanoTime() + maxWaitSec * 1000000000L
    var load = 0.0
    while ({
      load = try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Throwable => 0.0 }
      load > cores && System.nanoTime() < deadline
    }) {
      System.err.println(f"[bench] loadavg $load%.1f > $cores, waiting...")
      Thread.sleep(5000)
    }
  }

  /** A previous run's per-query wall and task-CPU seconds, its fixed-work
    * calibration (min of its start and end) and its index-build seconds
    * by [[buildTotals]] key. */
  final case class Baseline(wall: Map[String, Double], cpu: Map[String, Double],
      calib: Double, builds: Map[String, Double])

  /** The baseline in `f`, a detail file, when it was timed as [[Timing]]
    * at `cpus` on the same sf dir (compared by base name, so "/a/sf0.1"
    * and "sf0.1" match); None otherwise, or when it is missing or
    * unreadable. Non-positive values (failed queries) are dropped. */
  def baseline(f: File, sfDir: String, cpus: Int): Option[Baseline] = try {
    val root = new ObjectMapper().readTree(f)
    def sf(s: String) = s.stripSuffix("/").split('/').last
    def secs(field: String): Map[String, Double] = root.path(field).fields().asScala
      .map(e => e.getKey -> e.getValue.asDouble(-1.0)).filter(_._2 > 0).toMap
    val calib = root.path("calib_cpu_sec")
    if (root.path("timing").asText() != Timing || root.path("cpus").asInt(-1) != cpus ||
        sf(root.path("sf").asText()) != sf(sfDir)) None
    else Some(Baseline(secs("queries"), secs("cpu"),
      math.min(calib.path("start").asDouble(-1.0), calib.path("end").asDouble(-1.0)),
      buildTotals(secs("index_build"))))
  } catch { case _: IOException => None }

  /** Index-build seconds by stable identity: the `name:args` prefix with
    * the trailing `@<content fingerprint>` stripped (it changes whenever
    * the testdata is regenerated), summed over keys that collide. */
  def buildTotals(builds: Map[String, Double]): Map[String, Double] =
    builds.toSeq.map { case (k, v) =>
      (if (k.lastIndexOf('@') > 0) k.substring(0, k.lastIndexOf('@')) else k) -> v
    }.groupMapReduce(_._1)(_._2)(_ + _)

  /** The one regression rule: a key of `now` more than 1.5× its `prev`
    * value times `scale` and more than `floor` seconds above it flags as
    * key → ratio. Given a baseline, a key it lacks flags as `new:<key>` →
    * seconds once it costs 2 s. Largest first. */
  def flag(now: Map[String, Double], prev: Map[String, Double], scale: Double,
      floor: Double): ListMap[String, Double] =
    if (prev.isEmpty) ListMap.empty
    else ListMap(now.toSeq.flatMap { case (k, v) =>
      prev.get(k) match {
        case Some(p0) =>
          val p = p0 * scale
          if (v > p * 1.5 && v - p > floor) Some(k -> math.round(v / p * 100.0) / 100.0)
          else None
        case None => if (v >= 2.0) Some(s"new:$k" -> v) else None
      }
    }.sortBy(-_._2): _*)

  /** Re-times every entry in `flagged` `reps` more times (`retime`
    * gives one run's wall and task-CPU seconds, negative when it failed)
    * and keeps each axis's minimum over all its timed runs: a slowdown
    * that holds on every rep still flags, a one-run spike on a
    * sub-second entry does not. Returns the updated wall and CPU maps. */
  def confirm(wall: Map[String, Double], cpu: Map[String, Double],
      flagged: Iterable[String], retime: String => (Double, Double),
      reps: Int = 2): (Map[String, Double], Map[String, Double]) = {
    val runs = flagged.map(k => k -> Seq.fill(reps)(retime(k))).toMap
    def best(m: Map[String, Double], axis: ((Double, Double)) => Double) = m.map {
      case (k, v) =>
        k -> runs.get(k).fold(v)(rs => (v +: rs.map(axis)).filter(_ >= 0).minOption.getOrElse(v))
    }
    (best(wall, _._1), best(cpu, _._2))
  }

  /** The first 8 entries of `m`, and `_more` → how many were left out:
    * the compact line stays short in a pathological run (the detail
    * record carries the full maps). */
  private def cap8(m: Iterable[(String, Any)]): ListMap[String, Any] =
    ListMap(m.take(8).toSeq: _*) ++ (if (m.size > 8) Seq("_more" -> (m.size - 8)) else Nil)

  /** FIXED-WORK CPU CALIBRATION: a deterministic xorshift spin — no I/O,
    * no shuffle, a constant instruction count — whose task-CPU seconds
    * probe host speed (SMT contention and frequency scaling inflate task
    * CPU for identical work). It runs at bench start and end (min of 3
    * reps each; rep 1 absorbs JIT), and the regression rule scales the
    * baseline's CPU by the clamped calibration ratio. It is not a
    * registry entry, so it never counts into cpu_total. */
  private val CalibTasks = 64
  private val CalibIters = 25000000

  private def calibrate(spark: SparkSession, tag: String,
      metrics: Metrics, timeoutSec: Long): Double = {
    import spark.implicits._
    val iters = CalibIters
    (1 to 3).map { _ =>
      QueryRunner.run(spark, tag, timeoutSec) {
        metrics.measure {
          spark.range(0, CalibTasks, 1, CalibTasks).as[Long].map { i =>
            var x = i + 0x9e3779b97f4a7c15L
            var j = 0
            while (j < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; j += 1 }
            x
          }.filter(_ != 0L).count()
        }._2.cpuSec
      }.toTry.get
    }.min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // covers the query's warm run (cold codegen, worst observed ~130s)
    // plus its timed run
    val queryTimeoutSec = QueryRunner.timeoutSec(default = 240)
    val selected = QueryRunner.selected(SparkEntry.queries)
    // half the cores: an idle host sits near 0, a competing JVM or a
    // steal burst near `cores`; the 1-min average decays within the 60 s
    waitForQuietHost(cores = math.max(4, Session.cpus / 2), maxWaitSec = 60)
    val spark = Session.build("graft-bench")
    val errors = mutable.LinkedHashMap[String, String]()
    // wall and executor task CPU per query run: host CPU-steal bursts
    // inflate wall time but not task CPU
    val metrics = Metrics.install(spark)
    val timedCpu = mutable.LinkedHashMap[String, Double]()
    // one run's (wall, task CPU) seconds, -1 when it failed; only the
    // timed pass records errors
    def runOnce(name: String, fn: (SparkSession, String) => DataFrame,
        pass: String): (Double, Double) = {
      val timed = pass == "timed"
      val (dt, cpu) = QueryRunner.run(spark, name, queryTimeoutSec) {
        metrics.measure(QueryRunner.result(fn(spark, sfDir)))._2
      } match {
        case Right(m) => (m.wallSec, m.cpuSec)
        case Left(e) =>
          if (timed) errors(name) = e match {
            case _: TimeoutException => "Timeout"
            case c => c.getClass.getSimpleName
          }
          (-1.0, -1.0)
      }
      val tag = if (timed) "" else s" ($pass)"
      System.err.println(f"[bench] $name%-28s ${if (dt < 0) "FAIL" else f"$dt%.2fs"}$tag")
      (dt, cpu)
    }
    // Two passes. The warm pass triggers codegen and C2 compilation of
    // every query's generated methods (and pays the index builds);
    // without it, fresh codegen floods the C2 queue and random stages run
    // interpreted 10-100x slower. The timed pass measures steady state.
    val calibStart = calibrate(spark, "calib_start", metrics, queryTimeoutSec)
    System.err.println(f"[bench] calib_start $calibStart%.2fs CPU (fixed work)")
    val warm = selected.map { case (n, fn) => n -> runOnce(n, fn, "warm")._1 }
    // both passes are complete executions, so min(warm, timed) is the
    // best observed; it also shields a timed run that caught a steal burst
    val wall0 = selected.map { case (name, fn) =>
      val ((t, c), w) = (runOnce(name, fn, "timed"), warm(name))
      // timed-pass CPU: the steady-state number (the warm pass burns
      // extra CPU on interpreted pre-JIT execution)
      if (c >= 0) timedCpu(name) = c
      if (w >= 0) errors.remove(name) // a clean warm run is a result
      name -> (if (t < 0 || w < 0) math.max(t, w) else math.min(t, w))
    }
    val calibEnd = calibrate(spark, "calib_end", metrics, queryTimeoutSec)
    System.err.println(f"[bench] calib_end $calibEnd%.2fs CPU (fixed work)")

    // the regression diff, read before this run overwrites the file.
    // CPU baselines scale by the calibration ratio, clamped to [0.5, 2]
    // so a corrupt calibration cannot swallow a real 2× regression; wall
    // stays raw (the spin probes CPU speed, not wall). A query is a
    // regression when both axes flag it (regressions_both).
    val prev = baseline(new File(DetailFile), sfDir, Session.cpus)
    val calibNow = math.min(calibStart, calibEnd)
    val ratio = prev.map(_.calib).filter(p => p > 0 && calibNow > 0)
      .map(p => math.max(0.5, math.min(2.0, calibNow / p))).getOrElse(1.0)
    System.err.println(prev.fold(s"[bench] no $Timing-timed $DetailFile at this sf and cpus")(p =>
      f"[bench] regression gate calib ratio $ratio%.3f (now $calibNow%.2f / prev ${p.calib}%.2f)"))
    val base = prev.getOrElse(Baseline(Map.empty, Map.empty, -1.0, Map.empty))
    def flags(wall: Map[String, Double], cpu: Map[String, Double]) = {
      val (onCpu, onWall) = (flag(cpu, base.cpu, ratio, 0.25), flag(wall, base.wall, 1.0, 0.25))
      (onCpu, onWall, onCpu.filter { case (k, _) => onWall.contains(k) })
    }
    // a both-axis flag is re-timed before it is reported: one slow run of
    // a sub-second entry must not read as a regression
    val (wall, cpu) = confirm(wall0, timedCpu.toMap, flags(wall0, timedCpu.toMap)._3.keys,
      name => runOnce(name, selected(name), "re-time"))
    val (regressions, regressionsWall, regressionsBoth) = flags(wall, cpu)
    // only a run over the whole registry (a blank GRAFT_ONLY counts) is a
    // baseline: a subset would shrink the next full run's diff
    val fullRun = selected.size == SparkEntry.queries.size
    // one-time index builds: the warm pass pays them, the timed pass
    // serves the memo, so their price is reported on its own and flagged
    // with a higher floor (sub-second builds are JVM noise). Only a full
    // run is comparable: a subset builds in a cold JVM, slower with no
    // code change
    val builds = Materialize.buildTimes
    val buildRegressions =
      flag(buildTotals(builds), if (fullRun) base.builds else Map.empty, ratio, 0.5)

    val head = ListMap("metric" -> "cpu_total", "value" -> cpu.values.sum, "unit" -> "sec",
      "wall_total" -> wall.values.filter(_ >= 0).sum)
    val buildTotal = "index_build_total" -> builds.values.sum
    val tail = ListMap("calib_cpu_sec" -> ListMap("start" -> calibStart, "end" -> calibEnd),
      "sf" -> sfDir, "timing" -> Timing, "cpus" -> Session.cpus)
    val detail = Json(head ++ ListMap("queries" -> wall, "cpu" -> cpu, "errors" -> errors,
      "regressions" -> regressions, "regressions_wall" -> regressionsWall,
      "regressions_both" -> regressionsBoth,
      "index_build" -> ListMap(builds.toSeq.sortBy(-_._2): _*), buildTotal,
      "index_build_regressions" -> buildRegressions) ++ tail)
    if (fullRun)
      try Files.writeString(Paths.get(DetailFile), detail + "\n")
      catch { case e: IOException => System.err.println(s"[bench] detail write failed: $e") }
    println(detail)
    // the compact line LAST: the record that survives a tail capture
    println(Json(head ++ ListMap("nqueries" -> wall.size, "detail" -> DetailFile,
      "errors" -> cap8(errors), "regressions" -> cap8(regressions),
      "regressions_both" -> cap8(regressionsBoth), buildTotal) ++ tail))
    spark.stop()
    // daemon worker threads may hold a wedged query; don't let them block exit
    sys.exit(0)
  }
}
