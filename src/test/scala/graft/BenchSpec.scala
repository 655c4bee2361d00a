package graft

import java.io.File
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{assert_true, col, lit}

/** The bench's pieces: the result sink it times, the one baseline file
  * it diffs against, the one regression rule, and the JSON writer every
  * main's record goes through. */
class BenchSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  test("result sink: runs every column a count() prunes") {
    val df = spark.range(3).select(col("id"), assert_true(lit(false)).as("guard"))
    assert(df.count() == 3L)
    val e = intercept[Exception](QueryRunner.result(df))
    assert(String.valueOf(e.getMessage).contains("false"), e)
  }

  private def detail(fields: (String, Any)*): File = {
    val f = File.createTempFile("bench_detail", ".json")
    f.deleteOnExit()
    Files.writeString(f.toPath, Json(ListMap(fields: _*)))
    f
  }

  test("baseline: only a result-timed detail file at this sf and cpus is read") {
    val body = Seq("queries" -> ListMap("a" -> 1.5, "b" -> -1.0), "cpu" -> ListMap("a" -> 0.7),
      "index_build" -> ListMap("bands:docs@ab12" -> 1.0, "bands:docs@cd34" -> 2.0, "ivf" -> 0.5),
      "calib_cpu_sec" -> ListMap("start" -> 3.2, "end" -> 3.0))
    val ok = detail(body ++ Seq("sf" -> "/data/sf0.1", "timing" -> "result", "cpus" -> 4): _*)
    assert(Bench.baseline(ok, "sf0.1/", 4) == Some(Bench.Baseline(Map("a" -> 1.5),
      Map("a" -> 0.7), 3.0, Map("bands:docs" -> 3.0, "ivf" -> 0.5))))
    val countTimed = detail(body ++ Seq("sf" -> "/data/sf0.1", "cpus" -> 4): _*)
    assert(Bench.baseline(countTimed, "/data/sf0.1", 4).isEmpty, "no timing: count()-timed")
    assert(Bench.baseline(ok, "/data/sf0.01", 4).isEmpty, "another sf")
    assert(Bench.baseline(ok, "/data/sf0.1", 32).isEmpty, "another cpus")
    assert(Bench.baseline(new File(ok.getPath + ".missing"), "/data/sf0.1", 4).isEmpty)
    val torn = File.createTempFile("bench_detail", ".json")
    torn.deleteOnExit()
    Files.writeString(torn.toPath, """{"metric":"cpu_total","queries":{"a":1.""")
    assert(Bench.baseline(torn, "/data/sf0.1", 4).isEmpty)
  }

  test("one regression rule: over 1.5x and the floor, baseline scaled, new keys at 2 s") {
    val prev = Map("a" -> 1.0, "b" -> 0.2, "c" -> 2.0, "d" -> 1.0)
    val now = Map("a" -> 1.6, "b" -> 0.4, "c" -> 3.1, "d" -> 1.5, "e" -> 2.0, "f" -> 1.9)
    // b is 2x but only 0.2 s over; d is exactly 1.5x; f is new but cheap
    assert(Bench.flag(now, prev, 1.0, 0.25).toSeq ==
      Seq("new:e" -> 2.0, "a" -> 1.6, "c" -> 1.55))
    assert(Bench.flag(now, prev, 1.0, 0.7).toSeq == Seq("new:e" -> 2.0, "c" -> 1.55))
    // a host 20 % slower scales the baseline: a's 1.6 s is then 1.33x
    assert(!Bench.flag(now, prev, 1.2, 0.25).contains("a"))
    assert(Bench.flag(Map("a" -> 1.2), prev, 0.5, 0.25) == Map("a" -> 2.4))
    assert(Bench.flag(now, Map.empty, 1.0, 0.25).isEmpty, "no baseline, no flags")
    assert(Bench.buildTotals(Map("x:1@aa" -> 1.0, "x:1@bb" -> 0.5, "y" -> 2.0)) ==
      Map("x:1" -> 1.5, "y" -> 2.0))
  }

  test("both-axis flags are re-timed: a held slowdown still flags, a one-run spike does not") {
    val prev = Map("held" -> 1.0, "spike" -> 0.3, "calm" -> 1.0)
    val wall = Map("held" -> 2.0, "spike" -> 0.6, "calm" -> 1.0)
    val cpu = Map("held" -> 2.1, "spike" -> 1.1, "calm" -> 1.0)
    val both = Bench.flag(cpu, prev, 1.0, 0.25).keySet
      .intersect(Bench.flag(wall, prev, 1.0, 0.25).keySet)
    assert(both == Set("held", "spike"))
    // stub re-timer: held stays slow on every rep, spike is back to its
    // baseline from the first rep on; a failed rep (-1) is ignored
    val reps = mutable.Map[String, Int]().withDefaultValue(0)
    def retime(k: String): (Double, Double) = {
      reps(k) += 1
      k match {
        case "held" => if (reps(k) == 1) (-1.0, -1.0) else (1.9, 2.0)
        case "spike" => (0.31, 0.29)
      }
    }
    val (w, c) = Bench.confirm(wall, cpu, both, retime)
    assert(reps == Map("held" -> 2, "spike" -> 2), "two more runs per flagged entry only")
    assert(w == Map("held" -> 1.9, "spike" -> 0.31, "calm" -> 1.0))
    assert(c == Map("held" -> 2.0, "spike" -> 0.29, "calm" -> 1.0))
    val after = Bench.flag(c, prev, 1.0, 0.25).keySet
      .intersect(Bench.flag(w, prev, 1.0, 0.25).keySet)
    assert(after == Set("held"))
  }

  test("JSON writer: every escape round-trips through Jackson, NaN is null") {
    val nasty = "q\"b\\s\nn\tt\u0001u\re"
    val r = mapper.readTree(Json(ListMap("s" -> nasty, nasty -> 1, "nan" -> Double.NaN,
      "inf" -> Double.PositiveInfinity, "d" -> 0.123456, "xs" -> Seq(1L, 2.5, true),
      "none" -> None, "some" -> Some("x"))))
    assert(r.get("s").asText == nasty && r.get(nasty).asInt == 1)
    assert(r.get("nan").isNull && r.get("inf").isNull && r.get("none").isNull)
    assert(r.get("d").asDouble == 0.1235 && r.get("some").asText == "x")
    assert(r.get("xs").size == 3 && r.get("xs").get(2).asBoolean)
    // a ClusterCheck record: its errors map holds exception messages
    val errors = mutable.LinkedHashMap("near_dup_minhash" -> s"SparkException: $nasty")
    val rec = mapper.readTree(Json(ListMap("metric" -> "cluster_check",
      "mismatches" -> Seq("a"), "errors" -> errors)))
    assert(rec.get("errors").get("near_dup_minhash").asText == s"SparkException: $nasty")
  }
}
