package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files
import java.util.concurrent.Executors

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.BeforeAndAfterAll

import graft.flagship.Ann

/** Every at-scale scenario of [[Flagship]], run end to end at the
  * smallest sizes at which its own `require`s hold, on a fresh session
  * of the shared context with the scenario's extras as session confs;
  * plus the runner's parser and the corpus cache's commit rules.
  *
  * The stream scenario and the index-building chain are latency-bound
  * (micro-batch and per-job overheads, not CPU), so they run on their
  * own threads beside the other tests, from the start of the suite. */
class FlagshipSpec extends SparkSpec with BeforeAndAfterAll {

  private val work = Files.createTempDirectory("graft-flagship").toFile
  private val mapper = new ObjectMapper()

  /** Run `name` with `args` as the main does (but on a session it does
    * not own) and return its one JSON record, parsed. */
  private def record(name: String, args: String*): JsonNode = {
    val (sc, kv) = Flagship.parse(name +: args).fold(e => fail(e), identity)
    val session = spark.newSession()
    sc.extras.foreach { case (k, v) => session.conf.set(k, v) }
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(println(Flagship.run(session, sc, kv)))
    assert(!session.sparkContext.isStopped, "the runner must not stop a session it did not build")
    val records = out.toString("UTF-8").linesIterator.filter(_.startsWith("{"))
      .map(l => mapper.readTree(l)).filter(_.isObject).toSeq
    assert(records.size == 1, out.toString("UTF-8"))
    val r = records.head
    assert(r.get("metric").asText == sc.metric)
    Seq("stages", "index_build", "cpus").foreach(k => assert(r.has(k), s"$name: no $k"))
    r
  }

  private def dir(name: String) = s"work=${new File(work, name)}"

  private val pool = Executors.newFixedThreadPool(2)
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
  // below 60 000 docs a backlog spanning 10 simulated hours would put
  // the planted dups' ≤ 1000-id lag outside the 10-minute watermark and
  // break gate parity; the scenario's step cap keeps it inside
  private lazy val streamRun = Future(record("stream", "events=3000", "docs=3000", dir("stream")))
  private lazy val indexRuns = Future(Seq(
    record("ann", "n=300", "clusters=20", dir("ann")),
    record("ann_pq", "n=300", "clusters=20", dir("ann")),
    record("embedqa", "n=300", dir("embedqa"), s"events_dir=$sf0001"),
    record("band_lifecycle", "n=100", dir("bandlife"))))

  override def beforeAll(): Unit = {
    super.beforeAll()
    (streamRun, indexRuns)
  }

  private def assertKeys(r: JsonNode, keys: String*): Unit =
    keys.foreach(k => assert(r.has(k), s"${r.get("metric")}: no $k in $r"))

  test("parser: defaults, overrides, and every unknown scenario or key named") {
    val Right((sc, kv)) = Flagship.parse(Seq("ann", "n=5", "clusters=7"))
    assert(sc.metric == "ann_1m")
    assert(kv == Map("n" -> "5", "work" -> "/tmp/graft_ann1m", "clusters" -> "7"))
    assert(Flagship.parse(Nil).left.exists(_.startsWith("usage")))
    assert(Flagship.parse(Seq("annn")).left.exists(_.contains("not a scenario: annn")))
    assert(Flagship.parse(Seq("ann", "nn=5")).left.exists(_.contains("not a key=value of ann: nn=5")))
    assert(Flagship.parse(Seq("rankdim", "work=/tmp/x")).left.exists(_.contains("rankdim: work=/tmp/x")))
    assert(Flagship.parse(Seq("dedup", "n")).left.exists(_.contains("of dedup: n (keys: n, work)")))
    assert(Flagship.scenarios.size == 14)
  }

  test("corpus cache: a leftover temp dir or an uncommitted target is rebuilt, never read (wordcount)") {
    val w = new File(work, "zipcache")
    // a crashed writer's temp dir and a target dir with no _SUCCESS,
    // each holding a truncated zip
    Seq(".tmp-wordcount_zip_600-deadbeef", "wordcount_zip_600").foreach { d =>
      Files.createDirectories(new File(w, d).toPath)
      Files.write(new File(w, s"$d/corpus.zip").toPath, Array[Byte](80, 75, 3))
    }
    val r = record("wordcount", "bytes=600", s"work=$w")
    assert(r.get("stages").has("setup"), "the uncommitted corpus must be rebuilt")
    assert(r.get("tokens").asLong == 120L && r.get("distinct").asLong > 0, r)
    assertKeys(r, "extract_sec", "total_sec", "bytes")
    assert(new File(w, "wordcount_zip_600/_SUCCESS").exists())
    val again = record("wordcount", "bytes=600", s"work=$w")
    assert(!again.get("stages").has("setup"), "a committed corpus is reused")
    assert(again.get("tokens").asLong == 120L)
  }

  test("corpus cache: the key carries the size, and the record the measured row count") {
    val small = record("bloom", "n=50", dir("substr"))
    val s = record("substr", "n=100", dir("substr"))
    val b = record("bloom", "n=100", dir("substr"))
    assert(small.get("stages").has("gen") && s.get("stages").has("gen"), "n=100 must generate again")
    assert(!b.get("stages").has("gen"), "bloom reuses the substr corpus of the same size")
    assert(small.get("docs").asLong == 50L && s.get("docs").asLong == 100L && b.get("docs").asLong == 100L)
    assert(small.get("eval_docs").asLong == 10L && b.get("eval_docs").asLong == 11L)
    // the scenarios' own checks, at this size
    Seq("hash", "str").foreach { v =>
      assert(s.get(v).get("recall_tokens").asDouble > 0.9, s)
      assertKeys(s.get(v), "spans", "exact_hits", "widened_spans", "disjoint_spans",
        "recall_exact", "sec", "shuffle_gb", "cpu_sec")
    }
    assertKeys(s, "bytes", "k", "truth_spans")
    assert(b.get("diff_rows").asLong == 0L, b)
    assertKeys(b, "bytes", "exact", "bloom")
  }

  test("scenario bpe: merges over the word-type table") {
    val r = record("bpe", "n=40", dir("bpe"))
    assert(r.get("n_docs").asLong == 40L && r.get("merges").asText.nonEmpty, r)
    assertKeys(r, "bytes", "n_tokens", "n_word_types", "word_count_sec", "merge_loop_sec",
      "encode_sec", "n_symbols")
  }

  test("scenarios dedup, simjoin: planted truth found, exact join complete") {
    val d = record("dedup", "n=200", dir("neardup"))
    assert(d.get("docs").asLong == 200L && d.get("truth_pairs").asLong > 0)
    assert(d.get("recall").asDouble > 0.5 && d.get("far_planted_found").asLong == 0L, d)
    assertKeys(d, "bytes", "pairs", "precision_vs_planted", "extra_pairs", "clustered_docs",
      "clusters", "dropped_docs", "index_sec", "pairs_sec", "clusters_sec", "canonical_sec",
      "truth_sec")
    val s = record("simjoin", "n=200", dir("neardup"))
    assert(!s.get("stages").has("gen"), "simjoin reuses the dedup corpus of the same size")
    assert(s.get("lsh_outside_exact").asLong == 0L && s.get("missing_planted").asLong == 0L, s)
    assert(s.get("exact_pairs").asLong >= d.get("pairs").asLong)
    assertKeys(s, "lsh_pairs", "lsh_recall_vs_exact", "exact_index_sec", "exact_join_sec",
      "exact_total_sec", "lsh_total_sec", "exact_vs_lsh_cost", "truth_sec")
  }

  test("scenario rankdim: segment counts cover every row") {
    val r = record("rankdim", "n=5000")
    assert(r.get("n_rows").asLong == 5000L && r.get("segments").asLong > 0)
    assertKeys(r, "wall_sec", "cpu_sec", "mem_spill_mb", "disk_spill_mb", "peak_task_mem_mb")
  }

  test("scenarios search, compaction: probes hit, compaction fires at 6 with parity") {
    val s = record("search", "n=300", dir("search"))
    assert(s.get("bm25").get("rows").asLong > 0 && s.get("phrase").get("rows").asLong > 0, s)
    assert(!s.get("index_reused").asBoolean && s.get("index_build_sec").isNumber)
    assertKeys(s, "n_docs", "n_postings", "doc_lengths_sec", "keyword", "ndcg", "packing")
    val c = record("compaction", "n=600", dir("compaction"))
    assert(c.get("trigger_gen").asInt == 6 && c.get("parity_vs_rebuild").asBoolean, c)
    assert(c.get("probe_sec_by_gen").size == 7 && c.get("delta_rows").size == 6)
    assertKeys(c, "base_rows", "tombstoned_docs", "tombstoned_base_rows", "compact_sec",
      "probe_sec_compacted", "rebuild_probe_sec", "parity_stack_vs_compacted",
      "row_arithmetic_exact", "compacted_rows")
  }

  test("scenarios ann, ann_pq, embedqa, band_lifecycle: recall, orbit determinism, LSM parity") {
    val Seq(a, p, e, b) = Await.result(indexRuns, 15.minutes)
    Ann.Methods.foreach { case (m, _) =>
      val rec = a.get(m).get("recall").asDouble
      assert(rec >= 0.0 && rec <= 1.0, s"$m: $rec")
    }
    assert(a.get("int8").get("recall").asDouble > 0.5, a)
    assertKeys(a, "n_vectors", "dim", "k", "n_queries", "truth_pairs", "brute_sec")
    assert(!p.get("stages").has("gen"), "same geometry, same corpus")
    Ann.PqMethods.foreach { case (m, _) => assertKeys(p.get(m), "recall", "sec") }
    assertKeys(p, "index_bytes", "raw_corpus_bytes")
    assert(e.get("orbit_deterministic").asBoolean && e.get("pca_pass_wall_s").size == 5)
    assert(e.get("jl").size > 0 && e.get("events").get("ks_rows").asLong > 0, e)
    assertKeys(e, "n_vectors", "pca_pass_cpu_s", "split_drift_rows")
    assert(b.get("fired_at_gen").asInt == 6 && b.get("parity").asBoolean)
    assertKeys(b, "n_docs", "bytes", "base_rows", "delta_rows", "tombstones", "compact_sec",
      "rebuild_sec", "probe_pairs")
  }

  test("scenario stream: streamed sessions and gate survivors equal their batch twins") {
    val r = Await.result(streamRun, 15.minutes)
    assert(r.get("sessionize_parity").asBoolean && r.get("gate_parity").asBoolean, r)
    assert(r.get("sessionize").get("batches").asInt > 1 && r.get("sessionize_out_rows").asLong > 0)
    assertKeys(r.get("near_dup_gate"), "rows", "sec", "rows_per_sec", "batches", "batch_ms_p50",
      "batch_ms_max", "max_state_rows")
    assertKeys(r, "batch_twin_sec", "gate_survivors", "gate_keeper_match")
  }

  override def afterAll(): Unit = {
    pool.shutdownNow()
    org.apache.commons.io.FileUtils.deleteDirectory(work)
    super.afterAll()
  }
}
