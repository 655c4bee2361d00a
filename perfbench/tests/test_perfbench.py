"""Self-tests of the benchmark's Python side (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import duckdb  # noqa: E402

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def table_rows(path):
    con = duckdb.connect()
    rows = con.execute(f"SELECT * FROM '{path}'").fetchall()
    con.close()
    return rows


def small_tables(out, seed):
    os.makedirs(out)
    con = duckdb.connect()
    gen.gen_tables(con, out, gen.salts(seed), ["orders", "lineitem", "events", "documents"],
                   scale=0.002, n_docs=60)
    con.close()
    return {f: table_rows(f"{out}/{f}") for f in sorted(os.listdir(out))}


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_same_tables_other_seed_different(self):
        a = small_tables(f"{self.tmp}/a", 7)
        b = small_tables(f"{self.tmp}/b", 7)
        c = small_tables(f"{self.tmp}/c", 8)
        self.assertEqual(a, b)
        self.assertEqual(a.keys(), c.keys())
        for name in a:
            self.assertNotEqual(a[name], c[name], name)

    def test_same_seed_same_corpus_other_seed_different(self):
        texts = []
        for d, seed in [("a", 3), ("b", 3), ("c", 4)]:
            os.makedirs(f"{self.tmp}/{d}")
            con = duckdb.connect()
            path = gen.gen_corpus(con, f"{self.tmp}/{d}", gen.salts(seed), 60_000, 500)
            con.close()
            with open(path, "rb") as f:
                texts.append(f.read())
        self.assertEqual(texts[0], texts[1])
        self.assertNotEqual(texts[0], texts[2])
        self.assertEqual(len(texts[0]), 60_000)

    def test_salts_follow_the_seed(self):
        self.assertEqual(gen.salts(1)("x"), gen.salts(1)("x"))
        self.assertNotEqual(gen.salts(1)("x"), gen.salts(2)("x"))
        self.assertNotEqual(gen.salts(1)("x"), gen.salts(1)("y"))


class CheckerTest(unittest.TestCase):
    SQL = "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 20 ORDER BY o_orderkey"

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.data = f"{self.tmp}/data"
        small_tables(self.data, 5)
        self.results = f"{self.tmp}/results"
        os.makedirs(f"{self.results}/q")
        self.con = oracle.connect(self.data)

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.tmp)

    def write_result(self, sql):
        self.con.execute(f"COPY ({sql}) TO '{self.results}/q/part-0.parquet' (FORMAT PARQUET)")

    def check(self):
        return oracle.check_registry(self.data, self.results, {"q": self.SQL},
                                     f"{self.tmp}/cache")["q"]

    def test_matching_result_passes(self):
        self.write_result(self.SQL)
        self.assertIsNone(self.check())

    def test_planted_wrong_row_is_rejected(self):
        self.write_result(
            "SELECT o_orderkey, CASE WHEN o_orderkey = 7 THEN o_totalprice + 0.01 "
            "ELSE o_totalprice END AS o_totalprice FROM orders WHERE o_orderkey < 20")
        self.assertIn("row mismatches", self.check())

    def test_type_change_is_rejected(self):
        # same values, but an integer column written as floating point
        self.write_result("SELECT CAST(o_orderkey AS DOUBLE) AS o_orderkey, o_totalprice "
                          "FROM orders WHERE o_orderkey < 20")
        self.assertIsNotNone(self.check())

    def test_missing_row_is_rejected(self):
        self.write_result("SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 19")
        self.assertIn("rows", self.check())

    def test_wordcount_mass_check(self):
        con = duckdb.connect()
        gen.gen_corpus(con, self.tmp, gen.salts(1), 6_000, 50)
        con.close()
        counts = oracle.word_counts(self.tmp, f"{self.tmp}/cache")
        top = sorted(counts.items(), key=lambda wc: (-wc[1], -len(wc[0]), wc[0]))[:20]
        os.makedirs(f"{self.results}/reduce")
        os.makedirs(f"{self.results}/wordcount_top20")
        con = duckdb.connect()
        con.execute("CREATE TABLE t (word VARCHAR, cnt BIGINT)")
        con.executemany("INSERT INTO t VALUES (?, ?)", top)
        con.execute(f"COPY t TO '{self.results}/wordcount_top20/part-0.parquet' (FORMAT PARQUET)")
        con.close()
        words = sorted(counts)
        halves = [words[::2], words[1::2]]

        def write(objs):
            for i, ws in enumerate(objs):
                with open(f"{self.results}/reduce/reduce-{i}.json", "w") as f:
                    f.write("{" + ", ".join(f'"{w}": {c}' for w, c in ws) + "}")

        def check():
            return oracle.check_wordcount(self.tmp, self.results, f"{self.tmp}/cache")

        write([[(w, counts[w]) for w in h] for h in halves])
        self.assertEqual(check(), {"wordcount_reduce": None, "wordcount_top20": None})
        # a planted wrong count breaks the mass check
        write([[(w, counts[w] + (1 if w == halves[0][0] else 0)) for w in h] for h in halves])
        self.assertIsNotNone(check()["wordcount_reduce"])
        # a word in two reducer files is rejected even when the mass adds up
        w0 = halves[0][0]
        write([[(w, counts[w]) for w in halves[0]], [(w0, 0)] + [(w, counts[w]) for w in halves[1]]])
        self.assertIn("more than one", check()["wordcount_reduce"])


class OutputTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def record(self):
        passes = [{"wall_s": 2.0 + i / 10, "cpu_s": 1.0 + i / 10, "builds": 1, "build_s": 0.5,
                   "stored_mb": 3.0, "gc_s": 0.1,
                   "queries": [{"query": "a", "s": 0.5 + i / 100}, {"query": "b", "s": 1.5}]}
                  for i in range(3)]
        return {"passes": passes, "setup_s": 20.0, "live_heap_mb": 100.0}

    def test_end_to_end_metrics_and_units(self):
        metrics, extra = run.end_to_end(self.record(), {"bytes": 4_000_000})
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]},
                         {k: u for k, (v, u) in metrics.items()})
        for v, _ in metrics.values():
            self.assertGreater(v, 0)
        self.assertEqual(extra["query_tail_samples"], 6)

    def test_per_layer_metrics_and_units(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]},
                         dict(layers.METRICS))

    def test_tail_has_ten_samples_beyond(self):
        v, pct, n = run.tail(list(range(1, 31)))
        self.assertEqual((v, n), (20, 30))
        self.assertEqual(sum(1 for x in range(1, 31) if x > v), 10)
        self.assertEqual(run.tail([3.0, 1.0, 2.0])[0], 3.0)

    def test_self_times_cover_the_query_span(self):
        q = {"start": 0.0, "end": 1000.0}
        kids = [{"name": "operators.construct", "start": 0.0, "end": 300.0},
                {"name": "sinks.write", "start": 300.0, "end": 1000.0}]
        ivs = [{"kind": "analysis", "start": 100.0, "end": 150.0, "build": False},
               {"kind": "job", "start": 200.0, "end": 280.0, "build": True},
               {"kind": "planning", "start": 310.0, "end": 400.0, "build": False},
               {"kind": "job", "start": 390.0, "end": 900.0, "build": False}]
        st = layers.self_times(q, kids, ivs)
        self.assertAlmostEqual(sum(st.values()), 1.0)
        self.assertAlmostEqual(st["index"], 0.08)
        self.assertAlmostEqual(st["exec"], 0.51)
        self.assertAlmostEqual(st["catalyst"], 0.05 + 0.08)
        self.assertAlmostEqual(st["operators"], 0.3 - 0.05 - 0.08)
        self.assertAlmostEqual(st["sinks"], 0.7 - 0.08 - 0.51)

    def test_refuses_to_run_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(BENCH, "..", "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "registry_mix",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
            self.assertFalse(glob.glob(os.path.join(d, ".bench_work", "records", "*")))


if __name__ == "__main__":
    unittest.main()
