"""The benchmark's own tests.

    python3 perfbench/tests/test_perfbench.py          # all, smoke included
    PERFBENCH_SKIP_SMOKE=1 python3 perfbench/tests/test_perfbench.py

The smoke test runs every workload end to end at a tiny scale (sf0.001 and
a 0.3 MB corpus), untraced and traced, and needs the Spark jars the build
uses.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def tree_bytes(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(fh.name, root)] = fh.read()
    return out


class SeedDeterminism(unittest.TestCase):
    def corpus(self, seed):
        with tempfile.TemporaryDirectory() as t:
            gen.corpus(seed, t, [0.02, 0.03], {1})
            return tree_bytes(t)

    def test_corpus(self):
        self.assertEqual(self.corpus(5), self.corpus(5))
        self.assertNotEqual(self.corpus(5), self.corpus(6))

    def test_job_list(self):
        dirs = [("a", 1, False), ("b", 2, True), ("c", 3, False), ("d", 4, True)]
        self.assertEqual(gen.jobs(5, dirs, 40), gen.jobs(5, dirs, 40))
        self.assertNotEqual(gen.jobs(5, dirs, 40), gen.jobs(6, dirs, 40))

    def test_job_blocks_spread_over_sizes(self):
        dirs = [(str(i), 1, i % 4 in (1, 2)) for i in range(16)]
        for seed in (1, 2, 3, 4):
            js = gen.jobs(seed, dirs, 48)
            for b in (js[:24], js[24:]):
                self.assertEqual(sorted(j["dir"] for j in b if j["kind"] == "wc"), list(range(16)))
                greps = [j["dir"] for j in b if j["kind"] == "grep"]
                self.assertEqual((len(greps), sum(dirs[d][2] for d in greps)), (8, 4))
                for kind, n in (("wc", 4), ("grep", 2)):
                    piped = sorted(j["dir"] for j in b if j["kind"] == kind and j["piped"])
                    self.assertEqual(len(piped), n)
                    # one piped job in every run of four neighbouring sizes
                    self.assertEqual(len({d // (16 // n) for d in piped}), n)
            self.assertEqual({(j["num_mappers"], j["num_reducers"]) for j in js},
                             {(m, r) for m in (2, 4) for r in (1, 2, 4)})

    def test_query_sample(self):
        costs = gen.load_json(os.path.join(BENCH, "costs.json"))
        for w, c in costs.items():
            a = gen.query_sample(7, c, 3)
            self.assertEqual(a, gen.query_sample(7, c, 3))
            self.assertNotEqual(a, gen.query_sample(8, c, 3))
            self.assertEqual(len(a), len(set(a)))
            # one pick per stratum of three cost neighbours
            ranked = sorted(c, key=lambda q: (c[q], q))
            strata = [ranked[i:i + 3] for i in range(0, len(ranked), 3)]
            self.assertEqual(sorted(next(k for k, s in enumerate(strata) if q in s) for q in a),
                             list(range(len(strata))))



TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]


class Inputs(unittest.TestCase):
    def test_fixture_tables_at_both_scales(self):
        for size in run.SF:
            d = run.table_dir(size)
            self.assertEqual(sorted(os.listdir(d)), sorted(f"{t}.parquet" for t in TABLES))

    def test_answer_key_and_costs_cover_the_workloads(self):
        costs = gen.load_json(os.path.join(BENCH, "costs.json"))
        expected = gen.load_json(os.path.join(BENCH, "expected.json"))
        self.assertEqual(sorted(costs), ["llm_corpus", "sql_analytics"])
        self.assertFalse(set(costs["sql_analytics"]) & set(costs["llm_corpus"]))
        self.assertFalse(set(costs["sql_analytics"]) & run.SQL_ARTIFACT_CONSUMERS)
        for w, c in costs.items():
            self.assertIn(run.SETUP_QUERY[w], c)
            for sf in run.SF.values():
                self.assertLessEqual(set(c), set(expected[f"sf{sf}"]))


class AnswerKey(unittest.TestCase):
    TEXT = "Hello World [x]\n\n  product Line  \nno match here\nPRODUCTS\thot\n"

    def test_expected_lines(self):
        with tempfile.TemporaryDirectory() as t:
            with open(os.path.join(t, "file01"), "w") as fh:
                fh.write(self.TEXT)
            wc = gen.expected_lines(t, "wc")
            self.assertIn("\t7", wc)  # empty tokens: around "[x]", the blank line, padding
            self.assertIn("hello\t1", wc)
            self.assertIn("product\t1", wc)
            self.assertIn("products\t1", wc)
            self.assertEqual(gen.expected_lines(t, "grep"), ["PRODUCTS\thot", "product Line"])

    def test_piped_executables_match_answer_key(self):
        exe = os.path.join(BENCH, "exec")
        with tempfile.TemporaryDirectory() as t:
            text = self.TEXT.replace("\t", " ")  # the grep reducer drops lines with tabs
            with open(os.path.join(t, "file01"), "w") as fh:
                fh.write(text)
            for kind in ("wc", "grep"):
                mapped = subprocess.run([sys.executable, os.path.join(exe, f"{kind}_map")],
                                        input=text.encode(), capture_output=True, check=True).stdout
                grouped = b"".join(sorted(mapped.splitlines(keepends=True)))
                reduced = subprocess.run([sys.executable, os.path.join(exe, f"{kind}_reduce")],
                                         input=grouped, capture_output=True, check=True).stdout
                self.assertEqual(sorted(reduced.decode().splitlines()), gen.expected_lines(t, kind))


class Arithmetic(unittest.TestCase):
    def test_quantile(self):
        xs = list(range(1, 51))  # 50 samples
        self.assertAlmostEqual(metrics.quantile(xs, 0.5), 25.5, places=6)  # symmetric
        self.assertAlmostEqual(metrics.quantile(xs, 0.8), 50 * 0.8 + 0.5, delta=0.01)
        self.assertAlmostEqual(metrics.quantile([3.0] * 7, 0.8), 3.0, places=9)
        self.assertAlmostEqual(metrics.quantile([2.5], 0.5), 2.5, places=9)
        self.assertLess(metrics.quantile(xs, 0.5), metrics.quantile(xs, 0.8))
        # p80 of ~50 operations leaves at least ten samples beyond it
        self.assertGreaterEqual(sum(x > metrics.quantile(xs, 0.8) for x in xs), 10)
        # a quantile between two clusters moves smoothly as the clusters shift
        lo, hi = [0.4] * 39, [1.0] * 11
        a = metrics.quantile(lo + hi, 0.8)
        b = metrics.quantile(lo + [0.4] + hi[1:], 0.8)
        self.assertLess(abs(a - b) / a, 0.15)

    def test_union_and_self_time(self):
        self.assertEqual(metrics.union_length([(0, 5), (3, 8), (10, 12)], 0, 20), 10)
        self.assertEqual(metrics.union_length([(0, 5), (3, 8)], 4, 6), 2)
        self.assertEqual(metrics.union_length([], 0, 10), 0)
        self.assertEqual(metrics.self_time((0, 100), [(10, 20), (15, 30), (90, 150)]), 70)
        self.assertEqual(metrics.self_time((0, 10), []), 10)

    def test_attribution_by_group_then_window(self):
        ops = [{"idx": 0, "start": 0, "end": 100}, {"idx": 1, "start": 200, "end": 300}]
        spark = {
            "jobs": [
                {"id": 1, "group": "perfbench-op-0", "start": 10, "end": 20, "stages": [1, 2]},
                {"id": 2, "group": "", "start": 210, "end": 250, "stages": [2, 3]},
                {"id": 3, "group": "", "start": 150, "end": 160, "stages": [4]},
            ],
            "stages": [{"id": s, "submit": 0} for s in (1, 2, 3, 4)],
            "plans": [{"phases": {"analysis": [205, 206]}}],
        }
        jobs, stages, plans = metrics.attribute(ops, spark)
        self.assertEqual([j["id"] for j in jobs[0]], [1])
        self.assertEqual([j["id"] for j in jobs[1]], [2])
        self.assertEqual(sorted(s["id"] for s in stages[0]), [1, 2])
        self.assertEqual([s["id"] for s in stages[1]], [3])
        self.assertEqual(len(plans[1]), 1)


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_SMOKE"), "PERFBENCH_SKIP_SMOKE set")
class Smoke(unittest.TestCase):
    def run_workload(self, workload, trace, *extra, env=None):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "3",
             "--seconds", "2", "--trace", str(trace), "--smoke", *extra],
            capture_output=True, text=True, timeout=600, env=env)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def test_all_workloads_end_to_end(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        for w in sorted(run.WORKLOADS):
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    res = self.run_workload(w, trace)
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    self.assertEqual(sorted(res["metrics"]), sorted(m["name"] for m in spec[key]))
                    for m in spec[key]:
                        self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])

    def test_build_walls_of_first_runs(self):
        # under a shuffle budget q_set_join enumerates in bounded waves,
        # memoized on its first construction in a session, which records
        # the enumeration wall in BuildWalls; the first run is untimed, so
        # the metric must come from the set-up and prime pass
        env = dict(os.environ, SPARK_GRAFT_SHUFFLE_BUDGET="200k")
        res = self.run_workload("llm_corpus", 1, "--queries", "q_set_join", env=env)
        self.assertTrue(res["correct"])
        self.assertGreater(res["metrics"]["ext.build_walls_s"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
