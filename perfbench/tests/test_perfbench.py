"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The planted-failure test builds and runs the driver (about a minute); the
others are pure Python.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import verify  # noqa: E402

INVENTORY = ([f"rel_q{i}" for i in range(40)] + [f"dd_x{i}" for i in range(10)]
             + ["dd_cc_clusters", "dd_winnow", "gr_bfs", "gr_pagerank",
                "gr_louvain_levels", "gr_scc", "st_a", "st_b"])
COSTS = {n: 0.05 + (i % 17) * 0.03 for i, n in enumerate(INVENTORY)}


class SeededInputs(unittest.TestCase):
    def test_corpus_is_a_function_of_the_seed(self):
        a = gen.corpus_texts(7, n_files=3, n_tokens=5000)
        self.assertEqual(a, gen.corpus_texts(7, n_files=3, n_tokens=5000))
        self.assertNotEqual(a, gen.corpus_texts(8, n_files=3, n_tokens=5000))
        self.assertTrue(a[0][1].startswith("\ufeff"))
        self.assertIn("\n\n", "".join(t for _, t in a))

    def test_plan_is_a_function_of_the_seed(self):
        for w in ("query_tail", "iterative_rounds"):
            p = gen.plan_ops(w, 3, INVENTORY, COSTS)
            self.assertEqual(p, gen.plan_ops(w, 3, INVENTORY, COSTS), w)
            self.assertNotEqual(p, gen.plan_ops(w, 4, INVENTORY, COSTS), w)
        # the job server's mix and order are fixed on purpose (README):
        # neither the seed nor the inventory or its costs change them
        self.assertEqual(gen.plan_ops("jobserver_mix", 3, INVENTORY, COSTS),
                         list(gen.JOBSERVER_MIX))
        self.assertEqual(gen.plan_ops("jobserver_mix", 4, [], {}), list(gen.JOBSERVER_MIX))

    def test_tables_are_fixed(self):
        import tempfile
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_tables(a, "0.001")
            gen.write_tables(b, "0.001")
            self.assertEqual(gen.digest(a), gen.digest(b))


class Percentiles(unittest.TestCase):
    def test_highest_percentile_keeps_ten_samples_beyond_it(self):
        self.assertEqual(stats.highest_percentile(100), 90.0)
        self.assertEqual(stats.highest_percentile(99), 75.0)
        self.assertEqual(stats.highest_percentile(40), 75.0)
        self.assertEqual(stats.highest_percentile(39), 50.0)
        self.assertEqual(stats.highest_percentile(1000), 99.0)
        self.assertIsNone(stats.highest_percentile(19))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile([3.0], 99), 3.0)


def op(name, lat, status="ok"):
    return {"name": name, "scale": "0.01", "lat_s": lat, "status": status, "pass": 0}


class Failures(unittest.TestCase):
    def test_error_rate_counts_mismatches(self):
        ops = [op("a", 0.1), op("b", 0.2), op("a", 0.1), op("c", 0.3)]
        self.assertEqual(stats.error_rate(ops, set()), 0.0)
        self.assertEqual(stats.error_rate(ops, {("a", "0.01")}), 0.5)

    def test_a_failed_op_is_never_fast(self):
        ops = [op("a", 0.1), op("b", 0.01, "error"), op("c", 0.2, "timeout")]
        self.assertEqual(sorted(stats.op_latencies(ops, 60.0)), [0.1, 60.0, 60.0])
        self.assertEqual(len(stats.failures(ops, set())), 2)


class MrBooksReference(unittest.TestCase):
    REF = {"wordcount": {"a": 2, "b": 1}, "invindex": {"a": ["x", "y"], "b": ["x"]}}

    def test_matching_results_pass(self):
        self.assertEqual(verify.check_mr("kv_wordcount", {"b": 1, "a": 2}, self.REF), "ok")
        self.assertEqual(verify.check_mr("ta_invindex", {"a": ["y", "x"], "b": ["x"]},
                                         self.REF), "ok")

    def test_an_empty_result_fails(self):
        for job in verify.MR_KIND:
            self.assertNotEqual(verify.check_mr(job, {}, self.REF), "ok", job)

    def test_wrong_values_fail(self):
        self.assertNotEqual(verify.check_mr("mr_wordcount", {"a": 2, "b": 2}, self.REF), "ok")
        self.assertNotEqual(verify.check_mr("mr_invindex", {"a": ["x"], "b": ["x"]},
                                            self.REF), "ok")
        # a word-count job is judged by the counts, never by the postings
        self.assertNotEqual(verify.check_mr("ta_wordcount", self.REF["invindex"], self.REF), "ok")


class Spans(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time(self):
        def s(i, parent, layer, a, b):
            return {"id": i, "parent": parent, "layer": layer, "start_ms": a, "end_ms": b}
        spans = [s(1, 0, "op", 0, 1000), s(2, 1, "build", 0, 300),
                 s(3, 1, "action", 300, 1000), s(4, 3, "exec", 400, 700),
                 s(5, 3, "exec", 600, 800)]
        self.assertEqual(stats.self_times(spans),
                         {"op": 0.0, "build": 0.3, "action": 0.3, "exec": 0.5})


class Contract(unittest.TestCase):
    def test_benchmark_json_names_the_printed_metrics(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)
        self.assertTrue(set(w["name"] for w in b["workloads"]) <= set(run.WORKLOADS))


class PlantedFailure(unittest.TestCase):
    def test_a_throwing_query_fails_the_run(self):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                            "--workload", "query_tail", "--seed", "1", "--seconds", "1",
                            "--trace", "0", "--plant-failure"],
                           capture_output=True, text=True, timeout=600)
        self.assertNotEqual(p.returncode, 0, p.stdout[-2000:] + p.stderr[-2000:])
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        rate = [ln for ln in lines if ln.startswith("metric error_rate = ")]
        self.assertGreater(float(rate[0].split()[3]), 0.0)
        self.assertTrue(any(ln.startswith("FAILED planted_failure") for ln in lines))


if __name__ == "__main__":
    unittest.main()
