"""Self-tests of the benchmark. Run from the repository root:

    python3 perfbench/test_perfbench.py

The harness tests compile the program first if needed (about a minute).
"""
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def sample(query, seconds, error=None, pass_=0, traced=False):
    return {"query": query, "pass": pass_, "traced": traced, "span": 0,
            "seconds": seconds, "error": error, "plan": {}, "exec_gc_ms": 0,
            "files_written": 0, "bytes_written": 0, "heap_mb": 1.0}


class OrderTest(unittest.TestCase):
    def test_the_pass_count_is_fixed_by_the_budget(self):
        self.assertEqual(run.timed_passes("frame_ops", 20, False), 6)
        self.assertEqual(run.timed_passes("pipeline", 20, False), 3)
        self.assertEqual(run.timed_passes("pipeline", 20, True), 2)
        self.assertEqual(run.timed_passes("frame_ops", 1, False), 3)

    def test_order_is_a_pure_function_of_the_seed(self):
        names = [q for q, _ in run.WORKLOADS["frame_ops"]]
        a, b = run.pass_orders(names, 7, 6), run.pass_orders(names, 7, 6)
        self.assertEqual(a, b)
        self.assertNotEqual(a, run.pass_orders(names, 8, 6))
        for order in a:
            self.assertEqual(sorted(order), sorted(names))


class MetricTest(unittest.TestCase):
    def test_every_metric_has_a_valid_name_and_a_unit(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        declared = {}
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertNotIn(m["name"], declared)
            declared[m["name"]] = m["unit"]
        emitted = {**run.END_TO_END, **run.PER_LAYER}
        self.assertEqual(declared, emitted)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(run.WORKLOADS))

    def test_a_failed_query_counts_and_stays_out_of_wall(self):
        rec = {"verify": [{"query": "a", "seconds": 1.0, "error": None},
                          {"query": "b", "seconds": 1.0, "error": None}],
               "samples": [sample("a", 9.0), sample("b", 9.0),
                           sample("a", 2.0, pass_=1), sample("b", 5.0, "boom", pass_=1),
                           sample("a", 4.0, pass_=2), sample("b", 5.0, pass_=2)],
               "session_s": 1.0, "cold_s": 2.0, "retained_heap_mb": 10.0}
        verdicts = {"a": {"status": "ok"}, "b": {"status": "ok"}}
        failed, attempted, n_failed = run.tally(rec, verdicts)
        self.assertEqual(failed, {"b"})
        self.assertEqual((attempted, n_failed), (8, 1))
        e2e = run.end_to_end(rec, failed, ["a", "b"])
        self.assertEqual(e2e["wall_s"], 3.0)
        self.assertEqual(e2e["failed_s"], 5.0)

    def test_a_query_that_throws_on_every_sample_keeps_its_time(self):
        rec = {"verify": [{"query": "a", "seconds": 1.0, "error": None},
                          {"query": "b", "seconds": 1.0, "error": "boom"}],
               "samples": [sample("a", 2.0, pass_=p) for p in range(3)]
               + [sample("b", 0.5 + p, "boom", pass_=p) for p in range(3)],
               "session_s": 1.0, "cold_s": 2.0, "retained_heap_mb": 10.0}
        verdicts = {"a": {"status": "ok"}, "b": {"status": "no_output"}}
        failed, attempted, n_failed = run.tally(rec, verdicts)
        self.assertEqual((failed, attempted, n_failed), ({"b"}, 8, 4))
        e2e = run.end_to_end(rec, failed, ["a", "b"])
        self.assertEqual(e2e["wall_s"], 2.0)
        self.assertEqual(e2e["failed_s"], 1.5)

    def test_the_warmup_pass_stays_out_of_the_medians(self):
        rec = {"samples": [sample("a", 10.0), sample("a", 2.0, pass_=1),
                           sample("a", 2.0, pass_=2)],
               "session_s": 1.0, "cold_s": 2.0, "retained_heap_mb": 10.0}
        self.assertEqual(run.end_to_end(rec, set(), ["a"])["wall_s"], 2.0)

    def test_an_oracle_mismatch_counts_as_failed(self):
        rec = {"verify": [{"query": "a", "seconds": 1.0, "error": None}],
               "samples": [sample("a", 2.0)]}
        failed, _, n_failed = run.tally(rec, {"a": {"status": "value_mismatch"}})
        self.assertEqual((failed, n_failed), ({"a"}, 1))

    def test_ledger_diff_names_changed_counts_only(self):
        old = {"ledger": {"q": {k: 1 for k in run.LEDGER},
                          "r": {k: 2 for k in run.LEDGER}}}
        new = json.loads(json.dumps(old))
        new["ledger"]["q"]["plan.exchanges"] = 5
        self.assertEqual(run.ledger_diff(old, new),
                         [("q", "plan.exchanges", 1, 5)])


class OracleTest(unittest.TestCase):
    def test_compare(self):
        a = pd.DataFrame({"y": [1.0, None], "x": [1, 2]})
        self.assertEqual(oracle.compare(a, a[["x", "y"]].copy())["status"], "ok")
        b = pd.DataFrame({"x": [1, 3], "y": [1.0, None]})
        self.assertEqual(oracle.compare(a, b)["status"], "value_mismatch")
        self.assertEqual(oracle.compare(a, b.head(1))["status"],
                         "rowcount_mismatch")
        self.assertEqual(oracle.compare(a, b[["x"]])["status"],
                         "schema_mismatch")


class HarnessTest(unittest.TestCase):
    """the JVM side, against a compiled copy of the program"""

    @classmethod
    def setUpClass(cls):
        cls.classpath, _ = build.ensure(ROOT)
        cls.tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def test_an_unknown_query_name_fails_loudly(self):
        with self.assertRaises(SystemExit):
            run.run_harness(ROOT, self.classpath, self.tmp,
                            [["q_add_column", "q_no_such_query"]], 0, False)

    def test_a_query_that_throws_is_recorded_not_fatal(self):
        # no tables in the data dir: every query fails to read its input
        rec, _ = run.run_harness(ROOT, self.classpath, self.tmp,
                                 [["q_add_column"]], 2, False)
        self.assertIsNotNone(rec["verify"][0]["error"])
        self.assertTrue(all(s["error"] for s in rec["samples"]))
        failed, attempted, n_failed = run.tally(rec, {"q_add_column": {
            "status": "no_output"}})
        self.assertEqual((failed, attempted, n_failed),
                         ({"q_add_column"}, 3, 3))
        e2e = run.end_to_end(rec, failed, ["q_add_column"])
        self.assertEqual(e2e["wall_s"], 0)
        self.assertGreater(e2e["failed_s"], 0)


if __name__ == "__main__":
    unittest.main()
