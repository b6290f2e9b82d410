"""Tests of the benchmark's own bookkeeping.

Run from the root of the repository:
    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import importlib.util
import tempfile
import unittest
from pathlib import Path

import pandas as pd

import metrics

ROOT = Path(__file__).resolve().parent.parent


def load_parity():
    spec = importlib.util.spec_from_file_location("parity", ROOT / "tools" / "parity.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def rec(query, pass_, ok=True, t=1.0, traced=False):
    r = {"pass": pass_, "query": query, "module": "Aggregations", "ok": ok,
         "construct_s": t / 2, "exec_s": t / 2, "traced": traced}
    if not ok:
        r["error"] = "java.lang.ArithmeticException: overflow"
    return r


def result(queries, verify):
    return {"workload": "w", "cores": 4, "setup_s": 10.0, "verify_s": 5.0, "vm_hwm_kb": 1024 * 900,
            "cached_b": 0, "oracle_sql": {"a": "SELECT 1", "b": "SELECT 2"},
            "passes": [{"pass": 1, "wall_s": 3.0, "traced": False, "out_files": 2,
                        "out_bytes": 2_000_000}],
            "verify_queries": verify, "warmup_queries": [], "queries": queries, "counters": {},
            "stream": {"batches": 0, "batch_ms": 0}, "spans": []}


class FailureCensus(unittest.TestCase):
    def test_query_that_throws_counts_as_failed(self):
        res = result([rec("a", 1), rec("b", 1, ok=False)], [rec("a", 0), rec("b", 0)])
        s = metrics.summarize(res, {})
        self.assertEqual(s["failed"], 1)
        self.assertEqual(s["attempted"], 4)
        self.assertFalse(s["correct"])
        self.assertIn("b", s["threw"])
        self.assertAlmostEqual(s["fail_frac"], 0.25)

    def test_clean_run_is_correct(self):
        res = result([rec("a", 1), rec("b", 1)], [rec("a", 0), rec("b", 0)])
        s = metrics.summarize(res, {})
        self.assertEqual((s["failed"], s["correct"], s["fail_frac"]), (0, True, 0.0))

    def test_mismatch_counts_as_failed(self):
        res = result([rec("a", 1), rec("b", 1)], [rec("a", 0), rec("b", 0)])
        s = metrics.summarize(res, {"a": "VALUE col x"})
        self.assertEqual(s["failed"], 1)
        self.assertFalse(s["correct"])


class OracleCheck(unittest.TestCase):
    def check(self, spark_values):
        parity = load_parity()
        with tempfile.TemporaryDirectory() as d:
            data, verify = Path(d, "data"), Path(d, "verify")
            data.mkdir()
            pd.DataFrame({"r_regionkey": [0, 1, 2], "r_name": ["A", "B", "C"]}) \
                .to_parquet(data / "region.parquet")
            (verify / "q").mkdir(parents=True)
            pd.DataFrame({"r_regionkey": [0, 1, 2], "total": spark_values}) \
                .to_parquet(verify / "q" / "part-0.parquet")
            res = {"oracle_sql": {"q": "SELECT r_regionkey, CAST(r_regionkey * 2 AS DOUBLE) "
                                       "AS total FROM region"}}
            return metrics.oracle_check(parity, str(data), res, verify)

    def test_matching_output_passes(self):
        self.assertEqual(self.check([0.0, 2.0, 4.0]), {})

    def test_perturbed_output_is_a_mismatch(self):
        bad = self.check([0.0, 2.0, 4.000001])
        self.assertEqual(list(bad), ["q"])
        self.assertIn("VALUE", bad["q"])


class Spans(unittest.TestCase):
    SPANS = [
        {"id": -1, "parent": -2, "name": "run", "start_s": 0.0, "end_s": 10.0},
        {"id": 0, "parent": -1, "name": "jvm_start", "start_s": 0.0, "end_s": 1.0},
        {"id": 1, "parent": -1, "name": "setup", "start_s": 1.0, "end_s": 4.0},
        {"id": 2, "parent": 1, "name": "session", "start_s": 1.0, "end_s": 2.5},
        {"id": 3, "parent": -1, "name": "pass", "start_s": 4.5, "end_s": 9.5},
        {"id": 4, "parent": 3, "name": "query", "start_s": 4.5, "end_s": 7.0},
        {"id": 5, "parent": 4, "name": "construct", "start_s": 4.5, "end_s": 5.0},
        {"id": 6, "parent": 4, "name": "exec", "start_s": 5.0, "end_s": 7.0},
        {"id": 7, "parent": 3, "name": "query", "start_s": 7.0, "end_s": 9.5},
        {"id": 8, "parent": 7, "name": "construct", "start_s": 7.0, "end_s": 7.5},
        {"id": 9, "parent": 7, "name": "exec", "start_s": 7.5, "end_s": 9.5},
    ]

    def traced(self, wall_s, spans=None):
        return {"spans": spans or self.SPANS,
                "passes": [{"pass": 1, "span": 3, "traced": True, "wall_s": wall_s}]}

    def test_self_times_sum_to_wall_time(self):
        st = metrics.self_times(self.SPANS)
        self.assertAlmostEqual(st[1], 1.5)
        self.assertAlmostEqual(st[-1], 10.0 - 1.0 - 3.0 - 5.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_layers_account_for_the_traced_pass(self):
        self.assertAlmostEqual(metrics.unaccounted_s(self.traced(5.0)), 0.0)

    def test_work_outside_the_layers_is_detected(self):
        # the harness spends 0.4 s between the two queries of the pass
        spans = self.SPANS[:8] + [
            {"id": 7, "parent": 3, "name": "query", "start_s": 7.4, "end_s": 9.5},
            {"id": 8, "parent": 7, "name": "construct", "start_s": 7.4, "end_s": 7.5},
            {"id": 9, "parent": 7, "name": "exec", "start_s": 7.5, "end_s": 9.5}]
        self.assertAlmostEqual(metrics.unaccounted_s(self.traced(5.0, spans)), 0.4)


class BatchTime(unittest.TestCase):
    def test_sums_each_querys_median_execution(self):
        res = result([rec("a", 1, t=1.0), rec("b", 1, t=3.0), rec("a", 2, t=2.0),
                      rec("b", 2, t=2.5), rec("a", 3, t=9.0), rec("b", 3, t=0.5)], [])
        res["passes"] += [dict(res["passes"][0], **{"pass": p}) for p in (2, 3)]
        s = metrics.summarize(res, {})
        self.assertAlmostEqual(s["end_to_end"]["batch_s"][0], 2.0 + 2.5)
        self.assertEqual(s["n_samples"], 6)


class Percentile(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        self.assertEqual(metrics.pct([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(metrics.pct([1, 2, 3, 4, 5], 100), 5)


if __name__ == "__main__":
    unittest.main()
