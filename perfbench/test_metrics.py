"""Self-tests of the benchmark's own arithmetic.

    python3 perfbench/test_metrics.py
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def sample(q, rep, pss, start, end, ok=True):
    return {"q": q, "rep": rep, "pass": pss, "start": start, "constructed": start,
            "end": end, "built": None, "ok": ok, "error": None if ok else "boom", "compiles": 0,
            "compile_ns": 0, "gc_ms": 0, "full_gcs": 0}


def raw_record(samples):
    return {"samples": samples, "ready": 2000.0, "launch": 1000.0, "oldgen_settled_mb": 50.0,
            "anchor_s": [0.1, 0.1]}


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        for n in (20, 21, 57, 100, 1000):
            xs = [float(i) for i in range(n)]
            v, pct, count = metrics.tail(xs)
            self.assertEqual(sum(1 for x in xs if x > v), 10, n)
            self.assertEqual(count, n)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_order_and_ties_do_not_matter(self):
        xs = [5.0] * 15 + [1.0] * 30 + [9.0] * 10
        v, _, _ = metrics.tail(list(reversed(xs)))
        self.assertEqual(v, 5.0)
        self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)

    def test_too_few_samples_fall_back_to_the_median(self):
        v, pct, n = metrics.tail([3.0, 1.0, 2.0])
        self.assertEqual((v, pct, n), (2.0, 50.0, 3))


class FailedFracTest(unittest.TestCase):
    def test_thrown_and_wrong_result_count_once_each(self):
        samples = [sample("qa", 0, "cold", 0, 10, ok=False),   # threw: no result written
                   sample("qb", 0, "cold", 10, 20),
                   sample("qc", 0, "cold", 20, 30),
                   sample("qa", 1, "warm", 30, 40, ok=False),  # threw again
                   sample("qb", 1, "warm", 40, 50),
                   sample("qc", 1, "warm", 50, 60)]
        verdicts = {"qa": "no result written", "qb": "value mismatch", "qc": None}
        r = metrics.summarize(raw_record(samples), verdicts, 1, traced=False)
        self.assertEqual(r["attempted"], 6)
        self.assertEqual(r["failed"], 3)  # two thrown executions + one wrong result
        self.assertAlmostEqual(r["detail"]["reported"]["failed_frac"], 3 / 6)
        self.assertEqual(r["detail"]["mismatched"], ["qb"])
        self.assertFalse(r["correct"])

    def test_all_good(self):
        samples = [sample("qa", 0, "cold", 0, 10), sample("qa", 1, "warm", 10, 15)]
        r = metrics.summarize(raw_record(samples), {"qa": None}, 1, traced=False)
        self.assertEqual((r["failed"], r["correct"]), (0, True))
        self.assertEqual(r["detail"]["reported"]["failed_frac"], 0.0)


def traced_record(samples, store, qes=()):
    return dict(raw_record(samples), sessions_start_s=1.0, tables_warm_s=2.0, cpus=4,
                store=store, jobs=[], stages=[], defects=[], qes=list(qes))


class PerLayerTest(unittest.TestCase):
    def test_warm_store_writes_are_per_cycle(self):
        samples = [sample("qa", 0, "cold", 0, 10), sample("qb", 0, "cold", 10, 20)]
        samples += [sample(q, c, "warm", 20 + 10 * i, 30 + 10 * i)
                    for i, (q, c) in enumerate([("qa", 1), ("qb", 1), ("qa", 2), ("qb", 2),
                                                ("qa", 3), ("qb", 3)])]
        store = {"cold_bytes": 3 * metrics.MB, "cold_files": 5,
                 "warm_bytes": 6 * metrics.MB, "warm_files": 9}
        m = metrics.summarize(traced_record(samples, store), {"qa": None, "qb": None},
                              metrics.MB, traced=True)["metrics"]
        self.assertAlmostEqual(m["store.write_mb.cold"]["value"], 3.0)
        self.assertAlmostEqual(m["store.files.cold"]["value"], 5)
        # three warm cycles: the totals over the pass are divided by three
        self.assertAlmostEqual(m["store.write_mb.warm"]["value"], 2.0)
        self.assertAlmostEqual(m["store.files.warm"]["value"], 3.0)
        self.assertAlmostEqual(m["store.bytes_per_input_byte.warm"]["value"], 2.0)

    def test_built_analysis_counts_once(self):
        a = sample("qa", 0, "cold", 0, 1000)
        a["built"] = {"id": 7, "analysis": [100, 300]}  # an action ran on it too
        b = sample("qb", 0, "cold", 1000, 2000)
        b["built"] = {"id": 8, "analysis": [1100, 1150]}  # no action ran on it
        qes = [{"id": 7, "analysis": [100, 300], "optimization": [400, 500], "planning": None}]
        store = {"cold_bytes": 0, "cold_files": 0, "warm_bytes": 0, "warm_files": 0}
        m = metrics.summarize(traced_record([a, b], store, qes), {"qa": None, "qb": None},
                              1, traced=True)["metrics"]
        self.assertAlmostEqual(m["catalyst.analysis_s.cold"]["value"], 0.25)
        self.assertAlmostEqual(m["catalyst.optimize_s.cold"]["value"], 0.1)
        self.assertEqual(m["catalyst.executions.cold"]["value"], 1)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time(0, 10, []), 10)

    def test_disjoint_children(self):
        self.assertEqual(metrics.self_time(0, 10, [(1, 2), (4, 6)]), 7)

    def test_nested_children_count_once(self):
        self.assertEqual(metrics.self_time(0, 10, [(2, 8), (3, 4), (5, 7)]), 4)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time(0, 10, [(1, 4), (3, 6), (5, 7)]), 4)

    def test_children_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time(0, 10, [(-5, 2), (9, 20), (30, 40)]), 7)

    def test_unsorted_and_touching_children(self):
        self.assertEqual(metrics.self_time(0, 10, [(6, 8), (2, 4), (4, 6)]), 4)


if __name__ == "__main__":
    unittest.main()
