"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The attribution test builds the harness (as a benchmark run would) and runs
its selftest mode on a toy session.
"""
import filecmp
import os
import shutil
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import etlgen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

SMALL = etlgen.Sizes(products=30, clients=50, sfcc_sales=300, cegid_sales=300,
                     batches=4, batch_rows=40)


def workdir(name):
    path = os.path.join(run.BUILD, "test", name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class SeedTest(unittest.TestCase):
    def test_same_seed_writes_byte_identical_inputs(self):
        a, b, c = workdir("gen-a"), workdir("gen-b"), workdir("gen-c")
        etlgen.generate(7, a, SMALL)
        etlgen.generate(7, b, SMALL)
        etlgen.generate(8, c, SMALL)
        for d in ("", "batches"):
            names = sorted(f for f in os.listdir(os.path.join(a, d))
                           if os.path.isfile(os.path.join(a, d, f)))
            self.assertTrue(names)
            match, mismatch, errors = filecmp.cmpfiles(
                os.path.join(a, d), os.path.join(b, d), names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
        self.assertFalse(filecmp.cmp(os.path.join(a, "2024_cegid_sales.json"),
                                     os.path.join(c, "2024_cegid_sales.json"), shallow=False))

    def test_same_seed_gives_same_query_permutation(self):
        self.assertEqual(run.query_order(3), run.query_order(3))
        self.assertNotEqual(run.query_order(3)[1:], run.query_order(4)[1:])
        for p in run.query_order(3):
            self.assertEqual(sorted(p), sorted(run.PANEL))
        self.assertEqual(run.query_order(3)[0], run.PANEL)

    def test_model_replays_batches_and_erasures(self):
        m = etlgen.generate(5, workdir("gen-model"), SMALL)
        fact, clients, answers = etlgen.apply_batches(m, len(m.batches))
        erased = {b["erase"] for b in m.batches if b["erase"] is not None}
        self.assertTrue(erased)
        self.assertFalse(any(r[5] in erased for r in fact.values()))
        self.assertFalse(any(c[0] in erased for c in clients))
        self.assertEqual(len(answers), len(m.batches))
        new_ids = {r[0] for b in m.batches for r in b["rows"]}
        self.assertLessEqual(len(fact), len(m.fact) + len(new_ids))


class ArithmeticTest(unittest.TestCase):
    def test_percentile_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0, 5.0]
        self.assertEqual(metrics.percentile(xs, 50), 3.0)
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 5.0)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(metrics.percentile([10.0, 20.0], 25), 12.5)
        self.assertEqual(metrics.percentile([7.0], 95), 7.0)
        self.assertIsNone(metrics.percentile([], 50))

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(metrics.geomean([5.0]), 5.0)
        self.assertEqual(metrics.geomean([]), 0.0)

    def test_self_time_subtracts_the_covered_interval_once(self):
        self.assertEqual(metrics.self_time((0, 10), []), 10)
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (5, 6)]), 7)
        # overlapping children count once; parts outside the parent do not count
        self.assertEqual(metrics.self_time((0, 10), [(1, 4), (2, 5), (8, 15)]), 4)
        self.assertEqual(metrics.self_time((0, 10), [(-5, 20)]), 0)

    def test_requests_join_a_day_and_drop_failed_and_warmup_ones(self):
        ops = [
            {"id": 0, "kind": "batch", "pass": 1, "ms": 100.0, "ok": True, "traced": False, "warmup": False},
            {"id": 1, "kind": "analytic", "pass": 1, "ms": 20.0, "ok": True, "traced": False, "warmup": False},
            {"id": 2, "kind": "batch", "pass": 2, "ms": 90.0, "ok": False, "traced": False, "warmup": False},
            {"id": 3, "kind": "batch", "pass": 3, "ms": 80.0, "ok": True, "traced": True, "warmup": False},
            {"id": 4, "kind": "batch", "pass": 0, "ms": 500.0, "ok": True, "traced": False, "warmup": True},
        ]
        self.assertEqual(metrics.requests({"ops": ops}), [120.0])
        self.assertEqual(metrics.requests({"ops": ops}, traced=True), [80.0])

    def test_throughput_counts_completed_requests_over_the_timed_loop(self):
        ops = [{"id": i, "kind": "query", "pass": 1, "ms": 100.0, "ok": i != 2, "traced": False,
                "warmup": False} for i in range(4)]
        record = {"ops": ops, "timed_s": 2.0, "setup_s": 1.0, "rss_peak_mb": 1.0}
        self.assertAlmostEqual(metrics.end_to_end(record)["ops_per_s"], 1.5)


class AttributionTest(unittest.TestCase):
    def test_jobs_are_attributed_to_their_span(self):
        cp = run.build()
        record = run.run_jvm(cp, workdir("selftest"), ["--mode", "selftest"], run.JVM_SLACK_S)
        spans = {s["name"]: s for s in record["spans"]}
        self.assertEqual(spans["a"]["stats"]["jobs"], 1)
        self.assertEqual(spans["a"]["stats"]["tasks"], 2)
        self.assertEqual(spans["b"]["stats"]["jobs"], 2)
        self.assertEqual(spans["b"]["stats"]["tasks"], 4)
        self.assertEqual(record["unattributed"]["jobs"], 1)
        self.assertEqual(spans["a"]["parent"], -1)
        self.assertEqual(spans["b"]["parent"], -1)


if __name__ == "__main__":
    unittest.main()
