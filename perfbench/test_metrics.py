"""Checks of the benchmark's own math and failure accounting.

  python3 perfbench/test_metrics.py          # unit checks only
  python3 perfbench/run.py --selftest        # unit checks + one fault-injected run
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402


def span(i, parent, name, s, e):
    return {"id": i, "parent": parent, "name": name, "start_us": s, "end_us": e, "attrs": {}}


class IntervalMath(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(M.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(M.union_length([(0, 10), (5, 15), (20, 30)], lo=8, hi=25), 12)
        self.assertEqual(M.union_length([]), 0)
        self.assertEqual(M.union_length([(5, 5), (7, 3)]), 0)

    def test_gap_is_window_minus_job_cover(self):
        # jobs cover 10..40 and 50..60 (overlapping pair merged) of a 0..100 window
        self.assertEqual(M.gap((0, 100), [(10, 30), (20, 40), (50, 60), (90, 120)]), 100 - 30 - 10 - 10)
        self.assertEqual(M.gap((0, 100), []), 100)

    def test_self_time_subtracts_covered_children_only(self):
        spans = [span(0, -1, "op", 0, 100), span(1, 0, "build", 0, 60), span(2, 0, "exec", 50, 90),
                 span(3, 1, "job1", 10, 20), span(4, 1, "job2", 15, 70)]
        st = M.self_times(spans)
        self.assertEqual(st[0], 100 - 90)       # children cover 0..90
        self.assertEqual(st[1], 60 - 50)        # jobs cover 10..70, clipped to 10..60
        self.assertEqual(st[2], 40)
        self.assertEqual(st[3], 10)
        self.assertEqual({s["id"] for s in M.descendants(spans, 0)}, {1, 2, 3, 4})


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(M.nearest_rank(xs, 50), 3)
        self.assertEqual(M.nearest_rank(xs, 100), 5)
        self.assertEqual(M.nearest_rank(xs, 1), 1)

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertEqual(M.tail(list(range(10))), (None, None, 10))
        pct, val, n = M.tail(list(range(1, 101)))
        self.assertEqual((pct, n), (90, 100))  # p90 is rank 90: ten samples above
        self.assertEqual(val, 90)
        pct, val, n = M.tail(list(range(1, 21)))
        self.assertEqual((pct, val), (50, 10))  # rank 10 of 20 leaves ten beyond

    def test_spread(self):
        self.assertAlmostEqual(M.spread([10.0] * 10), 0.0)
        self.assertGreater(M.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 0.5)


class FailureAccounting(unittest.TestCase):
    def result(self, failed_pass):
        passes = [{"pass": p, "op_s": 1.0 + p, "failed": int(p == failed_pass), "quiesce_s": 0.1,
                   "publish_s": 0.0, "heap_retained_mb": 50.0, "index_bytes": 0} for p in range(4)]
        return {"passes": passes, "ops": [], "spans": [], "warmups": 1}

    def test_failed_pass_never_counts_as_a_time(self):
        e2e, _, _ = run.summarize(self.result(failed_pass=1), 9.0, None, 0, ["AsOf.join"])
        self.assertEqual(e2e["pass_s"], 3.5)  # passes 2 and 3 only; 0 is the warm-up

    def test_all_passes_failed_leaves_no_time(self):
        res = self.result(failed_pass=None)
        for p in res["passes"]:
            p["failed"] = 1
        e2e, _, _ = run.summarize(res, 9.0, None, 0, ["AsOf.join"])
        self.assertIsNone(e2e["pass_s"])


class Fingerprints(unittest.TestCase):
    def test_same_seed_same_tables_other_seed_different(self):
        base = os.path.join(run.STATE, "selftest-gen")
        shutil.rmtree(base, ignore_errors=True)
        spec = {"orders": {"rows": 300, "days": 40}, "documents": {"rows": 60, "stream": True},
                "embeddings": {"rows": 40}, "events": {"rows": 200, "users": 9, "stream": True}}
        try:
            a = gen.generate(1, spec, os.path.join(base, "a"))
            b = gen.generate(1, spec, os.path.join(base, "b"))
            c = gen.generate(2, spec, os.path.join(base, "c"))
        finally:
            shutil.rmtree(base, ignore_errors=True)
        self.assertEqual(a, b)
        for t in spec:
            self.assertEqual(a[t]["rows"], c[t]["rows"])
            self.assertNotEqual(a[t]["hash"], c[t]["hash"])


def fault_run():
    """Inject a throw into one op wrapper; it must fail the run, not time it."""
    layer = run.LAYERS["series_dedup"][1]
    p = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"), "--workload",
                        "series_dedup", "--seed", "1", "--seconds", "1", "--trace", "0",
                        "--fault", layer], capture_output=True, text=True)
    last = json.loads(p.stdout.strip().splitlines()[-1])
    ok = (p.returncode != 0 and not last["correct"] and last["failed"] >= 2
          and last["metrics"]["pass_s"]["value"] < 0
          and f"{layer} (pass 0) threw" in p.stdout)
    print(f"[selftest] fault in {layer}: exit {p.returncode}, failed {last['failed']} of "
          f"{last['attempted']}, pass_s {last['metrics']['pass_s']['value']} -> "
          f"{'ok' if ok else 'WRONG'}")
    return ok


def main(with_fault_run=True):
    suite = unittest.defaultTestLoader.loadTestsFromModule(sys.modules[__name__])
    ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
    if ok and with_fault_run:
        ok = fault_run()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(with_fault_run=False))
