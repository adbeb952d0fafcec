"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The first groups are pure Python (metric arithmetic, result lines, the
compare verdicts). HarnessTest starts the harness JVM (building it first if
needed) to check the digest, that no timed call prunes an op's plan, and
that failing and hanging ops are counted without stopping a run.
"""
import json
import os
import subprocess
import sys
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import compare  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def call(op, s, ok=True, traced=False, p=0, module="ops", deps=(), **trace):
    return dict({"op": op, "s": s, "ok": ok, "error": "" if ok else "boom", "traced": traced,
                 "pass": p, "module": module, "deps": list(deps)}, **trace)


def fake_result(calls, rounds=None, passes=None):
    return {
        "workload": "w", "slots": 3, "codegen_s": 0.0, "peak_rss_mb": 100.0,
        "session": {"start_s": 2.0},
        "rounds": rounds or [{"round": 1, "ingest_ok": True, "ingest_error": "", "ingest_s": 1.0,
                              "first_calls_s": 3.0, "ops": []}],
        "calls": calls, "passes": passes or [{"pass": 0, "traced": False, "s": 1.0}],
        "host": {"run": {"steal_s": 0.0, "other_cpu_s": 0.0}},
    }


def round_rec(r, ops, ingest_s=1.0, first_calls_s=3.0):
    return {"round": r, "ingest_ok": True, "ingest_error": "", "ingest_s": ingest_s,
            "first_calls_s": first_calls_s, "ops": ops}


class MetricsTest(unittest.TestCase):

    def test_median_and_geomean(self):
        self.assertEqual(metrics.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(metrics.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        self.assertAlmostEqual(metrics.geomean([1.0, 4.0, 16.0]), 4.0)
        self.assertAlmostEqual(metrics.geomean([0.5, 2.0]), 1.0)
        self.assertAlmostEqual(metrics.geomean([7.0]), 7.0)
        with self.assertRaises(ValueError):
            metrics.median([])
        with self.assertRaises(ValueError):
            metrics.geomean([1.0, 0.0])

    def test_end_to_end_takes_medians_per_op_and_per_pass(self):
        calls = [call("a", 1.0), call("a", 3.0), call("a", 2.0),
                 call("b", 0.5), call("b", 0.5), call("b", 9.0),
                 call("c", 5.0, traced=True)]  # traced calls are not timed
        passes = [{"pass": 0, "traced": False, "s": 4.0}, {"pass": 1, "traced": False, "s": 6.0},
                  {"pass": 2, "traced": False, "s": 5.0}, {"pass": 3, "traced": True, "s": 50.0}]
        rounds = [round_rec(1, [], 2.0, 10.0), round_rec(2, [], 1.0, 4.0), round_rec(3, [], 1.0, 5.0)]
        e2e = metrics.end_to_end(fake_result(calls, rounds, passes))
        self.assertEqual(set(e2e), set(metrics.END_TO_END))
        self.assertAlmostEqual(e2e["pass_s"][0], 5.0)
        self.assertAlmostEqual(e2e["op_geomean_s"][0], 1.0)  # op medians 2.0 and 0.5
        self.assertAlmostEqual(e2e["setup_s"][0], 2.0 + 6.0)  # start + median round
        self.assertEqual(e2e["peak_rss_mb"], (100.0, "MB"))

    def test_failed_calls_count_against_all_attempted_calls(self):
        setup_ok = {"ok": True, "error": "", "rows": 1, "digest": "d", "module": "ops",
                    "call_s": 0.1, "check_s": 0.1}
        rounds = [round_rec(r, [dict(setup_ok, op="a"), dict(setup_ok, op="b", digest="wrong")])
                  for r in (1, 2)]
        calls = [call("a", 1.0), call("b", 1.0, ok=False), call("a", 1.0), call("b", 0.0, ok=False)]
        result = fake_result(calls, rounds)
        problems = metrics.check_outputs(result, {"a": {"rows": 1, "digest": "d"},
                                                  "b": {"rows": 1, "digest": "d"}})
        self.assertEqual(sorted(problems), ["r1/b", "r2/b"])
        failures = metrics.failures_by_op(result, problems)
        self.assertEqual(failures, {"b": 4})
        # two rounds of (ingest + 2 ops), plus 4 timed calls
        self.assertEqual(metrics.call_counts(result, failures), (10, 4))
        self.assertEqual(metrics.per_layer(result, failures)["ops.failed"], (4, "count"))

    def test_kept_frac_is_rows_kept_over_rows_in(self):
        traced = [call("clean", 1, traced=True, p=1, rows_out=100),
                  call("exact", 1, traced=True, p=1, module="dedup", deps=["clean"], rows_out=90),
                  call("near", 1, traced=True, p=1, module="dedup", deps=["exact"], rows_out=60)]
        self.assertAlmostEqual(metrics.kept_frac(traced), 150 / 190)
        self.assertEqual(metrics.kept_frac(traced[:1]), 0.0)

    def test_output_lines_fit_a_2000_char_tail(self):
        # every call fails, with the longest message the harness keeps
        ops = [f"op_{i:03d}_{'x' * 40}" for i in range(200)]
        msg = "E" * 300
        rounds = [round_rec(1, [{"op": op, "ok": False, "error": msg, "module": "ops",
                                 "rows": -1, "digest": "", "call_s": 0, "check_s": 0}
                                for op in ops])]
        calls = [dict(call(op, 30.0, ok=False), error=msg) for op in ops]
        result = fake_result(calls, rounds)
        problems = metrics.check_outputs(result, {})
        attempted, failed = metrics.call_counts(result, metrics.failures_by_op(result, problems))
        summary = metrics.summary_line(problems, result, attempted, failed)
        self.assertLessEqual(len(summary), metrics.ERROR_LINE_CAP)
        self.assertEqual(json.loads(summary)["errors"], 2 * len(ops))
        e2e = {m: (1234567.123456789, "s") for m in metrics.END_TO_END}
        line = metrics.result_line(False, 10 ** 9, 10 ** 9, e2e)
        self.assertLessEqual(len(summary + "\n" + line + "\n"), 2000)
        self.assertEqual(set(json.loads(line)), {"correct", "attempted", "failed", "metrics"})


def fake_run_set(workload, values, failed, attempted=20):
    """Run records as run.py writes them, one per value of pass_s."""
    return [{"harness": {"workload": workload, "trace": 0},
             "result_line": {"correct": failed == 0, "attempted": attempted, "failed": failed,
                             "metrics": {"pass_s": {"value": v, "unit": "s"}}}}
            for v in values]


class CompareTest(unittest.TestCase):
    SPEC = [{"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.2}]

    def verdict(self, base, new):
        [(_, _, _, _, _, v)] = compare.compare(base, new, self.SPEC)
        return v

    def test_verdicts(self):
        base = fake_run_set("dag", [1.0, 1.02, 0.98, 1.01, 0.99], failed=0)
        self.assertEqual(self.verdict(base, fake_run_set("dag", [0.5, 0.51, 0.49, 0.5, 0.52], 0)),
                         "improved")
        self.assertEqual(self.verdict(base, fake_run_set("dag", [1.01, 0.99, 1.0, 1.02, 0.98], 0)),
                         "no worse")
        self.assertEqual(self.verdict(base, fake_run_set("dag", [1.5, 1.6, 1.4, 1.55, 1.45], 0)),
                         "unresolved")

    def test_faster_runs_with_more_failed_calls_are_not_a_gain(self):
        base = fake_run_set("dag", [1.0, 1.02, 0.98, 1.01, 0.99], failed=0)
        new = fake_run_set("dag", [0.5, 0.51, 0.49, 0.5, 0.52], failed=2)
        self.assertEqual(self.verdict(base, new), "failed calls increased")

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, q2, q3 = compare.quartiles(xs)
        self.assertAlmostEqual(compare.spread(xs), (q3 - q1) / q2)
        self.assertEqual(compare.spread([2.0, 2.0, 2.0]), 0.0)


class HarnessTest(unittest.TestCase):
    """Runs the harness JVM on the real program."""

    @classmethod
    def setUpClass(cls):
        cls.held = run.lock()
        cls.classpath = run.build()
        cls.args = run.parser().parse_args(["--workload", "selftest", "--seconds", "0"])

    @classmethod
    def tearDownClass(cls):
        cls.held.close()

    def harness(self, **extra):
        run_dir = run.fresh_run_dir()
        cfg = run.harness_config(self.args, run_dir, **extra)
        return run.run_harness(self.classpath, cfg, self.args)

    def test_digest_and_timed_plans(self):
        out = self.harness(mode="selftest")
        d = out["digest"]
        self.assertTrue(d["shuffled_equal"], "digest changed when rows were reordered")
        self.assertTrue(d["coalesced_equal"], "digest changed when partitions were merged")
        self.assertTrue(d["float_noise_equal"], "digest changed under 1e-13 float noise")
        self.assertTrue(d["changed_value_differs"], "digest missed a changed value")
        self.assertTrue(d["duplicate_rows_differ"], "digest missed duplicated rows")
        with open(os.path.join(HERE, "expected", "digests.json")) as f:
            expected = json.load(f)
        plans = {(p["workload"], p["op"]): p for p in out["plans"]}
        self.assertEqual(set(plans), {(w, op) for w, ops in expected.items() for op in ops})
        lazy = [p for p in plans.values() if p.get("lazy")]
        self.assertTrue(lazy)
        for (w, op), p in plans.items():
            self.assertEqual(p["error"], "", f"{w}/{op}")
        for p in lazy:
            self.assertEqual(p["timed_missing"], {}, f"{p['op']}: timed call pruned its plan")
        # the contrast: count() prunes computed columns, so the check can see pruning
        self.assertTrue(any(p["count_missing"] for p in lazy))

    def counted(self, result):
        ok = {s["op"]: {"rows": s["rows"], "digest": s["digest"]}
              for s in result["rounds"][0]["ops"] if s["ok"]}
        problems = metrics.check_outputs(result, ok)
        return problems, metrics.call_counts(result, metrics.failures_by_op(result, problems))

    def test_failing_and_hanging_ops_are_counted_and_the_run_goes_on(self):
        result = self.harness(setup_rounds=1, budget_s=3.0)
        problems, (attempted, failed) = self.counted(result)
        self.assertEqual(sorted(problems), ["r1/selftest_hang", "r1/selftest_throw"])
        self.assertIn("timeout after 3 s", problems["r1/selftest_hang"])
        self.assertIn("planted failure", problems["r1/selftest_throw"])
        # ingest + 4 ops in set-up, then 4 ops per timed pass; the two bad ops
        # fail every call, after set-up as calls skipped for failing before
        passes = len(result["passes"])
        self.assertEqual(passes, run.MIN_PASSES)
        self.assertEqual((attempted, failed), (5 + 4 * passes, 2 + 2 * passes))
        bad = [c for c in result["calls"] if c["op"] in ("selftest_throw", "selftest_hang")]
        self.assertTrue(all(c["error"].startswith("skipped") for c in bad))
        good = [c for c in result["calls"] if c["op"] in ("selftest_ok", "selftest_local")]
        self.assertTrue(all(c["ok"] for c in good))
        self.assertGreater(metrics.end_to_end(result)["op_geomean_s"][0], 0.0)

    def test_run_deadline_cuts_budgets_and_counts_every_call(self):
        t0 = time.monotonic()
        result = self.harness(setup_rounds=2, deadline_s=15.0)
        # the hanging call's budget is cut to the deadline, and no call starts
        # after it: the run ends soon after, with every call counted
        self.assertLess(time.monotonic() - t0, 15.0 + 20.0 + 15.0)
        problems, (attempted, failed) = self.counted(result)
        passes = len(result["passes"])
        self.assertEqual(passes, run.MIN_PASSES)
        self.assertEqual(attempted, 2 * 5 + 4 * passes)
        self.assertTrue(all(not c["ok"] for c in result["calls"]))
        errors = {c["error"] for c in result["calls"]}
        errors |= {s["error"] for r in result["rounds"] for s in r["ops"]}
        self.assertIn("skipped: run deadline passed", errors)
        succeeded = sum(r["ingest_ok"] + sum(s["ok"] for s in r["ops"]) for r in result["rounds"])
        self.assertEqual(failed, attempted - succeeded)
        metrics.end_to_end(result)


class ConcurrencyTest(unittest.TestCase):

    def test_second_concurrent_run_fails_loudly(self):
        held = run.lock()
        try:
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", "dag"],
                capture_output=True, text=True, timeout=60)
        finally:
            held.close()
        self.assertEqual(proc.returncode, 3)
        self.assertEqual(proc.stdout, "")
        self.assertIn("another benchmark run", proc.stderr)


if __name__ == "__main__":
    unittest.main()
