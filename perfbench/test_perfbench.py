#!/usr/bin/env python3
"""Self-tests of the benchmark. Run from the repository root:

    python3 perfbench/test_perfbench.py

The first group feeds hand-made records to the statistics; the second
runs both workloads end to end on a tiny fixture (sf0.001, a few seconds
each) and checks the emitted metrics, the error accounting and the span
tree.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def op(i, wall, ok=True, traced=False, kind="k", span=0, warm=False):
    return {"i": i, "kind": kind, "wall_ms": wall, "ok": ok, "traced": traced, "warm": warm,
            "span": span, "steps": {}, "error": None if ok else "x"}


def span(id_, parent, kind, start, end, **attrs):
    return {"id": id_, "parent": parent, "kind": kind, "name": kind,
            "start": start, "end": end, "attrs": attrs}


class Statistics(unittest.TestCase):

    def test_percentile_needs_ten_samples_beyond_it(self):
        self.assertIsNone(metrics.percentile(list(range(99)), 90))
        self.assertEqual(metrics.percentile(list(range(100)), 90), 89)
        self.assertIsNone(metrics.percentile([5.0] * 200, 90))  # nothing lies beyond a flat tail

    def test_failed_op_raises_error_rate_and_adds_no_sample(self):
        ops = [op(0, 100.0), op(1, 110.0), op(2, 1.0, ok=False), op(3, 120.0)]
        rec = {"workload": "serving_sf0.01", "setup_s": [1.0], "ops": ops, "mix": {"k": 1}}
        e2e, detail = metrics.end_to_end(rec)
        self.assertEqual(detail["error_rate"], 0.25)
        self.assertEqual(metrics.timing_samples(ops), [100.0, 110.0, 120.0])
        self.assertEqual(e2e["op_median_ms"], 110.0)

    def test_warm_up_ops_are_counted_but_never_samples(self):
        ops = [op(0, 900.0, warm=True), op(1, 1.0, ok=False, warm=True), op(2, 100.0)]
        rec = {"workload": "medallion_sf0.01", "setup_s": [1.0], "ops": ops, "mix": {"k": 1},
               "fixture_rows": 1}
        e2e, detail = metrics.end_to_end(dict(rec, ops=[dict(o, source_rows=10) for o in ops]))
        self.assertEqual(e2e["op_median_ms"], 100.0)
        self.assertAlmostEqual(detail["error_rate"], 1 / 3)

    def test_op_time_weights_each_kind_median_by_the_mix(self):
        ops = ([op(i, 100.0, kind="a") for i in range(5)] +
               [op(i, 400.0, kind="b") for i in range(5, 7)])
        self.assertEqual(metrics.mix_median(ops, {"a": 3, "b": 1}), 175.0)

    def test_self_time_subtracts_overlapping_children_once(self):
        spans = [span(1, 0, "op", 0, 100), span(2, 1, "job", 10, 50),
                 span(3, 1, "job", 30, 70), span(4, 2, "stage", 10, 60)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 40)   # jobs cover 10..70
        self.assertEqual(st[2], 0)    # the stage sticks out; clipped to the job
        self.assertTrue(all(v >= 0 for v in st.values()))
        self.assertEqual(metrics.nesting_violations(spans), [])
        self.assertEqual(len(metrics.nesting_violations(
            spans + [span(5, 1, "job", 90, 300)])), 1)


def run_bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py {args} exited {p.returncode}\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    record = next(l.split(": ", 1)[1] for l in lines if l.startswith("full record: "))
    with open(os.path.join(ROOT, record)) as f:
        return json.loads(lines[-1]), json.load(f)


SERVING_FAIL_OP = 13  # after the serving warm-up of one 10-op rotation


class EndToEnd(unittest.TestCase):
    """Both workloads on a tiny fixture."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)
        tiny = ["--sf", "0.001", "--setup-reps", "1"]
        cls.medallion = run_bench("--workload", "medallion_sf0.01", "--seed", "7",
                                  "--seconds", "1", "--trace", "0", *tiny)
        cls.serving = run_bench("--workload", "serving_sf0.01", "--seed", "7",
                                "--seconds", "4", "--trace", "1", "--fail-op", str(SERVING_FAIL_OP),
                                *tiny)

    def test_every_declared_metric_is_emitted_with_its_unit(self):
        spec = self.spec
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         sorted(["medallion_sf0.01", "serving_sf0.01"]))
        e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
        self.assertEqual(e2e, metrics.END_TO_END)
        self.assertEqual(layer, metrics.PER_LAYER)
        line, _ = self.medallion
        self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()}, e2e)
        line, _ = self.serving
        self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()}, layer)

    def test_correct_run_is_correct(self):
        line, rec = self.medallion
        self.assertTrue(line["correct"], rec["ops"])
        self.assertEqual(line["failed"], 0)
        self.assertTrue(all(v["value"] > 0 for v in line["metrics"].values()))

    def test_forced_failure_counts_and_adds_no_sample(self):
        line, rec = self.serving
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)
        self.assertEqual(line["attempted"], len(rec["ops"]))
        bad = [o for o in rec["ops"] if not o["ok"]]
        self.assertEqual([o["i"] for o in bad], [SERVING_FAIL_OP])
        self.assertFalse(bad[0]["warm"])
        self.assertNotIn(bad[0]["wall_ms"],
                         metrics.timing_samples(rec["ops"], bad[0]["traced"]))

    def test_traced_spans_nest_with_non_negative_self_time(self):
        _, rec = self.serving
        spans = rec["spans"]
        kinds = {s["kind"] for s in spans}
        self.assertTrue({"workload", "op", "build", "action", "job", "stage"} <= kinds, kinds)
        self.assertEqual(metrics.nesting_violations(spans), [])
        self.assertTrue(all(v >= 0 for v in metrics.self_times(spans).values()))
        layers = rec["summary"]["per_layer"]
        self.assertGreater(layers["scheduler.jobs"], 0)
        self.assertGreater(layers["trace.overhead_ratio"], 0)


if __name__ == "__main__":
    unittest.main(verbosity=2)
