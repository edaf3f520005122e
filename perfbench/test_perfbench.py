"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

All but SeededEventInputs run without Spark; that one starts the
harness JVM (building the harness first if needed).
"""
import hashlib
import os
import re
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import metrics  # noqa: E402


class PercentileSelection(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        # 1000 samples: p99's rank is 990, leaving exactly 10 beyond
        t = metrics.tail(list(range(1, 1001)))
        self.assertEqual((t["p"], t["value"], t["n"], t["beyond"]), (99.0, 990, 1000, 10))

    def test_falls_back_when_the_tail_is_too_thin(self):
        # 100 samples: p99 and p95 leave 1 and 5 beyond, p90 leaves 10
        t = metrics.tail(list(range(1, 101)))
        self.assertEqual((t["p"], t["value"], t["beyond"]), (90.0, 90, 10))
        # 15 samples: only the median leaves 10 or more beyond... it leaves 7
        self.assertIsNone(metrics.tail(list(range(15))))
        self.assertEqual(metrics.tail(list(range(20)))["p"], 50.0)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7] * 10
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class OpenLoopLatency(unittest.TestCase):
    def test_measured_from_due_time_not_send_time(self):
        # events due at 1000, 1010, 1020 ms; a 500 ms feeder stall meant all
        # three were sent at 1500 ms and committed together at 1600 ms
        batches = [{"commit_ms": 1600, "due_ms": [1000, 1010, 1020]}]
        self.assertEqual(metrics.open_loop_latencies_ms(batches), [600, 590, 580])

    def test_events_without_a_due_time_are_left_out(self):
        batches = [{"commit_ms": 1600, "due_ms": [1000, 0]}]
        self.assertEqual(metrics.open_loop_latencies_ms(batches), [600])

    def test_tail_is_the_median_of_the_windows_tails(self):
        # three 1 s windows of 20 events, each due at a window start and
        # committed at once; window tails (p50, 10 beyond) 109, 209, 509
        batches = [{"commit_ms": 1000 * w + 100 + lat, "due_ms": [1000 * w + 100]}
                   for w, base in enumerate((100, 200, 500)) for lat in range(base, base + 20)]
        t = metrics.windowed_tail(batches, 0, 1000.0, 3)
        self.assertEqual([x["value"] for x in t["windows"]], [109, 209, 509])
        self.assertEqual((t["value"], t["n"]), (209, 60))
        with self.assertRaises(ValueError):
            metrics.windowed_tail(batches, 0, 1000.0, 4)

    def test_each_event_counts_against_its_own_batch(self):
        batches = [{"commit_ms": 100, "due_ms": [50]}, {"commit_ms": 300, "due_ms": [120, 250]}]
        self.assertEqual(sorted(metrics.open_loop_latencies_ms(batches)), [50, 50, 180])


class SeededInputs(unittest.TestCase):
    @staticmethod
    def digest(seed):
        with tempfile.TemporaryDirectory() as d:
            gen.write(seed, 0.0005, d)
            out = {}
            for f in sorted(os.listdir(d)):
                with open(os.path.join(d, f), "rb") as fh:
                    out[f] = hashlib.sha256(fh.read()).hexdigest()
            return out

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.digest(3), self.digest(3))

    def test_different_seed_different_values_same_counts(self):
        a, b = gen.tables(3, 0.0005), gen.tables(4, 0.0005)
        self.assertEqual({k: t.num_rows for k, t in a.items()},
                         {k: t.num_rows for k, t in b.items()})
        for name in ("customer", "orders", "lineitem", "events"):
            self.assertFalse(a[name].equals(b[name]), name)
            self.assertEqual(a[name].schema, b[name].schema, name)


class SeededEventInputs(unittest.TestCase):
    """The `events` inputs as the harness generates them, from two JVMs."""
    SIZES = "backlog=400,files=4,warmups=1,drains=1,rate=100,tick_ms=100"
    SECONDS = 2

    @classmethod
    def setUpClass(cls):
        import run
        cls.harness = run
        cls.cp = run.classpath()
        cls.tmp = tempfile.TemporaryDirectory()
        cls.runs = 0

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def inputs(self, seed):
        """{file: lines} written by one harness JVM for `seed`."""
        type(self).runs += 1
        work = os.path.join(self.tmp.name, f"run{self.runs}")
        out = os.path.join(work, "inputs")
        args = ["--workload", "inputs", "--work", work, "--out", out, "--seed", str(seed),
                "--seconds", str(self.SECONDS), "--trace", "0", "--events", self.SIZES]
        self.harness.run_jvm(self.cp, args, work, 170)
        files = {}
        for f in ("backlog.txt", "open.txt"):
            with open(os.path.join(out, f)) as fh:
                files[f] = fh.read().splitlines()
        return files

    def test_same_seed_same_inputs_other_seed_other_inputs_same_counts(self):
        a, again, b = self.inputs(7), self.inputs(7), self.inputs(8)
        self.assertEqual(a, again)
        self.assertEqual({f: len(v) for f, v in a.items()},
                         {"backlog.txt": 400, "open.txt": 100 * self.SECONDS})
        self.assertEqual({f: len(v) for f, v in a.items()}, {f: len(v) for f, v in b.items()})
        for f in a:
            self.assertNotEqual(a[f], b[f], f)
        # open-loop events carry their offset from the phase start (ms at
        # 100 events/s), which the feeder replaces with the due time
        for lines in (a["open.txt"], b["open.txt"]):
            for i, line in enumerate(lines):
                m = re.search(r'"timestamp": (\d+),', line)
                if m:
                    self.assertEqual(int(m.group(1)), 10 * i)


class RatiosCarryTheirBase(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(metrics.ratio(3, 4), {"value": 0.75, "num": 3, "den": 4})
        self.assertEqual(metrics.ratio(0, 0)["value"], 0.0)

    def test_every_ratio_metric_is_reported_with_its_base(self):
        raw = _events_raw()
        layers, bases, _, _ = metrics.per_layer(
            raw, {"pass_s": 1.0, "pass_jit_s": 0.5, "latency_p50_ms": 1.0, "latency_p99_ms": 2.0})
        from run import SPEC
        self.assertEqual({m["name"] for m in SPEC["per_layer"]}, set(layers))
        ratios = {m["name"] for m in SPEC["per_layer"] if m["unit"] == "ratio"}
        self.assertEqual(ratios, set(bases))
        for k in ratios:
            self.assertEqual(layers[k], bases[k]["value"], k)
        reads = bases["jobs.source_reads_per_event"]
        self.assertEqual((reads["num"], reads["den"]), (24, 12))


class EventOps(unittest.TestCase):
    def test_untraced_run_counts_the_drains_and_reports_no_latency(self):
        raw = _events_raw()
        del raw["openloop"]
        raw["drains"][0].update(cpu_s=2.0, jit_s=1.0, metrics_mismatched=0, metrics_rows=3,
                                state_violations=0, sequence_violations=0)
        e2e, attempted, failed, _ = metrics.events_metrics(raw)
        self.assertEqual((attempted, failed), (8, 0))
        self.assertEqual(e2e["pass_cpu_s"], 2.0)
        self.assertNotIn("latency_p50_ms", e2e)


class SpanSelfTime(unittest.TestCase):
    SPANS = [
        {"id": 1, "parent": 0, "name": "pass:0", "layer": "harness", "start_s": 0.0, "end_s": 1.0},
        {"id": 2, "parent": 1, "name": "query:a", "layer": "operators", "start_s": 0.0, "end_s": 0.6},
        {"id": 3, "parent": 2, "name": "build:a", "layer": "operators.build", "start_s": 0.0, "end_s": 0.1},
        {"id": 4, "parent": 2, "name": "exec:a", "layer": "operators.exec", "start_s": 0.1, "end_s": 0.6},
        {"id": 5, "parent": 1, "name": "query:b", "layer": "operators", "start_s": 0.6, "end_s": 0.99},
    ]

    def test_self_time_subtracts_children(self):
        s = metrics.self_times(self.SPANS)
        self.assertAlmostEqual(s["harness"], 0.01)
        self.assertAlmostEqual(s["operators"], 0.39)
        self.assertAlmostEqual(s["operators.exec"], 0.5)

    def test_reconciliation(self):
        holds, gap = metrics.reconcile(self.SPANS, 1.0, [1.0], slack_s=0.05)
        self.assertTrue(holds)
        self.assertAlmostEqual(gap, 0.01)
        self.assertFalse(metrics.reconcile(self.SPANS, 1.0, [1.0], slack_s=0.001)[0])


def _events_raw():
    prog = lambda q, rows: {"query": q, "batch": 0, "ts_ms": 1000, "rows": rows,
                            "duration_ms": {"triggerExecution": 10, "addBatch": 5},
                            "state": []}
    return {
        "drains": [{"fed": 8, "valid": 7, "errors": 1, "processor_s": 1.0,
                    "aggregation_s": 1.0, "progress": [prog("valid", 8), prog("errors", 8)]}],
        "openloop": {"fed": 4, "t0_ms": 0, "window_ms": 1000.0, "windows": 1,
                     "progress": [prog("valid", 4), prog("errors", 4)],
                     "feeder": [{"sched_ms": 0, "due_ms": 0, "sent_ms": 2, "fed": 4}],
                     "batches": []},
        "trace": {"tasks": {"run_ms": 2000}, "plans": {}, "spans": [], "window_s": 1.0,
                  "cores": 4, "codegen_compile_s": 0.0},
    }


if __name__ == "__main__":
    unittest.main()
