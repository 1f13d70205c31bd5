"""Unit tests of the benchmark's own metric math.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import benchlib as B  # noqa: E402


class PercentileSelection(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(B.tail_percentile(10, 99))
        self.assertIsNone(B.tail_percentile(19, 99))
        self.assertEqual(B.tail_percentile(20, 99), 50)
        self.assertEqual(B.tail_percentile(100, 99), 90)
        self.assertEqual(B.tail_percentile(200, 99), 95)
        self.assertEqual(B.tail_percentile(1000, 99), 99)

    def test_capped(self):
        self.assertEqual(B.tail_percentile(100000, 99), 99)
        self.assertEqual(B.tail_percentile(1000, 90), 90)

    def test_chosen_percentile_leaves_ten_beyond(self):
        for n in range(20, 400):
            p = B.tail_percentile(n, 99)
            xs = list(range(n))
            v = B.percentile(xs, p)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)

    def test_summary(self):
        s = B.summary(list(range(1, 101)), 99)
        self.assertEqual((s["n"], s["p50"], s["tail_percentile"], s["tail"]), (100, 50, 90, 90))
        s = B.summary([3, 1, 2], 99)
        self.assertEqual((s["tail_percentile"], s["tail"]), (100.0, 3))

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(B.percentile(xs, 50), 3)
        self.assertEqual(B.percentile(xs, 100), 5)
        self.assertEqual(B.percentile(xs, 1), 1)


def synthetic_live(n=12):
    """Four blocks per second from t=1000 ms, one block per batch; a
    batch starts 50 ms before its block is due and takes 200 ms; block
    b has 1 + b % 3 events. Batch 4 stalls for 900 ms, so the next
    batches run late and catch up 50 ms per batch."""
    live = {"t_live_ms": 1000.0, "b_first": 100, "b_last": 100 + n - 1, "rate": 4.0,
            "block_events": [1 + b % 3 for b in range(100, 100 + n)], "progress": []}
    t = 900.0
    for i, b in enumerate(range(100, 100 + n)):
        due = 1000.0 + (b - 100) * 250.0
        start = max(t, due - 50.0)
        dur = 200.0 if i != 4 else 900.0
        live["progress"].append({"batch": i, "ts_ms": start, "start_block": b - 1,
                                 "end_block": b, "durations": {"triggerExecution": dur}})
        t = start + dur
    return live


class ListenerMath(unittest.TestCase):
    def test_latency_from_due_time_to_batch_end(self):
        live = synthetic_live()
        lat = B.event_latencies(live)
        self.assertEqual(len(lat), sum(live["block_events"]))
        by_block = {}
        i = 0
        for b, n in zip(range(100, 112), live["block_events"]):
            by_block[b] = lat[i]
            self.assertEqual(set(lat[i:i + n]), {lat[i]})
            i += n
        # steady blocks commit 150 ms after they are due
        self.assertEqual([by_block[b] for b in range(100, 104)], [150.0] * 4)
        # the stall, then 50 ms caught up per batch
        self.assertEqual([by_block[b] for b in range(104, 112)],
                         [850.0, 800.0, 750.0, 700.0, 650.0, 600.0, 550.0, 500.0])

    def test_warm_up_blocks_are_not_measured(self):
        live = synthetic_live()
        live["b_measured"] = 104
        self.assertEqual(len(B.event_latencies(live)), sum(live["block_events"][4:]))
        self.assertEqual(max(B.event_latencies(live)), 850.0)
        self.assertEqual(B.backlog_series(live), [0, 3, 3, 3, 2, 2, 2, 1])

    def test_backlog(self):
        live = synthetic_live()
        s = B.backlog_series(live)
        # batch 5 starts at 2850: blocks up to 107 are due, 104 committed
        self.assertEqual(s, [0, 0, 0, 0, 0, 3, 3, 3, 2, 2, 2, 1])

    def test_backlog_growth(self):
        self.assertEqual(B.backlog_growth([0, 0, 0, 0, 0, 0, 0, 0]), 0.0)
        self.assertEqual(B.backlog_growth([0, 0, 2, 4, 6, 8, 10, 12]), 11.0)

    def test_growing_backlog_is_seen(self):
        live = synthetic_live(n=40)
        for p in live["progress"]:
            p["durations"]["triggerExecution"] = 400.0
        t = 1000.0
        for p in live["progress"]:
            p["ts_ms"] = t
            t += 400.0
        self.assertGreater(B.backlog_growth(B.backlog_series(live)), 1.0)


class FailedLivePhase(unittest.TestCase):
    """A live phase that committed no measured batch yields no latency
    and no crash, and the run is counted as failed."""

    def compute(self, failures):
        import metrics as M
        raw = {"meta": {"nproc": 4}, "attempted": 2, "failed": len(failures),
               "failures": failures, "peak_rss_mb": 1.0,
               "backfill": {"events": 10, "wall_s": 1.0, "batches": 1, "blocks": 4},
               "live": dict(synthetic_live(), progress=[])}
        return M.compute("listen", raw, {"seed": 1, "classes": "b/classes-0"})

    def test_thrown_live_phase(self):
        report, e2e, _ = self.compute([{"name": "live", "error": "boom"}])
        self.assertNotIn("latency_ms", e2e)
        self.assertIn("throughput_per_s", e2e)
        self.assertEqual(report["failed"], 1)
        self.assertEqual(B.summary([], 99)["n"], 0)

    def test_silent_empty_live_phase_is_wrong(self):
        report, e2e, _ = self.compute([])
        self.assertNotIn("latency_ms", e2e)
        self.assertEqual([f["name"] for f in report["failures"]], ["live"])


class Sampling(unittest.TestCase):
    keys = {f"q_{i:03d}": i / 10 for i in range(200)}
    keys.update({f"s_{i:02d}": 1 + i / 10 for i in range(20)})

    def test_seeded_and_stratified(self):
        a = B.stratified_sample(self.keys, 0.1, 7)
        self.assertEqual(a, B.stratified_sample(self.keys, 0.1, 7))
        self.assertNotEqual(a, B.stratified_sample(self.keys, 0.1, 8))
        self.assertEqual(sum(k.startswith("q_") for k in a), 20)
        self.assertEqual(sum(k.startswith("s_") for k in a), 2)
        # one key per cost bin: the slowest tenth of q_ keys is represented once
        self.assertEqual(sum(1 for k in a if k.startswith("q_") and self.keys[k] >= 19), 1)


class Spans(unittest.TestCase):
    def test_self_time(self):
        spans = [{"id": 0, "parent": -1, "start_ms": 0.0, "end_ms": 100.0},
                 {"id": 1, "parent": 0, "start_ms": 10.0, "end_ms": 40.0},
                 {"id": 2, "parent": 0, "start_ms": 30.0, "end_ms": 60.0},
                 {"id": 3, "parent": 1, "start_ms": 10.0, "end_ms": 20.0}]
        self.assertEqual(B.self_ms(spans[0], spans), 50.0)
        self.assertEqual(B.self_ms(spans[1], spans), 20.0)
        self.assertEqual(B.subtree(spans, 1), {1, 3})


class Spec(unittest.TestCase):
    def test_benchmark_json_matches_contract(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual(set(spec), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(max(m["bound"] for m in spec["end_to_end"]), setup["bound"])


if __name__ == "__main__":
    unittest.main()


class HarnessSelfTest(unittest.TestCase):
    """Builds the harness (as a benchmark run does) and runs its JVM
    self-test: digest order-insensitivity and the reference graph
    algorithms. Run from the root of a graft checkout."""

    def test_jvm_selftest(self):
        import shutil
        import run
        root = os.getcwd()
        jars = run.spark_jars()
        classes, _ = run.build(root, jars)
        work = os.path.join(root, ".bench_build", "work", f"selftest-{os.getpid()}")
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        out = os.path.join(work, "raw.json")
        try:
            rc = run.jvm(classes, jars, work, {"workload": "selftest", "cpus": 2,
                                               "work": work, "out": out})
            with open(out) as fh:
                raw = json.load(fh)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(raw["failures"], [])
        self.assertEqual(raw["attempted"], 9)
        self.assertEqual(rc, 0)
