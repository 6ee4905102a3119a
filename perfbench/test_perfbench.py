#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic.

    python3 perfbench/test_perfbench.py          # all, including one small JVM run
    PERFBENCH_FAST=1 python3 perfbench/test_perfbench.py   # Python-only tests

The JVM test builds the program if needed and runs a three-entry workload at
sf 0.001: one injected throwing entry, one name the registry lacks and one
real entry, and checks the failure count and the printed metric names.
"""
import hashlib
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fixture  # noqa: E402
import run  # noqa: E402


def fake_result(n_pass=2, error_at=None, trace=False):
    """A driver result with `n_pass` passes of three entries."""
    layers = {"build.jobs": 1.0, "run.jobs": 2.0, "batches": [
        {"query": "q", "batch_id": 0, "start_ms": 1100, "rows": 5,
         "duration_ms": {"triggerExecution": 300, "addBatch": 200}, "state_rows": 4,
         "state_memory_bytes": 1000, "state_commit_ms": 3, "dropped_late": 1},
        {"query": "q", "batch_id": 1, "start_ms": 1500, "rows": 0,
         "duration_ms": {"triggerExecution": 100, "addBatch": 50}, "state_rows": 6,
         "state_memory_bytes": 900, "state_commit_ms": 2, "dropped_late": 0}]}
    passes = []
    for i in range(n_pass):
        entries = []
        for j in range(3):
            e = {"name": f"e{j}", "build_s": 0.5 + j, "run_s": 0.25, "cpu_s": 1.0,
                 "gc_s": 0.1, "start_ms": 1000, "end_ms": 2000,
                 "error": "boom" if (i, j) == error_at else None}
            if trace:
                e["layers"] = layers
            entries.append(e)
        passes.append({"wall_s": sum(e["build_s"] + e["run_s"] for e in entries),
                       "cpu_s": 3.0, "entries": entries})
    staging = [{"name": "dedup_staging", "wall_s": 2.0, "error": None,
                "layers": {"staging.jobs": 7.0, "write.bytes": 100.0, "batches": []}}]
    return {"setup_end_ms": 0, "setup_again_s": [1.0, 1.2], "staging": staging,
            "check": [], "passes": passes, "peak_rss_kb": 2048.0}


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(run.percentile(range(1, 100), 90))    # 9 beyond
        self.assertEqual(run.percentile(range(1, 101), 90), 90)  # 10 beyond
        self.assertEqual(run.percentile(range(1, 201), 90), 180)

    def test_nearest_rank(self):
        self.assertEqual(run.percentile(range(1, 21), 50), 10)

    def test_empty(self):
        self.assertIsNone(run.percentile([], 50))


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_order(self):
        entries = [f"e{i}" for i in range(8)]
        self.assertEqual(run.pass_orders(entries, 7, 5), run.pass_orders(entries, 7, 5))
        self.assertNotEqual(run.pass_orders(entries, 7, 5), run.pass_orders(entries, 8, 5))
        for order in run.pass_orders(entries, 7, 5):
            self.assertEqual(sorted(order), sorted(entries))

    def test_same_seed_same_fixture(self):
        def digest(seed):
            h = hashlib.sha256()
            for name, t in fixture.tables(seed, 0.001):
                h.update(name.encode())
                h.update(repr(t.to_pylist()).encode())
            return h.hexdigest()
        self.assertEqual(digest(3), digest(3))
        self.assertNotEqual(digest(3), digest(4))


class Accounting(unittest.TestCase):
    def test_failed_sample_is_not_a_timed_success(self):
        r = fake_result(n_pass=1, error_at=(0, 2))
        m = run.end_to_end(r, [5.0, 1.0, 1.2])
        self.assertEqual(m["entry_p50_s"], 1.25)  # median of the two successes
        self.assertEqual(m["setup_s"], 1.2)

    def test_metric_names_match_benchmark_json(self):
        _, bench = run.load_spec()
        e2e = run.end_to_end(fake_result(), [5.0, 1.0, 1.2])
        self.assertEqual(sorted(e2e), sorted(m["name"] for m in bench["end_to_end"]))
        layers = run.per_layer(fake_result(trace=True), 3)
        layers["setup.cold_s"] = 5.0  # set by execute() from the launch time
        self.assertEqual(sorted(layers), sorted(m["name"] for m in bench["per_layer"]))

    def test_drain_census(self):
        m = run.per_layer(fake_result(n_pass=2, trace=True), 0)
        # per pass: three entries, each with the same two batches
        self.assertEqual(m["drain.batches"], 6)
        self.assertEqual(m["drain.empty_batches"], 3)
        self.assertEqual(m["batch.trigger_ms"], 1200)
        self.assertEqual(m["state.rows"], 18)       # last batch of the query, per entry
        self.assertAlmostEqual(m["drain.pre_batch_s"], 0.3)
        self.assertAlmostEqual(m["drain.serve_s"], 3 * 0.4)
        self.assertEqual(m["staging.jobs"], 7)


@unittest.skipIf(os.environ.get("PERFBENCH_FAST"), "PERFBENCH_FAST set")
class InjectedFailure(unittest.TestCase):
    def test_throwing_and_missing_entries_count_as_failed(self):
        _, bench = run.load_spec()
        spec = {"warm": ["events"], "pass_s": 1.0,
                "entries": ["perfbench_injected_failure", "perfbench_no_such_entry",
                            "p4_null_filter"]}
        out = run.execute("selftest", spec, bench, seed=1, seconds=0, trace=False, sf=0.001)
        # each entry runs once in the check pass and once in the timed pass
        self.assertEqual(out["attempted"], 6)
        self.assertEqual(out["failed"], 4)
        self.assertFalse(out["correct"])
        self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()},
                         {m["name"]: m["unit"] for m in bench["end_to_end"]})
        json.dumps(out)


if __name__ == "__main__":
    unittest.main(verbosity=2)
