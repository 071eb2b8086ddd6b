"""Tests for the compare tool's verdict logic.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import tempfile
import unittest
from pathlib import Path

from compare import compare, load, verdict

BASE = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.1, 9.9]


class VerdictTest(unittest.TestCase):
    def test_same_runs_are_unchanged(self):
        self.assertEqual(verdict(BASE, list(BASE), "lower", 0.1), "unchanged")

    def test_consistent_win_beyond_the_spread_is_improved(self):
        self.assertEqual(verdict(BASE, [x * 0.8 for x in BASE], "lower", 0.1), "improved")

    def test_higher_is_better_flips_the_direction(self):
        self.assertEqual(verdict(BASE, [x * 1.2 for x in BASE], "higher", 0.1), "improved")
        self.assertEqual(verdict(BASE, [x * 0.8 for x in BASE], "higher", 0.1), "worse")

    def test_worse_beyond_the_bound_is_worse(self):
        self.assertEqual(verdict(BASE, [x * 1.2 for x in BASE], "lower", 0.1), "worse")

    def test_worse_within_the_bound_is_unchanged(self):
        self.assertEqual(verdict(BASE, [x * 1.05 for x in BASE], "lower", 0.1), "unchanged")

    def test_fewer_than_ten_pairs_cannot_claim_a_gain(self):
        self.assertEqual(verdict(BASE[:9], [x * 0.8 for x in BASE[:9]], "lower", 0.1),
                         "unchanged")

    def test_eight_wins_in_ten_is_not_enough(self):
        change = [x * 0.8 for x in BASE[:8]] + [x * 1.01 for x in BASE[8:]]
        self.assertEqual(verdict(BASE, change, "lower", 0.3), "unchanged")

    def test_win_inside_the_parent_spread_is_not_improved(self):
        parent = [5.0, 15.0] * 5
        change = [x - 0.1 for x in parent]
        self.assertEqual(verdict(parent, change, "lower", 2.0), "unchanged")

    def test_spread_wider_than_the_bound_is_unresolved(self):
        noisy = [6.0, 14.0, 8.0, 12.0, 10.0, 7.0, 13.0, 9.0, 11.0, 10.0]
        self.assertEqual(verdict(noisy, list(reversed(noisy)), "lower", 0.1), "unresolved")

    def test_wide_spread_but_every_change_run_better_is_not_unresolved(self):
        parent = [20.0, 30.0, 25.0, 28.0, 22.0]
        change = [10.0, 15.0, 12.0, 18.0, 11.0]
        self.assertEqual(verdict(parent, change, "lower", 0.1), "unchanged")


class CompareTest(unittest.TestCase):
    SPEC = {"end_to_end": [{"name": "warm_s", "unit": "s", "better": "lower", "bound": 0.1}],
            "per_layer": [{"name": "exec.tasks", "unit": "count", "better": "lower"},
                          {"name": "exec.run_ms", "unit": "ms", "better": "lower"}]}

    def write_runs(self, root, workload, runs):
        d = Path(root) / workload
        d.mkdir(parents=True)
        for i, metrics in enumerate(runs):
            line = {"correct": True, "attempted": 1, "failed": 0,
                    "metrics": {k: {"value": v, "unit": "x"} for k, v in metrics.items()}}
            (d / f"run{i:02d}.json").write_text("log line\n" + json.dumps(line) + "\n")

    def test_rows_per_workload_and_count_deltas(self):
        with tempfile.TemporaryDirectory() as parent, tempfile.TemporaryDirectory() as change:
            self.write_runs(parent, "search", [{"warm_s": x} for x in BASE])
            self.write_runs(change, "search", [{"warm_s": x * 1.5} for x in BASE])
            self.write_runs(parent, "search-trace", [{"exec.tasks": 40, "exec.run_ms": 9.0}])
            self.write_runs(change, "search-trace", [{"exec.tasks": 36, "exec.run_ms": 7.0}])
            rows, deltas = compare(load(parent), load(change), self.SPEC)
        self.assertEqual([(r[0], r[1], r[4]) for r in rows], [("search", "warm_s", "worse")])
        self.assertEqual(deltas, [("search-trace", "exec.tasks", 40, 36)])


if __name__ == "__main__":
    unittest.main()
