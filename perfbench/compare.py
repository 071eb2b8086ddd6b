#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

Usage: python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds one file per run under a subdirectory named after
its workload (DIR/<workload>/<any name>), each file ending with the JSON
line perfbench/run.py prints.  Runs are paired in file-name order, so
name them by run index and alternate which side runs first.

For every (end-to-end metric, workload) pair the verdict is, by the rule
in the choosing-metrics guide (section 8) and BENCHMARK.json's bounds:
  improved    the change wins at least 9 in 10 of at least 10 pairs, and
              the medians differ by more than the parent's quartile spread
  worse       the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  the runs' own quartile spread (as a share of the median) is
              wider than the bound, and not every change run reads better
              than every parent run
  unchanged   otherwise
Traced runs (per-layer metrics) are not judged; their exact counts are
listed where the two sides differ.  Exits 1 if any verdict is "worse".
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MIN_PAIRS = 10
WIN_SHARE = 0.9


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def verdict(parent, change, better, bound):
    """Verdict for one metric on one workload; values paired by index."""
    lower = better == "lower"
    pm, cm = statistics.median(parent), statistics.median(change)
    worse_by = (cm - pm) / pm if lower else (pm - cm) / pm
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
    if (len(pairs) >= MIN_PAIRS and wins >= WIN_SHARE * len(pairs)
            and abs(cm - pm) > iqr(parent)):
        return "improved"
    if worse_by > bound:
        return "worse"
    all_better = max(change) < min(parent) if lower else min(change) > max(parent)
    spread = max(iqr(parent) / pm, iqr(change) / cm)
    if spread > bound and not all_better:
        return "unresolved"
    return "unchanged"


def load(run_dir):
    """{workload: [metrics dict per run]} in file-name order."""
    out = {}
    for wdir in sorted(p for p in Path(run_dir).iterdir() if p.is_dir()):
        runs = []
        for f in sorted(p for p in wdir.iterdir() if p.is_file()):
            lines = f.read_text().strip().splitlines()
            if lines:
                runs.append(json.loads(lines[-1])["metrics"])
        out[wdir.name] = runs
    return out


def compare(parent, change, spec):
    """Rows (workload, metric, parent median, change median, verdict) for
    end-to-end metrics, and (workload, metric, parent, change) for the
    per-layer counts that differ."""
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    counts = [m["name"] for m in spec["per_layer"] if m["unit"] in ("count", "MB")]
    rows, deltas = [], []
    for w in sorted(set(parent) & set(change)):
        def values(side, name):
            return [r[name]["value"] for r in side[w] if name in r]
        for name, m in e2e.items():
            p, c = values(parent, name), values(change, name)
            if p and c:
                rows.append((w, name, statistics.median(p), statistics.median(c),
                             verdict(p, c, m["better"], m["bound"])))
        for name in counts:
            p, c = values(parent, name), values(change, name)
            if p and c and statistics.median(p) != statistics.median(c):
                deltas.append((w, name, statistics.median(p), statistics.median(c)))
    return rows, deltas


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    rows, deltas = compare(load(sys.argv[1]), load(sys.argv[2]), spec)
    print(f"{'workload':<10} {'metric':<14} {'parent':>12} {'change':>12} {'delta':>8}  verdict")
    for w, name, p, c, v in rows:
        print(f"{w:<10} {name:<14} {p:12.4f} {c:12.4f} {100 * (c - p) / p:+7.1f}%  {v}")
    if deltas:
        print("\nper-layer counts that differ (traced runs, medians):")
        for w, name, p, c in deltas:
            print(f"{w:<10} {name:<26} {p:14.3f} -> {c:14.3f}  ({c - p:+.3f})")
    sys.exit(1 if any(r[4] == "worse" for r in rows) else 0)


if __name__ == "__main__":
    main()
