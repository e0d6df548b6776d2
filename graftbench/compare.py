#!/usr/bin/env python3
"""Compare two sets of benchmark results, metric by metric.

    python3 graftbench/compare.py BASE NEW

BASE and NEW each hold result lines of one workload, one JSON object per
line: the last line run.py prints, collected over several runs. Every
end-to-end metric of BENCHMARK.json is compared by its median against
the metric's bound. An unreadable, unparseable or incomplete file is an
error (exit 1), never a silent "no previous result". Exit 3 when a
metric got worse by more than its bound, else 0.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def die(msg):
    print(f"compare: {msg}", file=sys.stderr)
    sys.exit(1)


def load(path, names):
    try:
        with open(path) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
    except OSError as e:
        die(f"cannot read {path}: {e}")
    if not lines:
        die(f"{path} holds no results")
    values = {n: [] for n in names}
    for i, line in enumerate(lines, 1):
        try:
            r = json.loads(line)
        except json.JSONDecodeError as e:
            die(f"{path}:{i} is not JSON: {e}")
        if not isinstance(r, dict) or set(r) != {"correct", "attempted", "failed", "metrics"}:
            die(f"{path}:{i} is not a result object")
        missing = [n for n in names if n not in r["metrics"]]
        if missing:
            die(f"{path}:{i} lacks metrics {missing}")
        if not r["correct"] or r["failed"]:
            die(f"{path}:{i} records failed operations ({r['failed']} of {r['attempted']})")
        for n in names:
            v = r["metrics"][n].get("value")
            if not isinstance(v, (int, float)):
                die(f"{path}:{i} metric {n} has no numeric value")
            values[n].append(float(v))
    return values


def main():
    if len(sys.argv) != 3:
        die("usage: compare.py BASE NEW")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["end_to_end"]
    names = [m["name"] for m in spec]
    base, new = (load(p, names) for p in sys.argv[1:])
    worse = []
    print(f"{'metric':<14} {'base':>12} {'new':>12} {'change':>8} {'bound':>6}")
    for m in spec:
        b, n = statistics.median(base[m["name"]]), statistics.median(new[m["name"]])
        change = (n - b) / b if b else float("inf")
        bad = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
        if bad:
            worse.append(m["name"])
        print(f"{m['name']:<14} {b:>12.4g} {n:>12.4g} {change:>+8.1%} {m['bound']:>6}"
              f"{'  WORSE' if bad else ''}")
    sys.exit(3 if worse else 0)


if __name__ == "__main__":
    main()
