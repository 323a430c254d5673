#!/usr/bin/env python3
"""Compare two benchmark result files: A = parent, B = change.

Usage: bench_diff.py <fileA> <fileB> [minRatio]

Two formats are recognized:

* perfbench result lines (python3 perfbench/run.py): each file holds one
  {"correct", "attempted", "failed", "metrics"} line per run; other lines
  are ignored. Run i of A pairs with run i of B, so record the runs of
  an interleaved A/B in the same seed order on both sides. Per metric it
  prints each side's median and quartiles, the pairs B won (ties count
  for neither) and the verdict of the claim rule: B wins at least 9/10
  of the pairs AND its median is better than A's by more than A's
  interquartile range. Directions come from BENCHMARK.json.
* graft Bench JSON lines (runMain graft.Bench) or BENCH_r*.json driver
  artifacts whose "tail" field embeds (a suffix of) one: per-key ratios
  B/A sorted by |log ratio|, at least minRatio (default 1.25) apart,
  plus shared-key sums and the calibration triplets when present.
"""
import json
import math
import os
import re
import statistics
import sys


def perfbench_runs(txt):
    runs = []
    for line in txt.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            j = json.loads(line)
        except json.JSONDecodeError:
            continue
        if isinstance(j, dict) and "metrics" in j and "attempted" in j:
            runs.append(j)
    return runs


def directions():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    try:
        with open(path) as f:
            spec = json.load(f)
    except (OSError, ValueError):
        return {}
    return {m["name"]: m.get("better", "lower")
            for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def diff_perfbench(a, b):
    n = min(len(a), len(b))
    if len(a) != len(b):
        print(f"unequal run counts ({len(a)} vs {len(b)}): comparing the first {n} pairs")
    a, b = a[:n], b[:n]
    for side, runs in (("A", a), ("B", b)):
        att = sum(r["attempted"] for r in runs)
        fail = sum(r["failed"] for r in runs)
        bad = sum(1 for r in runs if not r["correct"])
        print(f"{side}: {len(runs)} runs, failed/attempted {fail}/{att}, "
              f"{bad} runs not correct")
    better = directions()
    names = [k for k in a[0]["metrics"] if all(k in r["metrics"] for r in a + b)]
    print(f"{'metric':40s} {'A median [q1, q3]':>30s} {'B median [q1, q3]':>30s} "
          f"{'B/A':>6s} {'wins':>6s}  verdict")
    for k in names:
        xa = [r["metrics"][k]["value"] for r in a]
        xb = [r["metrics"][k]["value"] for r in b]
        sign = -1.0 if better.get(k, "lower") == "higher" else 1.0
        wins = sum(1 for va, vb in zip(xa, xb) if sign * (vb - va) < 0)
        ma, mb = statistics.median(xa), statistics.median(xb)
        qa, qb = quartiles(xa), quartiles(xb)
        gain = sign * (ma - mb)  # > 0: B's median is better
        if wins * 10 >= 9 * n and gain > qa[1] - qa[0]:
            verdict = "B better (claim rule met)"
        elif sign * (mb - ma) > qa[1] - qa[0] and (n - wins) * 10 >= 9 * n:
            verdict = "B worse"
        else:
            verdict = "-"
        ratio = f"{mb / ma:6.3f}" if ma else "   n/a"
        print(f"{k:40s} {ma:10.4g} [{qa[0]:8.4g}, {qa[1]:8.4g}] "
              f"{mb:10.4g} [{qb[0]:8.4g}, {qb[1]:8.4g}] {ratio} {wins:3d}/{n:<2d}  {verdict}")


def load_bench(txt):
    try:
        j = json.loads(txt)
        if isinstance(j, dict) and "tail" in j:
            txt = j["tail"]
    except json.JSONDecodeError:
        pass
    # grab calibration, then CUT it off — its keys repeat queries keys
    cal = None
    mc = re.search(r'"calibration":(\{.*?\}\})', txt)
    if mc:
        cal = json.loads(mc[1])
        txt = txt[:mc.start()]
    # find the queries map (may be truncated at the front in artifacts)
    m = re.search(r'"queries":\{', txt)
    frag = txt[m.end():] if m else txt
    qs = {}
    # full float pattern: [0-9.]+ alone would truncate 9.1e-05 to 9.1
    for k, v in re.findall(
            r'"([A-Za-z0-9_]+)":(-?[0-9.]+(?:[eE][+-]?[0-9]+)?)', frag):
        if k not in ("value", "sf", "n", "rc", "cpus", "mult"):
            qs[k] = float(v)
    return qs, cal


def diff_bench(ta, tb, min_ratio):
    a, calA = load_bench(ta)
    b, calB = load_bench(tb)
    shared = sorted(set(a) & set(b))
    sa = sum(a[k] for k in shared)
    sb = sum(b[k] for k in shared)
    print(f"shared keys: {len(shared)}  sumA={sa:.1f}s  sumB={sb:.1f}s  "
          f"ratio={sb / sa:.2f}")
    if calA and calB:
        print(f"calA={calA}  calB={calB}")
    rows = [(k, a[k], b[k], b[k] / max(a[k], 1e-9)) for k in shared]
    rows.sort(key=lambda r: -abs(math.log(max(r[3], 1e-9))))
    for k, va, vb, r in rows:
        if r >= min_ratio or r <= 1 / min_ratio:
            print(f"{k:28s} {va:7.3f} -> {vb:7.3f}  {r:5.2f}x")


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    with open(sys.argv[1]) as f:
        ta = f.read()
    with open(sys.argv[2]) as f:
        tb = f.read()
    ra, rb = perfbench_runs(ta), perfbench_runs(tb)
    if ra and rb:
        diff_perfbench(ra, rb)
    else:
        diff_bench(ta, tb, float(sys.argv[3]) if len(sys.argv) > 3 else 1.25)


if __name__ == "__main__":
    main()
