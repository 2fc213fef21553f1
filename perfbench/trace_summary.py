#!/usr/bin/env python3
"""Summarize traced benchmark runs.

    python3 perfbench/trace_summary.py [--workload W] [--seed N]

Reads the traced (``-t1``) and untraced (``-t0``) records that
``perfbench/run.py`` keeps under ``.perfbench/results/`` and prints, per
workload and seed:

* every per-layer metric of the traced run;
* each span name's total and self time (its duration minus the part of
  it that its child spans cover) and count;
* the tracing overhead: traced against untraced wall time of the cold
  first pass (the same op list on both), and of the mean warm op.
"""
import argparse
import collections
import glob
import json
import os
import statistics

RESULTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".perfbench", "results")


def self_times(spans):
    children = collections.defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            children[s["parent"]].append((s["start_ns"], s["end_ns"]))
    total = collections.Counter()
    selft = collections.Counter()
    count = collections.Counter()
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        covered, cur_end = 0, None
        for a, b in sorted(children[s["id"]]):
            if cur_end is None or a > cur_end:
                covered += b - a
                cur_end = b
            elif b > cur_end:
                covered += b - cur_end
                cur_end = b
        total[s["name"]] += dur
        selft[s["name"]] += dur - covered
        count[s["name"]] += 1
    return total, selft, count


def warm_mean(rec):
    lat = [o["latency_s"] for o in rec["result"]["ops"] if o["pass"] > 0]
    return statistics.mean(lat) if lat else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    a = ap.parse_args()
    pattern = f"{a.workload or '*'}-s{a.seed if a.seed is not None else '*'}-t1.json"
    files = sorted(glob.glob(os.path.join(RESULTS, pattern)))
    if not files:
        raise SystemExit(f"no traced runs in {RESULTS} (run.py --trace 1 first)")
    for path in files:
        rec = json.load(open(path))
        print(f"== {rec['workload']} seed {rec['seed']} ({rec['cpus']} cpus, "
              f"{rec['attempted']} ops, {rec['failed']} failed)")
        print("  per-layer metrics:")
        for k, v in rec["result"]["layer"].items():
            print(f"    {k:30s} {v:.6g}")
        spans = [json.loads(l) for l in open(path.replace(".json", ".spans.jsonl"))]
        total, selft, count = self_times(spans)
        print(f"  {'span':18s} {'count':>7s} {'total_s':>10s} {'self_s':>10s}")
        for name in sorted(total, key=lambda n: -selft[n]):
            print(f"  {name:18s} {count[name]:7d} {total[name] / 1e9:10.3f} {selft[name] / 1e9:10.3f}")
        untraced = path.replace("-t1.json", "-t0.json")
        if os.path.exists(untraced):
            u = json.load(open(untraced))
            tf, uf = rec["result"]["first_pass_s"], u["result"]["first_pass_s"]
            tw, uw = warm_mean(rec), warm_mean(u)
            print(f"  tracing overhead: first pass {tf:.3f} s traced vs {uf:.3f} s untraced "
                  f"({100 * (tf / uf - 1):+.1f}%); mean warm op {tw:.4f} s vs {uw:.4f} s "
                  f"({100 * (tw / uw - 1):+.1f}%)")
        else:
            print("  tracing overhead: no untraced run with this seed to compare against")
        print()


if __name__ == "__main__":
    main()
