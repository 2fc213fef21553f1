#!/usr/bin/env python3
"""Parent-versus-change comparison of benchmark runs.

Run pairs (each pair uses one seed on both sides and alternates which
side runs first), then judge every end-to-end metric per workload:

    python3 perfbench/compare.py run --parent <checkout> --change <checkout> \
        [--workload W ...] [--pairs 10] [--first-seed 1000] [--out DIR]

or judge runs already recorded (one JSON object per line, as ``run``
writes them: ``{"workload", "seed", "side", "metrics"}``):

    python3 perfbench/compare.py judge <runs.jsonl>

For each workload and metric it prints both sides' medians and
quartiles, the pairs the change won, and a verdict:

* ``gain``: the change wins at least 9/10 of the pairs (ties count for
  neither) and the medians differ by more than the parent's own spread
  (the distance between its quartiles);
* ``regression``: the change's median is worse than the parent's by
  more than the metric's bound in BENCHMARK.json;
* ``unresolved``: the parent's spread is wider than the bound, unless
  every change run reads better than every parent run;
* ``within bound`` otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

SPEC = json.load(open(os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "BENCHMARK.json")))


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def judge(runs):
    metrics = {m["name"]: m for m in SPEC["end_to_end"]}
    for wl in sorted({r["workload"] for r in runs}):
        print(f"== {wl}")
        print(f"  {'metric':16s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s} "
              f"{'wins':>7s}  verdict")
        side = {s: {r["seed"]: r["metrics"] for r in runs
                    if r["workload"] == wl and r["side"] == s} for s in ("parent", "change")}
        seeds = sorted(set(side["parent"]) & set(side["change"]))
        for name, m in metrics.items():
            p = [side["parent"][s][name]["value"] for s in seeds if name in side["parent"][s]]
            c = [side["change"][s][name]["value"] for s in seeds if name in side["change"][s]]
            if not p or len(p) != len(c):
                print(f"  {name:16s} missing in some runs")
                continue
            lower = m["better"] == "lower"
            better = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
            wins = sum(1 for a, b in zip(c, p) if better(a, b))
            pq, cq = quartiles(p), quartiles(c)
            spread = (pq[2] - pq[0]) / pq[1] if pq[1] else float("inf")
            worse = (cq[1] - pq[1]) / pq[1] if lower else (pq[1] - cq[1]) / pq[1]
            all_better = all(better(a, b) for a in c for b in p)
            if wins >= 0.9 * len(p) and worse < 0 and abs(cq[1] - pq[1]) > pq[2] - pq[0]:
                verdict = "gain"
            elif worse > m["bound"]:
                verdict = f"regression ({100 * worse:+.1f}% > {100 * m['bound']:.0f}%)"
            elif spread > m["bound"] and not all_better:
                verdict = f"unresolved (parent spread {100 * spread:.1f}% > bound)"
            else:
                verdict = "within bound"
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            print(f"  {name:16s} {fmt(pq):>30s} {fmt(cq):>30s} {wins:3d}/{len(p):<3d}  {verdict}")
        print()


def run_once(checkout, workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"run failed in {checkout} ({workload}, seed {seed})")
    return json.loads(lines[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", action="append")
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1000)
    r.add_argument("--out", default=".perfbench/compare")
    j = sub.add_parser("judge")
    j.add_argument("runs")
    a = ap.parse_args()
    if a.cmd == "judge":
        judge([json.loads(l) for l in open(a.runs) if l.strip()])
        return
    os.makedirs(a.out, exist_ok=True)
    path = os.path.join(a.out, "runs.jsonl")
    runs = []
    with open(path, "a") as log:
        for wl in a.workload or [w["name"] for w in SPEC["workloads"]]:
            for i in range(a.pairs):
                seed = a.first_seed + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for s in order:
                    rec = {"workload": wl, "seed": seed, "side": s,
                           "metrics": run_once(getattr(a, s), wl, seed, SPEC["run_seconds"])}
                    runs.append(rec)
                    log.write(json.dumps(rec) + "\n")
                    log.flush()
    judge(runs)


if __name__ == "__main__":
    main()
