#!/usr/bin/env python3
"""Self-test of the benchmark's correctness gates.

    python3 perfbench/selftest.py

Plants a wrong result row in a query op (``query_mix``) and a duplicate
natural key in the staging store (``etl_nightly``). Each must count as a
failed op and make ``run.py`` exit non-zero. Exits non-zero if a gate
let its planted fault through.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CASES = [("query_mix", "wrong_row"), ("etl_nightly", "dup_key")]


def main():
    missed = 0
    for workload, plant in CASES:
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
             "--seconds", "1", "--trace", "0", "--plant", plant],
            cwd=ROOT, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
        caught = out.returncode != 0 and res.get("failed", 0) > 0 and not res.get("correct", True)
        print(f"{workload} with planted {plant}: exit {out.returncode}, "
              f"failed {res.get('failed')}/{res.get('attempted')} -> "
              f"{'caught' if caught else 'MISSED'}")
        missed += not caught
    sys.exit(1 if missed else 0)


if __name__ == "__main__":
    main()
