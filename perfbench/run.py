#!/usr/bin/env python3
"""The repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and
the harness from source (sbt, offline) into ``.perfbench/``; inputs are
generated from the seed; the harness runs the workload in one JVM on
``local[cpus]`` (``$SPARK_GRAFT_CPUS``, default: all cores); every op's
output is checked. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The
exit code is non-zero when any op failed or any output was wrong.
"""
import argparse
import fcntl
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

# Why each workload exists: see README.md. Query ids are the engine's
# SparkEntry names without their suffix.
WORKLOADS = {
    "etl_nightly": {"kind": "etl"},
    "query_mix": {"kind": "warehouse", "sf": 0.01, "queries": [
        "q3", "q148", "q156", "q24", "q48", "q228", "q187"]},
}
NIGHTS = 40           # nightly increments generated; a run uses the first few
PASSES = 400          # warm passes listed in the order file
JVM_TIMEOUT_S = 150
# The heap is fixed and pre-touched, so peak_rss_mb reads that heap plus
# native memory instead of the collector's sizing choices; heap pressure
# shows in jvm.gc_s.
HEAP = "2g"


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        if os.path.isfile(base):
            h.update(open(base, "rb").read())
        for dirpath, dirnames, files in sorted(os.walk(base)):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")):
                    p = os.path.join(dirpath, f)
                    h.update(p[len(ROOT):].encode())
                    h.update(open(p, "rb").read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    cp_file, stamp_file = os.path.join(STATE, "classpath"), os.path.join(STATE, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    home = os.path.expanduser("~")
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the Spark installation whose jars the engine builds against
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("spark-submit") or "")))
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home,
               SBT_OPTS=" ".join([
                   "-Dsbt.override.build.repos=true",
                   f"-Dsbt.repository.config={home}/.sbt/repositories",
                   "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
                   f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed")
    open(cp_file, "w").write(cps[-1])
    open(stamp_file, "w").write(stamp)
    return cps[-1]


def inputs(workload, seed):
    """Generated inputs for (workload kind, seed), cached by that key."""
    import gen
    spec = WORKLOADS[workload]
    key = f"etl-s{seed}" if spec["kind"] == "etl" else f"wh{spec['sf']}-s{seed}"
    d = os.path.join(STATE, "data", key)
    meta = os.path.join(d, "meta.json")
    if not os.path.exists(meta):
        # keep one seed per kind: regenerating is cheaper than the disk
        for old in os.listdir(os.path.dirname(d)) if os.path.isdir(os.path.dirname(d)) else []:
            if old.split("-s")[0] == key.split("-s")[0]:
                shutil.rmtree(os.path.join(os.path.dirname(d), old), ignore_errors=True)
        info = gen.etl(os.path.join(d, "etl"), seed, NIGHTS) if spec["kind"] == "etl" \
            else (gen.warehouse(d, seed, spec["sf"]) or {})
        info["input_bytes"] = sum(
            os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d) for f in fs
            if os.path.basename(p) != "nightly")
        json.dump(info, open(meta, "w"))
    return d, json.load(open(meta))


def order_file(workload, seed, path):
    spec = WORKLOADS[workload]
    rng = random.Random(seed)
    with open(path, "w") as f:
        if spec["kind"] == "etl":
            f.write("0\thistory\n")
            for k in range(NIGHTS):
                f.write(f"{k + 1}\t{k:04d}\n")
            return
        for p in range(PASSES + 1):
            qs = list(spec["queries"])
            rng.shuffle(qs)
            for q in qs:
                f.write(f"{p}\t{q}\n")


def tail(lat):
    """(value, percentile, samples beyond): the highest percentile with at
    least 10 samples beyond it; below 20 samples that would fall under
    the median, so the maximum stands in for it."""
    s = sorted(lat)
    n = len(s)
    if n < 20:
        return s[-1], 100.0, 0
    return s[n - 11], 100.0 * (n - 10) / n, 10


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", choices=("wrong_row", "dup_key"), default="",
                    help="self-test: corrupt one op's output")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("engine sources not found: run from the root of a full checkout")
    spec = WORKLOADS[a.workload]
    declared = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    end_to_end = [(m["name"], m["unit"]) for m in declared["end_to_end"]]
    layer_unit = {m["name"]: m["unit"] for m in declared["per_layer"]}
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)

    # one run at a time per checkout: runs share the build and state dirs
    os.makedirs(STATE, exist_ok=True)
    lock = open(os.path.join(STATE, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    cp = build()
    data, meta = inputs(a.workload, a.seed)
    work = os.path.join(STATE, "run")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "ckpt"):
        os.makedirs(os.path.join(work, sub))
    orders = os.path.join(work, "order.tsv")
    order_file(a.workload, a.seed, orders)

    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Harness", a.workload, data, work,
            str(a.seconds), str(a.trace), orders, cpus] + ([a.plant] if a.plant else [])
    env = dict(os.environ, SPARK_GRAFT_CKPT_BASE=os.path.join(work, "ckpt"))
    log = os.path.join(STATE, "harness.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out after {JVM_TIMEOUT_S}s (log: {log})")
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"harness exited with {rc}")
    res = json.load(open(os.path.join(work, "result.json")))

    # ---- correctness, outside the timed region ----
    import oracle
    ops = res["ops"]
    bad = {}
    if spec["kind"] == "etl":
        for i, op in enumerate(ops):
            if op["error"]:
                bad[i] = op["error"]
        mirror = oracle.check_etl(os.path.join(data, "etl"), os.path.join(work, "etl"),
                                  res["nights_applied"], res["mart_year"])
        wrong = {k: v for k, v in mirror.items() if v}
        if wrong:
            bad[len(ops) - 1] = f"final outputs differ from the DuckDB mirror: {wrong}"
    else:
        verdict = oracle.check_queries(data, os.path.join(work, "dumps"), res["oracle"])
        verified = {}
        for i, op in enumerate(ops):
            if op["pass"] == 0:
                if op["error"] or verdict.get(op["op"], "not checked"):
                    bad[i] = op["error"] or verdict.get(op["op"], "not checked")
                else:
                    verified[op["op"]] = (op["rows"], op["sum"])
            elif op["error"]:
                bad[i] = op["error"]
            elif verified.get(op["op"]) != (op["rows"], op["sum"]):
                bad[i] = "result differs from the verified first-pass result"
    for i, why in sorted(bad.items()):
        print(f"FAIL op {i} ({ops[i]['op']}, pass {ops[i]['pass']}): {why}", file=sys.stderr)

    attempted, failed = len(ops), len(bad)
    # a failed op misses every latency bound: it counts as late as the run
    warm = [res["run_wall_s"] if i in bad else op["latency_s"]
            for i, op in enumerate(ops) if op["pass"] > 0]
    n_warm = sum(1 for op in ops if op["pass"] > 0)
    if n_warm == 0:
        fail("no warm op finished; raise --seconds")
    t_val, t_pct, t_beyond = tail(warm)
    e2e = {
        "setup_s": statistics.median(res["setup_s"]),
        "first_pass_s": res["first_pass_s"],
        "ops_per_s": (n_warm - sum(1 for i in bad if ops[i]["pass"] > 0)) / res["warm_wall_s"],
        "latency_p50_s": statistics.median(warm),
        "latency_tail_s": t_val,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    # input bytes: the tables, or the ETL history plus the nights applied
    nightly = os.path.join(data, "etl", "nightly")
    in_bytes = meta["input_bytes"] + sum(
        os.path.getsize(os.path.join(nightly, f"{kind}_{k:04d}.csv"))
        for k in range(res["nights_applied"]) for kind in ("ohlcv", "barchart")
        if spec["kind"] == "etl")
    stored = res["stored_bytes"] / in_bytes
    print(f"workload {a.workload} seed {a.seed}: {attempted} ops attempted, "
          f"{failed} failed, {n_warm} warm ops in {res['warm_wall_s']:.2f} s")
    for name, unit in end_to_end:
        print(f"  {name:28s} {e2e[name]:.6g} {unit}")
    print(f"  {'latency_tail_s':28s} is p{t_pct:.1f} over {len(warm)} warm ops "
          f"({t_beyond} beyond it)")
    print(f"  {'fail_frac':28s} {failed / attempted:.6g} ({failed}/{attempted})")
    if spec["kind"] == "etl":
        print(f"  {'stored_bytes_per_input_byte':28s} {stored:.6g} ratio")

    keep = os.path.join(STATE, "results")
    os.makedirs(keep, exist_ok=True)
    stem = os.path.join(keep, f"{a.workload}-s{a.seed}-t{a.trace}")
    json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "cpus": int(cpus), "e2e": e2e, "result": res, "failed": failed,
               "attempted": attempted}, open(stem + ".json", "w"))
    if a.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"), stem + ".spans.jsonl")
        layer = dict(res["layer"])
        layer["stored_bytes_per_input_byte"] = stored
        metrics = {k: {"value": v, "unit": layer_unit[k]} for k, v in layer.items()}
        for k, v in metrics.items():
            print(f"  {k:28s} {v['value']:.6g} {v['unit']}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in end_to_end}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, allow_nan=False))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
