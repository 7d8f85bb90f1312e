#!/usr/bin/env python3
"""Benchmark of the graft engine: two workloads, each run in one JVM
with Spark task slots <= nproc, every output checked apart from the
program, metrics printed as one JSON object on the last stdout line.

  python3 perfbench/run.py --workload {live_pipeline,batch_operators}
                           --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds the program with the
repository's own sbt build (through perfbench/harness, the harness's own
build) and caches the classpath under .perfbench/build; later runs
rebuild only when a source file changed. --trace 0 prints the end-to-end
metrics, --trace 1 the per-layer ones (and keeps the trace and a summary
under .perfbench-trace/). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import checks  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
TRACES = os.path.join(ROOT, ".perfbench-trace")
HARNESS = os.path.join(BENCH, "harness")

# workload -> (scale factor, tables its queries and oracles read); the
# live pipeline's inputs come from the program's generator in the JVM
WORKLOADS = {"live_pipeline": None,
             "batch_operators": (0.1, ["lineitem", "orders", "documents"])}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Classpath of the harness + program, compiling when sources changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        die("no build.sbt and src/main here: run from the repository root")
    stamp = source_stamp()
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n")[:2]
        if old_stamp == stamp and all(os.path.exists(p) for p in cp.split(":")):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""))
    try:
        res = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"], cwd=HARNESS, env=env,
                             capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as ex:
        die(f"build failed: {ex}")
    lines = [l for l in res.stdout.splitlines() if "/classes:" in l and not l.startswith("[")]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        die("build failed")
    os.makedirs(bdir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1].strip() + "\n")
    return lines[-1].strip()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=max(1, min(4, os.cpu_count() or 1)),
                    help="Spark task slots (local[N]); default min(4, nproc)")
    a = ap.parse_args()

    cp = build()
    t_start = time.time()
    run_dir = os.path.join(WORK, "runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", os.path.join(run_dir, "out"), "--cores", str(a.cores)]
    static = WORKLOADS[a.workload]
    data_dir = os.path.join(run_dir, "data")
    if static is not None:
        sf, tables = static
        inputs.write(data_dir, sf, a.seed, tables)
        jvm_args += ["--data", data_dir]
    gen_s = time.time() - t_start

    tmp = os.path.join(run_dir, "tmp")
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main"] + jvm_args
    spawn = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_dir,
                                timeout=JVM_TIMEOUT_S - (spawn - t_start)).returncode
        except subprocess.TimeoutExpired:
            die(f"JVM exceeded its time limit; see {log.name}")
    res_file = os.path.join(run_dir, "out", "result.json")
    if rc != 0 or not os.path.exists(res_file):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"JVM failed (exit {rc})")
    with open(res_file) as f:
        res = json.load(f)

    t_jvm_end = time.time()
    ops = res["ops"]
    out_dir = os.path.join(run_dir, "out")
    if a.workload == "live_pipeline":
        verdict = checks.live_rounds(out_dir, ops, res["chunks"])
        reasons = [verdict.get((o["round"], o["index"]), "not checked") for o in ops]
    else:
        verdict = checks.query_results(os.path.join(out_dir, "results"), data_dir, res["oracle"],
                                       [o["result"] for o in ops if o["result"]])
        reasons = [verdict.get(o["result"], "not checked") if o["result"] else None for o in ops]
    failed = 0
    correct = True
    for o, why in zip(ops, reasons):
        if o["error"] or why:
            failed += 1
            correct = correct and bool(o["error"])  # outputs that were produced must be right
            print(f"perfbench: {o['name']} (round {o['round']}) failed: {o['error'] or why}", file=sys.stderr)

    e2e = {
        "setup_s": (res["first_op_epoch_ms"] / 1e3 - t_start, "s"),
        "makespan_s": (median([r["makespan_s"] for r in res["rounds"]]), "s"),
        "latency_p50_ms": (median([o["latency_ms"] for o in ops]), "ms"),
        "cpu_s": (median([r["cpu_s"] for r in res["rounds"]]), "s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
    }
    print(f"perfbench: wall {time.time() - t_start:.1f} s = inputs {gen_s:.1f} + jvm start "
          f"{res['ready_epoch_ms'] / 1e3 - spawn:.1f} + setup {(res['first_op_epoch_ms'] - res['ready_epoch_ms']) / 1e3:.1f}"
          f" + timed {res['timed_s']:.1f} + results {res['end_epoch_ms'] / 1e3 - res['first_op_epoch_ms'] / 1e3 - res['timed_s']:.1f}"
          f" + jvm exit {t_jvm_end - res['end_epoch_ms'] / 1e3:.1f} + checks {time.time() - t_jvm_end:.1f}", file=sys.stderr)
    if a.trace:
        per_layer, summary = layers.derive(os.path.join(out_dir, "trace.jsonl"), a.workload)
        os.makedirs(TRACES, exist_ok=True)
        base = os.path.join(TRACES, f"{a.workload}-seed{a.seed}")
        shutil.copy(os.path.join(out_dir, "trace.jsonl"), base + ".jsonl")
        with open(base + ".summary.json", "w") as f:
            json.dump({"end_to_end": {k: v for k, (v, _) in e2e.items()}, "per_layer": per_layer,
                       "ops": len(ops), "rounds": len(res["rounds"]), **summary}, f, indent=1)
        metrics = {n: {"value": per_layer[n], "unit": u} for n, u in layers.METRICS}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
