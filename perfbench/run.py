#!/usr/bin/env python3
"""Pipeline benchmark: one workload, one seed, one measurement window.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark with sbt (into .bench_build/ and the sbt target dirs); later runs
reuse the build while the sources are unchanged. Inputs are generated from
the seed, the JVM side (perfbench.Main) runs the workload in a closed loop
with one client, and this script checks the outputs (generator manifest or
DuckDB oracle), then prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full result, with every sample, is also written to
.bench_build/results/. A failed check exits 1; a missing program or a failed
build exits 2 without printing a result.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import checks  # noqa: E402

WORKLOADS = ["validate_wide", "curation_dedup", "csv_phases", "registry_queries"]
SETUPS = 3          # set-ups per invocation; setup_s is their median
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 160  # leaves time for the checks within 180 s

END_TO_END = {      # name -> unit
    "run_s": "s", "rows_per_s": "rows/s", "setup_s": "s", "ok_ratio": "ratio",
    "ckpt_bytes_ratio": "ratio", "heap_retained_mb": "MB",
}
PER_LAYER = {
    "io.read_s": "s", "io.write_s": "s", "io.write_bytes": "bytes",
    "io.write_parallelism": "tasks",
    "rownum.s": "s", "rownum.jobs": "count",
    "validate.s": "s", "validate.codegen_fallback_exprs": "count",
    "validate.expr_nodes": "count", "steps.s": "s",
    "drain.s": "s", "drain.jobs": "count", "drain.events_collected": "count",
    "pipeline.driver_idle_s": "s", "pipeline.plan_s": "s", "pipeline.gate_s": "s",
    "persist.peak_mb": "MB", "persist.blocks_left": "count",
    "persist.listeners_left": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.executor_cpu_s": "s",
    "spark.cpu_util": "ratio", "spark.gc_s": "s",
    "trace.overhead_s": "s",
}


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = p.parse_args()
    if not 1 <= a.seconds <= 600:
        p.error("--seconds must be in [1, 600]")
    if not 0 <= a.seed < 2 ** 63:
        p.error("--seed must be a non-negative integer")
    return a


# ------------------------------------------------------------------ build

def source_stamp():
    """Hash of everything the build reads from the checkout."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for dirpath, dirnames, names in os.walk(os.path.join(ROOT, d)):
            dirnames[:] = sorted(n for n in dirnames if n not in ("target", "project"))
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return (classpath, jvm options)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not "
             "in %s; run from the repository root" % ROOT)
    os.makedirs(BUILD, exist_ok=True)
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    fresh = (os.path.isfile(launch) and os.path.isfile(stamp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.isfile(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                               "-Dsbt.offline=true -Xmx2g" % repos)
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "-Dbench.launch=" + launch, "benchLaunch"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=880)
        if r.returncode != 0 or not os.path.isfile(launch):
            fail("build failed, see %s" % log)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(launch).read().splitlines()
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]


# -------------------------------------------------------------------- run

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def run_jvm(classpath, jvm_opts, args, run_dir, budget_s):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + jvm_opts + ["-Xmx" + JVM_HEAP, "-Djava.io.tmpdir=" + tmp,
                                  "-cp", classpath, "perfbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def end_to_end(res, attempted, failed):
    run_s = median(res["run_s"])
    return {
        "run_s": run_s,
        "rows_per_s": res["input_rows"] / run_s,
        "setup_s": median(res["setup_s"]),
        "ok_ratio": (attempted - failed) / attempted,
        "ckpt_bytes_ratio": res["output_bytes"] / res["source_bytes"],
        # a fixed count: the heap grows run by run (the leak signal), so a
        # median over however many runs fit the window would drift
        "heap_retained_mb": median(res["heap_retained_mb"][:3]),
    }


def main():
    a = parse_args()
    classpath, jvm_opts = build()
    started = time.time()  # a fresh checkout's first run may also build
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()

    run_dir = os.path.join(BUILD, "runs", "%s-%d-%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(work)
    gen.generate(a.workload, a.seed, data)

    out = os.path.join(run_dir, "jvm_result.json")
    budget = RUN_TIMEOUT_S - (time.time() - started)
    code = run_jvm(classpath, jvm_opts,
                   ["--workload", a.workload, "--data", data, "--work", work, "--out", out,
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--setups", str(SETUPS if not a.trace else 1), "--cores", str(cores)],
                   run_dir, max(30, budget))
    if code != 0 or not os.path.isfile(out):
        fail("benchmark JVM %s, see %s" % (
            "timed out" if code is None else "exited %s" % code,
            os.path.join(run_dir, "jvm.log")), 1)
    with open(out) as f:
        res = json.load(f)

    found = checks.check(a.workload, data, res)
    problems = list(res["problems"]) + found
    attempted = res["attempted"]
    # the once-per-invocation checks look at the last run's outputs
    last_failed = any(p.startswith("run %d:" % attempted) for p in res["problems"])
    failed = res["failed"] + (1 if found and not last_failed else 0)
    e2e = None
    if a.trace:
        metrics = {k: {"value": float(res["per_layer"].get(k, float("nan"))), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        e2e = end_to_end(res, attempted, failed)
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    result = {"correct": not problems, "attempted": res["attempted"], "failed": failed,
              "metrics": metrics}

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    detail = dict(result, workload=a.workload, seed=a.seed, seconds=a.seconds,
                  trace=a.trace, problems=problems, end_to_end=e2e,
                  samples={k: res[k] for k in ("run_s", "setup_s", "heap_retained_mb",
                                               "traced_run_s") if k in res},
                  per_layer_all=res.get("per_layer"), prefix_s=res.get("prefix_s"),
                  per_run=res.get("per_run"))
    with open(os.path.join(results, "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace)),
              "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    if a.trace:
        with open(os.path.join(results, "%s-seed%d-spans.json" % (a.workload, a.seed)), "w") as f:
            json.dump({"spans": res["spans"], "jobs": res["jobs"]}, f)
    for p in problems:
        print("perfbench: check failed: " + p, file=sys.stderr)
    print(json.dumps(result, sort_keys=True))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
