#!/usr/bin/env python3
"""lakebench: the repository's end-to-end benchmark.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the driver from
source (once per source state), generates the workload's inputs from the
seed, runs the workload in one JVM on a local session with one client
thread, checks the outputs against DuckDB over the same inputs, and
prints one JSON line last. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer ones. See lakebench/README.md.
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

import check
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# What one run of each workload does. The sizes are fixed so that every
# run of a workload does the same amount of work; --seconds scales the
# number of session rounds around the nominal run.
NOMINAL_SECONDS = 40
EPOCH = "1997-01-01"
PLANS = {
    "medallion": {"customers": 1000, "orders": 5000, "days": 730, "redeliver": 600,
                  "new_orders": 150, "batches": 3, "maintain_passes": 3,
                  "rounds": 2, "probes": 12, "mart_passes": 2, "meta_passes": 4},
    "corpus_ingest": {"docs": 450, "batches": 2, "batch_docs": 60, "batch_dups": 8,
                      "rounds": 2, "probes": 6, "mart_passes": 2, "meta_passes": 3},
}


def fail(msg, code=2):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(code)


def plan_for(workload, seconds):
    plan = dict(PLANS[workload])
    plan["rounds"] = max(1, round(plan["rounds"] * seconds / NOMINAL_SECONDS))
    return plan


# ---- build -------------------------------------------------------------

BUILD_INPUTS = ["build.sbt", "project", "src/main", "lakebench/build.sbt",
                "lakebench/project", "lakebench/src"]


def source_stamp():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        base = os.path.join(ROOT, rel)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(base)
            for f in files if "target" not in os.path.relpath(d, ROOT).split(os.sep)
            and "project/project" not in os.path.relpath(d, ROOT))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + driver with sbt when the sources changed; return
    (classpath, jvm options)."""
    launch = os.path.join(HERE, "target", "launch")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    fresh = (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
             and os.path.exists(os.path.join(launch, "classpath.txt")))
    if not fresh:
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            code = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "lakebenchLaunch"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=840)
        if code != 0:
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"build failed (exit {code}); log in {log}", 1)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(os.path.join(launch, "classpath.txt")) as f:
        cp = [line.strip() for line in f if line.strip()]
    with open(os.path.join(launch, "javaopts.txt")) as f:
        opts = [line.strip() for line in f if line.strip()]
    return cp, opts


# ---- one run -----------------------------------------------------------

def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, opts, args, work, log_path, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opts + [
        "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        "-Dderby.system.home=" + tmp,
        "-cp", os.pathsep.join(cp), "lakebench.Main"]
        + [f"{k}={v}" for k, v in args.items()])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return -9


def input_bytes(root):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


def metrics_of(res, failed, input_size, trace):
    """The printed metrics. `failed` counts failed engine calls, output
    mismatches and plan violations."""
    if trace:
        layers = dict(res["layers"])
        layers["host.calib_ms"] = res["calib_ms"]
        return layers
    return {
        "setup_s": res["session_s"] + res["fixture_s"],
        "wall_s": res["wall_s"],
        "ok_ratio": 1.0 - failed / res["attempted"],
        "build_s": res["build_s"],
        "batch_p50_ms": statistics.median(res["batch_ms"]),
        "finish_s": res["finish_s"],
        "scan_p50_ms": statistics.median(res["scan_ms"]),
        "mart_p50_ms": statistics.median(res["mart_ms"]),
        "meta_p50_ms": statistics.median(res["meta_ms"]),
        "stored_bytes_per_input_byte": res["table_bytes"] / input_size,
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PLANS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=NOMINAL_SECONDS)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--check-plans", action="store_true",
                    help="record whether each timed read keeps its result plan")
    a = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in ["build.sbt", "src/main/scala/graft", "BENCHMARK.json"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a full checkout of the repository")
    spec = json.load(open(spec_path))

    cp, opts = build()

    plan = plan_for(a.workload, a.seconds)
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "in")
    out = os.path.join(work, "out")
    try:
        t_gen = time.time()
        gen.generate(a.workload, a.seed, inputs, plan)
        t_gen = time.time() - t_gen
        args = dict(plan, workload=a.workload, seed=a.seed, trace=a.trace,
                    checkPlans=int(a.check_plans), epoch=EPOCH,
                    **{"in": inputs, "work": work, "out": out})
        t0 = time.time()
        code = run_jvm(cp, opts, args, work, os.path.join(work, "jvm.log"), timeout=170)
        result_file = os.path.join(out, "result.json")
        if code != 0 or not os.path.exists(result_file):
            with open(os.path.join(work, "jvm.log"), errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"driver exited with {code} after {time.time() - t0:.0f}s", 1)
        res = json.load(open(result_file))
        if a.trace:
            spans = os.path.join(BUILD, "spans", f"{a.workload}-{a.seed}.jsonl")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copy(os.path.join(out, "spans.jsonl"), spans)
        t_jvm = time.time() - t0
        t_check = time.time()
        mismatches = check.run(a.workload, plan, inputs, out, res, EPOCH)
        t_check = time.time() - t_check
        print(f"lakebench: phases gen_s={t_gen:.1f} jvm_s={t_jvm:.1f} check_s={t_check:.1f} "
              f"dump_s={res['dump_s']:.1f} jvm_boot_s={res['boot_s']:.1f}", file=sys.stderr)
        for m in mismatches:
            print(f"lakebench: mismatch: {m}", file=sys.stderr)
        for v in res["plan_violations"]:
            print(f"lakebench: plan: {v}", file=sys.stderr)
        print(f"lakebench: {a.workload} seed={a.seed} calib_ms={res['calib_ms']:.1f} "
              f"wall_s={res['wall_s']:.3f} scans={len(res['scan_ms'])}"
              f" plan_checked={res['plan_checked']}"
              f" plan_count_would_lose={res['plan_count_would_lose']}")
        if a.trace:
            print(f"lakebench: phases {json.dumps(res['phases'])}")
        attempted = res["attempted"]
        failed = min(attempted, res["failed"] + len(mismatches) + len(res["plan_violations"]))
        correct = failed == 0
        metrics = metrics_of(res, failed, input_bytes(inputs), a.trace)
        names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
        if sorted(metrics) != sorted(names):
            fail(f"measured metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(names)}", 1)
        line = {"correct": correct, "attempted": attempted, "failed": failed,
                "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names}}
        print(json.dumps(line))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
