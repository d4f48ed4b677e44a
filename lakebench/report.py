#!/usr/bin/env python3
"""Per-layer report: for each workload, one untraced and one traced run.

    python3 lakebench/report.py --seed 1 [--seconds 20]

Prints, per workload, every per-layer metric, self time by layer, the
driver-gap share, the same figures per phase of the run, the tracing
overhead (traced minus untraced wall time)
and the host calibration probe of each run (the fixed 100M-row range sum
graft.Bench uses; recorded so a loaded host is visible, never gated).
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

LAYERS = ["pipeline", "table", "sql", "ops", "exec", "bench"]
PHASES = "lakebench: phases "


def bench(workload, seed, seconds, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} trace={trace} failed ({proc.returncode})")
    lines = proc.stdout.splitlines()
    info = dict(kv.split("=", 1) for l in lines if l.startswith("lakebench:")
                and not l.startswith(PHASES) for kv in l.split() if "=" in kv)
    phases = [json.loads(l[len(PHASES):]) for l in lines if l.startswith(PHASES)]
    return json.loads(lines[-1]), float(info["calib_ms"]), phases[0] if phases else []


def report(workload, seed, seconds):
    plain, calib0, _ = bench(workload, seed, seconds, 0)
    traced, calib1, phases = bench(workload, seed, seconds, 1)
    e2e = {k: v["value"] for k, v in plain["metrics"].items()}
    layer = {k: v["value"] for k, v in traced["metrics"].items()}
    units = {k: v["unit"] for k, v in traced["metrics"].items()}
    wall, twall = e2e["wall_s"], layer["trace.wall_s"]
    print(f"== {workload}  seed={seed}  seconds={seconds}")
    print(f"   host calib probe: untraced run {calib0:.1f} ms, traced run {calib1:.1f} ms")
    print(f"   wall: untraced {wall:.3f} s, traced {twall:.3f} s, "
          f"tracing overhead {twall - wall:+.3f} s ({(twall - wall) / wall:+.1%})")
    print(f"   driver-gap share (no Spark job running): {layer['spark.driver_gap_share']:.1%}")
    print("   self time by layer:")
    for name in LAYERS:
        ms = layer[f"self.{name}_ms"]
        print(f"     {name:9s} {ms:10.1f} ms  {ms / (twall * 1000):6.1%}")
    print("   per phase (traced): n, wall, busy share, driver-gap share, self ms by layer")
    print(f"     {'phase':7s} {'n':>3s} {'wall_s':>8s} {'busy':>6s} {'gap':>6s}"
          + "".join(f" {l:>8s}" for l in LAYERS[:-1]))
    for p in phases:
        print(f"     {p['phase']:7s} {p['count']:3d} {p['wall_s']:8.2f} {p['busy_share']:6.1%}"
              f" {p['driver_gap_share']:6.1%}"
              + "".join(f" {p['self_ms'][l]:8.0f}" for l in LAYERS[:-1]))
    print("   per-layer metrics:")
    for k, v in layer.items():
        print(f"     {k:32s} {v:16.3f} {units[k]}")
    print("   end-to-end (untraced):")
    for k, v in e2e.items():
        print(f"     {k:32s} {v:16.3f} {plain['metrics'][k]['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=run.NOMINAL_SECONDS)
    a = ap.parse_args()
    for w in run.PLANS:
        report(w, a.seed, a.seconds)


if __name__ == "__main__":
    main()
