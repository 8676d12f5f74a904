"""Run every workload untraced and traced, and print all the metrics.

    python3 perfbench/report.py [--seed N] [--seconds S] [--workload NAME ...]

From the repository root.  For each workload it prints every end-to-end
metric with its unit, from the untraced run, next to the same metric
measured in the traced run and the difference as tracing overhead; then
``fail_rate`` (failed over attempted operations) for both runs, and every
per-layer metric of the traced run ("not run" for a layer the workload
does not run).  Exits non-zero when a run fails or
reports a wrong output.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: float, traced: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(traced)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} (trace {traced}) exited with {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--workload", nargs="*", default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()

    ok = True
    for wl in args.workload:
        plain = run_once(wl, args.seed, args.seconds, 0)
        traced = run_once(wl, args.seed, args.seconds, 1)
        with open(os.path.join(ROOT, ".perfbench", "trace", f"{wl}-{args.seed}.json")) as f:
            trace = json.load(f)
        traced_e2e, not_run = trace["end_to_end"], set(trace["env"]["not_run"])
        print(f"== {wl} (seed {args.seed}, {args.seconds:g} s)")
        print(f"{'metric':28s} {'unit':6s} {'untraced':>12s} {'traced':>12s} {'overhead':>9s}")
        for name, m in plain["metrics"].items():
            t = traced_e2e[name]
            over = (t - m["value"]) / m["value"] if m["value"] else float("nan")
            print(f"{name:28s} {m['unit']:6s} {m['value']:12.4g} {t:12.4g} {over:+9.1%}")
        for label, r in (("untraced", plain), ("traced", traced)):
            print(f"{'fail_rate (' + label + ')':28s} {'ratio':6s} "
                  f"{r['failed'] / r['attempted']:12.4g}   ({r['failed']} of {r['attempted']})")
            ok &= r["correct"]
        print("-- per layer (traced run)")
        for name, m in traced["metrics"].items():
            value = "not run" if name in not_run else f"{m['value']:14.6g}"
            print(f"{name:34s} {m['unit']:6s} {value:>14s}")
        print()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
