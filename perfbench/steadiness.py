#!/usr/bin/env python3
"""Run the benchmark on several seeds and report, per metric, the
median and the interquartile range as a share of the median.

    python3 perfbench/steadiness.py --workload <name> --seeds 1-10 [--trace 1] [--out f.json]

Run from the root of a checkout. Runs are sequential; each is a fresh
``perfbench/run.py`` process with ``run_seconds`` from BENCHMARK.json.
With ``--trace 1`` it also reports which ``spark.*`` counters differ
between runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        elapsed = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}", file=sys.stderr)
            return 1
        detail, result = json.loads(lines[-2])["detail"], json.loads(lines[-1])
        runs.append({"seed": seed, "elapsed_s": elapsed, "detail": detail, "result": result})
        vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()
                if not k.startswith("operators.")}
        print(f"seed {seed}: {elapsed:.1f}s load {detail['loadavg_start']} steal "
              f"{detail['cpu_steal_frac']:.3f} {vals}", flush=True)
    names = list(runs[0]["result"]["metrics"])
    report = {}
    for name in names:
        values = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q = statistics.quantiles(values, n=4) if len(values) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else 0.0
        report[name] = {"median": med, "iqr_frac": spread, "bound": bounds.get(name)}
        if not name.startswith("operators.") or args.trace == 0:
            flag = ""
            if bounds.get(name) and name != "setup_s" and spread > bounds[name] / 3:
                flag = "  <-- above a third of the bound"
            print(f"{name:40s} median {med:12.4f}  iqr/median {spread:.4f}{flag}")
    if args.trace:
        varying = [n for n in names if n.startswith("spark.") and n not in (
            "spark.executor_run_s_per_op", "spark.slot_busy_frac")
            and len({r["result"]["metrics"][n]["value"] for r in runs}) > 1]
        print("spark counters that differ between runs:", varying or "none")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs, "summary": report}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
