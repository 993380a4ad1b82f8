#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the root of a checkout. For each workload it makes two short
runs (one or two ops each):

- a traced run, which must exit 0, report ``correct`` and print every
  ``per_layer`` metric of BENCHMARK.json with its unit;
- an untraced run whose first op is given a deliberately wrong expected
  result, which must print every ``end_to_end`` metric with its unit,
  report the op as failed (``op_fail_frac`` > 0) and exit non-zero.

It then copies only BENCHMARK.json and the benchmark's directories into
a scratch directory and checks that the benchmark refuses to run there:
non-zero exit and no result line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, seconds: float, trace: int, extra=()) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(seconds), "--trace", str(trace), *extra]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines()


def check_metrics(metrics: dict, wanted: list[dict]) -> list[str]:
    bad = []
    for m in wanted:
        got = metrics.get(m["name"])
        if got is None:
            bad.append(f"missing metric {m['name']}")
        elif got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            bad.append(f"metric {m['name']} printed as {got}, want unit {m['unit']}")
    extra = set(metrics) - {m["name"] for m in wanted}
    if extra:
        bad.append(f"unexpected metrics {sorted(extra)}")
    return bad


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "config.json")) as f:
        config = json.load(f)
    failures = []

    def expect(cond: bool, what: str) -> None:
        print(("PASS " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    for w in bench["workloads"]:
        name = w["name"]
        spo = config["workloads"][name]["seconds_per_op"]
        seconds = 2 * spo if spo < 5 else spo  # two cheap ops, or one costly one

        rc, out = run(ROOT, name, seconds, 1)
        res = json.loads(out[-1]) if out else {}
        expect(rc == 0 and res.get("correct") is True, f"{name}: traced run is correct, exit 0")
        bad = check_metrics(res.get("metrics", {}), bench["per_layer"])
        expect(not bad, f"{name}: every per_layer metric printed with its unit {bad[:3]}")

        rc, out = run(ROOT, name, seconds, 0, ["--corrupt-op", "0"])
        res = json.loads(out[-1]) if out else {}
        detail = json.loads(out[-2])["detail"] if len(out) > 1 else {}
        bad = check_metrics(res.get("metrics", {}), bench["end_to_end"])
        expect(not bad, f"{name}: every end_to_end metric printed with its unit {bad[:3]}")
        expect(
            rc != 0 and res.get("correct") is False and res.get("failed", 0) >= 1
            and detail.get("op_fail_frac", 0) > 0,
            f"{name}: a wrong expected result fails the op and the run "
            f"(exit {rc}, failed {res.get('failed')}, op_fail_frac {detail.get('op_fail_frac')})",
        )

    bare = os.path.join(ROOT, ".perfbench_runs", f"selftest-bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        name = bench["workloads"][0]["name"]
        rc, out = run(bare, name, bench["run_seconds"], 0)
        expect(rc != 0 and not any(line.startswith('{"correct"') for line in out),
               f"without the program the benchmark exits non-zero (exit {rc}) "
               "and prints no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass

    print("selftest:", "FAILED " + "; ".join(failures) if failures else "ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
