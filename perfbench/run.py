#!/usr/bin/env python3
"""pgwarehouse_spark benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Every op is one fixed round of work
(see ``config.json``); the op count is ``--seconds`` divided by the
workload's ``seconds_per_op``, so a given ``--seconds`` always runs the
same number of ops. Everything the run writes or caches (Postgres data,
staging, warehouse, Spark scratch, compacted copies, the working
directory) lives in a private directory under ``.perfbench_runs/`` that
is removed when the run ends.

With ``--trace 0`` the last stdout line carries the end-to-end metrics:

- ``setup_s``: process start to the first timed op;
- ``op_p50_s``: median wall time of one op;
- ``ops_per_s``: timed ops over the timed wall time;
- ``cpu_s_per_op``: CPU seconds of the driver, its reaped children and
  the JVM's process tree over the timed ops, divided by the op count
  (the Postgres server is not counted);
- ``jvm_retained_mb``: heap the JVM still holds after full collections
  at the end of the run, plus its non-heap use;
- ``wh_bytes_per_src_byte``: warehouse parquet bytes over source bytes.

With ``--trace 1`` it carries the per-layer metrics (see layers.py) and
``peak_rss_mb``, the JVM's VmHWM plus the driver's ru_maxrss. Peak RSS
follows when G1 chose to grow the heap, which depends on load on the
box, so it is reported without a bound.
The line before it is a detail record (seed, op walls and CPU, tail
percentile, box load, CPU steal, correctness failures). The exit code
is 0 only when every op and the end-of-run verification were correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
_TICK = os.sysconf("SC_CLK_TCK")
# Spark runs local[usable cores - CORES_LEFT_FREE]: the driver, psql and
# Postgres then do not contend with the executors (see config.json)
CORES_LEFT_FREE = 2


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        text = f.read()
    start_ticks = int(text[text.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test hook: make op N's expected result wrong on purpose
    p.add_argument("--corrupt-op", type=int, default=None, help=argparse.SUPPRESS)
    return p.parse_args(argv)


class Ctx:
    def __init__(self, args, settings, rundir, tracer):
        self.seed = args.seed
        self.corrupt_op = args.corrupt_op
        self.settings = settings
        self.rundir = rundir
        self.tracer = tracer
        self.sf_dir = settings["workloads"][args.workload]["sf_dir"]
        self.spark = None


def isolate(rundir: str) -> int:
    """Point every directory the program writes or caches into the run
    directory and pick the core count; returns k of ``local[k]``."""
    cores = max(1, len(os.sched_getaffinity(0)) - CORES_LEFT_FREE)
    for sub in ("compacted", "spark-local", "tmp", "spark-warehouse"):
        os.makedirs(os.path.join(rundir, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_COMPACT_DIR": os.path.join(rundir, "compacted"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(rundir, "spark-local"),
        "TMPDIR": os.path.join(rundir, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_DRIVER_MEMORY", None)  # the package's default heap
    os.chdir(rundir)  # spark-warehouse/ and derby.log land here
    return cores


def spark_conf(rundir: str, traced: bool) -> dict[str, str]:
    tmp = os.path.join(rundir, "tmp")
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(rundir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(os.path.join(rundir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(rundir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit; the JVM exits when its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile with at least ten samples beyond it:
    (percentile, value, samples beyond), or None below 11 samples."""
    n = len(values)
    if n < 11:
        return None
    beyond = 10
    rank = n - beyond  # 1-based rank of the reported sample
    return 100 * rank / n, sorted(values)[rank - 1], beyond


def main() -> int:
    # a terminated run still stops Spark and Postgres and removes its
    # directory: SystemExit unwinds through the finally blocks
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    if os.environ.get("PYTHONHASHSEED") != "0":
        # str hashes (set order, hash partitioning) would otherwise
        # differ in every process, and with them the plans some queries
        # build; the JVM and its Python workers inherit the fixed seed
        os.execve(sys.executable, [sys.executable, *sys.argv],
                  {**os.environ, "PYTHONHASHSEED": "0"})
    args = parse_args(sys.argv[1:])
    with open(os.path.join(HERE, "config.json")) as f:
        settings = json.load(f)
    if args.workload not in settings["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "pgwarehouse_spark", "__init__.py")):
        print(f"no pgwarehouse_spark package under {ROOT}", file=sys.stderr)
        return 2
    conf = settings["workloads"][args.workload]
    # short: the Postgres socket path inside it is limited to 107 bytes
    rundir = os.path.join(ROOT, ".perfbench_runs", str(os.getpid()))
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    cwd = os.getcwd()
    try:
        return run(args, settings, conf, rundir)
    finally:
        os.chdir(cwd)
        shutil.rmtree(rundir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(rundir))
        except OSError:
            pass  # another run still owns a directory there


def run(args, settings, conf, rundir) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import probe
    from perfbench.trace import Tracer

    load0, cpu0_box = probe.loadavg(), probe.cpu_times()
    cores = isolate(rundir)
    import pgwarehouse_spark

    if not os.path.abspath(pgwarehouse_spark.__file__).startswith(ROOT + os.sep):
        raise RuntimeError(f"imported {pgwarehouse_spark.__file__}, not the checkout's package")
    from pgwarehouse_spark.session import get_spark
    from perfbench.workloads import WORKLOADS

    traced = bool(args.trace)
    tracer = Tracer()
    tracer.enabled = traced
    if traced:
        tracer.install()
    ctx = Ctx(args, settings, rundir, tracer)
    wl = WORKLOADS[args.workload](ctx, conf)
    n_ops = max(1, round(args.seconds / conf["seconds_per_op"]))
    walls, cpus, failed_ops, failures = [], [], set(), []
    try:
        wl.start_source()
        with tracer.span("session.start"):
            ctx.spark = get_spark(extra_conf=spark_conf(rundir, traced))
        print(f"session started at {process_age_s():.1f}s", file=sys.stderr)
        sc = ctx.spark.sparkContext
        sc.setJobGroup(tracer.op, "perfbench")
        res = probe.ResourceProbe(sc._gateway.proc.pid)
        wl.setup()
        print(f"setup done at {process_age_s():.1f}s", file=sys.stderr)
        files_peak = wl.wh_files()
        setup_s = process_age_s()
        # in a traced run the compaction ops and the regular ops ranked
        # 0, 3, 4, 7, ... record spans, and the regular ops ranked 1, 2,
        # 5, 6, ... do not: the walls of the regular ops give the tracing
        # overhead, and the ABBA order keeps warm-up drift out of it
        compaction_ops = {i for i in range(n_ops) if wl.compacts(i)}
        regular = [i for i in range(n_ops) if i not in compaction_ops]
        traced_ops = compaction_ops | {
            i for rank, i in enumerate(regular) if rank % 4 in (0, 3)}
        for i in range(n_ops):
            wl.prepare(i)
            tracer.op = f"op{i}"
            sc.setJobGroup(tracer.op, "perfbench")
            tracer.enabled = traced and i in traced_ops
            c0, t0 = res.cpu_s(), time.perf_counter()
            try:
                with tracer.span("op"):
                    wl.op(i)
                t1, c1 = time.perf_counter(), res.cpu_s()
                bad = []
            except Exception:
                t1, c1 = time.perf_counter(), res.cpu_s()
                bad = [f"op {i} raised:\n{traceback.format_exc()}"]
            tracer.enabled = False
            tracer.op = "between-ops"
            sc.setJobGroup(tracer.op, "perfbench")
            if not bad:
                try:
                    bad = wl.check(i)
                except Exception:
                    bad = [f"check of op {i} raised:\n{traceback.format_exc()}"]
            walls.append(t1 - t0)
            cpus.append(c1 - c0)
            if bad:
                failed_ops.add(i)
                failures += bad
            files_now = wl.wh_files()
            files_peak = {t: max(files_peak.get(t, 0), v) for t, v in files_now.items()}
        tracer.op = "finish"
        sc.setJobGroup("finish", "perfbench")
        wh_ratio, src_bytes = wl.wh_bytes_per_src_byte(), wl.source_bytes()
        try:
            bad = wl.finish()
        except Exception:
            bad = [f"end-of-run verification raised:\n{traceback.format_exc()}"]
        if bad:
            failures += bad
            failed_ops.add(n_ops - 1)
        peak_rss = res.peak_rss_mb()
        retained = probe.jvm_retained_mb(sc)
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        wl.close()

    detail = {
        "workload": args.workload, "seed": args.seed, "ops": n_ops,
        "op_walls_s": walls, "op_cpu_s": cpus, "local_k": cores,
        "op_fail_frac": len(failed_ops) / n_ops,
        "cpu_note": "driver + reaped children + JVM tree; Postgres server excluded",
        "loadavg_start": load0, "loadavg_end": probe.loadavg(),
        "cpu_steal_frac": probe.steal_frac(cpu0_box, probe.cpu_times()),
        "wh_files_end": files_now, "wh_files_peak": files_peak, **wl.detail(),
        "failures": failures[:20],
    }
    t = tail(walls)
    if t:
        detail["op_tail_s"] = {"percentile": t[0], "value": t[1], "ops_beyond": t[2]}
    if traced:
        from perfbench.layers import layer_metrics
        from perfbench.trace import self_times

        detail["setup_self_s"] = dict(self_times(tracer.spans)["setup"])

        metrics = layer_metrics(
            tracer, rundir, walls, cores, files_now, files_peak, src_bytes,
            settings["workloads"]["warehouse_query_mix"]["queries"],
            compaction_ops,
        )
        metrics["peak_rss_mb"] = (peak_rss, "MB")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(walls), "s"),
            "ops_per_s": (n_ops / sum(walls), "1/s"),
            "cpu_s_per_op": (sum(cpus) / n_ops, "s"),
            "jvm_retained_mb": (retained, "MB"),
            "wh_bytes_per_src_byte": (wh_ratio, "ratio"),
        }
    for f in failures:
        print(f, file=sys.stderr)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not failed_ops,
        "attempted": n_ops,
        "failed": len(failed_ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not failed_ops else 1


if __name__ == "__main__":
    sys.exit(main())
