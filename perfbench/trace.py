"""Spans and counters recorded from outside the package.

``Tracer.install`` wraps the public functions of ``sync.psql``,
``sync.engine``, ``sync.merge`` and ``sources.tables`` with span
recorders; nothing inside the package is changed. Spans are kept in
memory (name, start, end, parent, op id) and summarised at the end of
the run. A layer's self time is its span's duration minus the part of
it covered by child spans.

Spark's own counters (jobs, stages, tasks, shuffle and spill bytes,
executor run time) come from the run's event log, which is written
uncompressed and parsed with ``json`` after the session stops. Every op
runs under its own job group, so each job is attributed to one op.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict


class Span:
    __slots__ = ("name", "op", "parent", "start", "end")

    def __init__(self, name, op, parent, start):
        self.name, self.op, self.parent, self.start = name, op, parent, start
        self.end = start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[tuple, float] = defaultdict(float)
        self.stack: list[Span] = []
        self.op = "setup"
        self.enabled = True

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        s = Span(name, self.op, parent, time.perf_counter())
        self.stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            self.spans.append(s)

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[(self.op, name)] += value

    def wrap(self, fn, name: str, after=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if after is not None and self.enabled:
                after(self, args, kwargs, out)
            return out

        return traced

    # -- instrumentation ------------------------------------------------
    def install(self) -> None:
        from pgwarehouse_spark import registry
        from pgwarehouse_spark.sources import tables
        from pgwarehouse_spark.sync import engine, merge, psql

        registry.queries()  # import every operator module before rebinding

        def meta(tr, args, kwargs, out):
            tr.count("sync.psql.meta_calls")

        def extract(tr, args, kwargs, out):
            src, table = args[0], args[1]
            tr.count("sync.psql.chunks", out[0])
            tr.count("sync.psql.staged_bytes", _tree_bytes(src._staging(table)))

        def merged(tr, args, kwargs, out):
            tr.count("sync.merge.merges")
            tr.count("sync.merge.buckets_touched_frac", out / args[4])  # num_buckets

        def compacted(tr, args, kwargs, out):
            tr.count("sync.engine.compactions")

        P = psql.PsqlCopySource
        P.dump_schema = self.wrap(P.dump_schema, "sync.psql.meta", meta)
        P.sql_rows = self.wrap(P.sql_rows, "sync.psql.meta", meta)
        P.extract_to_staging = self.wrap(P.extract_to_staging, "sync.psql.extract", extract)
        E = engine.SyncEngine
        E.sync = self.wrap(E.sync, "sync.engine")
        E.compact = self.wrap(E.compact, "sync.engine.compact", compacted)
        E.watermark = self.wrap(E.watermark, "sync.engine.watermark")
        _patch_everywhere(merge.merge_into_bucketed,
                          self.wrap(merge.merge_into_bucketed, "sync.merge.merge", merged))
        _patch_everywhere(merge.write_bucketed,
                          self.wrap(merge.write_bucketed, "sync.merge.write_bucketed"))
        _patch_everywhere(tables.load_table,
                          self.wrap(tables.load_table, "sources.tables.load"))
        tables._ensure_compacted = self.wrap(tables._ensure_compacted, "sources.tables.compact")


def _patch_everywhere(orig, replacement) -> None:
    """Rebind every module-level name bound to ``orig`` inside the
    package (``from x import f`` copies the reference)."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("pgwarehouse_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, replacement)


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


# -- span summaries --------------------------------------------------------
def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, dict[str, float]]:
    """{op: {span name: summed self time}}."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[id(s.parent)].append(s)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        kids = [(max(c.start, s.start), min(c.end, s.end)) for c in children[id(s)]]
        out[s.op][s.name] += (s.end - s.start) - _covered([k for k in kids if k[1] > k[0]])
    return out


# -- Spark event log -------------------------------------------------------
def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, single-task stages, shuffle
    write bytes, spill bytes and executor run seconds of the stages that
    actually ran (skipped stages are not counted)."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"], "none")
                out[group]["stages"] += 1
                out[group]["tasks"] += info["Number of Tasks"]
                out[group]["single_task_stages"] += info["Number of Tasks"] == 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"], "none")
                m = ev.get("Task Metrics") or {}
                out[group]["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
                out[group]["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                )
                out[group]["spill_bytes"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                )
    return out
