"""Per-layer metrics of a traced run, from the tracer's spans and
counters and the Spark event log. Layers are named after modules.

Every metric is printed on every workload; a layer the workload does
not use reads 0. Every per-op value is an average over all timed ops,
so a compaction op weighs as much as in the untraced runs. The
``spark.*`` counters cover every op. Spans cover the compaction ops and
half the regular ops; a span value is the regular ops' traced average
scaled to the regular share of the ops, plus the compaction ops' sum
over the op count.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from .trace import parse_event_log, self_times


def layer_metrics(tracer, rundir, walls, cores, files_end, files_peak, src_bytes, queries,
                  compaction_ops):
    st = self_times(tracer.spans)
    traced_ops = sorted(op for op in st if op.startswith("op"))
    wall_of = {f"op{i}": w for i, w in enumerate(walls)}
    n_all = len(walls)
    compaction = {f"op{i}" for i in compaction_ops}
    traced_regular = [op for op in traced_ops if op not in compaction]

    def op_average(value_of) -> float:
        """Average of ``value_of(op)`` over all timed ops, estimated
        from the traced ones (every compaction op is traced)."""
        regular = sum(value_of(op) for op in traced_regular)
        if traced_regular:
            regular *= (n_all - len(compaction)) / len(traced_regular)
        return (regular + sum(value_of(op) for op in compaction)) / n_all

    def per_op(*names) -> float:
        return op_average(lambda op: sum(st[op].get(nm, 0.0) for nm in names))

    def count_per_op(name) -> float:
        return op_average(lambda op: tracer.counts.get((op, name), 0.0))

    def total(name) -> float:
        return sum(v for (op, k), v in tracer.counts.items() if k == name and op in traced_ops)

    cover = [
        sum(v for nm, v in st[op].items() if nm != "op") / wall_of[op] for op in traced_ops
    ]
    compactions = total("sync.engine.compactions")
    compact_time = sum(
        s.end - s.start for s in tracer.spans
        if s.name == "sync.engine.compact" and s.op in traced_ops
    )
    merges = total("sync.merge.merges")
    m = {
        "session.start_s": (st["setup"].get("session.start", 0.0), "s"),
        "sync.psql.extract_s_per_op": (per_op("sync.psql.extract"), "s"),
        "sync.psql.chunks_per_op": (count_per_op("sync.psql.chunks"), "count"),
        "sync.psql.staged_bytes_per_src_byte": (
            count_per_op("sync.psql.staged_bytes") / src_bytes if src_bytes else 0.0, "ratio"),
        "sync.psql.meta_calls_per_op": (count_per_op("sync.psql.meta_calls"), "count"),
        "sync.psql.meta_s_per_op": (per_op("sync.psql.meta"), "s"),
        "sync.engine.self_s_per_op": (per_op("sync.engine", "sync.engine.compact"), "s"),
        "sync.engine.watermark_s_per_op": (per_op("sync.engine.watermark"), "s"),
        "sync.engine.wh_files_per_table_end": (
            statistics.mean(files_end.values()) if files_end else 0.0, "count"),
        "sync.engine.wh_files_per_table_peak": (
            statistics.mean(files_peak.values()) if files_peak else 0.0, "count"),
        # a cycle compacts every table of the workload once
        "sync.engine.compact_s_per_cycle": (
            compact_time / (compactions / len(files_end)) if compactions else 0.0, "s"),
        "sync.merge.merge_s_per_op": (per_op("sync.merge.merge"), "s"),
        "sync.merge.buckets_touched_frac": (
            total("sync.merge.buckets_touched_frac") / merges if merges else 0.0, "ratio"),
        "sync.merge.write_bucketed_s_per_op": (per_op("sync.merge.write_bucketed"), "s"),
        "sources.tables.load_s_per_op": (per_op("sources.tables.load"), "s"),
        "sources.tables.compact_s": (
            sum(s.end - s.start for s in tracer.spans if s.name == "sources.tables.compact"),
            "s"),
    }

    spark = parse_event_log(os.path.join(rundir, "eventlog"))
    by_op: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for group, counters in spark.items():
        op, _, rest = group.partition("|")
        if op not in wall_of:
            continue
        for k, v in counters.items():
            by_op[op][k] += v
            if rest:
                q, _, phase = rest.partition("|")
                by_op[op][f"{q}|{phase}|{k}"] += v

    def spark_per_op(key) -> float:
        return sum(c.get(key, 0.0) for c in by_op.values()) / n_all

    q_construct = [f"operators.construct:{q}" for q in queries]
    q_action = [f"operators.action:{q}" for q in queries]
    m.update({
        "operators.construct_s_per_op": (per_op(*q_construct), "s"),
        "operators.action_s_per_op": (per_op(*q_action), "s"),
        "operators.construct_jobs_per_op": (
            sum(spark_per_op(f"{q}|construct|jobs") for q in queries), "count"),
    })
    for q in queries:
        m[f"operators.{q}.construct_s"] = (per_op(f"operators.construct:{q}"), "s")
        m[f"operators.{q}.action_s"] = (per_op(f"operators.action:{q}"), "s")
        m[f"operators.{q}.construct_jobs"] = (spark_per_op(f"{q}|construct|jobs"), "count")
    m.update({
        "spark.jobs_per_op": (spark_per_op("jobs"), "count"),
        "spark.stages_per_op": (spark_per_op("stages"), "count"),
        "spark.tasks_per_op": (spark_per_op("tasks"), "count"),
        "spark.single_task_stages_per_op": (spark_per_op("single_task_stages"), "count"),
        "spark.shuffle_write_bytes_per_op": (spark_per_op("shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes_per_op": (spark_per_op("spill_bytes"), "bytes"),
        "spark.executor_run_s_per_op": (spark_per_op("executor_run_s"), "s"),
        "spark.slot_busy_frac": (
            spark_per_op("executor_run_s") * n_all / (sum(walls) * cores), "ratio"),
        "trace.layer_cover_min": (min(cover) if cover else 0.0, "ratio"),
    })
    # compaction ops are all traced, so they are left out on both sides
    traced = [wall_of[op] for op in traced_regular]
    untraced = [w for op, w in wall_of.items() if op not in st and op not in compaction]
    m["trace.overhead_s"] = (
        statistics.median(traced) - statistics.median(untraced)
        if traced and untraced else 0.0, "s")
    return m
