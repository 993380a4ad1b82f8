"""The workloads. Each runs untimed ``setup``, then for every op an
untimed ``prepare`` (source writes), the timed ``op`` and an untimed
``check`` that returns the op's correctness failures; ``finish`` runs
the end-of-run verification."""

from __future__ import annotations

import os
import random
import time

from .loadgen import SourceLoad
from .pgserver import PgServer


def _parquet_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet")
        )
    return total


class Workload:
    """What the run loop calls; the defaults suit a workload without a
    source database or warehouse directory."""

    def __init__(self, ctx, conf: dict):
        self.ctx, self.conf = ctx, conf

    def start_source(self) -> None:
        pass

    def prepare(self, i: int) -> None:
        pass

    def compacts(self, i: int) -> bool:
        """Whether op ``i`` also compacts the warehouse."""
        return False

    def check(self, i: int) -> list[str]:
        return []

    def finish(self) -> list[str]:
        return []

    def source_bytes(self) -> int:
        return 0

    def wh_files(self) -> dict[str, int]:
        return {}

    def detail(self) -> dict:
        return {}

    def close(self) -> None:
        pass


class IncrementalSync(Workload):
    """An ephemeral Postgres source seeded from sf0.1 ``orders`` and
    ``events``, a PsqlCopySource staging into the run directory and a
    SyncEngine writing a private warehouse. Each op append-syncs
    ``events`` and upsert-syncs ``orders`` after a seeded delta; both
    tables are compacted on a fixed schedule."""

    tables = ("events", "orders")

    def __init__(self, ctx, conf: dict):
        super().__init__(ctx, conf)
        self.round = 0
        self.pg = PgServer(os.path.join(ctx.rundir, "pg"), ctx.settings["postgres"])

    def start_source(self) -> None:
        self.pg.start()
        self.load = SourceLoad(self.pg, self.ctx.sf_dir, self.ctx.seed, self.conf["seed_rows"])
        self.load.seed_tables()

    def setup(self) -> None:
        from pgwarehouse_spark.sync.engine import SyncEngine
        from pgwarehouse_spark.sync.psql import PsqlCopySource

        self.wh = os.path.join(self.ctx.rundir, "warehouse")
        source = PsqlCopySource(os.path.join(self.ctx.rundir, "staging"), **self.pg.conn())
        self.engine = SyncEngine(self.ctx.spark, source, self.wh)
        for t in self.tables:
            self.engine.sync(t)  # created
        for _ in range(self.conf["warmup_ops"]):
            self.prepare(-1)
            for t in self.tables:
                self.engine.sync(t)
        for t in self.tables:
            self.engine.compact(t)

    def prepare(self, i: int) -> None:
        self.round += 1
        self.load.apply_delta(self.round, self.conf["delta"])

    def compacts(self, i: int) -> bool:
        return i % self.conf["compact_every"] == self.conf["compact_every"] - 1

    def op(self, i: int) -> None:
        for t in self.tables:
            self.engine.sync(t)
        if self.compacts(i):
            for t in self.tables:
                self.engine.compact(t)

    def check(self, i: int) -> list[str]:
        bad = []
        for t in self.tables:
            want = self.load.count(t) + (1 if self.ctx.corrupt_op == i else 0)
            got = self.engine.count_table(t)
            if got != want:
                bad.append(f"op {i}: {t} warehouse has {got} rows, source {want}")
        return bad

    def finish(self) -> list[str]:
        return [
            f"verify {t}: digest mismatch in buckets {r['buckets']}"
            for t in self.tables
            for r in [self.engine.verify(t)]
            if not r["ok"]
        ]

    def source_bytes(self) -> int:
        return self.load.relation_bytes(self.tables)

    def wh_bytes_per_src_byte(self) -> float:
        return _parquet_bytes(self.wh) / self.source_bytes()

    def wh_files(self) -> dict[str, int]:
        return {
            t: sum(
                1 for _root, _d, files in os.walk(os.path.join(self.wh, t))
                for f in files if f.endswith(".parquet")
            )
            for t in self.tables
        }

    def close(self) -> None:
        self.pg.stop()


class _Collected:
    """The two attributes ``oraclecheck.compare`` reads from a frame,
    over rows that were already collected."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


class QueryMix(Workload):
    """One pass over the registered queries in a seeded order; every
    result is compared to the DuckDB-oracle-checked result of setup."""

    def __init__(self, ctx, conf: dict):
        super().__init__(ctx, conf)
        self.names = list(conf["queries"])
        self.results: dict[str, tuple] = {}
        self.query_walls: dict[str, list[float]] = {q: [] for q in self.names}

    def setup(self) -> None:
        from pgwarehouse_spark import registry
        from pgwarehouse_spark.oraclecheck import _norm_rows, compare, duckdb_conn

        specs = registry.all_queries()
        con = duckdb_conn(self.ctx.sf_dir)
        self.expected = {}
        try:
            for q in self.names:
                cols, rows = self.run_query(q)
                report = compare(_Collected(cols, rows), con, specs[q].oracle)
                if not report["ok"]:
                    raise RuntimeError(f"{q} disagrees with its DuckDB oracle: {report}")
                self.expected[q] = _norm_rows([c.lower() for c in cols], rows)
        finally:
            con.close()
        for i in range(self.conf["warmup_ops"]):
            self.op(-1 - i)

    def run_query(self, q: str):
        from pgwarehouse_spark import registry

        tr, spark = self.ctx.tracer, self.ctx.spark
        group = tr.op
        spark.sparkContext.setJobGroup(f"{group}|{q}|construct", "perfbench")
        with tr.span(f"operators.construct:{q}"):
            df = registry.queries()[q](spark, self.ctx.sf_dir)
        spark.sparkContext.setJobGroup(f"{group}|{q}|action", "perfbench")
        with tr.span(f"operators.action:{q}"):
            rows = df.collect()
        spark.sparkContext.setJobGroup(group, "perfbench")
        return df.columns, rows

    def op(self, i: int) -> None:
        order = list(self.names)
        random.Random(f"{self.ctx.seed}:order:{i}").shuffle(order)
        self.results = {}
        for q in order:
            t0 = time.perf_counter()
            self.results[q] = self.run_query(q)
            if i >= 0:
                self.query_walls[q].append(time.perf_counter() - t0)

    def check(self, i: int) -> list[str]:
        from pgwarehouse_spark.oraclecheck import _norm_rows

        bad = []
        for q, (cols, rows) in self.results.items():
            got = _norm_rows([c.lower() for c in cols], rows)
            want = self.expected[q]
            if self.ctx.corrupt_op == i and q == self.names[0]:
                want = want[1:]
            if got != want:
                bad.append(f"op {i}: {q} result differs from the oracle-checked result")
        return bad

    def wh_bytes_per_src_byte(self) -> float:
        """Bytes of the compacted warehouse copies over the bytes of the
        source parquet files they were made from."""
        compact = os.environ["SPARK_GRAFT_COMPACT_DIR"]
        copies = [
            name for _tag in os.listdir(compact)
            for name in os.listdir(os.path.join(compact, _tag))
        ]
        src = sum(
            os.path.getsize(os.path.join(self.ctx.sf_dir, f"{n}.parquet")) for n in copies
        )
        return _parquet_bytes(compact) / src

    def detail(self) -> dict:
        return {"query_walls_s": self.query_walls}


WORKLOADS = {
    "pg_incremental_sync": IncrementalSync,
    "warehouse_query_mix": QueryMix,
}
