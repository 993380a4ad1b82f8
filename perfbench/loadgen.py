"""Seeded load generation for the sync workloads.

The source tables are seeded from the sf0.1 testdata parquet files;
every later change to them is a delta drawn from ``random.Random`` keyed
by the run's seed and the round number, so one seed always produces the
same source history. Deltas are applied in one psql transaction each and
are not timed: they stand in for the OLTP writers the warehouse copies.
"""

from __future__ import annotations

import datetime as dt
import io
import random

import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

DDL = {
    "orders": """CREATE TABLE orders (
        o_orderkey bigint PRIMARY KEY, o_custkey bigint, o_orderstatus text,
        o_totalprice double precision, o_orderdate timestamp,
        o_orderpriority text, updated_at timestamp NOT NULL)""",
    "events": """CREATE TABLE events (
        event_id bigint PRIMARY KEY, ts timestamp, user_id bigint,
        event_type text, value double precision, props text)""",
}

BASE_TS = dt.datetime(2024, 1, 1)
EVENT_TYPES = ("view", "click", "cart", "purchase", "share")
STATUSES = ("O", "F", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _csv(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pacsv.write_csv(table, buf, pacsv.WriteOptions(include_header=False))
    return buf.getvalue()


def _fmt_ts(ts: dt.datetime) -> str:
    return ts.strftime("%Y-%m-%d %H:%M:%S")


class SourceLoad:
    """Owns the source tables of one run and the seeded deltas applied
    to them. ``rows`` caps how many leading rows of each sf0.1 table are
    seeded (``None`` seeds the whole table)."""

    def __init__(self, pg, sf_dir: str, seed: int, rows: dict[str, int | None]):
        self.pg = pg
        self.sf_dir = sf_dir
        self.seed = seed
        self.rows = rows
        self.order_keys: list[int] = []
        self.next_order_key = 0
        self.next_event_id = 0

    def _read(self, name: str) -> pa.Table:
        table = pq.read_table(f"{self.sf_dir}/{name}.parquet")
        cap = self.rows.get(name)
        return table if cap is None else table.slice(0, cap)

    def seed_tables(self) -> None:
        self.pg.psql("SET client_min_messages=warning; " + "; ".join(
            DDL[name] for name in self.rows
        ))
        for name in self.rows:
            table = self._read(name)
            if name == "orders":
                table = table.append_column(
                    "updated_at", pa.array([BASE_TS] * table.num_rows, pa.timestamp("us"))
                )
                self.order_keys = table.column("o_orderkey").to_pylist()
                self.next_order_key = max(self.order_keys) + 1
            elif name == "events":
                self.next_event_id = max(table.column("event_id").to_pylist()) + 1
            self.pg.copy_in(name, _csv(table))
        self.pg.psql("ANALYZE")

    def apply_delta(self, round_no: int, sizes: dict[str, int]) -> None:
        """One round of source writes: ``new_events`` appended events,
        ``updated_orders`` orders re-priced and ``new_orders`` inserted.
        All rows carry the round's timestamp, so each round moves the
        upsert watermark forward."""
        rng = random.Random(f"{self.seed}:{round_no}")
        ts = _fmt_ts(BASE_TS + dt.timedelta(minutes=round_no))
        script = ["BEGIN;"]
        if sizes.get("new_events"):
            lines = []
            for _ in range(sizes["new_events"]):
                eid, self.next_event_id = self.next_event_id, self.next_event_id + 1
                lines.append(
                    f"{eid},{ts},{rng.randrange(1, 10_000)},"
                    f"{rng.choice(EVENT_TYPES)},{rng.randrange(0, 100_000) / 100},"
                    f"\"{{\"\"r\"\": {round_no}}}\""
                )
            script += ["COPY events FROM STDIN WITH (FORMAT csv);", *lines, "\\."]
        if sizes.get("updated_orders") or sizes.get("new_orders"):
            script.append(
                "CREATE TEMP TABLE d (k bigint, c bigint, s text, p double precision,"
                " od timestamp, pr text) ON COMMIT DROP;"
            )
            script.append("COPY d FROM STDIN WITH (FORMAT csv);")
            for k in rng.sample(self.order_keys, sizes.get("updated_orders", 0)):
                script.append(f"{k},0,{rng.choice(STATUSES)},{rng.randrange(100, 50_000_000) / 100},,")
            new_keys = []
            for _ in range(sizes.get("new_orders", 0)):
                k, self.next_order_key = self.next_order_key, self.next_order_key + 1
                new_keys.append(k)
                script.append(
                    f"{k},{rng.randrange(1, 15_000)},{rng.choice(STATUSES)},"
                    f"{rng.randrange(100, 50_000_000) / 100},{ts},{rng.choice(PRIORITIES)}"
                )
            self.order_keys += new_keys
            script.append("\\.")
            script.append(
                "UPDATE orders o SET o_orderstatus = d.s, o_totalprice = d.p,"
                f" updated_at = '{ts}' FROM d WHERE o.o_orderkey = d.k;"
            )
            script.append(
                "INSERT INTO orders SELECT k, c, s, p, od, pr, "
                f"'{ts}' FROM d WHERE c <> 0;"
            )
        script.append("COMMIT;")
        self.pg.run_script("\n".join(script) + "\n")

    def count(self, table: str) -> int:
        return int(self.pg.scalar(f"select count(*) from {table}"))

    def relation_bytes(self, tables) -> int:
        names = ",".join(f"'{t}'" for t in tables)
        return int(self.pg.scalar(
            f"select sum(pg_relation_size(oid)) from pg_class where relname in ({names})"
        ))
