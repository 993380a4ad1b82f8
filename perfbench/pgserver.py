"""An ephemeral Postgres cluster private to one benchmark run.

The cluster lives in a directory of the run, listens only on a unix
socket in that directory, and is stopped (and waited for) by ``stop``.
Postgres refuses to run as root; when the benchmark runs as root the
server is started inside a user namespace that maps the caller to an
unprivileged id, so the data directory can stay inside the checkout
even when no other OS user can reach it.
"""

from __future__ import annotations

import os
import shutil
import subprocess


def _find(binary: str) -> str:
    found = shutil.which(binary)
    if found:
        return found
    for root in ("/usr/local/bin", "/usr/lib/postgresql/15/bin"):
        cand = os.path.join(root, binary)
        if os.path.exists(cand):
            return cand
    raise FileNotFoundError(f"{binary} not found; the benchmark needs Postgres 15")


def _as_unprivileged(argv: list[str]) -> list[str]:
    if os.geteuid() != 0:
        return argv
    return ["unshare", "-U", "--map-user=1000", "--map-group=1000", *argv]


class PgServer:
    """``initdb`` + ``pg_ctl start`` on ``base``; ``settings`` are passed
    as ``-c name=value`` server options."""

    def __init__(self, base: str, settings: dict[str, str]):
        self.base = base
        self.data = os.path.join(base, "pgdata")
        self.settings = settings
        self.started = False

    def start(self) -> None:
        os.makedirs(self.base, exist_ok=True)
        subprocess.run(
            _as_unprivileged([
                _find("initdb"), "-D", self.data, "-E", "UTF8",
                "--no-locale", "-A", "trust", "-U", "postgres",
            ]),
            check=True, capture_output=True, timeout=120,
        )
        opts = ["-c listen_addresses=''", f"-c unix_socket_directories={self.base}"]
        opts += [f"-c {k}={v}" for k, v in self.settings.items()]
        subprocess.run(
            _as_unprivileged([
                _find("pg_ctl"), "-D", self.data,
                "-l", os.path.join(self.base, "pg.log"),
                "-o", " ".join(opts), "-w", "start",
            ]),
            check=True, capture_output=True, timeout=120,
        )
        self.started = True

    def stop(self) -> None:
        if not self.started:
            return
        # -w waits until the postmaster and all its backends have exited
        subprocess.run(
            _as_unprivileged([
                _find("pg_ctl"), "-D", self.data, "-m", "fast", "-w", "stop",
            ]),
            capture_output=True, timeout=120,
        )
        self.started = False

    def conn(self) -> dict:
        return {"host": self.base, "user": "postgres", "dbname": "postgres"}

    def psql(self, sql: str, stdin: bytes | None = None) -> str:
        proc = subprocess.run(
            ["psql", "--no-psqlrc", "--quiet", "-h", self.base, "-U", "postgres",
             "-d", "postgres", "-v", "ON_ERROR_STOP=1", "--tuples-only",
             "--pset=format=unaligned", "-c", sql],
            input=stdin, capture_output=True, timeout=300,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"psql failed: {proc.stderr.decode(errors='replace')}")
        return proc.stdout.decode()

    def run_script(self, script: str) -> None:
        """Run a multi-statement script (inline ``COPY … FROM STDIN``
        data allowed) on one connection."""
        proc = subprocess.run(
            ["psql", "--no-psqlrc", "--quiet", "-h", self.base, "-U", "postgres",
             "-d", "postgres", "-v", "ON_ERROR_STOP=1", "-f", "-"],
            input=script.encode(), capture_output=True, timeout=300,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"psql script failed: {proc.stderr.decode(errors='replace')}")

    def copy_in(self, table: str, csv_bytes: bytes) -> None:
        self.psql(f"\\copy {table} from stdin with (format csv)", stdin=csv_bytes)

    def scalar(self, sql: str) -> str:
        return self.psql(sql).strip()
