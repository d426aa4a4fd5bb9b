"""A throwaway PostgreSQL server inside the run directory.

The server listens on localhost only, on a port the OS assigns, with
trust authentication and ``fsync=off`` (the data directory is deleted
at exit, so durability buys nothing). PostgreSQL refuses to run as
root; as root the server runs in a new user namespace, where it sees
itself as an unprivileged user that owns its data directory.
"""

from __future__ import annotations

import os
import shutil
import signal
import socket
import subprocess
import time
from pathlib import Path

USER = "bench"


def _bin(name: str) -> str:
    found = shutil.which(name)
    if found is None:
        raise RuntimeError(f"PostgreSQL binary not found on PATH: {name}")
    return found


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Postgres:
    """Start with ``start()``; always call ``stop()`` (it waits for the
    server to exit). ``max_connections`` caps concurrent clients."""

    def __init__(self, root: Path, max_connections: int):
        self.data = root / "pgdata"
        self.log = root / "pg.log"
        self.max_connections = max_connections
        self.proc: subprocess.Popen | None = None
        self.port = 0

    @property
    def dsn(self) -> str:
        return f"postgresql://{USER}@localhost:{self.port}/postgres"

    def _wrap(self, argv: list[str]) -> list[str]:
        if os.geteuid() == 0:
            return ["unshare", "--user", *argv]
        return argv

    def start(self) -> None:
        subprocess.run(
            self._wrap([_bin("initdb"), "-D", str(self.data), "-U", USER,
                        "-E", "UTF8", "--auth=trust", "--no-sync"]),
            check=True, capture_output=True,
        )
        self.port = _free_port()
        with open(self.log, "wb") as log:
            self.proc = subprocess.Popen(
                self._wrap([
                    _bin("postgres"), "-D", str(self.data), "-p", str(self.port),
                    "-c", "listen_addresses=localhost",
                    "-c", "unix_socket_directories=",
                    "-c", f"max_connections={self.max_connections}",
                    "-c", "superuser_reserved_connections=0",
                    "-c", "fsync=off", "-c", "synchronous_commit=off",
                    "-c", "full_page_writes=off",
                    # no background or parallel work that lands at random
                    # times: the imports ANALYZE their tables themselves
                    "-c", "autovacuum=off",
                    "-c", "max_parallel_workers=0",
                    "-c", "max_parallel_maintenance_workers=0",
                    "-c", "max_parallel_workers_per_gather=0",
                    # no checkpoint during a run, and no WAL for COPY into a
                    # table created in the same transaction
                    "-c", "wal_level=minimal", "-c", "max_wal_senders=0",
                    "-c", "max_wal_size=8GB", "-c", "checkpoint_timeout=1h",
                ]),
                stdout=log, stderr=subprocess.STDOUT,
            )
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"postgres exited: {self.log.read_text()[-500:]}")
            if subprocess.run(["psql", self.dsn, "-Atc", "select 1"],
                              capture_output=True).returncode == 0:
                return
            time.sleep(0.1)
        raise RuntimeError("postgres did not accept connections within 30 s")

    def query(self, sql: str) -> list[list[str]]:
        res = subprocess.run(["psql", self.dsn, "-v", "ON_ERROR_STOP=1", "-AtF", "\t", "-c", sql],
                             capture_output=True, text=True)
        if res.returncode:
            raise RuntimeError(f"psql failed: {res.stderr.strip()}")
        return [line.split("\t") for line in res.stdout.splitlines()]

    def version(self) -> str:
        return self.query("show server_version")[0][0]

    def stop(self) -> None:
        if self.proc is None:
            return
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)  # fast shutdown
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc = None
