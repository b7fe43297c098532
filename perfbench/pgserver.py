"""Throwaway Postgres for the backfill workloads: ``initdb`` + ``pg_ctl``
on a unix socket inside the benchmark's work directory, trust auth, the
way ``tests/test_postgres_live.py`` boots one.

The server runs with ``fsync=off`` on both sides of every comparison: the
bulk load is measured, not the host's disk flush latency, which on a
shared machine is the noisiest thing in the path.

Postgres refuses to run as root.  As root the server commands run as the
``postgres`` user with the ``CAP_DAC_READ_SEARCH`` capability kept, so the
server can reach a work directory under a path only root can traverse.
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess

FSYNC = "off"
# unix socket paths are limited to 107 bytes (sun_path)
_SOCKET_PATH_MAX = 100


def _as_server_user(cmd: list[str]) -> list[str]:
    if os.getuid() != 0:
        return cmd
    return [
        "setpriv", "--reuid=postgres", "--regid=postgres", "--clear-groups",
        "--inh-caps=+dac_read_search", "--ambient-caps=+dac_read_search", *cmd,
    ]


class PgServer:
    """One server; ``start()`` then ``dsn``; ``stop()`` always."""

    def __init__(self, base: str):
        self.base = os.path.abspath(base)
        self.data = os.path.join(self.base, "data")
        self.dsn: str | None = None
        self._running = False

    def _run(self, cmd: list[str]) -> None:
        r = subprocess.run(_as_server_user(cmd), capture_output=True, text=True,
                           cwd=self.base)
        if r.returncode != 0:
            raise RuntimeError(f"{cmd[0]} failed: {(r.stderr or r.stdout).strip()[-400:]}")

    def start(self) -> str:
        for tool in ("initdb", "pg_ctl", "psql"):
            if shutil.which(tool) is None:
                raise RuntimeError(f"{tool} not on PATH")
        os.makedirs(self.base, exist_ok=True)
        if os.getuid() == 0:
            shutil.chown(self.base, "postgres", "postgres")
        self._run(["initdb", "-D", self.data, "-E", "UTF8", "--no-sync",
                   "-A", "trust", "-U", "postgres"])
        # mmap keeps dynamic shared memory in the data directory, not /dev/shm
        opts = f"-c fsync={FSYNC} -c max_connections=20 -c dynamic_shared_memory_type=mmap"
        if len(os.path.join(self.base, ".s.PGSQL.5432")) <= _SOCKET_PATH_MAX:
            opts += f" -k {self.base} -h ''"
            self.dsn = f"host={self.base} dbname=postgres user=postgres"
        else:  # path too long for a socket: loopback TCP on a free port
            with socket.socket() as s:
                s.bind(("127.0.0.1", 0))
                port = s.getsockname()[1]
            opts += f" -k '' -h 127.0.0.1 -p {port}"
            self.dsn = f"host=127.0.0.1 port={port} dbname=postgres user=postgres"
        self._run(["pg_ctl", "-D", self.data, "-o", opts,
                   "-l", os.path.join(self.base, "pg.log"), "-w", "start"])
        self._running = True
        return self.dsn

    def pid(self) -> int | None:
        """The postmaster's pid (its backends are its children)."""
        try:
            with open(os.path.join(self.data, "postmaster.pid")) as fh:
                return int(fh.readline())
        except (OSError, ValueError):
            return None

    def stop(self) -> None:
        if self._running:
            self._running = False
            self._run(["pg_ctl", "-D", self.data, "-m", "immediate", "-w", "stop"])
