"""Postgres bulk-load sink: the reference's ``inject-csv`` command
(ref cmd/substreams-sink-graph-load/inject_csv.go) as a partition-wise
COPY executor.

The headline trick IS the reference's headline trick: ``COPY ... FROM STDIN
WITH (FORMAT CSV, HEADER, FORCE_NOT_NULL (...))`` per bundled file
(inject_csv.go:278-289) — 10-100x over row INSERTs.  Spark's role is
parallelism and placement: files distribute over executors with
``foreachPartition``, each partition holding one pooled connection
(inject_csv.go:78 uses 2-3; one per task here).

The wire client is the ``psql`` CLI: each task pipes its files' ``\\copy``
meta-commands into one ``psql <conninfo>`` process.  libpq speaks the same
COPY protocol as the reference's pgx ``CopyFrom``, so the live test
exercises the exact COPY statement and CSV bytes production sends.

Replicated reference quirk (verified against a live server in
tests/test_postgres_live.py): absent nullable fields render as the literal
string ``NULL`` (writer.go:233) but the COPY statement carries no
``NULL '...'`` spec (inject_csv.go:277), and CSV-format COPY maps only
*unquoted empty* fields to SQL NULL — so those columns store the 4 ASCII
bytes ``NULL`` (text ``'NULL'``, bytea ``\\x4e554c4c``), exactly as the
reference loads them.
"""

from __future__ import annotations

import csv
import os
import re
import shutil
import subprocess
from collections.abc import Sequence

from ..schema.entities import EntityDesc

_RANGE_RE = re.compile(r"(\d{10})-(\d{10})")


def force_not_null_columns(desc: EntityDesc) -> list[str]:
    """Non-nullable columns get FORCE_NOT_NULL so empty CSV strings load as
    ``''``/default instead of NULL (ref inject_csv.go:88-106: id + block
    column + every non-nullable field)."""
    cols = ["id", "block$" if desc.immutable else "block_range"]
    cols += sorted(
        f.name for f in desc.ordered_fields()
        if f.name != "id" and not f.nullable
    )
    # dedupe, keep order
    seen: set[str] = set()
    return [c for c in cols if not (c in seen or seen.add(c))]


def build_copy_sql(
    pg_schema: str, table: str, columns: Sequence[str], force_not_null: Sequence[str]
) -> str:
    """The exact COPY shape of inject_csv.go:278-289."""
    collist = ", ".join(f'"{c}"' for c in columns)
    stmt = (
        f'COPY "{pg_schema}"."{table}" ({collist}) FROM STDIN '
        "WITH (FORMAT CSV, HEADER"
    )
    if force_not_null:
        fnn = ", ".join(f'"{c}"' for c in force_not_null)
        stmt += f", FORCE_NOT_NULL ({fnn})"
    return stmt + ")"


def list_candidate_files(
    directory: str, start_block: int, stop_block: int
) -> list[str]:
    """Range-prune bundled CSVs: keep files overlapping [start, stop)
    (ref inject_csv.go:305-327), in block order."""
    out = []
    for fn in sorted(os.listdir(directory)):
        m = _RANGE_RE.search(fn)
        if not m or not fn.endswith(".csv"):
            continue
        s, e = int(m.group(1)), int(m.group(2))
        if e < start_block:
            continue
        if s >= stop_block:
            break
        out.append(os.path.join(directory, fn))
    return out


def validate_csv_header(path: str, desc: EntityDesc) -> list[str]:
    """Read the first file's header; demand the id + block leading columns
    (ref inject_csv.go:203-224).  Returns the column list for COPY."""
    with open(path, newline="") as fh:
        header = next(csv.reader(fh))
    if not header or header[0] != "id":
        raise ValueError(f"first column of {path!r} must be 'id', got {header[:1]}")
    expect = "block$" if desc.immutable else "block_range"
    if len(header) < 2 or header[1] != expect:
        raise ValueError(
            f"second column of {path!r} must be {expect!r}, got {header[1:2]}"
        )
    return header


def run_sql(dsn: str, sql: str) -> list[tuple[str, ...]]:
    """Execute one SQL statement; rows come back as tuples of strings.

    Runs through the ``psql`` CLI with tuple-only unaligned output.
    Orchestration path (DDL from :mod:`.ddl`, count checks) — not a
    data path, so CLI string parsing is fine.

    DSNs accept ``${ENV}`` substitution and the ``postgresql://`` URL form
    (ref postgres/dsn.go:10-57) via :func:`.dsn.expand_dsn`.
    """
    from .dsn import expand_dsn

    dsn = expand_dsn(dsn)
    if shutil.which("psql") is None:  # pragma: no cover - environment-specific
        raise NotImplementedError("psql not on PATH")
    out = subprocess.run(
        ["psql", dsn, "-v", "ON_ERROR_STOP=1", "-X", "-q", "-At", "-F", "\x1f", "-c", sql],
        check=True, capture_output=True, text=True,
    )
    return [tuple(line.split("\x1f")) for line in out.stdout.splitlines()]


def _psql_copy_many(dsn: str, copy_sql: str, paths: Sequence[str]) -> None:
    """COPY many files over ONE psql process/connection: each file becomes
    a client-side ``\\copy`` meta-command on stdin.  One subprocess + one
    connection per task, like the reference's libpq loop — a process
    spawn per file dominated the measured injection rate at bundle-file
    granularity (PLANS.md "r9: COPY sink measured against
    the reference's one performance claim": 1000-row bundles made COPY
    *slower* than batched INSERT until this).

    The task's files load in ONE transaction (``BEGIN``/``COMMIT`` under
    ``ON_ERROR_STOP``): a failed file rolls back the files before it, so
    a task Spark retries after a COPY error does not load them twice."""
    # COPY ... FROM STDIN ... -> \copy ... from '<path>' ...
    head, _, opts = copy_sql.partition(" FROM STDIN ")
    script = "BEGIN;\n" + "".join(
        "\\copy "
        + head[len("COPY "):]
        + " from '" + p.replace("'", "''") + "' "
        + opts
        + "\n"
        for p in paths
    ) + "COMMIT;\n"
    res = subprocess.run(
        ["psql", dsn, "-v", "ON_ERROR_STOP=1", "-X", "-q"],
        input=script.encode(), capture_output=True,
    )
    if res.returncode != 0:
        raise RuntimeError(
            f"psql COPY of {list(paths)!r} failed: "
            f"{res.stderr.decode(errors='replace')}"
        )


def inject_csv_files(
    spark,
    files: Sequence[str],
    dsn: str,
    pg_schema: str,
    table: str,
    desc: EntityDesc,
):
    """Distribute COPY-per-file over executors.

    Each of (at most) three tasks — the reference pools 2-3 connections
    (inject_csv.go:78) — COPYs its files over one ``psql`` connection in
    one transaction (:func:`_psql_copy_many`): the partition-wise analogue
    of running N inject processes (reference README.md:83-87 parallelizes
    per entity; we parallelize per file batch as well).
    """
    if not files:
        return 0
    from .dsn import expand_dsn

    # expand on the DRIVER: executors need not carry the secret env vars,
    # and a ${ENV}-form DSN reaches every COPY task already resolved
    dsn = expand_dsn(dsn)
    columns = validate_csv_header(files[0], desc)
    fnn = force_not_null_columns(desc)
    copy_sql = build_copy_sql(pg_schema, table, columns, fnn)

    def load_partition(paths):
        if shutil.which("psql") is None:  # pragma: no cover
            raise NotImplementedError(
                "psql not on PATH; install it to inject, or run the "
                "generated COPY statements manually"
            )
        paths = list(paths)
        _psql_copy_many(dsn, copy_sql, paths)
        return [len(paths)]

    rdd = spark.sparkContext.parallelize(list(files), min(3, len(files)))
    return sum(rdd.mapPartitions(load_partition).collect())
