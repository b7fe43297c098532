"""The backfill workload: ``run`` -> ``tocsv`` -> ``inject-csv`` through the
program's public entry points, called the way the CLI calls them, and the
checks of their outputs against the models."""

from __future__ import annotations

import csv
import os
import shutil
import time
import traceback

import model
from workloads import CHAIN_ID, PG_SCHEMA

PHASES = ("run_s", "tocsv_s", "inject_s")


def create_tables(dsn: str, schema_file: str) -> dict:
    from substreams_sink_graph_load_spark.schema.entities import parse_schema_file
    from substreams_sink_graph_load_spark.sinks.ddl import create_table_ddl
    from substreams_sink_graph_load_spark.sinks.postgres import run_sql

    descs = parse_schema_file(schema_file)
    run_sql(dsn, f'CREATE SCHEMA IF NOT EXISTS "{PG_SCHEMA}"')
    for desc in descs.values():
        run_sql(dsn, create_table_ddl(desc, PG_SCHEMA))
    return descs


def reset(dsn: str, descs: dict, out_dir: str) -> None:
    from substreams_sink_graph_load_spark.sinks.postgres import run_sql

    shutil.rmtree(out_dir, ignore_errors=True)
    tables = ", ".join(f'"{PG_SCHEMA}"."{t}"' for t in sorted(descs))
    run_sql(dsn, f"TRUNCATE {tables}")


def one_pass(spark, inp: dict, out_dir: str, dsn: str, descs: dict, bundle_size: int,
             log) -> dict:
    """One backfill pass.  Returns phase walls (a failed phase is absent,
    and so is every phase after it) plus ``failed`` and ``attempted``."""
    from substreams_sink_graph_load_spark.sinks.postgres import (
        inject_csv_files,
        list_candidate_files,
    )
    from substreams_sink_graph_load_spark.streaming.ingest import run_ingest
    from substreams_sink_graph_load_spark.tocsv import tocsv_all

    jsonl, csv_dir = os.path.join(out_dir, "jsonl"), os.path.join(out_dir, "csv")
    stop = inp["stop_block"]
    entities = sorted(descs)

    def inject():
        for ent in entities:
            files = list_candidate_files(os.path.join(csv_dir, ent), 0, stop)
            inject_csv_files(spark, files, dsn, PG_SCHEMA, ent, descs[ent])

    steps = [
        ("run_s", lambda: run_ingest(spark, jsonl, entities=entities, stop_block=stop,
                                     wire_path=inp["wire"], bundle_size=bundle_size,
                                     chain_id=CHAIN_ID)),
        ("tocsv_s", lambda: tocsv_all(spark, jsonl, csv_dir, inp["schema"],
                                      stop_block=stop, bundle_size=bundle_size)),
        ("inject_s", inject),
    ]
    out = {"attempted": 0, "failed": 0}
    for name, fn in steps:
        out["attempted"] += 1
        t0 = time.perf_counter()
        try:
            fn()
        except Exception:
            log(f"{name} failed:\n{traceback.format_exc()}")
            out["failed"] += 1
            break
        out[name] = time.perf_counter() - t0
    return out


def _read_csv_dir(path: str) -> dict[str, list[tuple]]:
    out = {}
    for fn in sorted(os.listdir(path)):
        with open(os.path.join(path, fn), newline="") as fh:
            rows = list(csv.reader(fh))
        out[fn] = sorted(tuple(r) for r in rows[1:])
    return out


def check(inp: dict, expected: dict, out_dir: str, dsn: str, descs: dict, log) -> dict:
    """Compare the pass's CSV bundles with the models and each Postgres
    table's count and checksum with its CSV rows.  One check per table,
    plus ``poi2$``; returns failed/attempted and output sizes."""
    from substreams_sink_graph_load_spark.sinks.postgres import run_sql

    # run writes poi2$ next to the JSONL bundles; tocsv writes the rest
    dirs = {"poi2$": os.path.join(out_dir, "jsonl")}
    csv_dir = os.path.join(out_dir, "csv")
    res = {"attempted": 0, "failed": 0, "csv_rows": 0, "csv_files": 0, "csv_mb": 0.0}
    tables = dict(expected["tables"])
    tables["poi2$"] = expected["poi"]
    for table, want in sorted(tables.items()):
        res["attempted"] += 1
        path = os.path.join(dirs.get(table, csv_dir), table)
        got = _read_csv_dir(path) if os.path.isdir(path) else {}
        if got != want:
            bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
            log(f"check {table}: CSV differs from the model in {bad[:5]}")
            res["failed"] += 1
            continue
        n_rows = sum(len(v) for v in got.values())
        if table in descs:
            res["csv_rows"] += n_rows
            res["csv_files"] += len(got)
            res["csv_mb"] += sum(os.path.getsize(os.path.join(path, f)) for f in got) / 1e6
            res["attempted"] += 1
            want_sum = sum(model.row_checksum(r[0], _pg_range_text(r[1]))
                           for rows in got.values() for r in rows)
            block = 'block$' if descs[table].immutable else 'block_range'
            rows = run_sql(dsn, (
                "SELECT count(*), coalesce(sum(('x' || substr(md5(id || '|' || "
                f'"{block}"::text), 1, 8))::bit(32)::int), 0) '
                f'FROM "{PG_SCHEMA}"."{table}"'
            ))
            got_pg = (int(rows[0][0]), int(rows[0][1]))
            if got_pg != (n_rows, want_sum):
                log(f"check {table}: Postgres has {got_pg}, CSV has {(n_rows, want_sum)}")
                res["failed"] += 1
    return res


def _pg_range_text(block_col: str) -> str:
    """Postgres stores a zero-width ``[n,n)`` int4range as ``empty``."""
    if block_col.startswith("["):
        lo, _, hi = block_col[1:-1].partition(",")
        if lo == hi:
            return "empty"
    return block_col


def expected_outputs(inp: dict, bundle_size: int) -> dict:
    stop = inp["stop_block"]
    return {
        "tables": model.expected_tables(inp["specs"], inp["events"], stop, bundle_size),
        "poi": model.expected_poi_rows(inp["events"], CHAIN_ID, stop, bundle_size),
    }
