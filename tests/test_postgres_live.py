"""Live Postgres round-trip for the inject-csv sink.

The reference's headline feature is ``COPY ... FROM STDIN`` of the bundled
CSVs into graph-node tables (ref inject_csv.go:271-303); golden tests prove
our CSV bytes match the reference writer, and THIS module proves a real
Postgres server parses those bytes — int4range literals, bytea hex, array
literals, FORCE_NOT_NULL semantics — by spinning up a throwaway cluster
(initdb + pg_ctl, unix socket, trust auth).  Skipped when server binaries
are absent.  Runs the sink's psql CLI client; libpq speaks the same COPY
protocol as the reference's pgx.
"""

from __future__ import annotations

import json
import os
import pwd
import shutil
import subprocess
import tempfile

import pytest

from substreams_sink_graph_load_spark.schema.entities import parse_schema_file
from substreams_sink_graph_load_spark.sinks.ddl import (
    create_index_sql,
    create_table_ddl,
    drop_index_sql,
    extract_index_sql,
)
from substreams_sink_graph_load_spark.sinks.postgres import (
    _psql_copy_many,
    build_copy_sql,
    inject_csv_files,
    list_candidate_files,
    run_sql,
    validate_csv_header,
)
from substreams_sink_graph_load_spark.tocsv import tocsv

from test_pipeline_e2e import ACCOUNT_EVENTS, SDL, TRANSFER_EVENTS

pytestmark = pytest.mark.skipif(
    shutil.which("initdb") is None or shutil.which("psql") is None,
    reason="postgres server binaries not installed",
)


def _pg_user_exists() -> bool:
    try:
        pwd.getpwnam("postgres")
        return True
    except KeyError:
        return False


def _run_server_cmd(cmd: str) -> subprocess.CompletedProcess:
    """initdb/pg_ctl refuse to run as root; drop to the postgres user then."""
    if os.getuid() == 0:
        return subprocess.run(
            ["su", "postgres", "-c", cmd], cwd="/tmp", capture_output=True, text=True
        )
    return subprocess.run(cmd, shell=True, capture_output=True, text=True)


@pytest.fixture(scope="session")
def pg_dsn():
    if os.getuid() == 0 and not _pg_user_exists():
        pytest.skip("running as root and no 'postgres' user to su to")
    base = tempfile.mkdtemp(prefix="pg_spark_", dir="/tmp")
    data = os.path.join(base, "data")
    if os.getuid() == 0:
        shutil.chown(base, "postgres")
    r = _run_server_cmd(f"initdb -D {data} -E UTF8 --no-sync -A trust")
    if r.returncode != 0:
        shutil.rmtree(base, ignore_errors=True)
        pytest.skip(f"initdb failed: {r.stderr.strip()[-300:]}")
    r = _run_server_cmd(
        f"pg_ctl -D {data} -o '-k {base} -h \"\"' -l {base}/pg.log -w start"
    )
    if r.returncode != 0:
        shutil.rmtree(base, ignore_errors=True)
        pytest.skip(f"pg_ctl start failed: {r.stderr.strip()[-300:]}")
    try:
        yield f"host={base} dbname=postgres user=postgres"
    finally:
        _run_server_cmd(f"pg_ctl -D {data} -m immediate -w stop")
        shutil.rmtree(base, ignore_errors=True)


@pytest.fixture()
def graph_fixture(tmp_path):
    """F1/F2 fixture from test_pipeline_e2e, amended to be VALID input:
    ``tags: [String!]`` is non-nullable (array nullability comes from the
    element type, ref entities.go:192), and the reference's always-on
    create-validation (processor.go:243-277) rejects a create that omits a
    non-nullable field — so a live load needs every create fully populated.
    """
    import copy

    account_events = copy.deepcopy(ACCOUNT_EVENTS)
    a2_create = account_events["0000002000-0000002999.jsonl"][1]
    assert a2_create["entity_change"]["id"] == "a2"
    a2_create["entity_change"]["fields"].append(
        {"name": "tags",
         "new_value": {"Typed": {"Array": {"value": [{"Typed": {"String_": "solo"}}]}}}}
    )
    src = tmp_path / "jsonl"
    schema_file = tmp_path / "schema.graphql"
    schema_file.write_text(SDL)
    for entity, files in (("account", account_events), ("transfer", TRANSFER_EVENTS)):
        d = src / entity
        d.mkdir(parents=True)
        for fname, events in files.items():
            with open(d / fname, "w") as fh:
                for e in events:
                    fh.write(json.dumps(e) + "\n")
    return str(src), str(tmp_path / "csv"), str(schema_file)


def test_inject_roundtrip(spark, pg_dsn, graph_fixture):
    """tocsv output -> COPY -> queryable graph-node rows, end to end.

    Every CSV encoding the writer emits must round-trip the server: the
    int4range block_range, int8 block$, bytea ``\\x`` hex, the
    ``{...}``-literal string array, and quoted commas inside array elements.
    """
    src, dest, schema_file = graph_fixture
    descs = parse_schema_file(schema_file)
    run_sql(pg_dsn, 'CREATE SCHEMA IF NOT EXISTS "sgd1"')

    total_csv_rows = {}
    for entity in ("account", "transfer"):
        tocsv(spark, src, dest, entity, schema_file, stop_block=3000, bundle_size=1000)
        run_sql(pg_dsn, create_table_ddl(descs[entity], "sgd1"))
        files = list_candidate_files(os.path.join(dest, entity), 0, 3000)
        assert files, entity
        validate_csv_header(files[0], descs[entity])
        n = inject_csv_files(spark, files, pg_dsn, "sgd1", entity, descs[entity])
        assert n == len(files)
        data_rows = 0
        for f in files:
            with open(f) as fh:
                data_rows += max(sum(1 for _ in fh) - 1, 0)  # minus header
        total_csv_rows[entity] = data_rows

    assert run_sql(pg_dsn, 'SELECT count(*) FROM "sgd1"."account"') == [
        (str(total_csv_rows["account"]),)
    ]
    assert run_sql(pg_dsn, 'SELECT count(*) FROM "sgd1"."transfer"') == [
        (str(total_csv_rows["transfer"]),)
    ]

    # a1's first version closes at block 500: the int4range literal parsed
    rows = run_sql(
        pg_dsn,
        "SELECT lower(block_range), upper(block_range), balance, tx_count "
        "FROM \"sgd1\".\"account\" WHERE id = 'a1' ORDER BY lower(block_range)",
    )
    assert rows[0] == ("1", "500", "100", "1")
    assert rows[1][:2] == ("500", "2100")

    # bytea hex + array literal with an embedded comma survived the server.
    # Replicated reference quirk: an absent nullable field renders as the
    # literal string ``NULL`` (writer.go:233) but the COPY statement has no
    # ``NULL '...'`` spec (inject_csv.go:277) and CSV-format COPY only maps
    # *unquoted empty* to SQL NULL — so the reference (and therefore we)
    # load the 4 ASCII bytes ``NULL`` into the column, here as bytea
    # ``4e554c4c``, not SQL NULL.
    rows = run_sql(
        pg_dsn,
        "SELECT encode(payload, 'hex'), tags[1], tags[2], array_length(tags, 1) "
        "FROM \"sgd1\".\"account\" WHERE id = 'a1' ORDER BY lower(block_range)",
    )
    assert rows == [
        ("4e554c4c", "x,y", "z", "2"),  # pre-payload version: 'NULL' bytes
        ("deadbeef", "x,y", "z", "2"),
    ]

    # immutable entity: block$ int8 column, one row per create
    rows = run_sql(
        pg_dsn,
        'SELECT id, "block$", value FROM "sgd1"."transfer" ORDER BY "block$"',
    )
    assert rows == [("t1", "10", "42"), ("t2", "2500", "9")]


def test_force_not_null_live(pg_dsn, tmp_path):
    """FORCE_NOT_NULL columns load empty CSV strings as '' while plain
    nullable columns load them as NULL (ref inject_csv.go:88-106, 278-289)."""
    run_sql(pg_dsn, 'CREATE SCHEMA IF NOT EXISTS "fnn"')
    run_sql(
        pg_dsn,
        'CREATE TABLE "fnn"."t" ("id" text NOT NULL, "block_range" int4range '
        'NOT NULL, "name" text NOT NULL, "note" text)',
    )
    p = tmp_path / "0000000000-0000000999.csv"
    p.write_text('id,block_range,name,note\nx1,"[1,)",,\n')
    sql = build_copy_sql("fnn", "t", ["id", "block_range", "name", "note"],
                         ["id", "block_range", "name"])
    _psql_copy_many(pg_dsn, sql, [str(p)])
    rows = run_sql(
        pg_dsn,
        "SELECT name = '', note IS NULL FROM \"fnn\".\"t\" WHERE id = 'x1'",
    )
    assert rows == [("t", "t")]

    # without FORCE_NOT_NULL the same bytes violate the NOT NULL constraint
    bare = build_copy_sql("fnn", "t", ["id", "block_range", "name", "note"], [])
    p2 = tmp_path / "0000001000-0000001999.csv"
    p2.write_text('id,block_range,name,note\nx2,"[1,)",,\n')
    with pytest.raises(RuntimeError, match="violates not-null|psql COPY"):
        _psql_copy_many(pg_dsn, bare, [str(p2)])


def test_index_lifecycle_live(pg_dsn):
    """extract -> drop (protected kept) -> recreate against a live catalog
    (ref extract-indexes.go / drop-indexes.go / create-indexes.go)."""
    run_sql(pg_dsn, 'CREATE SCHEMA IF NOT EXISTS "idx"')
    run_sql(
        pg_dsn,
        'CREATE TABLE "idx"."pair" ("id" text NOT NULL, "block_range" '
        'int4range NOT NULL, "token0" text, CONSTRAINT pair_pkey '
        "PRIMARY KEY (id))",
    )
    run_sql(pg_dsn, 'CREATE INDEX pair_token0_idx ON "idx"."pair" (token0)')

    inv = run_sql(pg_dsn, extract_index_sql("idx"))
    names = {r[1] for r in inv}
    assert {"pair_pkey", "pair_token0_idx"} <= names
    defs = {r[1]: r[2] for r in inv}

    drops = drop_index_sql("idx", {"pair": sorted(names)}, schema_tables={"pair"})
    assert drops == ['DROP INDEX IF EXISTS "idx"."pair_token0_idx"']
    for stmt in drops:
        run_sql(pg_dsn, stmt)
    left = {r[1] for r in run_sql(pg_dsn, extract_index_sql("idx"))}
    assert left == {"pair_pkey"}  # protected survived, secondary gone

    for lane in create_index_sql([defs["pair_token0_idx"]]):
        for stmt in lane:
            run_sql(pg_dsn, stmt)
    back = {r[1] for r in run_sql(pg_dsn, extract_index_sql("idx"))}
    assert back == {"pair_pkey", "pair_token0_idx"}


def test_copy_error_surfaces(pg_dsn, tmp_path):
    """A malformed CSV fails the COPY and the server error reaches the
    caller (the reference aborts the inject on any COPY error)."""
    run_sql(pg_dsn, 'CREATE SCHEMA IF NOT EXISTS "err"')
    run_sql(pg_dsn, 'CREATE TABLE "err"."t" ("id" text NOT NULL, "n" integer)')
    p = tmp_path / "bad.csv"
    p.write_text("id,n\nrow1,notanumber\n")
    with pytest.raises(RuntimeError, match="invalid input syntax"):
        _psql_copy_many(
            pg_dsn, build_copy_sql("err", "t", ["id", "n"], []), [str(p)]
        )


def test_copy_task_is_one_transaction(pg_dsn, tmp_path):
    """A task's files load in one transaction: when a later file fails,
    the rows of the files before it roll back, so a retried task cannot
    load them twice."""
    run_sql(pg_dsn, 'CREATE SCHEMA IF NOT EXISTS "txn"')
    run_sql(pg_dsn, 'CREATE TABLE "txn"."t" ("id" text NOT NULL, "n" integer)')
    good = tmp_path / "good.csv"
    good.write_text("id,n\nrow1,1\nrow2,2\n")
    bad = tmp_path / "bad.csv"
    bad.write_text("id,n\nrow3,notanumber\n")
    sql = build_copy_sql("txn", "t", ["id", "n"], [])
    with pytest.raises(RuntimeError, match="invalid input syntax"):
        _psql_copy_many(pg_dsn, sql, [str(good), str(bad)])
    assert run_sql(pg_dsn, 'SELECT count(*) FROM "txn"."t"') == [("0",)]


def test_copy_path_with_single_quote(pg_dsn, tmp_path):
    """A file under a directory whose name contains ``'`` loads: the path
    is quoted for psql's ``\\copy ... from '<path>'``."""
    run_sql(pg_dsn, 'CREATE SCHEMA IF NOT EXISTS "quote"')
    run_sql(pg_dsn, 'CREATE TABLE "quote"."t" ("id" text NOT NULL, "n" integer)')
    d = tmp_path / "o'brien"
    d.mkdir()
    p = d / "0000000000-0000000999.csv"
    p.write_text("id,n\nq1,7\n")
    _psql_copy_many(pg_dsn, build_copy_sql("quote", "t", ["id", "n"], []), [str(p)])
    assert run_sql(pg_dsn, 'SELECT id, n FROM "quote"."t"') == [("q1", "7")]


def test_extract_index_cli_live(pg_dsn, tmp_path, monkeypatch):
    """CLI extract-index against the live catalog: reference-format
    output, schema-table filtering, and --save's create_indexes.ddl
    (ref extract-indexes.go:31-45, 98-104, 141-147; the schema is
    sgd-prefixed because live mode validates the sgd/Qm prefix like
    extract-indexes.go:74-92)."""
    import contextlib
    import io

    from substreams_sink_graph_load_spark.cli import main as cli_main

    run_sql(pg_dsn, 'CREATE SCHEMA IF NOT EXISTS "sgd77x"')
    run_sql(
        pg_dsn,
        'CREATE TABLE "sgd77x"."pair" ("id" text NOT NULL, "token0" text, '
        "CONSTRAINT xpair_pkey PRIMARY KEY (id))",
    )
    run_sql(pg_dsn, 'CREATE INDEX xpair_token0_idx ON "sgd77x"."pair" (token0)')
    # a table OUTSIDE the graphql schema must be filtered out
    run_sql(pg_dsn, 'CREATE TABLE "sgd77x"."noise" ("id" text PRIMARY KEY)')

    sdl = tmp_path / "pair.graphql"
    sdl.write_text("type Pair @entity {\n  id: ID!\n  token0: String\n}\n")
    monkeypatch.chdir(tmp_path)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli_main(
            ["extract-index", "sgd77x", pg_dsn, str(sdl), "--save"]
        )
    out = buf.getvalue()
    assert rc == 0
    assert "====> table  pair" in out
    assert "=> indexName xpair_pkey" in out
    assert "xpair_token0_idx" in out
    assert "noise" not in out  # schema filter applied

    ddl = (tmp_path / "create_indexes.ddl").read_text()
    assert "xpair_token0_idx" in ddl and ddl.strip().endswith(";")
    assert "noise" not in ddl
