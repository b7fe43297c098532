"""CLI command surface: every graphload command has a working equivalent."""

import io
import json
import os
import contextlib

import pytest

from substreams_sink_graph_load_spark.cli import main

SDL = """
type Account @entity { id: ID! name: String! }
type Transfer @entity(immutable: true) { id: ID! value: BigInt! }
"""


@pytest.fixture()
def schema_file(tmp_path):
    f = tmp_path / "schema.graphql"
    f.write_text(SDL)
    return str(f)


def run_cli(*argv):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(list(argv))
    return rc, buf.getvalue()


def test_list_entities(schema_file):
    rc, out = run_cli("list-entities", schema_file)
    assert rc == 0
    assert out.split() == ["account", "transfer"]


def test_handoff_sql():
    rc, out = run_cli("handoff", "QmX", "0xABC", "123")
    assert rc == 0
    assert "latest_ethereum_block_hash='abc'" in out
    assert "firehose_cursor=''" in out


def test_index_commands(schema_file, tmp_path):
    rc, out = run_cli("extract-index", "sgd9")
    assert rc == 0 and "pg_indexes" in out and "sgd9" in out

    rc, out = run_cli(
        "drop-index", "sgd9", schema_file,
        "account:account_pkey,account:attr_0_x,unknown_tbl:some_idx",
    )
    assert rc == 0
    assert out.strip() == 'DROP INDEX IF EXISTS "sgd9"."attr_0_x";'

    ddl = tmp_path / "idx.ddl"
    ddl.write_text("CREATE INDEX a ON t(x);\nCREATE INDEX b ON t(y);\n")
    rc, out = run_cli("create-index", str(ddl), "--connections", "2")
    assert rc == 0 and out.count("CREATE INDEX") == 2


def test_extract_index_live_resolves_qm_hash(schema_file, monkeypatch):
    """Live mode: a Qm deployment hash resolves to its sgdN schema via
    public.deployment_schemas before pg_indexes is queried, and non-sgd/
    non-Qm values are rejected (ref extract-indexes.go:74-92)."""
    import substreams_sink_graph_load_spark.sinks.postgres as pg

    calls = []

    def fake_run_sql(dsn, sql):
        calls.append(sql)
        if "deployment_schemas" in sql:
            assert "QmHashABC" in sql
            return [("sgd42",)]
        assert "pg_indexes" in sql and "sgd42" in sql
        return [("account", "attr_0_x", "CREATE INDEX attr_0_x ON account(x)")]

    monkeypatch.setattr(pg, "run_sql", fake_run_sql)
    rc, out = run_cli("extract-index", "QmHashABC", "postgres://x", schema_file)
    assert rc == 0
    assert len(calls) == 2
    assert "====> table  account" in out and "attr_0_x" in out

    # unknown hash -> loud error
    monkeypatch.setattr(pg, "run_sql", lambda dsn, sql: [])
    with pytest.raises(SystemExit, match="no schema found"):
        run_cli("extract-index", "QmMissing", "postgres://x")

    # invalid prefix -> reference's error text
    with pytest.raises(SystemExit, match="invalid value for first parameter"):
        run_cli("extract-index", "bogus", "postgres://x")


def test_inject_csv_print_sql(schema_file, tmp_path):
    d = tmp_path / "csv" / "account"
    d.mkdir(parents=True)
    f = d / "0000000000-0000000999.csv"
    f.write_text("id,block_range,name\na,\"[1,)\",x\n")
    rc, out = run_cli(
        "inject-csv", "sgd1", str(tmp_path / "csv"), "account", schema_file,
        "postgres://x", "0", "1000", "--print-sql",
    )
    assert rc == 0
    assert 'COPY "sgd1"."account" ("id", "block_range", "name")' in out
    assert 'FORCE_NOT_NULL ("id", "block_range", "name")' in out


def test_run_and_tocsv_commands(spark, schema_file, tmp_path, capsys):
    wire = tmp_path / "wire.jsonl"
    with open(wire, "w") as fh:
        for block, ent, id_, op, fields in [
            (1, "Account", "a", 1, [("name", {"String_": "x"})]),
            (2, "Transfer", "t", 1, [("value", {"Bigint": "5"})]),
            (900, "Account", "a", 2, [("name", {"String_": "y"})]),
        ]:
            fh.write(json.dumps({
                "entity_change": {"entity": ent, "id": id_, "operation": op,
                                  "fields": [{"name": n, "new_value": {"Typed": tv}}
                                             for n, tv in fields]},
                "block_num": block}) + "\n")
    dest = str(tmp_path / "jsonl")
    rc, out = run_cli("run", str(wire), dest, schema_file, "1000",
                      "--chain-id", "c1")
    assert rc == 0
    assert "account: 1 bundles" in out and "poi2$: 1 bundles" in out
    # the summary reports the high-water mark written, not stop - 1
    done = [l for l in capsys.readouterr().err.splitlines() if "[run] done" in l]
    assert len(done) == 1 and done[0].endswith(" last_block=900"), done
    rc, out = run_cli("tocsv", dest, str(tmp_path / "csv"), "account",
                      schema_file, "1000")
    assert rc == 0
    body = open(out.strip().splitlines()[-1]).read()
    assert 'a,"[1,900)",x' in body and 'a,"[900,)",y' in body


def test_tocsv_all_command(spark, schema_file, tmp_path):
    import test_pipeline_e2e as e2e

    src = tmp_path / "jsonl"
    sf = tmp_path / "schema2.graphql"
    sf.write_text(e2e.SDL)
    for entity, evmap in (("account", e2e.ACCOUNT_EVENTS), ("transfer", e2e.TRANSFER_EVENTS)):
        d = src / entity
        d.mkdir(parents=True)
        for fname, evs in evmap.items():
            with open(d / fname, "w") as fh:
                for e in evs:
                    fh.write(json.dumps(e) + "\n")
    rc, out = run_cli("tocsv-all", str(src), str(tmp_path / "csv"), str(sf), "3000")
    assert rc == 0
    assert "account: 3 bundles" in out and "transfer: 3 bundles" in out


def test_tocsv_all_command_fails_on_one_entity(spark, tmp_path):
    """One entity's fatal input fails the whole command as one job: no
    entity, the healthy one included, is left with a bundle, and no
    _staged directory is left under the destination."""
    import test_pipeline_e2e as e2e

    src, dest = tmp_path / "jsonl", tmp_path / "csv"
    sf = tmp_path / "schema2.graphql"
    sf.write_text(e2e.SDL)
    e2e.write_log(src, "account", [e2e.ev(1, "Account", "a1", 1, e2e.FULL_ACCOUNT)])
    e2e.write_log(src, "transfer", [
        e2e.ev(10, "Transfer", "t1", 1, [("fromAccount", {"String_": "a1"}),
                                         ("value", {"Bigint": "42"})]),
        e2e.ev(20, "Transfer", "t1", 3, []),
    ])
    with pytest.raises(ValueError, match="delete_on_immutable for entity "
                                         "transfer id t1 at block 20"):
        run_cli("tocsv-all", str(src), str(dest), str(sf), "1000")
    assert os.listdir(dest / "transfer") == []
    assert os.listdir(dest / "account") == []
    assert sorted(os.listdir(dest)) == ["account", "transfer"]


def test_module_reports_fatal_input_in_one_line(tmp_path):
    """``python -m`` on an unparseable line exits 1 with the message once
    and no Java stack frame on stderr.  It runs in its own process: the
    shared test JVM's log output cannot be captured."""
    import subprocess
    import sys

    src = tmp_path / "src" / "transfer"
    src.mkdir(parents=True)
    (src / "0000000000-0000000999.jsonl").write_text(
        json.dumps({"entity_change": {
            "entity": "Transfer", "id": "t1", "operation": 1,
            "fields": [{"name": "value", "new_value": {"Typed": {"Bigint": "42"}}}],
        }, "block_num": 10}) + "\nnot json at all\n"
    )
    schema = tmp_path / "schema.graphql"
    schema.write_text(SDL)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-m", "substreams_sink_graph_load_spark", "tocsv",
         str(tmp_path / "src"), str(tmp_path / "csv"), "transfer",
         str(schema), "1000"],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    message = f"unparseable JSONL line in file:{src}/0000000000-0000000999.jsonl (line 2)"
    assert proc.returncode == 1, proc.stderr
    assert proc.stderr.count(message) == 1, proc.stderr
    assert f"graphload-spark: error: {message}\n" in proc.stderr
    assert not [l for l in proc.stderr.splitlines() if l.startswith("\tat")], proc.stderr


def test_module_reports_corrupt_wire_line_in_one_line(tmp_path):
    """``python -m ... run`` on a corrupt wire line exits 1 with the
    line-cursor message once, no Java stack frame and no ``done`` summary:
    the error is stderr's last line."""
    import subprocess
    import sys

    wire = tmp_path / "wire.jsonl"
    wire.write_text(json.dumps({"entity_change": {
        "entity": "Transfer", "id": "t1", "operation": 1, "fields": [],
    }, "block_num": 10}) + "\nnot json at all\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-m", "substreams_sink_graph_load_spark", "run",
         str(wire), str(tmp_path / "out"), "--entities", "transfer", "1000"],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stderr.splitlines()
    assert proc.returncode == 1, proc.stderr
    assert proc.stderr.count("cursor (seq) 1") == 1, proc.stderr
    assert lines[-1].startswith("graphload-spark: error: wire line without an "
                                f"integer block_num in {wire} at line cursor "
                                "(seq) 1: not json at all"), proc.stderr
    assert not [l for l in lines if l.startswith("\tat")], proc.stderr
    assert not [l for l in lines if "] done" in l], proc.stderr


def test_run_entities_flag_and_resume_validation(spark, tmp_path):
    """Reference run.go:48-52/76-99 flag parity: --entities replaces the
    schema argument (exactly one required), --start-block must align to
    the bundle size and carries a hex --start-poi."""
    import json as _json

    wire = tmp_path / "wire2.jsonl"
    with open(wire, "w") as fh:
        fh.write(_json.dumps({
            "entity_change": {"entity": "Account", "id": "a", "operation": 1,
                              "fields": [{"name": "name",
                                          "new_value": {"Typed": {"String_": "x"}}}]},
            "block_num": 1}) + "\n")
    dest = str(tmp_path / "out_ent")
    # --entities alternative works without a schema file
    rc, out = run_cli("run", str(wire), dest, "1000", "--entities", "account")
    assert rc == 0 and "account: 1 bundles" in out
    # neither / both -> the reference's errors
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="must set one of"):
        run_cli("run", str(wire), dest, "1000")
    with _pytest.raises(SystemExit, match="not aligned"):
        run_cli("run", str(wire), dest, "1000", "--entities", "account",
                "--start-block", "77", "--start-poi", "ab")
    with _pytest.raises(SystemExit, match="must also provide"):
        run_cli("run", str(wire), dest, "1000", "--entities", "account",
                "--start-block", "1000")
    with _pytest.raises(SystemExit, match="cannot decode"):
        run_cli("run", str(wire), dest, "1000", "--entities", "account",
                "--start-block", "1000", "--start-poi", "zz")


def test_create_index_rejects_non_ddl(tmp_path):
    """ref create-indexes.go:30-32: the input must be a .ddl file."""
    import pytest as _pytest

    f = tmp_path / "idx.sql"
    f.write_text("CREATE INDEX a ON t(x);\n")
    with _pytest.raises(SystemExit, match="not a ddl file"):
        run_cli("create-index", str(f))


def test_progress_reporter_heartbeat_and_summary(spark):
    """The 15s-cadence stats line (ref sinker/stats.go parity, interval
    shrunk for the test): heartbeat lines while a batch job runs, with its
    active-stage task counts, and a final summary with caller extras."""
    import io as _io
    import time as _time

    from substreams_sink_graph_load_spark.streaming.stats import (
        ProgressReporter,
    )

    def slow(it):
        _time.sleep(0.6)
        return it

    out = _io.StringIO()
    rep = ProgressReporter(spark, "run", interval_s=0.2, out=out).start()
    assert spark.sparkContext.parallelize(range(8), 4).mapPartitions(slow).count() == 8
    rep.stop(bundles=3, last_block=999)
    lines = out.getvalue().strip().splitlines()
    heartbeats = [ln for ln in lines if ln.startswith("[run] +")]
    assert heartbeats  # printed while the job ran
    assert any(" tasks=" in ln and "/4" in ln for ln in heartbeats)
    assert lines[-1].startswith("[run] done in")
    assert lines[-1].endswith(" bundles=3 last_block=999")
