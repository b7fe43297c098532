"""Full `run` parity: interleaved wire file -> one batch read ->
demuxed per-entity JSONL bundles (+ poi2$ chain + last_block.txt) ->
tocsv -> CSVs identical to the batch pipeline over hand-laid JSONL."""

import csv
import json
import os

import pytest

from test_pipeline_e2e import ACCOUNT_EVENTS, TRANSFER_EVENTS, SDL, read_csv

from substreams_sink_graph_load_spark.streaming.ingest import read_wire, run_ingest
from substreams_sink_graph_load_spark.tocsv import tocsv


@pytest.fixture()
def wire(tmp_path):
    """One interleaved wire file: all entities' events in block order —
    exactly what the gRPC stream would carry."""
    events = []
    for files in (ACCOUNT_EVENTS, TRANSFER_EVENTS):
        for evs in files.values():
            events.extend(evs)
    events.sort(key=lambda e: e["block_num"])
    p = tmp_path / "wire.jsonl"
    with open(p, "w") as fh:
        for e in events:
            fh.write(json.dumps(e) + "\n")
    schema_file = tmp_path / "schema.graphql"
    schema_file.write_text(SDL)
    return str(p), str(schema_file)


def test_run_ingest_end_to_end(spark, wire, tmp_path):
    wire_path, schema_file = wire
    jsonl_dir = str(tmp_path / "jsonl")
    files = run_ingest(
        spark,
        jsonl_dir,
        entities=["account", "transfer"],
        stop_block=3000,
        wire_path=wire_path,
        bundle_size=1000,
        chain_id="chain-e2e",
    )
    # demux: every entity materializes every bundle, incl. empty ones
    for ent in ("account", "transfer"):
        names = [os.path.basename(f) for f in files[ent]]
        assert names == [
            "0000000000-0000000999.jsonl",
            "0000001000-0000001999.jsonl",
            "0000002000-0000002999.jsonl",
        ]
        assert os.path.getsize(files[ent][1]) == 0  # empty bundle
    # ingested JSONL drives the SAME tocsv as hand-laid fixtures
    batch_src = str(tmp_path / "manual")
    for entity, evmap in (("account", ACCOUNT_EVENTS), ("transfer", TRANSFER_EVENTS)):
        d = os.path.join(batch_src, entity)
        os.makedirs(d)
        for fname, evs in evmap.items():
            with open(os.path.join(d, fname), "w") as fh:
                for e in evs:
                    fh.write(json.dumps(e) + "\n")
    for entity in ("account", "transfer"):
        got = tocsv(spark, jsonl_dir, str(tmp_path / "csv_a"), entity, schema_file,
                    stop_block=3000, bundle_size=1000)
        want = tocsv(spark, batch_src, str(tmp_path / "csv_b"), entity, schema_file,
                     stop_block=3000, bundle_size=1000)
        for g, w in zip(got, want):
            with open(g) as fh_g, open(w) as fh_w:
                assert fh_g.read() == fh_w.read()
    # poi2$ chain written over the interleaved order
    poi_files = files["poi2$"]
    assert [os.path.basename(f) for f in poi_files] == [
        "0000000000-0000000999.csv",
        "0000001000-0000001999.csv",
        "0000002000-0000002999.csv",
    ]
    body = open(poi_files[0]).read().splitlines()
    assert body[0] == "id,block_range,digest"
    assert body[1].startswith('chain-e2e,"[1,')
    with open(os.path.join(jsonl_dir, "last_block.txt")) as fh:
        assert fh.read() == "2500:\n"


def _poi_rows(poi_dir):
    """Every poi2$ row as (id, block_range, digest), header dropped."""
    rows = []
    for fn in sorted(os.listdir(poi_dir)):
        with open(os.path.join(poi_dir, fn), newline="") as fh:
            rows.extend(tuple(r) for r in list(csv.reader(fh))[1:])
    return rows


def _range_start(block_range):
    return int(block_range[1:].split(",")[0])


def _tree_bytes(root):
    out = {}
    for d, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(d, fn)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_run_ingest_resume_by_flags(spark, wire, tmp_path):
    """The reference's one resume path (run.go:76-99): a run to block
    2000, then a run with first_block=2000 and start_poi = the digest at
    block 1999, over the WHOLE wire, gives the full run's bundle from 2000
    on and the full run's poi2$ rows starting at or after 2000."""
    wire_path, _ = wire
    kw = dict(entities=["account", "transfer"], wire_path=wire_path,
              bundle_size=1000, chain_id="chain-r")
    full, part, resumed = (str(tmp_path / d) for d in ("full", "part", "resumed"))
    run_ingest(spark, full, stop_block=3000, **kw)
    run_ingest(spark, part, stop_block=2000, **kw)
    (open_row,) = [r for r in _poi_rows(os.path.join(part, "poi2$"))
                   if r[1].endswith(",)")]
    start_poi = bytes.fromhex(open_row[2][2:])
    files = run_ingest(spark, resumed, stop_block=3000, first_block=2000,
                       start_poi=start_poi, **kw)
    assert [os.path.basename(f) for f in files["account"]] == [
        "0000002000-0000002999.jsonl"
    ]
    for ent in ("account", "transfer"):
        name = os.path.join(ent, "0000002000-0000002999.jsonl")
        with open(os.path.join(full, name), "rb") as a, \
                open(os.path.join(resumed, name), "rb") as b:
            assert a.read() == b.read()
    want = [r for r in _poi_rows(os.path.join(full, "poi2$"))
            if _range_start(r[1]) >= 2000]
    assert want  # the wire changes the digest after block 2000
    assert _poi_rows(os.path.join(resumed, "poi2$")) == want


def test_run_ingest_rerun_same_workdir(spark, wire, tmp_path):
    """Staging overwrites its directory: a second run_ingest into the same
    dest and workdir gives byte-identical bundles, poi2$ and
    last_block.txt instead of a doubled log."""
    wire_path, _ = wire
    dest = str(tmp_path / "out")

    def run():
        run_ingest(spark, dest, entities=["account", "transfer"],
                   stop_block=3000, wire_path=wire_path, bundle_size=1000,
                   chain_id="chain-rerun")
        return {k: v for k, v in _tree_bytes(dest).items()
                if not k.startswith("_work_ingest")}

    first = run()
    assert "last_block.txt" in first and any(k.startswith("poi2$") for k in first)
    assert run() == first


def test_run_ingest_rejects_out_of_order(spark, tmp_path):
    """Undo/reorg parity: a block below the high-water mark is fatal
    (ref sinker.go:291-293 — final-blocks-only contract).  A recurring
    block overlaps its own earlier interval, so the windowed scan names
    the cursor."""
    wire = tmp_path / "bad_wire.jsonl"
    # 15 (a new block) or 10 (a recurring one) arrives after 20: undo signal
    for last in (15, 10):
        with open(wire, "w") as fh:
            for block in (10, 20, last):
                fh.write(json.dumps({"entity_change": {"entity": "Account", "id": "x",
                                                       "operation": 2, "fields": []},
                                     "block_num": block}) + "\n")
        with pytest.raises(ValueError, match=f"cursor 2: block {last} below "
                                             "high-water mark 20"):
            run_ingest(
                spark, str(tmp_path / "out"), entities=["account"],
                stop_block=1000, wire_path=str(wire), bundle_size=1000,
            )


def test_unseen_entity_materializes_empty_bundles(spark, wire, tmp_path):
    """The reference creates a bundler per SCHEMA entity up front
    (sinker.go:82-88) and rolls them all: an entity never emitted on the
    wire still materializes every (empty) bundle file."""
    wire_path, _ = wire
    jsonl_dir = str(tmp_path / "jsonl")
    files = run_ingest(
        spark, jsonl_dir,
        entities=["account", "transfer", "ghost_entity"],
        stop_block=3000, wire_path=wire_path, bundle_size=1000,
    )
    names = [os.path.basename(f) for f in files["ghost_entity"]]
    assert names == [
        "0000000000-0000000999.jsonl",
        "0000001000-0000001999.jsonl",
        "0000002000-0000002999.jsonl",
    ]
    assert all(os.path.getsize(f) == 0 for f in files["ghost_entity"])


def test_first_block_starts_bundle_enumeration(spark, wire, tmp_path):
    """Bundlers boot at the sinker start block, not 0: with
    first_block=1000 the 0000000000-* bundle must not exist."""
    wire_path, _ = wire
    jsonl_dir = str(tmp_path / "jsonl")
    files = run_ingest(
        spark, jsonl_dir, entities=["account", "transfer"],
        stop_block=3000, wire_path=wire_path, bundle_size=1000,
        first_block=1000,
    )
    for ent in ("account", "transfer"):
        names = [os.path.basename(f) for f in files[ent]]
        assert names == [
            "0000001000-0000001999.jsonl",
            "0000002000-0000002999.jsonl",
        ]


def test_undo_detected_across_chunk_boundary(spark):
    """check_final_blocks_only's cross-chunk merge path: the violating row's
    witness lives in an EARLIER seq-chunk, so only the per-chunk
    (min,max) driver merge can see it."""
    from substreams_sink_graph_load_spark.streaming.ingest import (
        check_final_blocks_only,
    )

    rows = [(0, 10), (1, 20), (2, 15), (3, 30)]  # seq 2 dips below chunk-0 hwm
    df = spark.createDataFrame(rows, "seq long, block_num long")
    with pytest.raises(ValueError, match="high-water mark 20"):
        check_final_blocks_only(df, chunk_width=2)
    # clean input passes with the same tiny chunking
    ok = spark.createDataFrame(
        [(0, 10), (1, 20), (2, 20), (3, 30)], "seq long, block_num long"
    )
    check_final_blocks_only(ok, chunk_width=2)


def test_read_wire_junk_lines(spark, tmp_path):
    """The batch wire read: reordered members still parse through the JSON
    fallback, an empty line advances the cursor, and a line without an
    integer block_num fails naming the file and its line cursor."""
    ok = '{"entity_change": {}, "block_num": 5}\n'
    reordered = '{"block_num": 6, "entity_change": {}}\n'
    last = '{"entity_change": {}, "block_num": 7}\n'

    def read(name, body):
        wire = tmp_path / name
        wire.write_text(body)
        return read_wire(spark, str(wire)).orderBy("seq").collect()

    rows = read("wire.jsonl", ok + reordered + "\n" + last)
    assert [(r["block_num"], r["seq"]) for r in rows] == [(5, 0), (6, 1), (7, 3)]

    for i, junk in enumerate(
        ("not json at all", '{"block_num": "6"}', '{"entity_change": {}}')
    ):
        with pytest.raises(Exception, match=r"cursor \(seq\) 2\b") as exc:
            read(f"junk{i}.jsonl", ok + reordered + junk + "\n" + last)
        assert str(tmp_path / f"junk{i}.jsonl") in str(exc.value)


def test_read_wire_cursor_across_splits(spark, tmp_path):
    """seq stays the exact line cursor when the wire spans many scan
    splits: per-split prefix offsets, blank lines counted then dropped."""
    lines = [_account_line(b) if b % 7 else "" for b in range(1, 301)]
    wire = tmp_path / "wire.jsonl"
    wire.write_text("\n".join(lines) + "\n")
    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key)
    spark.conf.set(key, "2048")
    try:
        df = read_wire(spark, str(wire))
        assert df.rdd.getNumPartitions() > 5
        got = [(r["seq"], r["block_num"], r["value"])
               for r in df.orderBy("seq").collect()]
    finally:
        spark.conf.set(key, prior)
    assert got == [(i, i + 1, v) for i, v in enumerate(lines) if v]


def test_run_ingest_keeps_crlf_and_rejects_bad_wire_path(spark, tmp_path):
    """A CRLF line keeps its \\r byte in the bundle (the reference splits
    on \\n only), an empty line between events is dropped, and a missing
    wire path or a directory of files fails instead of reading as an
    empty wire or as one interleaved cursor."""
    wire = tmp_path / "wire.jsonl"
    wire.write_bytes(
        (_account_line(10) + "\r\n\n" + _account_line(20) + "\n").encode()
    )
    out = tmp_path / "out"
    files = run_ingest(spark, str(out), entities=["account"], stop_block=1000,
                       wire_path=str(wire), bundle_size=1000)
    with open(files["account"][0], "rb") as fh:
        assert fh.read() == (
            _account_line(10) + "\r\n" + _account_line(20) + "\n"
        ).encode()
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        run_ingest(spark, str(tmp_path / "out2"), entities=["account"],
                   stop_block=1000, wire_path=str(tmp_path / "absent.jsonl"),
                   bundle_size=1000)
    two = tmp_path / "two"
    two.mkdir()
    for name in ("a.jsonl", "b.jsonl"):
        (two / name).write_text(_account_line(10) + "\n")
    with pytest.raises(ValueError, match="more than one file"):
        run_ingest(spark, str(tmp_path / "out3"), entities=["account"],
                   stop_block=1000, wire_path=str(two), bundle_size=1000)


def test_run_side_tables_start_no_python_worker(spark, wire):
    """The executed plans of the wire read, of write_bundled_lines' header
    rows and of poi_chain's result hold no Python node: Python workers
    start only for the POI hash fold (and the psql COPY tasks)."""
    from substreams_sink_graph_load_spark.operators.bundles import header_rows
    from substreams_sink_graph_load_spark.operators.poi import poi_chain

    wire_path, _ = wire
    staged = read_wire(spark, wire_path)
    frames = {
        "wire read": staged,
        "header rows": header_rows(
            spark, "id,block_range,digest", 0, 3000, 1000, ["_order_block"]
        ),
        "poi_chain": poi_chain(spark, staged, "chain-plan"),
        "empty poi_chain": poi_chain(spark, staged.limit(0), "chain-plan"),
    }
    for name, df in frames.items():
        qe = df._jdf.queryExecution()
        text = qe.executedPlan().toString() + qe.toRdd().toDebugString()
        for node in ("BatchEvalPython", "ArrowEvalPython", "PythonDataSource",
                     "MapInPandas", "MapInArrow", "PythonRDD"):
            assert node not in text, f"{name}: {node} in\n{text}"
    assert header_rows(spark, "h", 1500, 3000, 1000, []).collect() == [
        (1000, 0, "h"), (2000, 0, "h")
    ]


@pytest.mark.parametrize("chain_id,python_execs", [("chain-py", 1), (None, 0)])
def test_run_starts_python_for_one_job(spark, wire, tmp_path, chain_id, python_execs):
    """Of run_ingest's SQL executions only the POI fold's plan holds a
    Python node: one execution with a chain id, none without (the order
    check's per-block intervals are a JVM aggregate)."""
    wire_path, _ = wire
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        runs = store.executionsList()
        return {runs.apply(i).executionId(): runs.apply(i) for i in range(runs.size())}

    before = set(executions())
    run_ingest(
        spark, str(tmp_path / "out"), entities=["account", "transfer"],
        stop_block=3000, wire_path=wire_path, bundle_size=1000,
        chain_id=chain_id,
    )
    new = [e for i, e in executions().items() if i not in before]
    assert new
    python = [
        e.physicalPlanDescription() for e in new
        if any(n in e.physicalPlanDescription() for n in ("MapInArrow", "MapInPandas"))
    ]
    assert len(python) == python_execs, python


def _account_line(block):
    return json.dumps({"entity_change": {"entity": "Account", "id": "x",
                                         "operation": 1, "fields": []},
                       "block_num": block})


@pytest.mark.parametrize("chain_id", [None, "chain-x"])
@pytest.mark.parametrize("seq", [0, 2], ids=["first", "middle"])
def test_run_ingest_rejects_corrupt_line(spark, tmp_path, seq, chain_id):
    """`run` fails at a corrupt wire line like the reference's unmarshal,
    with the line cursor in the message — it is never read as block -1
    (silently filtered as the first line, or reported as an undo)."""
    lines = [_account_line(b) for b in (10, 20, 30)]
    lines.insert(seq, "not json at all")
    wire = tmp_path / "wire.jsonl"
    wire.write_text("\n".join(lines) + "\n")
    with pytest.raises(Exception, match=rf"cursor \(seq\) {seq}\b") as exc:
        run_ingest(
            spark, str(tmp_path / "out"), entities=["account"],
            stop_block=1000, wire_path=str(wire), bundle_size=1000,
            chain_id=chain_id,
        )
    assert "high-water mark" not in str(exc.value)


def test_run_ingest_empty_wire(spark, tmp_path):
    """An empty wire still cuts every entity's (empty) bundles, a
    header-only poi2$ file per bundle, and ``last_block.txt`` = ``0:``."""
    wire = tmp_path / "wire.jsonl"
    wire.write_text("")
    out = tmp_path / "out"
    files = run_ingest(
        spark, str(out), entities=["account", "transfer"], stop_block=3000,
        wire_path=str(wire), bundle_size=1000, chain_id="chain-empty",
    )
    bundles = ["0000000000-0000000999", "0000001000-0000001999",
               "0000002000-0000002999"]
    assert sorted(files) == ["account", "poi2$", "transfer"]
    for ent in ("account", "transfer"):
        assert [os.path.relpath(f, out) for f in files[ent]] == [
            f"{ent}/{b}.jsonl" for b in bundles
        ]
        assert all(os.path.getsize(f) == 0 for f in files[ent])
    assert [os.path.relpath(f, out) for f in files["poi2$"]] == [
        f"poi2$/{b}.csv" for b in bundles
    ]
    for f in files["poi2$"]:
        with open(f, "rb") as fh:
            assert fh.read() == b"id,block_range,digest\n"
    with open(out / "last_block.txt") as fh:
        assert fh.read() == "0:\n"


def _raw_df(spark, rows):
    data = [
        (
            b,
            s,
            json.dumps(
                {
                    "block_num": b,
                    "seq": s,
                    "entity_change": {
                        "entity": "Account",
                        "id": f"a{s}",
                        "fields": [],
                    },
                }
            ),
        )
        for b, s in rows
    ]
    return spark.createDataFrame(
        data, "block_num long, seq long, value string"
    )


def test_demux_raises_on_block_past_stop(spark, tmp_path):
    """Rows beyond stop_block stage into a bundle dir the move loop never
    visits; teardown must refuse to silently drop them."""
    from substreams_sink_graph_load_spark.streaming.ingest import demux_jsonl

    raw = _raw_df(spark, [(10, 0), (2500, 1)])
    with pytest.raises(ValueError, match="outside"):
        demux_jsonl(
            spark, raw, str(tmp_path / "d"), ["account"], stop_block=2000
        )


def test_demux_raises_on_block_below_first(spark, tmp_path):
    from substreams_sink_graph_load_spark.streaming.ingest import demux_jsonl

    raw = _raw_df(spark, [(50, 0), (1200, 1)])
    with pytest.raises(ValueError, match="outside"):
        demux_jsonl(
            spark,
            raw,
            str(tmp_path / "d"),
            ["account"],
            stop_block=2000,
            first_block=1000,
        )


def test_demux_raises_on_entity_dir_escaping_mismatch(
    spark, tmp_path, monkeypatch
):
    """If our quoting of the entity dir name ever diverges from Spark's
    partition-path escaping, the audit must raise instead of globbing
    nothing and deleting the rows with the staged tree."""
    import urllib.parse as up

    from substreams_sink_graph_load_spark.streaming.ingest import demux_jsonl

    real_quote = up.quote
    monkeypatch.setattr(
        up, "quote", lambda s, safe="": "WRONG_" + real_quote(s, safe=safe)
    )
    raw = _raw_df(spark, [(10, 0)])
    with pytest.raises(ValueError, match="unexpected entity dir"):
        demux_jsonl(
            spark, raw, str(tmp_path / "d"), ["account"], stop_block=1000
        )


def test_demux_raises_on_block_in_first_bundle_but_below_first(spark, tmp_path):
    """Row-exact guard: block 1200 sits inside the ALIGNED first bundle
    (1000-1999) when first_block=1500 — bundle-granular dir checks can't
    see it, the pre-pass must."""
    from substreams_sink_graph_load_spark.streaming.ingest import demux_jsonl

    raw = _raw_df(spark, [(1200, 0), (1700, 1)])
    with pytest.raises(ValueError, match="outside"):
        demux_jsonl(
            spark,
            raw,
            str(tmp_path / "d"),
            ["account"],
            stop_block=2000,
            first_block=1500,
        )


def test_check_final_blocks_from_runs_paths():
    """The order check over per-block cursor intervals (block, min seq,
    max seq, events): proves order on disjoint intervals, raises the
    windowed check's error on a block regression, and returns
    indeterminate (never a false verdict) on overlapping intervals."""
    import pytest

    from substreams_sink_graph_load_spark.streaming.ingest import (
        check_final_blocks_from_runs,
    )

    # clean: blocks non-decreasing in seq order, in any row order
    ok, hwm = check_final_blocks_from_runs(
        [(7, 15, 19, 5), (5, 0, 14, 15)]
    )
    assert ok and hwm == 7

    # violation: block 3 appears after high-water 7 — same message shape
    with pytest.raises(ValueError, match="cursor 20.*block 3 below"):
        check_final_blocks_from_runs(
            [(5, 0, 9, 10), (7, 10, 19, 10), (3, 20, 24, 5)]
        )

    # block 5 recurs after block 6 -> overlapping intervals ->
    # indeterminate, the caller falls back to the windowed scan
    ok, hwm = check_final_blocks_from_runs(
        [(5, 0, 10, 6), (6, 5, 14, 6)]
    )
    assert not ok and hwm is None

    assert check_final_blocks_from_runs([]) == (True, None)
