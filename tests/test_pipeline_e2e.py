"""Full tocsv pipeline: JSONL fixture -> bundled graph-node CSV bytes.

Fixture mirrors FIXTURES.md F1/F2 (Account mutable + Transfer immutable),
exercising camelCase normalization, typed extraction (incl. arrays + bytes),
SCD-2 versioning, zero-width ranges, CSV rendering, bundling with an empty
bundle, and stop-block truncation.
"""

import base64
import json
import os
from pathlib import Path

import pytest

from substreams_sink_graph_load_spark.operators.bundles import expected_bundles
from substreams_sink_graph_load_spark.tocsv import tocsv, tocsv_all

SDL = """
type Account @entity {
  id: ID!
  name: String!
  balance: BigInt!
  active: Boolean!
  txCount: Int!
  payload: Bytes
  tags: [String!]
}

type Transfer @entity(immutable: true) {
  id: ID!
  fromAccount: String!
  value: BigInt!
}

type Reading @entity {
  id: ID!
  ratio: Float!
}
"""


def ev(block, entity, id_, op, fields):
    return {
        "entity_change": {
            "entity": entity,
            "id": id_,
            "operation": op,
            "fields": [
                {"name": n, "new_value": {"Typed": tv}} for n, tv in fields
            ],
        },
        "block_num": block,
    }


PAYLOAD = base64.b64encode(b"\xde\xad\xbe\xef").decode()

ACCOUNT_EVENTS = {
    # bundle 0
    "0000000000-0000000999.jsonl": [
        ev(1, "Account", "a1", 1, [
            ("name", {"String_": "alice"}),
            ("balance", {"Bigint": "100"}),
            ("active", {"Boolean": True}),
            ("txCount", {"Int32": 1}),
            ("tags", {"Array": {"value": [{"Typed": {"String_": "x,y"}}, {"Typed": {"String_": "z"}}]}}),
        ]),
        ev(500, "Account", "a1", 2, [
            ("balance", {"Bigint": "250"}),
            ("txCount", {"Int32": 2}),
            ("payload", {"Bytes": PAYLOAD}),
        ]),
    ],
    # bundle 1000 intentionally empty
    "0000001000-0000001999.jsonl": [],
    # bundle 2000
    "0000002000-0000002999.jsonl": [
        ev(2100, "Account", "a1", 3, []),  # delete
        ev(2200, "Account", "a2", 1, [
            ("name", {"String_": "bob"}),
            ("balance", {"Bigint": "7"}),
            ("active", {"Boolean": False}),
            ("txCount", {"Int32": 0}),
            ("tags", {"Array": {"value": [{"Typed": {"String_": "b"}}]}}),
        ]),
    ],
}

TRANSFER_EVENTS = {
    "0000000000-0000000999.jsonl": [
        ev(10, "Transfer", "t1", 1, [
            ("fromAccount", {"String_": "a1"}),
            ("value", {"Bigint": "42"}),
        ]),
    ],
    "0000001000-0000001999.jsonl": [],
    "0000002000-0000002999.jsonl": [
        ev(2500, "Transfer", "t2", 1, [
            ("fromAccount", {"String_": "a2"}),
            ("value", {"Bigint": "9"}),
        ]),
    ],
}


@pytest.fixture()
def fixture_dirs(tmp_path):
    src = tmp_path / "jsonl"
    schema_file = tmp_path / "schema.graphql"
    schema_file.write_text(SDL)
    for entity, files in (("account", ACCOUNT_EVENTS), ("transfer", TRANSFER_EVENTS)):
        for fname, events in files.items():
            write_log(src, entity, events, fname)
    return str(src), str(tmp_path / "csv"), str(schema_file)


def read_csv(dest, entity, name):
    with open(os.path.join(dest, entity, name)) as fh:
        return fh.read()


def test_tocsv_account(spark, fixture_dirs):
    src, dest, schema_file = fixture_dirs
    files = tocsv(spark, src, dest, "account", schema_file, stop_block=3000, bundle_size=1000)
    assert [os.path.basename(f) for f in files] == [
        "0000000000-0000000999.csv",
        "0000001000-0000001999.csv",
        "0000002000-0000002999.csv",
    ]
    hdr = "id,block_range,active,balance,name,payload,tags,tx_count"
    # version [1,500) closed by the b500 update -> written in bundle 0
    assert read_csv(dest, "account", "0000000000-0000000999.csv") == (
        hdr + "\n" + 'a1,"[1,500)",true,100,alice,NULL,"{x\\,y,z}",1\n'
    )
    # empty bundle: header only
    assert read_csv(dest, "account", "0000001000-0000001999.csv") == hdr + "\n"
    # bundle 2000: a1's second version closed by delete @2100 (overlay keeps
    # name/tags, adds payload), then a2's open flush row
    assert read_csv(dest, "account", "0000002000-0000002999.csv") == (
        hdr + "\n"
        + 'a1,"[500,2100)",true,250,alice,\\xdeadbeef,"{x\\,y,z}",2\n'
        + 'a2,"[2200,)",false,7,bob,NULL,{b},0\n'
    )


def test_tocsv_transfer_immutable(spark, fixture_dirs):
    src, dest, schema_file = fixture_dirs
    tocsv(spark, src, dest, "transfer", schema_file, stop_block=3000, bundle_size=1000)
    hdr = "id,block$,from_account,value"
    assert read_csv(dest, "transfer", "0000000000-0000000999.csv") == (
        hdr + "\n" + "t1,10,a1,42\n"
    )
    assert read_csv(dest, "transfer", "0000001000-0000001999.csv") == hdr + "\n"
    assert read_csv(dest, "transfer", "0000002000-0000002999.csv") == (
        hdr + "\n" + "t2,2500,a2,9\n"
    )


def test_tocsv_stop_block_truncation(spark, fixture_dirs):
    src, dest, schema_file = fixture_dirs
    files = tocsv(spark, src, dest, "account", schema_file, stop_block=2500, bundle_size=1000)
    assert os.path.basename(files[-1]) == "0000002000-0000002499.csv"
    # a2 created @2200 still open at stop -> flushed into the last bundle
    body = read_csv(dest, "account", "0000002000-0000002499.csv")
    assert 'a2,"[2200,)"' in body


FULL_ACCOUNT = [
    ("name", {"String_": "x"}),
    ("balance", {"Bigint": "1"}),
    ("active", {"Boolean": True}),
    ("txCount", {"Int32": 1}),
    ("tags", {"Array": {"value": [{"Typed": {"String_": "t"}}]}}),
]


def write_log(src, entity, lines, fname="0000000000-0000000999.jsonl"):
    """One bundle file of ``lines``: events as JSON, strings verbatim."""
    d = src / entity
    d.mkdir(parents=True, exist_ok=True)
    with open(d / fname, "w") as fh:
        for line in lines:
            fh.write((line if isinstance(line, str) else json.dumps(line)) + "\n")


def test_tocsv_accepts_valid_sequences(spark, fixture_dirs, tmp_path):
    """The legal sequences next to the fatal ones pass: a partial UPDATE
    on a live id (only the merged state is validated, processor.go:
    276-278), an UPDATE on an unseen id carrying every non-null field
    (tolerated create, :267-275), a re-creation after DELETE, a FINAL."""
    _, _, schema_file = fixture_dirs
    src = tmp_path / "ok"
    write_log(src, "account", [
        ev(1, "Account", "ok1", 1, FULL_ACCOUNT),
        ev(5, "Account", "ok1", 2, [("balance", {"Bigint": "2"})]),
        ev(7, "Account", "ok1", 3, []),
        ev(9, "Account", "ok1", 2, [
            ("name", {"String_": "y"}), ("balance", {"Bigint": "3"}),
            ("active", {"Boolean": False}), ("txCount", {"Int32": 0}),
            ("tags", {"Array": {"value": []}}),
        ]),
        ev(12, "Account", "ok1", 4, []),
    ])
    files = tocsv(spark, str(src), str(tmp_path / "csv"), "account",
                  schema_file, stop_block=1000, bundle_size=1000)
    assert open(files[0]).read() == (
        "id,block_range,active,balance,name,payload,tags,tx_count\n"
        'ok1,"[1,5)",true,1,x,NULL,{t},1\n'
        'ok1,"[5,7)",true,2,x,NULL,{t},1\n'
        'ok1,"[9,)",false,3,y,NULL,{},0\n'
    )


FATAL_CASES = {
    # processor.go:205-214: the line fails to unmarshal
    "unparseable_line": (
        "account",
        [ev(1, "Account", "c1", 1, FULL_ACCOUNT), "{this is not json"],
        r"unparseable JSONL line in \S*/account/0000000000-0000000999\.jsonl"
        r" \(line 2\)",
    ),
    # processor.go:238-241
    "create_on_live": (
        "account",
        [ev(1, "Account", "dup", 1, FULL_ACCOUNT),
         ev(2, "Account", "dup", 1, FULL_ACCOUNT)],
        r"create_on_live for entity account id dup at block 2$",
    ),
    # processor.go:288-293; the DELETE row emits no version of its own
    "delete_unseen": (
        "account",
        [ev(1, "Account", "a1", 1, FULL_ACCOUNT),
         ev(3, "Account", "ghost", 3, [])],
        r"delete_unseen for entity account id ghost at block 3$",
    ),
    # processor.go:243-245
    "missing_not_null": (
        "account",
        [ev(1, "Account", "m1", 1, [("name", {"String_": "x"})])],
        r"field \[active, balance, tags, tx_count\] not found for entity "
        r"account id m1 at block 1$",
    ),
    # processor.go:285-287
    "delete_immutable": (
        "transfer",
        [ev(10, "Transfer", "t1", 1, [("fromAccount", {"String_": "a1"}),
                                      ("value", {"Bigint": "42"})]),
         ev(20, "Transfer", "t1", 3, [])],
        r"delete_on_immutable for entity transfer id t1 at block 20$",
    ),
    # writer.go:308-310
    "float_column": (
        "reading",
        [ev(1, "Reading", "r1", 1, [("ratio", {"Float": 0.5})])],
        r"invalid field type: 'Float' \(field 'ratio' of entity 'reading'\)",
    ),
}


@pytest.mark.parametrize("case", sorted(FATAL_CASES))
def test_tocsv_fatal_input(spark, fixture_dirs, tmp_path, case):
    """Each input the reference stops on fails tocsv with one loud error
    naming the entity and id/block (or file and line), and leaves no
    bundle and no _staged directory behind."""
    _, _, schema_file = fixture_dirs
    entity, lines, message = FATAL_CASES[case]
    src, dest = tmp_path / "src", tmp_path / "csv"
    write_log(src, entity, lines)
    with pytest.raises(ValueError, match=message):
        tocsv(spark, str(src), str(dest), entity, schema_file,
              stop_block=1000, bundle_size=1000)
    assert not os.path.isdir(dest / entity) or os.listdir(dest / entity) == []


def test_tocsv_rejects_corrupt_lines(spark, fixture_dirs, tmp_path):
    """An unparseable line is fatal wherever it sits in the listing, also
    in an immutable entity's log, in a bundle past the first and in the
    bundle the stop block cuts: the check runs before the stop-block
    filter, which would drop its NULL block number."""
    _, _, schema_file = fixture_dirs
    src = tmp_path / "corrupt"
    write_log(src, "transfer", [
        ev(10, "Transfer", "t1", 1, [("fromAccount", {"String_": "a1"}),
                                     ("value", {"Bigint": "42"})]),
    ])
    write_log(src, "transfer", [
        ev(1500, "Transfer", "t2", 1, [("fromAccount", {"String_": "a2"}),
                                       ("value", {"Bigint": "9"})]),
        '{"entity_change": {"entity": "Transfer", "id": "t3"',
    ], fname="0000001000-0000001999.jsonl")
    with pytest.raises(ValueError, match=r"0000001000-0000001999\.jsonl \(line 2\)"):
        tocsv(spark, str(src), str(tmp_path / "csv"), "transfer",
              schema_file, stop_block=1600, bundle_size=1000)


def test_tocsv_requires_full_coverage(spark, fixture_dirs):
    """Input files short of stop_block are an error, exactly like the
    reference (processor.go:145-146 'entities do not cover the full
    range') — NOT a silent end-of-log flush: the reference only reaches
    its flush guard (processor.go:168) with full coverage, so flush rows
    for a truncated input must never materialize."""
    src, dest, schema_file = fixture_dirs
    with pytest.raises(ValueError, match="do not cover the full range"):
        tocsv(spark, src, dest, "account", schema_file,
              stop_block=5000, bundle_size=1000)


def test_seq_stable_across_file_splits(spark, tmp_path):
    """A single JSONL file forced into many scan splits must still yield
    seq == physical line number: line_number's per-split offsets anchor
    intra-file order on _metadata.file_block_start instead of Spark's
    internal split enumeration order."""
    from pyspark.sql import functions as F

    from substreams_sink_graph_load_spark.sources.jsonl import (
        line_number, read_lines,
    )

    path = tmp_path / "big"
    path.mkdir()
    fn = str(path / "0000000000-0000099999.jsonl")
    with open(fn, "w") as fh:
        for i in range(5000):
            fh.write(json.dumps(ev(i, "Account", f"id{i}", 1,
                                   [("name", {"String_": "x" * 50})])) + "\n")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try:
        # confirm the conf really splits the single file at scan time
        assert spark.read.text(fn).rdd.getNumPartitions() > 4
        lines = read_lines(spark, fn)
        rows = lines.select(
            F.get_json_object("value", "$.block_num").cast("long").alias("block_num"),
            line_number(lines).alias("seq"),
        ).collect()
        assert len(rows) == 5000
        for r in rows:
            # block i sits on line i+1 of the file
            assert r["seq"] == r["block_num"] + 1, (r["block_num"], r["seq"])
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_tocsv_crlf_bundle_writes_same_csv(spark, fixture_dirs, tmp_path):
    """The line reader splits on \\n only, so a CRLF bundle line keeps its
    \\r; from_json reads it as trailing whitespace, and the CSV bytes equal
    those of the same bundles with \\n endings (same-block order too)."""
    _, _, schema_file = fixture_dirs
    events = {
        "account": {
            **ACCOUNT_EVENTS,
            "0000002000-0000002999.jsonl": ACCOUNT_EVENTS["0000002000-0000002999.jsonl"]
            + [ev(2200, "Account", "a2", 2, [("balance", {"Bigint": "8"})])],
        },
        "transfer": TRANSFER_EVENTS,
    }
    out = {}
    for end in ("\n", "\r\n"):
        src, dest = tmp_path / f"src{len(end)}", tmp_path / f"csv{len(end)}"
        for entity, files in events.items():
            (src / entity).mkdir(parents=True)
            for fname, evs in files.items():
                (src / entity / fname).write_bytes(
                    "".join(json.dumps(e) + end for e in evs).encode()
                )
            tocsv(spark, str(src), str(dest), entity, schema_file,
                  stop_block=3000, bundle_size=1000)
        out[end] = {
            f"{entity}/{name}": (dest / entity / name).read_bytes()
            for entity in events for name in sorted(os.listdir(dest / entity))
        }
    assert len(out["\n"]) == 6
    assert out["\r\n"] == out["\n"]
    assert b'a2,"[2200,2200)"' in out["\n"]["account/0000002000-0000002999.csv"]


@pytest.mark.parametrize("entity", ["account", "transfer"])
def test_tocsv_unparseable_line_in_later_split(spark, fixture_dirs, tmp_path, entity):
    """An unparseable line in a later scan split of a multi-split bundle is
    named with its exact line number (per-split offsets on the failure
    path), for the mutable and the immutable write plan."""
    _, _, schema_file = fixture_dirs
    fields = {
        "account": FULL_ACCOUNT,
        "transfer": [("fromAccount", {"String_": "a" * 40}), ("value", {"Bigint": "1"})],
    }[entity]
    lines = [ev(i // 4, entity.title(), f"x{i}", 1, fields) for i in range(1500)]
    lines[1234] = "not json at all"
    src = tmp_path / "src"
    write_log(src, entity, lines)
    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key)
    spark.conf.set(key, "16384")
    try:
        assert spark.read.text(str(src / entity)).rdd.getNumPartitions() > 4
        with pytest.raises(ValueError, match=r"0000000000-0000000999\.jsonl \(line 1235\)$"):
            tocsv(spark, str(src), str(tmp_path / "csv"), entity, schema_file,
                  stop_block=1000, bundle_size=1000)
    finally:
        spark.conf.set(key, prior)


def test_tocsv_all_names_unparseable_line_of_later_entity(spark, fixture_dirs):
    """In tocsv_all's union of entities, an unparseable line of the second
    entity is named with its file and exact line (each file its own scan
    partition, so the first entity's scan holds several), and neither
    entity gets a bundle."""
    src, dest, schema_file = fixture_dirs
    fname = "0000002000-0000002999.jsonl"
    with open(os.path.join(src, "transfer", fname), "a") as fh:
        fh.write("not json at all\n")
    line = len(TRANSFER_EVENTS[fname]) + 1
    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key)
    spark.conf.set(key, "16384")
    try:
        with pytest.raises(ValueError, match=rf"transfer/{fname} \(line {line}\)$"):
            tocsv_all(spark, src, dest, schema_file, stop_block=3000, bundle_size=1000)
    finally:
        spark.conf.set(key, prior)
    assert sorted(os.listdir(dest)) == ["account", "transfer"]
    assert os.listdir(os.path.join(dest, "account")) == []
    assert os.listdir(os.path.join(dest, "transfer")) == []


def test_tocsv_concurrent_entities_match_sequential(spark, fixture_dirs, tmp_path):
    """The reference runs tocsv as one process per entity: two tocsv calls
    on one session into one destination, at the same time, write the
    bytes of two sequential calls and leave no staged directory."""
    from concurrent.futures import ThreadPoolExecutor

    src, dest, schema_file = fixture_dirs
    entities = ["account", "transfer"]

    def run(entity, out):
        return tocsv(spark, src, out, entity, schema_file,
                     stop_block=3000, bundle_size=1000)

    def tree(out):
        return {
            p.relative_to(out): p.read_bytes() if p.is_file() else None
            for p in Path(out).rglob("*")
        }

    for e in entities:
        run(e, dest)
    together = tmp_path / "together"
    with ThreadPoolExecutor(2) as ex:
        list(ex.map(run, entities, [str(together)] * 2, timeout=600))
    assert tree(together) == tree(dest)
    assert sorted(map(str, tree(dest))) == sorted(entities + [
        f"{e}/{n}" for e in entities for n in expected_bundles(0, 3000, 1000)
    ])


def test_tocsv_missing_middle_bundle_is_fatal(spark, fixture_dirs):
    """A bundle file deleted from the middle of an entity's listing
    breaks contiguity (processor.go:109-152): loud error, nothing read."""
    src, dest, schema_file = fixture_dirs
    os.remove(os.path.join(src, "account", "0000001000-0000001999.jsonl"))
    with pytest.raises(ValueError, match="broken file contiguity"):
        tocsv(spark, src, dest, "account", schema_file,
              stop_block=3000, bundle_size=1000)


def test_tocsv_unranged_file_name_is_fatal(spark, fixture_dirs):
    """Every file in the entity directory must carry an
    NNNNNNNNNN-NNNNNNNNNN block range in its name."""
    src, dest, schema_file = fixture_dirs
    with open(os.path.join(src, "account", "notes.jsonl"), "w") as fh:
        fh.write("")
    with pytest.raises(ValueError, match="fail reading block range"):
        tocsv(spark, src, dest, "account", schema_file,
              stop_block=3000, bundle_size=1000)


def test_check_contiguity_coverage_and_cutoff():
    """The listing must reach stop_block; files starting at or after it
    are cut off before the contiguity walk."""
    from substreams_sink_graph_load_spark.sources.jsonl import check_contiguity

    files = [
        "/x/0000000000-0000000999.jsonl",
        "/x/0000001000-0000001999.jsonl",
        "/x/0000002000-0000002999.jsonl",
    ]
    # listing order does not matter; the file at the stop block is cut
    assert check_contiguity(files[::-1], 2000) == files[:2]
    assert check_contiguity(files, 3000) == files
    with pytest.raises(ValueError, match="entities do not cover the full range"):
        check_contiguity(files, 3001)
    with pytest.raises(ValueError, match="entities do not cover the full range"):
        check_contiguity(files[:1], 1500)
