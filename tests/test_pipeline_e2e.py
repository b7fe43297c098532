"""Full tocsv pipeline: JSONL fixture -> bundled graph-node CSV bytes.

Fixture mirrors FIXTURES.md F1/F2 (Account mutable + Transfer immutable),
exercising camelCase normalization, typed extraction (incl. arrays + bytes),
SCD-2 versioning, zero-width ranges, CSV rendering, bundling with an empty
bundle, and stop-block truncation.
"""

import base64
import json
import os

import pytest

from substreams_sink_graph_load_spark.tocsv import tocsv

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
        d = src / entity
        d.mkdir(parents=True)
        for fname, events in files.items():
            with open(d / fname, "w") as fh:
                for e in events:
                    fh.write(json.dumps(e) + "\n")
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
        + 'a2,"[2200,)",false,7,bob,NULL,,0\n'
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


def test_tocsv_strict_mode(spark, fixture_dirs, tmp_path):
    """strict=True reproduces the reference's fatal validation paths."""
    import pytest as _pytest

    src, dest, schema_file = fixture_dirs
    # a fully-valid log passes strict mode (note: ACCOUNT_EVENTS itself is
    # deliberately NOT strict-valid — a2's CREATE omits the non-nullable
    # tags field, which the reference's ValidateFields would reject but its
    # CSV writer tolerates with defaults; we mirror both behaviors)
    ok_src = tmp_path / "ok"
    d0 = ok_src / "account"
    d0.mkdir(parents=True)
    with open(d0 / "0000000000-0000000999.jsonl", "w") as fh:
        fh.write(json.dumps(ev(1, "Account", "ok1", 1, [
            ("name", {"String_": "x"}),
            ("balance", {"Bigint": "1"}),
            ("active", {"Boolean": True}),
            ("txCount", {"Int32": 1}),
            ("tags", {"Array": {"value": [{"Typed": {"String_": "t"}}]}}),
        ])) + "\n")
        fh.write(json.dumps(ev(5, "Account", "ok1", 2, [
            ("balance", {"Bigint": "2"}),  # partial UPDATE on live id: legal
        ])) + "\n")
    tocsv(spark, str(ok_src), dest + "_strict", "account", schema_file,
          stop_block=1000, bundle_size=1000, strict=True)
    # a double-create trips it
    bad_src = tmp_path / "bad" 
    d = bad_src / "account"
    d.mkdir(parents=True)
    with open(d / "0000000000-0000000999.jsonl", "w") as fh:
        for block in (1, 2):
            fh.write(json.dumps(ev(block, "Account", "dup", 1, [
                ("name", {"String_": "x"}),
                ("balance", {"Bigint": "1"}),
                ("active", {"Boolean": True}),
                ("txCount", {"Int32": 1}),
                ("tags", {"Array": {"value": [{"Typed": {"String_": "t"}}]}}),
            ])) + "\n")
    with _pytest.raises(ValueError, match="create_on_live"):
        tocsv(spark, str(bad_src), str(tmp_path / "out"), "account",
              schema_file, stop_block=1000, bundle_size=1000, strict=True)
    # a missing required field trips the field check
    bad2 = tmp_path / "bad2"
    d2 = bad2 / "account"
    d2.mkdir(parents=True)
    with open(d2 / "0000000000-0000000999.jsonl", "w") as fh:
        fh.write(json.dumps(ev(1, "Account", "m1", 1, [
            ("name", {"String_": "x"}),
        ])) + "\n")
    with _pytest.raises(ValueError, match="not found for entity"):
        tocsv(spark, str(bad2), str(tmp_path / "out2"), "account",
              schema_file, stop_block=1000, bundle_size=1000, strict=True)


def test_tocsv_strict_rejects_corrupt_lines(spark, fixture_dirs, tmp_path):
    """The reference fails on any unparseable JSONL line; loose mode drops
    it, strict mode raises with the file and line."""
    import pytest as _pytest

    _, _, schema_file = fixture_dirs
    src = tmp_path / "corrupt"
    d = src / "account"
    d.mkdir(parents=True)
    with open(d / "0000000000-0000000999.jsonl", "w") as fh:
        fh.write(json.dumps(ev(1, "Account", "c1", 1, [
            ("name", {"String_": "x"}), ("balance", {"Bigint": "1"}),
            ("active", {"Boolean": True}), ("txCount", {"Int32": 1}),
            ("tags", {"Array": {"value": []}}),
        ])) + "\n")
        fh.write("{this is not json\n")
    # loose: the corrupt line vanishes, pipeline succeeds
    files = tocsv(spark, str(src), str(tmp_path / "loose"), "account",
                  schema_file, stop_block=1000, bundle_size=1000)
    assert "c1" in open(files[0]).read()
    # strict: fatal, names the file and line
    with _pytest.raises(ValueError, match="unparseable JSONL line"):
        tocsv(spark, str(src), str(tmp_path / "strict"), "account",
              schema_file, stop_block=1000, bundle_size=1000, strict=True)


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
    seq == physical line number: the (_bstart, _mid) ordering key anchors
    intra-file order on _metadata.file_block_start instead of Spark's
    internal split enumeration order."""
    from substreams_sink_graph_load_spark.sources.jsonl import read_change_jsonl

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
        df = read_change_jsonl(spark, fn)
        rows = df.select("block_num", "seq").collect()
        assert len(rows) == 5000
        for r in rows:
            # block i sits on line i+1 of the file
            assert r["seq"] == r["block_num"] + 1, (r["block_num"], r["seq"])
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


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
    assert check_contiguity(files[::-1], 2000, require_coverage=True) == files[:2]
    assert check_contiguity(files, 3000, require_coverage=True) == files
    with pytest.raises(ValueError, match="entities do not cover the full range"):
        check_contiguity(files, 3001, require_coverage=True)
    with pytest.raises(ValueError, match="entities do not cover the full range"):
        check_contiguity(files[:1], 1500, require_coverage=True)
    # without require_coverage a short listing is accepted as-is
    assert check_contiguity(files[:1], 1500) == files[:1]
