"""Distributed POI: parallel per-block states must chain to the exact same
digests as the reference's sequential per-block fold."""

import json

import pytest

from substreams_sink_graph_load_spark.operators.poi import poi_block_states, poi_chain
from substreams_sink_graph_load_spark.stablehash.core import FastHasher, fldmix_combine, _I
from substreams_sink_graph_load_spark.stablehash.poi import ProofOfIndexing


def _fold_events(block: int, events: list[tuple[int, str]]) -> bytes:
    """Per-event reference fold (one ProofOfIndexing, sequential writes):
    the scalar twin the batched fold (stablehash.poi.fold_blocks_batched,
    numpy XXH3 kernels) is differentially tested against."""
    events.sort()
    poi = ProofOfIndexing(block)
    for _, line in events:
        ch = json.loads(line)["entity_change"]
        if ch.get("operation") in (3, "OPERATION_DELETE"):
            poi.remove_entity(ch["entity"], ch["id"])
        else:
            poi.set_entity(ch["entity"], ch["id"], ch.get("fields") or [])
    return poi.pause(None)


def _line(block, entity, id_, op, fields):
    return json.dumps(
        {
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
    )


EVENTS = [
    (1, 1, _line(1, "Account", "a", 1, [("name", {"String_": "x"}), ("bal", {"Bigint": "5"})])),
    (1, 2, _line(1, "Account", "b", 1, [("name", {"String_": "y"})])),
    (3, 3, _line(3, "Account", "a", 2, [("bal", {"Bigint": "6"})])),
    (3, 4, _line(3, "Account", "b", 3, [])),  # delete
    (7, 5, _line(7, "Account", "a", 4, [("name", {"String_": "x"})])),  # final
]


def _sequential_chain(events=EVENTS):
    """Reference-shaped sequential fold: one ProofOfIndexing per block,
    Pause(prev) chaining."""
    by_block = {}
    for b, s, line in events:
        by_block.setdefault(b, []).append((s, line))
    prev = None
    out = []
    for b in sorted(by_block):
        poi = ProofOfIndexing(b)
        for _, line in sorted(by_block[b]):
            ch = json.loads(line)["entity_change"]
            if ch["operation"] == 3:
                poi.remove_entity(ch["entity"], ch["id"])
            else:
                poi.set_entity(ch["entity"], ch["id"], ch["fields"])
        digest = poi.pause(prev)
        out.append((b, digest))
        prev = digest
    return out


def test_identity_constant():
    # I is the fld monoid identity: empty blocks leave the chain unchanged
    import random

    rng = random.Random(7)
    for _ in range(20):
        x = rng.getrandbits(192)
        assert fldmix_combine(_I, x) == x


def test_empty_block_preserves_digest():
    prev = ProofOfIndexing(5)
    prev_digest = prev.pause(None)
    empty = ProofOfIndexing(6)
    assert empty.pause(prev_digest) == prev_digest


def test_parallel_states_match_sequential_chain(spark):
    raw = spark.createDataFrame(EVENTS, "block_num long, seq long, value string")
    df = poi_chain(spark, raw, chain_id="test-chain")
    got = {(r["block_num"], r["digest"]) for r in df.collect()}
    want = {(b, d.hex()) for b, d in _sequential_chain()}
    assert got == want
    assert len(got) == 3  # every block here changes the digest


def test_block_states_are_independent(spark):
    raw = spark.createDataFrame(EVENTS, "block_num long, seq long, value string")
    states = {r["block_num"]: bytes(r["state"]) for r in poi_block_states(raw).collect()}
    assert set(states) == {1, 3, 7}
    # each state is 32 bytes: mixer + count
    for b, s in states.items():
        assert len(s) == 32
        h = FastHasher.from_bytes(s)
        assert h.count > 0


def test_poi_tocsv_bundles(spark, tmp_path):
    """poi2$ CSV parity: version rows span digest-change blocks, digests
    match the sequential reference fold, files bundle like any entity."""
    from substreams_sink_graph_load_spark.operators.poi import poi_tocsv

    raw = spark.createDataFrame(EVENTS, "block_num long, seq long, value string")
    files = poi_tocsv(
        spark, raw, str(tmp_path), "chain-1", stop_block=10, bundle_size=5
    )
    import os

    assert [os.path.basename(f) for f in files] == [
        "0000000000-0000000004.csv",
        "0000000005-0000000009.csv",
    ]
    expected = _sequential_chain()  # [(1, d1), (3, d3), (7, d7)]
    with open(files[0]) as fh:
        b0 = fh.read().splitlines()
    with open(files[1]) as fh:
        b1 = fh.read().splitlines()
    assert b0[0] == b1[0] == "id,block_range,digest"
    # [1,3) closes at block 3 (bundle 0); [3,7) closes at 7 (bundle 5);
    # [7,) open, flushed into its start block's bundle
    assert b0[1] == f'chain-1,"[1,3)",\\x{expected[0][1].hex()}'
    assert b1[1] == f'chain-1,"[3,7)",\\x{expected[1][1].hex()}'
    assert b1[2] == f'chain-1,"[7,)",\\x{expected[2][1].hex()}'
    assert len(b0) == 2 and len(b1) == 3


def test_batched_fold_matches_scalar_reference():
    """fold_blocks_batched (numpy kernels, deferred commutative mix-ins)
    must be bit-identical to the per-event scalar fold across every value
    type, deletes, duplicate field names, empty fields, and empty blocks."""
    import json
    import random

    from substreams_sink_graph_load_spark.stablehash.poi import (
        fold_blocks_batched,
    )

    rng = random.Random(23)
    typed_pool = [
        {"String_": "hello world"},
        {"String_": ""},
        {"String_": "nul" + chr(0) + "byte"},
        {"Int32": -7},
        {"Bigint": "123456789012345678901234567890"},
        {"Bigint": "-5"},
        {"Bigdecimal": "123.456"},
        {"Bool": True},
        {"Bytes": "3q2+7w=="},
        {
            "Array": {
                "value": [
                    {"Typed": {"String_": "a"}},
                    {"Typed": {"Int32": 1}},
                ]
            }
        },
    ]
    blocks = {}
    seq = 0
    for block in (0, 5, 6, 90):
        evs = []
        for _ in range(rng.randrange(0, 9)):
            if rng.random() < 0.2:
                ch = {
                    "entity": "Thing",
                    "id": f"t{rng.randrange(4)}",
                    "operation": 3,
                }
            else:
                fields = [
                    {
                        "name": rng.choice(["a", "b", "dup", "dup"]),
                        "new_value": {"Typed": rng.choice(typed_pool)},
                    }
                    for _ in range(rng.randrange(0, 5))
                ]
                ch = {
                    "entity": rng.choice(["Thing", "Other"]),
                    "id": f"t{rng.randrange(4)}",
                    "operation": 1,
                    "fields": fields,
                }
            evs.append((seq, ch))
            seq += 1
        blocks[block] = evs
    got = fold_blocks_batched({b: list(e) for b, e in blocks.items()})
    for block, evs in blocks.items():
        want = _fold_events(
            block,
            [(s, json.dumps({"entity_change": ch})) for s, ch in evs],
        )
        assert got[block][0] == want, f"block {block}"
        assert got[block][1] == len(evs)


def test_batched_fold_duplicate_seqs_match_scalar():
    """Events sharing a seq must still fold to the reference digest: the
    batched path tiebreaks its sort on the payload exactly like the
    scalar twin's events.sort(), so arrival order can never leak into
    the event addressing (golden anchor: poi/poi_test.go:12-29)."""
    import json

    from substreams_sink_graph_load_spark.stablehash.poi import (
        fold_blocks_batched,
    )

    def ch(entity, eid, val=None, op=None):
        d = {"entity": entity, "id": eid}
        if op is not None:
            d["operation"] = op
        d["fields"] = (
            []
            if val is None
            else [{"name": "v", "new_value": {"Typed": {"String_": val}}}]
        )
        return d

    evs = [
        (5, ch("E", "b", "1")),
        (5, ch("E", "a", "2")),
        (5, ch("F", "a", op=3)),
        (1, ch("E", "z", "3")),
        (5, ch("E", "a", "2")),  # full duplicate line too
    ]
    lines = [(s, json.dumps({"entity_change": c})) for s, c in evs]
    # feed the batched path a DIFFERENT arrival order than the scalar twin:
    # a seq-only stable sort would address the seq-5 events differently
    got = fold_blocks_batched({7: list(reversed(lines))})
    want = _fold_events(7, list(lines))
    assert got[7][0] == want
    assert got[7][1] == len(lines)


# ---------------------------------------------------------------------------
# Order independence over a multi-file staged log
# ---------------------------------------------------------------------------


def _synth_events(n_blocks=60, events_per_block=7):
    """Cursor-ordered synthetic change stream: dense seq, several events
    per block, mixed ops — the staged-log shape."""
    rows = []
    seq = 0
    for b in range(1, n_blocks + 1):
        for i in range(events_per_block):
            op = 3 if (b + i) % 11 == 0 else (1 if i == 0 else 2)
            fields = (
                []
                if op == 3
                else [
                    ("name", {"String_": f"v{b}-{i}"}),
                    ("bal", {"Bigint": str(b * 1000 + i)}),
                ]
            )
            rows.append((b, seq, _line(b, "Account", f"id{i%3}", op, fields)))
            seq += 1
    return rows


@pytest.mark.parametrize(
    "shuffle,cuts",
    [(False, [0, 105, 210, 315, 420]), (True, [0, 105, 210, 315, 420]),
     (False, [0, 200, 420])],
    ids=["cursor-order", "rows-shuffled", "block-spans-files"],
)
def test_chain_independent_of_staged_order(spark, tmp_path, shuffle, cuts):
    """poi_chain over a multi-file parquet log equals the sequential fold
    whatever the physical row order: files in cursor order (cuts on block
    boundaries), rows shuffled across the files, and block 29 split over
    two files (cut at row 200 of 7-event blocks)."""
    import random

    rows = _synth_events()
    if shuffle:
        random.Random(5).shuffle(rows)
    path = str(tmp_path / "staged")
    for a, b in zip(cuts, cuts[1:]):
        spark.createDataFrame(
            rows[a:b], "block_num long, seq long, value string"
        ).coalesce(1).write.mode("append").parquet(path)
    df = poi_chain(spark, spark.read.parquet(path), chain_id="c")
    got = {(r["block_num"], r["digest"]) for r in df.collect()}
    want = {(b, d.hex()) for b, d in _sequential_chain(_synth_events())}
    assert got == want and len(got) == 60
