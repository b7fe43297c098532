"""Protobuf wire codec + Spark decode path (S2).

The decoder must yield byte-identical typed rows to the JSONL path on the
same events — the reference sinker produces the JSONL *from* this message
(sinker.go:209-215), so equality here is exactly the parity the format
stand-in claims.
"""

import base64
import json

import pytest

from substreams_sink_graph_load_spark.schema.entities import parse_schema
from substreams_sink_graph_load_spark.sources.jsonl import (
    read_change_jsonl,
    typed_extract,
)
from substreams_sink_graph_load_spark.sources.protobuf import (
    _enc_len,
    _enc_tag,
    _enc_varint,
    decode_entity_changes,
    encode_entity_changes,
    parse_change_protobuf,
)

from test_pipeline_e2e import ACCOUNT_EVENTS, SDL


CHANGES = [
    {"entity": "Account", "id": "a1", "operation": 1, "fields": [
        {"name": "name", "new_value": {"Typed": {"String_": "ålice ✓"}}},
        {"name": "balance", "new_value": {"Typed": {"Bigint": "100"}}},
        {"name": "ratio", "new_value": {"Typed": {"Bigdecimal": "1.5"}}},
        {"name": "active", "new_value": {"Typed": {"Boolean": False}}},
        {"name": "n", "new_value": {"Typed": {"Int32": -7}}},
        {"name": "payload", "new_value": {"Typed": {"Bytes": base64.b64encode(b"\xde\xad").decode()}}},
        {"name": "tags", "new_value": {"Typed": {"Array": {"value": [
            {"Typed": {"String_": "x,y"}}, {"Typed": {"String_": ""}}]}}}},
        {"name": "empty", "new_value": {"Typed": {"Array": {"value": []}}}},
    ]},
    {"entity": "Transfer", "id": "", "operation": 3, "fields": []},
]


def _strip(changes):
    out = []
    for c in changes:
        c = dict(c)
        c.pop("ordinal", None)
        out.append(c)
    return out


def test_codec_round_trip():
    assert _strip(decode_entity_changes(encode_entity_changes(CHANGES))) == CHANGES


def test_codec_zero_values_survive():
    """oneof members serialize even at their zero value: Int32 0, Boolean
    false, and the empty string must round-trip as *present* fields."""
    changes = [{"entity": "E", "id": "x", "operation": 2, "fields": [
        {"name": "a", "new_value": {"Typed": {"Int32": 0}}},
        {"name": "b", "new_value": {"Typed": {"Boolean": False}}},
        {"name": "c", "new_value": {"Typed": {"String_": ""}}},
    ]}]
    assert _strip(decode_entity_changes(encode_entity_changes(changes))) == changes


def test_unknown_fields_skipped():
    """proto3 forward compatibility: unknown tags (varint + len-delimited)
    inside any message are ignored, not fatal."""
    body = encode_entity_changes(CHANGES[:1])
    # splice an unknown varint field 99 and an unknown len field 100 at the top level
    noisy = _enc_tag(99, 0) + _enc_varint(12345) + _enc_len(100, b"future") + body
    assert _strip(decode_entity_changes(noisy)) == CHANGES[:1]


def test_truncated_payload_raises():
    body = encode_entity_changes(CHANGES[:1])
    with pytest.raises(ValueError):
        decode_entity_changes(body[:-3])


def test_wire_matches_jsonl_path(spark, tmp_path):
    """Differential: the same account events through (a) JSONL scan and
    (b) wire decode produce identical typed rows."""
    desc = parse_schema(SDL)["account"]

    # (a) JSONL path
    d = tmp_path / "account"
    d.mkdir(parents=True)
    lines = []
    for fname, events in ACCOUNT_EVENTS.items():
        with open(d / fname, "w") as fh:
            for e in events:
                fh.write(json.dumps(e) + "\n")
                lines.append(e)
    jsonl_typed = typed_extract(
        read_change_jsonl(spark, str(d / "*.jsonl")), desc,
        originals=list(desc.fields),
    ).drop("seq")

    # (b) wire path: one EntityChanges message per source line
    wire_rows = [
        (e["block_num"], bytearray(encode_entity_changes([e["entity_change"]])))
        for e in lines
    ]
    wire = spark.createDataFrame(wire_rows, "block_num long, payload binary")
    wire_typed = typed_extract(parse_change_protobuf(wire), desc,
                               originals=list(desc.fields)).drop("seq")

    key = lambda r: (r["block_num"], r["id"], r["operation"])
    a = sorted(jsonl_typed.collect(), key=key)
    b = sorted(wire_typed.collect(), key=key)
    assert a == b
    assert len(a) == sum(len(v) for v in ACCOUNT_EVENTS.values())


def test_proto_roundtrip_query_oracle(spark, sf_dir):
    """The registered driver query against its DuckDB oracle at sf0.001."""
    import duckdb

    from substreams_sink_graph_load_spark.plans import ORACLES, QUERIES

    sdf = QUERIES["proto_roundtrip"](spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    odf = con.execute(ORACLES["proto_roundtrip"]).df()
    assert list(sdf.columns) == list(odf.columns)
    s = sdf.sort_values("id").reset_index(drop=True)
    o = odf.sort_values("id").reset_index(drop=True)
    assert s.equals(o.astype(s.dtypes.to_dict()))


def test_truncated_payload_fails_through_spark(spark):
    """The decode error contract through Spark: a length varint above 2^31
    or past the enclosing message must raise ("truncated"), never wrap
    negative, walk the cursor backwards, or loop an executor forever."""
    ok = encode_entity_changes(CHANGES)
    bad_payloads = [
        # top-level change length claims bytes past end-of-buffer
        _enc_tag(5, 2) + _enc_varint(100) + b"abc",
        # length varint > 2^31
        _enc_tag(5, 2) + _enc_varint(2**32 + 7) + b"abc",
        # nested: field length inside a change overruns the change body
        _enc_tag(5, 2)
        + _enc_varint(6)
        + (_enc_tag(5, 2) + _enc_varint(50) + b"abc"),
        # fixed64 skip with fewer than 8 bytes left
        _enc_tag(9, 1) + b"abc",
    ]
    for bad in bad_payloads:
        wire = spark.createDataFrame(
            [(1, bytearray(ok), 1), (2, bytearray(bad), 2)],
            "block_num long, payload binary, seq long",
        )
        # executor-side errors surface as PySpark-captured exceptions
        with pytest.raises(Exception, match="truncated"):
            parse_change_protobuf(wire).collect()
    # the well-formed payload alone still decodes
    wire = spark.createDataFrame(
        [(1, bytearray(ok), 1)], "block_num long, payload binary, seq long"
    )
    assert len(parse_change_protobuf(wire).collect()) == len(CHANGES)
