"""Protobuf wire codec + Spark decode path (S2).

The decoder must yield byte-identical typed rows to the JSONL path on the
same events — the reference sinker produces the JSONL *from* this message
(sinker.go:209-215), so equality here is exactly the parity the format
stand-in claims.
"""

import base64
import json

import pytest
from pyspark.sql import functions as F

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


def test_auto_method_matches_python_codec(spark):
    """method='auto' lands on the runtime-compiled Java UDF where a JDK
    exists, else on the Python codec, with identical rows either way; an
    unknown method is rejected."""
    from substreams_sink_graph_load_spark.sources.protobuf import (
        parse_change_protobuf,
    )

    wire = spark.createDataFrame(
        [(7, bytearray(encode_entity_changes(CHANGES)), 1)],
        "block_num long, payload binary, seq long",
    )
    auto = parse_change_protobuf(wire, method="auto").collect()
    py = parse_change_protobuf(wire, method="python").collect()
    assert auto == py and len(auto) == len(CHANGES)
    with pytest.raises(ValueError, match="unknown protobuf decode method"):
        parse_change_protobuf(wire, method="jvm")


def test_javaudf_decode_matches_python_codec(spark):
    """Differential for the runtime-compiled JVM wire decoder: identical
    rows to the Python codec on the full edge fixture — unicode + JSON
    metacharacters, negative Int32, explicit zero values, bytes, arrays
    (incl. empty), an empty change, and spliced unknown fields."""
    from substreams_sink_graph_load_spark.sources.protobuf import (
        jvm_udf_decode_available,
        parse_change_protobuf,
    )

    if not jvm_udf_decode_available(spark):
        pytest.skip("no JDK to build the decoder UDF")
    edge = [dict(CHANGES[0])]
    edge[0] = dict(edge[0])
    edge[0]["fields"] = CHANGES[0]["fields"] + [
        {"name": 'q"\\\n', "new_value": {"Typed": {"String_": "\t\r\x01"}}},
        {"name": "zero", "new_value": {"Typed": {"Int32": 0}}},
        {"name": "noval"},
    ]
    body = encode_entity_changes(edge + CHANGES[1:])
    noisy = _enc_tag(99, 0) + _enc_varint(12345) + _enc_len(100, b"future") + body
    wire = spark.createDataFrame(
        [(7, bytearray(noisy), 1), (8, bytearray(b""), 2)],
        "block_num long, payload binary, seq long",
    )
    j = parse_change_protobuf(wire, method="javaudf").collect()
    p = parse_change_protobuf(wire, method="python").collect()
    assert j == p and len(j) == len(edge) + len(CHANGES) - 1


def test_javaudf_truncated_payload_fails_loudly(spark):
    """Error-contract differential for the JVM wire decoder (r6 advice):
    a length varint above 2^31 or past the enclosing message must raise
    ("truncated length-delimited field", same contract as the Python
    codec), never wrap negative, walk the cursor backwards, and loop an
    executor forever."""
    from substreams_sink_graph_load_spark.sources.protobuf import (
        jvm_udf_decode_available,
        parse_change_protobuf,
    )

    if not jvm_udf_decode_available(spark):
        pytest.skip("no JDK to build the decoder UDF")

    ok = encode_entity_changes(CHANGES)
    bad_payloads = [
        # top-level change length claims bytes past end-of-buffer
        _enc_tag(5, 2) + _enc_varint(100) + b"abc",
        # length varint > 2^31: (int) cast used to truncate negative
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
        # executor-side errors surface as PySpark-captured exceptions on
        # both routes; the contract under test is the shared message
        with pytest.raises(Exception, match="truncated"):
            parse_change_protobuf(wire, method="python").collect()
        with pytest.raises(Exception, match="truncated"):
            parse_change_protobuf(wire, method="javaudf").collect()
    # the well-formed payload alone still decodes on both routes
    wire = spark.createDataFrame(
        [(1, bytearray(ok), 1)], "block_num long, payload binary, seq long"
    )
    assert (
        parse_change_protobuf(wire, method="javaudf").collect()
        == parse_change_protobuf(wire, method="python").collect()
    )


def test_javaudf_randomized_differential(spark):
    """Seeded fuzz over the full message shape space: 200 random changes
    (every oneof kind, unicode/control-char strings, nested arrays,
    empty members) through encode -> Java-UDF decode vs Python codec."""
    import random
    import string as _string

    from substreams_sink_graph_load_spark.sources.protobuf import (
        jvm_udf_decode_available,
        parse_change_protobuf,
    )

    if not jvm_udf_decode_available(spark):
        pytest.skip("no JDK to build the decoder UDF")
    rng = random.Random(0xC0FFEE)
    alphabet = _string.ascii_letters + _string.digits + '"\\/\t\n\r ,:{}[]' + "åß✓\x01\x1f"

    def rand_text(max_len=12):
        return "".join(rng.choice(alphabet) for _ in range(rng.randrange(max_len)))

    def rand_scalar():
        kind = rng.randrange(6)
        if kind == 0:
            return {"Int32": rng.randint(-(2**31), 2**31 - 1)}
        if kind == 1:
            return {"Bigint": str(rng.randint(-10**30, 10**30))}
        if kind == 2:
            return {"Bigdecimal": f"{rng.randint(-999, 999)}.{rng.randrange(10**6)}"}
        if kind == 3:
            return {"String_": rand_text()}
        if kind == 4:
            return {"Bytes": base64.b64encode(bytes(rng.randrange(256) for _ in range(rng.randrange(8)))).decode()}
        return {"Boolean": rng.random() < 0.5}

    def rand_typed():
        if rng.random() < 0.2:
            return {"Array": {"value": [
                {"Typed": rand_scalar()} for _ in range(rng.randrange(4))
            ]}}
        return rand_scalar()

    def rand_change():
        return {
            "entity": rand_text(8),
            "id": rand_text(8),
            "operation": rng.randrange(5),
            "fields": [
                {"name": rand_text(8), "new_value": {"Typed": rand_typed()}}
                for _ in range(rng.randrange(5))
            ],
        }

    payloads = [
        (i, bytearray(encode_entity_changes([rand_change() for _ in range(rng.randrange(1, 4))])), i)
        for i in range(80)
    ]
    wire = spark.createDataFrame(payloads, "block_num long, payload binary, seq long")
    key = lambda r: (r["block_num"], r["_line_no"])
    j = sorted(parse_change_protobuf(wire, method="javaudf").collect(), key=key)
    p = sorted(parse_change_protobuf(wire, method="python").collect(), key=key)
    assert j == p and len(j) > 100
