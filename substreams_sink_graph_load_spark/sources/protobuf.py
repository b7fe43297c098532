"""Protobuf wire decode for ``sf.substreams.sink.entity.v1.EntityChanges``.

The reference sinker unmarshals each block's map-module output into an
``EntityChanges`` message (ref sinker/sinker.go:209-215, module
``github.com/streamingfast/substreams-sink-entity-changes v1.3.2`` per the
reference go.mod:25) before re-encoding changes as JSONL.  This module
speaks the binary wire format directly, so a stored stream of raw
substreams payloads can enter the engine without the JSONL hop.

No protobuf runtime exists in this environment (no ``google.protobuf``, no
spark-protobuf jar), so the codec is a self-contained implementation of the
proto3 wire format — varints, length-delimited submessages, unknown-field
skipping — driven by the field-number tables below, which transcribe the
public proto (one place to fix if the upstream schema ever moves):

    message EntityChanges { repeated EntityChange entity_changes = 5; }
    message EntityChange  { string entity = 1; string id = 2;
                            uint64 ordinal = 3; Operation operation = 4;
                            repeated Field fields = 5;
                            enum Operation { UNSET=0; CREATE=1; UPDATE=2;
                                             DELETE=3; FINAL=4; } }
    message Field         { string name = 1; Value new_value = 3;
                            Value old_value = 5; }
    message Value         { oneof typed { int32 int32 = 1;
                            string bigdecimal = 2; string bigint = 3;
                            string string = 4; bytes bytes = 5;
                            bool bool = 6; Array array = 10; } }
    message Array         { repeated Value value = 1; }

Decoded changes come out in the exact dict shape of the JSONL lines
(``{"entity_change": {...}, "block_num": N}``, types.go:3-9), so the typed
extraction, SCD-2, and CSV stages downstream are byte-identical for both
wire formats — the differential test in tests/test_protobuf.py proves it.

The Spark operator is ``mapInPandas`` over ``(block_num, payload)`` binary
rows: Arrow-batched, one Python pass per payload, output schema fixed to
the JSONL parse schema.  Scale note: payloads shard arbitrarily (decode is
per-row, stateless), so the scan parallelizes like any binary column; no
shuffle is introduced before typed extraction.
"""

from __future__ import annotations

import base64
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# proto3 wire types: 0=VARINT, 1=I64, 2=LEN, 5=I32 (3/4 are legacy groups)
_VARINT, _I64, _LEN, _I32 = 0, 1, 2, 5

# Value oneof: field number -> (JSONL "Typed" key, kind)
_VALUE_FIELDS = {
    1: ("Int32", "int32"),
    2: ("Bigdecimal", "string"),
    3: ("Bigint", "string"),
    4: ("String_", "string"),
    5: ("Bytes", "bytes"),
    6: ("Boolean", "bool"),
    10: ("Array", "array"),
}
_VALUE_NUMBER = {key: (num, kind) for num, (key, kind) in _VALUE_FIELDS.items()}

OPERATION_UNSET, OPERATION_CREATE, OPERATION_UPDATE, OPERATION_DELETE, OPERATION_FINAL = range(5)


# ---------------------------------------------------------------- decoding

def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    out = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint longer than 64 bits")


def _iter_fields(buf: bytes) -> Iterator[tuple[int, int, int | bytes]]:
    """Yield (field_number, wire_type, value) skipping nothing; callers drop
    unknown numbers (proto3 forward compatibility)."""
    pos, n = 0, len(buf)
    while pos < n:
        tag, pos = _varint(buf, pos)
        num, wt = tag >> 3, tag & 7
        if wt == 0:
            val, pos = _varint(buf, pos)
        elif wt == 2:
            ln, pos = _varint(buf, pos)
            val, pos = buf[pos : pos + ln], pos + ln
            if len(val) != ln:
                raise ValueError("truncated length-delimited field")
        elif wt == 1:
            val, pos = buf[pos : pos + 8], pos + 8
            if len(val) != 8:
                raise ValueError("truncated length-delimited field")
        elif wt == 5:
            val, pos = buf[pos : pos + 4], pos + 4
            if len(val) != 4:
                raise ValueError("truncated length-delimited field")
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield num, wt, val


def _to_int32(v: int) -> int:
    # plain int32 fields arrive as 64-bit varints, negatives sign-extended
    v &= (1 << 64) - 1
    v &= (1 << 32) - 1
    return v - (1 << 32) if v >= (1 << 31) else v


def _decode_value(buf: bytes) -> dict | None:
    """Value message -> ``{"<TypedKey>": python value}`` (last oneof wins,
    matching protobuf merge semantics)."""
    out: dict | None = None
    for num, _wt, val in _iter_fields(buf):
        entry = _VALUE_FIELDS.get(num)
        if entry is None:
            continue
        key, kind = entry
        if kind == "int32":
            out = {key: _to_int32(val)}
        elif kind == "string":
            out = {key: val.decode("utf-8")}
        elif kind == "bytes":
            # JSONL carries bytes as std base64 (Go encoding/json []byte)
            out = {key: base64.b64encode(val).decode("ascii")}
        elif kind == "bool":
            out = {key: bool(val)}
        else:  # array
            values = [
                {"Typed": _decode_value(v)}
                for n2, _w2, v in _iter_fields(val)
                if n2 == 1
            ]
            out = {key: {"value": values}}
    return out


def _decode_field(buf: bytes) -> dict:
    f: dict = {"name": ""}
    for num, _wt, val in _iter_fields(buf):
        if num == 1:
            f["name"] = val.decode("utf-8")
        elif num == 3:
            f["new_value"] = {"Typed": _decode_value(val)}
        elif num == 5:
            f["old_value"] = {"Typed": _decode_value(val)}
    return f


def _decode_entity_change(buf: bytes) -> dict:
    c: dict = {"entity": "", "id": "", "operation": 0, "fields": []}
    for num, _wt, val in _iter_fields(buf):
        if num == 1:
            c["entity"] = val.decode("utf-8")
        elif num == 2:
            c["id"] = val.decode("utf-8")
        elif num == 3:
            c["ordinal"] = val
        elif num == 4:
            c["operation"] = val
        elif num == 5:
            c["fields"].append(_decode_field(val))
    return c


def decode_entity_changes(payload: bytes) -> list[dict]:
    """One ``EntityChanges`` wire message -> list of entity-change dicts in
    JSONL shape (without the ``block_num`` wrapper — the block number rides
    beside the payload, supplied by the transport like sinker.go:216)."""
    return [
        _decode_entity_change(val)
        for num, _wt, val in _iter_fields(payload)
        if num == 5
    ]


# ---------------------------------------------------------------- encoding
# Inverse codec: fixtures/tests and the wire-file stand-in writer.  Kept
# beside the decoder so the field-number tables can never drift apart.

def _enc_varint(v: int) -> bytes:
    out = bytearray()
    v &= (1 << 64) - 1
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_tag(num: int, wt: int) -> bytes:
    return _enc_varint((num << 3) | wt)


def _enc_len(num: int, payload: bytes) -> bytes:
    return _enc_tag(num, _LEN) + _enc_varint(len(payload)) + payload


def _encode_value(typed: dict) -> bytes:
    ((key, val),) = typed.items()
    num, kind = _VALUE_NUMBER[key]
    if kind == "int32":
        return _enc_tag(num, _VARINT) + _enc_varint(val)
    if kind == "string":
        return _enc_len(num, val.encode("utf-8"))
    if kind == "bytes":
        return _enc_len(num, base64.b64decode(val))
    if kind == "bool":
        return _enc_tag(num, _VARINT) + _enc_varint(int(bool(val)))
    body = b"".join(
        _enc_len(1, _encode_value(item["Typed"]))
        for item in val.get("value") or []
    )
    return _enc_len(num, body)


def _encode_field(f: dict) -> bytes:
    out = _enc_len(1, f["name"].encode("utf-8"))
    if f.get("new_value"):
        out += _enc_len(3, _encode_value(f["new_value"]["Typed"]))
    if f.get("old_value"):
        out += _enc_len(5, _encode_value(f["old_value"]["Typed"]))
    return out


def encode_entity_change(c: dict) -> bytes:
    out = _enc_len(1, c["entity"].encode("utf-8"))
    out += _enc_len(2, c["id"].encode("utf-8"))
    if c.get("ordinal"):
        out += _enc_tag(3, _VARINT) + _enc_varint(c["ordinal"])
    if c.get("operation"):
        out += _enc_tag(4, _VARINT) + _enc_varint(c["operation"])
    for f in c.get("fields") or []:
        out += _enc_len(5, _encode_field(f))
    return out


def encode_entity_changes(changes: Iterable[dict]) -> bytes:
    return b"".join(_enc_len(5, encode_entity_change(c)) for c in changes)


# ------------------------------------------------------------- Spark side

_SCALAR_TYPED_PY = T.StructType(
    [
        T.StructField("String_", T.StringType()),
        T.StructField("Int32", T.IntegerType()),
        T.StructField("Bigint", T.StringType()),
        T.StructField("Bigdecimal", T.StringType()),
        T.StructField("Bytes", T.StringType()),
        T.StructField("Boolean", T.BooleanType()),
        T.StructField("Float", T.DoubleType()),  # JSONL-only; never on wire
    ]
)

_TYPED_PY = T.StructType(
    list(_SCALAR_TYPED_PY.fields)
    + [
        T.StructField(
            "Array",
            T.StructType(
                [
                    T.StructField(
                        "value",
                        T.ArrayType(
                            T.StructType([T.StructField("Typed", _SCALAR_TYPED_PY)])
                        ),
                    )
                ]
            ),
        )
    ]
)

PROTO_PARSED_SCHEMA = T.StructType(
    [
        T.StructField("block_num", T.LongType()),
        T.StructField("entity", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("operation", T.IntegerType()),
        T.StructField(
            "fields",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField(
                            "new_value",
                            T.StructType([T.StructField("Typed", _TYPED_PY)]),
                        ),
                    ]
                )
            ),
        ),
        T.StructField("_file", T.StringType()),
        T.StructField("seq", T.LongType()),
    ]
)


def parse_change_protobuf(raw: DataFrame) -> DataFrame:
    """Decode ``(block_num, payload[, _file, seq])`` wire rows into the
    change columns :func:`..sources.jsonl.read_change_jsonl` produces, one
    row per entity change.

    ``seq`` orders changes globally; absent, ``block_num`` is used (wire
    payloads are one-per-block, already totally ordered by block).  Change
    order *within* a payload follows message order, exactly like the
    reference's ``for _, change := range entityChanges.EntityChanges``
    (sinker.go:242).
    """
    has_file = "_file" in raw.columns
    has_seq = "seq" in raw.columns

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                payload = rec.payload
                block = int(rec.block_num)
                fname = getattr(rec, "_file", None) if has_file else None
                seq = int(getattr(rec, "seq")) if has_seq else block
                for c in decode_entity_changes(bytes(payload)):
                    rows.append(
                        {
                            "block_num": block,
                            "entity": c["entity"],
                            "id": c["id"],
                            "operation": int(c["operation"]),
                            "fields": [
                                {
                                    "name": f["name"],
                                    "new_value": f.get("new_value"),
                                }
                                for f in c["fields"]
                            ],
                            "_file": fname,
                            "seq": seq,
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in PROTO_PARSED_SCHEMA.fields]
            )

    return raw.mapInPandas(decode, schema=PROTO_PARSED_SCHEMA)
