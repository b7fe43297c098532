"""Seeded wire-log generator for the pipeline workloads.

Pure Python + numpy, no engine imports: the program under test only ever
sees the files written here.  One call yields

* ``wire.jsonl`` — ``EntityChangeAtBlockNum`` lines in cursor (block, seq)
  order, the input of ``run``;
* ``schema.graphql`` — the entity schema ``run``/``tocsv``/``inject-csv``
  take;
* the events as Python tuples, which the models in ``model.py`` fold.

Operations follow the reference's validity rules so the strict fold never
meets a fatal path: CREATE only on a non-live id and with every field,
UPDATE/DELETE/FINAL only on a live id, immutable types CREATE only.
"""

from __future__ import annotations

import base64
import json
import os
from dataclasses import dataclass

import numpy as np

OP_CREATE, OP_UPDATE, OP_DELETE, OP_FINAL = 1, 2, 3, 4

# Field kinds: (GraphQL type, wire Typed key).  Arrays wrap the key.
_GQL = {
    "string": "String", "bigint": "BigInt", "bigdecimal": "BigDecimal",
    "bytes": "Bytes", "int": "Int", "bool": "Boolean",
}
_KEY = {
    "string": "String_", "bigint": "Bigint", "bigdecimal": "Bigdecimal",
    "bytes": "Bytes", "int": "Int32", "bool": "Boolean",
}
_WORDS = ["alpha", "beta", "gamma", "delta", "eps,ilon", "zeta", "eta", "theta"]


@dataclass(frozen=True)
class FieldSpec:
    wire: str        # camelCase spelling on the wire and in the schema
    column: str      # snake_case column the schema normalizes it to
    kind: str        # key of _GQL
    nullable: bool
    array: bool = False


@dataclass(frozen=True)
class EntitySpec:
    wire: str        # GraphQL type name, as events carry it
    table: str       # snake_case table name
    immutable: bool
    fields: tuple[FieldSpec, ...]


# Two field layouts: the mutable one carries every typed kind the CSV
# writer renders differently (BigInt, BigDecimal, arrays, bytes, ints,
# booleans, nullable and not); the immutable one is a narrow event row.
_MUTABLE_FIELDS = (
    FieldSpec("name", "name", "string", False),
    FieldSpec("balance", "balance", "bigint", False),
    FieldSpec("price", "price", "bigdecimal", True),
    FieldSpec("tags", "tags", "string", False, array=True),
    FieldSpec("payload", "payload", "bytes", True),
    FieldSpec("txCount", "tx_count", "int", False),
    FieldSpec("active", "active", "bool", False),
    FieldSpec("history", "history", "bigint", True, array=True),
)
_IMMUTABLE_FIELDS = (
    FieldSpec("fromAccount", "from_account", "string", False),
    FieldSpec("value", "value", "bigint", False),
    FieldSpec("memo", "memo", "bytes", True),
    FieldSpec("fee", "fee", "bigdecimal", True),
)

_TYPE_NAMES = [
    "Account", "Pool", "Token", "Vault", "Market", "Position",
    "Swap", "Transfer", "Mint", "Burn", "Deposit", "Withdrawal",
    "Claim", "Vote", "Order", "Fill",
]


@dataclass(frozen=True)
class WireKnobs:
    """The generator's knobs; each workload's choice is in workloads.py."""

    events: int            # total change events on the wire
    entity_types: int      # how many entity types the schema declares
    immutable_share: float  # share of those types that are immutable
    ids_per_type: int      # id pool of each mutable type
    id_skew: float         # Zipf exponent over a mutable type's id pool
    events_per_block: float  # mean events in a block that has any
    block_span: int        # blocks [0, block_span) the events spread over
    p_update: float        # live id: share of events that UPDATE ...
    p_delete: float        # ... DELETE, and FINAL (the rest)
    bundle_size: int

    @property
    def stop_block(self) -> int:
        return self.block_span


def entity_specs(k: WireKnobs) -> list[EntitySpec]:
    n_imm = int(round(k.entity_types * k.immutable_share))
    out = []
    for i in range(k.entity_types):
        name = _TYPE_NAMES[i]
        imm = i >= k.entity_types - n_imm
        out.append(EntitySpec(
            name, name.lower(), imm, _IMMUTABLE_FIELDS if imm else _MUTABLE_FIELDS,
        ))
    return out


def schema_sdl(specs: list[EntitySpec]) -> str:
    parts = []
    for e in specs:
        lines = ["  id: ID!"]
        for f in e.fields:
            t = _GQL[f.kind]
            bang = "" if f.nullable else "!"
            lines.append(f"  {f.wire}: [{t}{bang}]" if f.array else f"  {f.wire}: {t}{bang}")
        directive = "@entity(immutable: true)" if e.immutable else "@entity"
        parts.append(f"type {e.wire} {directive} {{\n" + "\n".join(lines) + "\n}\n")
    return "\n".join(parts)


class _Values:
    """Typed value draws from one seeded generator."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng

    def scalar(self, kind: str):
        r = self.rng
        if kind == "string":
            return f"{_WORDS[int(r.integers(len(_WORDS)))]}-{int(r.integers(10_000))}"
        if kind == "bigint":
            digits = int(r.integers(1, 31))
            v = int(r.integers(1, 10)) * 10 ** (digits - 1) + int(r.integers(0, 10**9))
            return str(-v if r.random() < 0.1 else v)
        if kind == "bigdecimal":
            return f"{int(r.integers(0, 10**6))}.{int(r.integers(0, 10**4)):04d}"
        if kind == "bytes":
            return base64.b64encode(r.bytes(int(r.integers(1, 17)))).decode()
        if kind == "int":
            return int(r.integers(-(2**31), 2**31 - 1))
        return bool(r.random() < 0.5)

    def typed(self, f: FieldSpec) -> dict:
        key = _KEY[f.kind]
        if f.array:
            n = int(self.rng.integers(0, 4))
            return {"Array": {"value": [{"Typed": {key: self.scalar(f.kind)}} for _ in range(n)]}}
        return {key: self.scalar(f.kind)}


def generate(k: WireKnobs, seed: int, out_dir: str) -> dict:
    """Write ``wire.jsonl`` and ``schema.graphql`` under ``out_dir``.

    Returns ``{"specs", "events", "wire", "schema", "stop_block"}`` where
    each event is ``(block, entity_wire, id, op, fields)`` in wire order and
    ``fields`` is the list of ``{"name", "new_value": {"Typed"}}`` entries.
    """
    rng = np.random.default_rng(seed)
    vals = _Values(rng)
    specs = entity_specs(k)

    # blocks that carry events: a sorted sample of the span, each holding
    # 1 + Poisson(events_per_block - 1) events until the budget is spent
    n_blocks = max(1, min(k.block_span, int(round(k.events / k.events_per_block))))
    blocks = np.sort(rng.choice(k.block_span, size=n_blocks, replace=False))
    per_block = 1 + rng.poisson(max(k.events_per_block - 1.0, 0.0), size=n_blocks)
    scale = k.events / per_block.sum()
    per_block = np.maximum(1, np.round(per_block * scale)).astype(np.int64)

    # a mutable type draws three times the events of an immutable one
    w = np.array([1.0 if e.immutable else 3.0 for e in specs])
    w /= w.sum()
    total = int(per_block.sum())
    type_draw = rng.choice(len(specs), size=total, p=w)
    # Zipf-skewed id ranks over a bounded pool: rank r has weight r^-s
    ranks = np.arange(1, k.ids_per_type + 1, dtype=np.float64)
    pz = ranks ** -k.id_skew
    pz /= pz.sum()
    id_draw = rng.choice(k.ids_per_type, size=total, p=pz)
    op_draw = rng.random(total)

    live: dict[tuple[int, int], bool] = {}
    next_imm: dict[int, int] = {}
    events = []
    lines = []
    i = 0
    for blk, cnt in zip(blocks.tolist(), per_block.tolist()):
        for _ in range(cnt):
            t = int(type_draw[i])
            e = specs[t]
            if e.immutable:
                n = next_imm.get(t, 0)
                next_imm[t] = n + 1
                eid, op = f"{e.table[:2]}{n}", OP_CREATE
                fields = [{"name": f.wire, "new_value": {"Typed": vals.typed(f)}} for f in e.fields]
            else:
                key = (t, int(id_draw[i]))
                eid = f"{e.table[:2]}{key[1]}"
                if not live.get(key):
                    op = OP_CREATE
                    fields = [{"name": f.wire, "new_value": {"Typed": vals.typed(f)}} for f in e.fields]
                    live[key] = True
                else:
                    u = op_draw[i]
                    if u < k.p_update:
                        op = OP_UPDATE
                        pick = rng.random(len(e.fields)) < 0.4
                        if not pick.any():
                            pick[int(rng.integers(len(e.fields)))] = True
                        fields = [
                            {"name": f.wire, "new_value": {"Typed": vals.typed(f)}}
                            for f, p in zip(e.fields, pick) if p
                        ]
                    else:
                        op = OP_DELETE if u < k.p_update + k.p_delete else OP_FINAL
                        fields = []
                        live[key] = False
            events.append((blk, e.wire, eid, op, fields))
            lines.append(json.dumps(
                {"entity_change": {"entity": e.wire, "id": eid, "operation": op,
                                   "fields": fields},
                 "block_num": blk},
                separators=(", ", ": "),
            ))
            i += 1

    os.makedirs(out_dir, exist_ok=True)
    wire = os.path.join(out_dir, "wire.jsonl")
    with open(wire, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    schema = os.path.join(out_dir, "schema.graphql")
    with open(schema, "w") as fh:
        fh.write(schema_sdl(specs))
    return {
        "specs": specs, "events": events, "wire": wire, "schema": schema,
        "stop_block": k.stop_block,
    }
