"""Independent models of the pipeline's outputs, folded sequentially in
Python from the generated events (never from the program's output).

* :func:`expected_tables` — per table, per bundle file, the CSV rows the
  reference's ``tocsv`` writes: a sequential SCD-2 replay of the reference
  fold (processor.go:237-307, the ``reference_fold`` shape the property
  tests use) for mutable types, one row per CREATE for immutable ones.
* :func:`expected_poi_rows` — the ``poi2$`` rows: one
  ``stablehash.poi.ProofOfIndexing`` per block over the wire order, chained
  block to block, one version row per digest change.
* :func:`row_checksum` — the id/block-range checksum the Postgres check
  computes server-side with the same formula.
"""

from __future__ import annotations

import base64
import hashlib

from wiregen import OP_CREATE, OP_DELETE, OP_FINAL, OP_UPDATE, EntitySpec, FieldSpec

_DEFAULT = {"string": "", "bytes": "", "bigint": "0", "bigdecimal": "0",
            "int": "0", "bool": "false"}


def bundle_name(start: int, stop_block: int, bundle_size: int, ext: str = "csv") -> str:
    end = min(start + bundle_size, stop_block)
    return f"{start:010d}-{end - 1:010d}.{ext}"


def all_bundles(stop_block: int, bundle_size: int, ext: str = "csv") -> list[str]:
    return [bundle_name(s, stop_block, bundle_size, ext) for s in range(0, stop_block, bundle_size)]


def _scalar(kind: str, v) -> str:
    if kind == "bytes":
        return "\\x" + base64.b64decode(v).hex()
    if kind == "bool":
        return "true" if v else "false"
    if kind == "int":
        return str(int(v))
    return str(v).replace("\x00", "")


def render(f: FieldSpec, typed: dict | None) -> str:
    """One CSV field as the graph-node writer renders it (before quoting)."""
    if typed is None:
        return "NULL" if f.nullable else _DEFAULT[f.kind]
    if f.array:
        elems = []
        for e in (typed["Array"] or {}).get("value") or []:
            s = _scalar(f.kind, next(iter(e["Typed"].values())))
            if f.kind != "bytes":
                s = s.replace("\\", "\\\\").replace(",", "\\,")
            elems.append(s)
        return "{" + ",".join(elems) + "}"
    return _scalar(f.kind, next(iter(typed.values())))


def _row(e: EntitySpec, eid: str, block_col: str, state: dict) -> tuple:
    """CSV column order: id, block column, then fields by column name."""
    fields = sorted(e.fields, key=lambda f: f.column)
    return (eid, block_col, *(render(f, state.get(f.wire)) for f in fields))


def expected_tables(specs: list[EntitySpec], events: list, stop_block: int,
                    bundle_size: int) -> dict[str, dict[str, list[tuple]]]:
    """table -> bundle file name -> sorted CSV rows (tuples of strings)."""
    out: dict[str, dict[str, list[tuple]]] = {}
    by_type = {e.wire: e for e in specs}
    per_type: dict[str, list] = {e.wire: [] for e in specs}
    for ev in events:
        if ev[0] < stop_block:
            per_type[ev[1]].append(ev)
    for wire, evs in per_type.items():
        e = by_type[wire]
        emitted: list[tuple[int, tuple]] = []
        if e.immutable:
            for block, _, eid, op, fields in evs:
                if op in (OP_CREATE, OP_UPDATE):
                    vals = {f["name"]: f["new_value"]["Typed"] for f in fields}
                    emitted.append((block, _row(e, eid, str(block), vals)))
        else:
            live: dict[str, tuple[int, dict]] = {}
            for block, _, eid, op, fields in evs:
                vals = {f["name"]: f["new_value"]["Typed"] for f in fields}
                if op in (OP_CREATE, OP_UPDATE):
                    if eid in live:
                        start, prev = live[eid]
                        emitted.append((block, _row(e, eid, f"[{start},{block})", prev)))
                        vals = {**prev, **vals}
                    live[eid] = (block, vals)
                elif op == OP_DELETE and eid in live:
                    start, prev = live.pop(eid)
                    emitted.append((block, _row(e, eid, f"[{start},{block})", prev)))
                elif op == OP_FINAL and eid in live:
                    start, prev = live.pop(eid)
                    emitted.append((block, _row(e, eid, f"[{start},)", prev)))
            last = max((ev[0] for ev in evs), default=0)
            for eid, (start, prev) in live.items():  # end-of-log flush
                emitted.append((last, _row(e, eid, f"[{start},)", prev)))
        bundles = {name: [] for name in all_bundles(stop_block, bundle_size)}
        for emit, row in emitted:
            s = emit - emit % bundle_size
            bundles[bundle_name(s, stop_block, bundle_size)].append(row)
        out[e.table] = {k: sorted(v) for k, v in bundles.items()}
    return out


def expected_poi_rows(events: list, chain_id: str, stop_block: int,
                      bundle_size: int) -> dict[str, list[tuple]]:
    """bundle file name -> sorted ``poi2$`` rows ``(id, block_range, digest)``."""
    from substreams_sink_graph_load_spark.stablehash.poi import ProofOfIndexing

    chain: list[tuple[int, bytes]] = []
    prev: bytes | None = None
    poi = None
    for block, entity, eid, op, fields in events:
        if block >= stop_block:
            break
        if poi is None or poi.block_number != block:
            if poi is not None:
                prev = _close(poi, prev, chain)
            poi = ProofOfIndexing(block)
        if op == OP_DELETE:
            poi.remove_entity(entity, eid)
        else:
            poi.set_entity(entity, eid, fields)
    if poi is not None:
        _close(poi, prev, chain)
    bundles = {name: [] for name in all_bundles(stop_block, bundle_size)}
    for i, (block, digest) in enumerate(chain):
        end = chain[i + 1][0] if i + 1 < len(chain) else None
        emit = block if end is None else end
        rng = f"[{block},{'' if end is None else end})"
        s = emit - emit % bundle_size
        bundles[bundle_name(s, stop_block, bundle_size)].append(
            (chain_id, rng, "\\x" + digest.hex())
        )
    return {k: sorted(v) for k, v in bundles.items()}


def _close(poi, prev: bytes | None, chain: list) -> bytes:
    digest = poi.pause(prev)
    if digest != prev:
        chain.append((poi.block_number, digest))
    return digest


def row_checksum(eid: str, block_col: str) -> int:
    """Signed 32-bit prefix of md5(id || '|' || block text); Postgres sums
    ``('x' || substr(md5(...), 1, 8))::bit(32)::int`` to the same value."""
    return int.from_bytes(
        hashlib.md5(f"{eid}|{block_col}".encode()).digest()[:4], "big", signed=True
    )
