"""Proof-of-indexing: graph-node-compatible per-block digest chain
(behavioral port of ref poi/poi.go, poi/entity.go, poi/event.go).

Digest layout: 32 bytes = 24-byte commutative mixer state + 8-byte LE event
count.  Per block: each entity change is hashed at address chain
``[1, 0, block_num, 0, event_index]`` off the root; ``pause`` then writes the
event count at ``[1, 0, block_num, 0]`` and mixes in the previous block's
digest — a prefix fold under the commutative mixer, which is what lets Spark
compute per-block states in parallel and chain them after.
"""

from __future__ import annotations

import base64

from .big_decimal import BigDecimal
from .core import (
    ADDRESS_ROOT,
    FastHasher,
    addr_child,
    addr_children,
    fldmix_combine,
)
from .values import (
    BigDecimalVal,
    BigIntVal,
    Bool,
    Bytes,
    Hashable,
    I32,
    ListVal,
    MapVal,
    String,
    U64,
)

OP_REMOVE_VARIANT = 0x1
OP_SET_VARIANT = 0x2

# Map entries hash into an INDEPENDENT hasher rooted at the unordered
# address pair (core.addr_unordered -> children of ADDRESS_ROOT), so an
# entry's 32-byte state depends only on (field name, typed value) — never
# on the event address.  That makes it memoizable across events: schema
# field names repeat every event and change-stream values repeat heavily,
# so the ~4 xxh3 calls per entry collapse to a dict lookup; only the final
# mix-in write at the event-specific address remains per-event (measured
# ~3x on the run-stage fold).  Bounded: insertion stops at the cap so a
# high-cardinality value column can't grow the worker heap unboundedly.
_ENTRY_CACHE: dict[tuple, bytes] = {}
_ENTRY_CACHE_MAX = 1 << 18
_MAP_KEY_ADDR = addr_child(ADDRESS_ROOT, 0)
_MAP_VAL_ADDR = addr_child(ADDRESS_ROOT, 1)


def _map_entry_state(name: str, typed: dict) -> bytes:
    """32-byte independent-hasher state of one ``{name: typed-value}`` map
    entry (identical to what ``MapVal.stable_hash`` feeds its final write)."""
    key = None
    if len(typed) == 1:
        ((tag, raw),) = typed.items()
        if raw is None or isinstance(raw, (str, int, bool)):
            key = (name, tag, raw)
            st = _ENTRY_CACHE.get(key)
            if st is not None:
                return st
    inner = FastHasher()
    String(name).stable_hash(_MAP_KEY_ADDR, inner)
    EntityValue(typed).stable_hash(_MAP_VAL_ADDR, inner)
    st = inner.to_bytes()
    if key is not None and len(_ENTRY_CACHE) < _ENTRY_CACHE_MAX:
        _ENTRY_CACHE[key] = st
    return st


class EntityValue(Hashable):
    """A typed change-stream value ``{"<Key>": raw}`` hashed as graph-node's
    Value: inner at child(0), then the variant byte at the address
    (ref poi/entity.go:17-78)."""

    def __init__(self, typed: dict):
        self.typed = typed

    def _to_hashable(self) -> tuple[Hashable, int]:
        t = self.typed
        if "String_" in t:
            v = t["String_"]
            if "\u0000" in v:
                v = v.replace("\u0000", "")  # Postgres NUL scrub, also hashed scrubbed
            return String(v), 0x1
        if "Int32" in t:
            return I32(int(t["Int32"])), 0x2
        if "Bigdecimal" in t:
            return BigDecimalVal(BigDecimal.from_string(t["Bigdecimal"])), 0x3
        if "Bool" in t or "Boolean" in t:
            return Bool(bool(t.get("Bool", t.get("Boolean")))), 0x4
        if "Array" in t:
            values = (t["Array"] or {}).get("value") or []
            return (
                ListVal([EntityValue(v.get("Typed", v)) for v in values]),
                0x5,
            )
        if "Bytes" in t:
            return Bytes(base64.b64decode(t["Bytes"])), 0x6
        if "Bigint" in t:
            return BigIntVal(int(t["Bigint"], 10)), 0x7
        raise ValueError(f"value of type {sorted(t)} not implemented")

    def stable_hash(self, addr, hasher):
        inner, variant = self._to_hashable()
        inner.stable_hash(addr_child(addr, 0), hasher)
        hasher.write(addr, bytes([variant]))


class SetEntity(Hashable):
    """graph-node ProofOfIndexingEvent::SetEntity (variant byte 0x2)."""

    def __init__(self, entity_type: str, entity_id: str, fields: list[dict]):
        # fields: [{"name": ..., "new_value": {"Typed": {...}}}]
        self.entity_type = entity_type
        self.entity_id = entity_id
        self.data = {
            f["name"]: EntityValue(f["new_value"]["Typed"]) for f in fields
        }

    def stable_hash(self, addr, hasher):
        String(self.entity_type).stable_hash(addr_child(addr, 0), hasher)
        String(self.entity_id).stable_hash(addr_child(addr, 1), hasher)
        # inline MapVal semantics with the per-entry state memoized (the
        # entry states are event-address-independent; see _map_entry_state)
        maddr = addr_child(addr, 2)
        for name, ev in self.data.items():
            hasher.write(maddr, _map_entry_state(name, ev.typed))
        hasher.write(addr, bytes([OP_SET_VARIANT]))


class RemoveEntity(Hashable):
    """graph-node ProofOfIndexingEvent::RemoveEntity (variant byte 0x1)."""

    def __init__(self, entity_type: str, entity_id: str):
        self.entity_type = entity_type
        self.entity_id = entity_id

    def stable_hash(self, addr, hasher):
        String(self.entity_type).stable_hash(addr_child(addr, 0), hasher)
        String(self.entity_id).stable_hash(addr_child(addr, 1), hasher)
        hasher.write(addr, bytes([OP_REMOVE_VARIANT]))


class ProofOfIndexing:
    """One block's event stream -> 32-byte digest state."""

    def __init__(self, block_number: int):
        self.block_number = block_number
        self.vec_length = 0
        self.hasher = FastHasher()

    def _event_addr(self) -> int:
        return addr_children(
            ADDRESS_ROOT, (1, 0, self.block_number, 0, self.vec_length)
        )

    def write(self, event: Hashable) -> None:
        event.stable_hash(self._event_addr(), self.hasher)
        self.vec_length += 1

    def set_entity(self, entity_type: str, entity_id: str, fields: list[dict]) -> None:
        self.write(SetEntity(entity_type, entity_id, fields))

    def remove_entity(self, entity_type: str, entity_id: str) -> None:
        self.write(RemoveEntity(entity_type, entity_id))

    def pause(self, prev: bytes | None = None) -> bytes:
        """Close the block: write the event count, chain the previous
        digest, return the 32-byte digest (ref poi/poi.go:48-73)."""
        addr = addr_children(ADDRESS_ROOT, (1, 0, self.block_number, 0))
        U64(self.vec_length).stable_hash(addr, self.hasher)
        if prev:
            self.hasher.mixin(FastHasher.from_bytes(prev))
        return self.hasher.to_bytes()

    def current_hex(self) -> str:
        return self.hasher.to_bytes().hex()


def fold_blocks_batched(
    blocks: dict[int, list[tuple[int, dict]]],
) -> dict[int, tuple[bytes, int]]:
    """Fold MANY blocks' parsed entity changes into paused 32-byte states.

    Thin wrapper over :func:`fold_runs_batched` for whole-block callers:
    each block is one run at ordinal offset 0, and the pause-time count
    write is applied here (the run fold leaves states unpaused so
    partial runs of one block can be merged first).
    Returns block_num -> (state32, n_events).
    """
    runs = [(block, block, 0, evs) for block, evs in blocks.items()]
    out: dict[int, tuple[bytes, int]] = {}
    for key, (state, n) in fold_runs_batched(runs).items():
        out[key] = (pause_block_state(key, state, n), n)
    return out


def pause_block_state(block: int, state32: bytes, total_events: int) -> bytes:
    """Apply the pause-time count write to an UNPAUSED block state:
    ``U64(total_events)`` hashed at the block address (poi.go:48-73).
    Used by whole-block folds (total = the run's own length) and by the
    shuffle-free path after merging a block's partial-run states."""
    h = FastHasher.from_bytes(state32)
    U64(total_events).stable_hash(
        addr_children(ADDRESS_ROOT, (1, 0, block, 0)), h
    )
    return h.to_bytes()


def merge_block_states(states: list[bytes]) -> bytes:
    """Merge UNPAUSED partial states of ONE block: the FldMix mixer is
    commutative and write counts add, so partial folds over disjoint
    event subsets (each at its correct ordinal offsets) combine to the
    same state as one sequential fold."""
    h = FastHasher.from_bytes(states[0])
    for s in states[1:]:
        h.mixin(FastHasher.from_bytes(s))
    return h.to_bytes()


def fold_runs_batched(
    runs: list[tuple[object, int, int, list[tuple[int, object]]]],
) -> dict[object, tuple[bytes, int]]:
    """Fold event RUNS into UNPAUSED 32-byte hasher states, with the
    event-addressed fixed-length writes batched through the numpy XXH3
    kernels (xxh3_batch): per event only the entity/id string writes stay
    scalar; the map-entry state mix-ins (32 B) and the operation variant
    byte (1 B) — ~7 of ~9 hash calls — accumulate into columns and hash
    in two vectorized passes.

    A run is ``(key, block_num, offset, [(seq, event), ...])``: a
    contiguous slice of one block's seq-ordered event stream whose first
    event sits at within-block ordinal ``offset``.  Event i of the run
    hashes at address ``[1, 0, block_num, 0, offset + i]``.  Bit-identical
    to per-event ``ProofOfIndexing`` folding: the FldMix monoid is
    commutative, so deferring a subset of each block's writes and mixing
    them in afterwards reaches the same state, and the write COUNT is
    order-independent by construction.  The pause-time count write is NOT
    applied — callers pause once per block with the TOTAL event count
    (:func:`pause_block_state`) after merging partials.

    Each event is either the parsed ``entity_change`` dict or the raw
    wire line (parsed here, just-in-time: holding a whole partition's
    parsed dicts alive is ~10x the memory of the raw strings and was
    measured 4x slower end-to-end from worker GC churn —
    parse-use-discard keeps them nursery-collected).
    Returns key -> (unpaused_state32, n_events_in_run).
    """
    import json as _json
    import numpy as np

    from .xxh3_batch import hash1_seeded, hash32_seeded, hash_bytes_seeded

    M64 = (1 << 64) - 1
    M63 = (1 << 63) - 1
    hashers: dict[object, FastHasher] = {}
    n_events: dict[object, int] = {}
    s32_seed: list[int] = []
    s32_hi: list[int] = []
    s32_state: list[bytes] = []
    s32_key: list[object] = []
    # entity/id string writes (2 per event) batch through the
    # variable-length short-string kernels — the last scalar xxh3 calls
    # on the per-event path (~15 us each pure-Python; ~0.5 us batched)
    str_data: list[bytes] = []
    str_seed: list[int] = []
    str_hi: list[int] = []
    str_key: list[object] = []
    v_seed = {OP_REMOVE_VARIANT: [], OP_SET_VARIANT: []}
    v_hi = {OP_REMOVE_VARIANT: [], OP_SET_VARIANT: []}
    v_key = {OP_REMOVE_VARIANT: [], OP_SET_VARIANT: []}

    for key, block, offset, evs in runs:
        # Sort (seq, payload) exactly like the scalar twin's events.sort()
        # (the per-event oracle fold in tests/test_poi_spark.py): with
        # duplicate seqs a seq-only stable sort would address events by
        # arrival order and diverge from the reference digest.  Dict-mode callers (tests) get a
        # canonical JSON rendering as the equivalent tiebreak.
        evs.sort(
            key=lambda t: (
                t[0],
                t[1]
                if isinstance(t[1], str)
                else _json.dumps(t[1], sort_keys=True),
            )
        )
        h = FastHasher()
        hashers[key] = h
        n_events[key] = len(evs)
        for idx, (_, ev) in enumerate(evs, start=offset):
            ch = ev if isinstance(ev, dict) else _json.loads(ev)["entity_change"]
            addr = addr_children(ADDRESS_ROOT, (1, 0, block, 0, idx))
            # String.stable_hash == one write of the utf-8 bytes at the
            # child address, SKIPPED for empty strings (values.py Bytes)
            ent = ch["entity"].encode("utf-8")
            if ent:
                a0 = addr_child(addr, 0)
                str_data.append(ent)
                str_seed.append(a0 & M64)
                str_hi.append((a0 >> 64) & M63)
                str_key.append(key)
            eid = ch["id"].encode("utf-8")
            if eid:
                a1 = addr_child(addr, 1)
                str_data.append(eid)
                str_seed.append(a1 & M64)
                str_hi.append((a1 >> 64) & M63)
                str_key.append(key)
            op = ch.get("operation")
            # 3 = the wire protocol's OPERATION_DELETE (operators/poi.py
            # OP_DELETE); everything else maps to SetEntity, matching
            # the reference sinker's routing (sinker.go:279-291)
            if op == 3 or op == "OPERATION_DELETE":
                variant = OP_REMOVE_VARIANT
            else:
                variant = OP_SET_VARIANT
                maddr = addr_child(addr, 2)
                mseed, mhi = maddr & M64, (maddr >> 64) & M63
                data = {
                    f["name"]: f["new_value"]["Typed"]
                    for f in (ch.get("fields") or [])
                }
                for name, typed in data.items():
                    s32_seed.append(mseed)
                    s32_hi.append(mhi)
                    s32_state.append(_map_entry_state(name, typed))
                    s32_key.append(key)
            v_seed[variant].append(addr & M64)
            v_hi[variant].append((addr >> 64) & M63)
            v_key[variant].append(key)

    if str_data:
        lo, hi = hash_bytes_seeded(
            str_data, np.array(str_seed, dtype=np.uint64)
        )
        for hi_part, k, l, hh in zip(
            str_hi, str_key, lo.tolist(), hi.tolist()
        ):
            h = hashers[k]
            h.mixer = fldmix_combine(h.mixer, hi_part | (l << 64) | (hh << 128))
            h.count += 1
    if s32_seed:
        lo, hi = hash32_seeded(
            np.frombuffer(b"".join(s32_state), dtype="<u8").reshape(-1, 4),
            np.array(s32_seed, dtype=np.uint64),
        )
        for hi_part, k, l, hh in zip(s32_hi, s32_key, lo.tolist(), hi.tolist()):
            h = hashers[k]
            h.mixer = fldmix_combine(h.mixer, hi_part | (l << 64) | (hh << 128))
            h.count += 1
    for variant in (OP_REMOVE_VARIANT, OP_SET_VARIANT):
        if not v_seed[variant]:
            continue
        lo, hi = hash1_seeded(
            variant, np.array(v_seed[variant], dtype=np.uint64)
        )
        for hi_part, k, l, hh in zip(
            v_hi[variant], v_key[variant], lo.tolist(), hi.tolist()
        ):
            h = hashers[k]
            h.mixer = fldmix_combine(h.mixer, hi_part | (l << 64) | (hh << 128))
            h.count += 1
    for h in hashers.values():
        h.count &= (1 << 64) - 1
    return {
        key: (h.to_bytes(), n_events[key]) for key, h in hashers.items()
    }


def chain_block_states(states: list[tuple[int, bytes]], start: bytes | None = None) -> list[tuple[int, bytes]]:
    """Fold per-block *paused* states (pre-chain) into the digest chain.

    ``states`` are (block_num, state32) where state32 already includes the
    block's own count write; mixing is the monoid add, so
    digest_b = state_b (+) digest_{b-1}.
    """
    out = []
    prev = start
    for block, state in sorted(states):
        h = FastHasher.from_bytes(state)
        if prev:
            h.mixin(FastHasher.from_bytes(prev))
        digest = h.to_bytes()
        out.append((block, digest))
        prev = digest
    return out
