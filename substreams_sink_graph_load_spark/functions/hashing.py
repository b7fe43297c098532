"""Portable content hashing for dedup: engine-agnostic, oracle-checkable.

The reference has no dedup surface; these are the LLM-pipeline extension ops
(SURVEY §2.12).  Design constraint: every hash must be computable bit-for-bit
by *any* ANSI-SQL engine so the DuckDB oracle can verify it — hence md5 (the
one hash both engines share), never Spark's xxhash64/murmur (JVM-seeded) or
DuckDB's hash() (engine-private).

``h60`` = first 15 hex digits of md5 as a 60-bit non-negative int64.  MinHash
permutations are universal hashes ``(a*x + b) mod P`` over ``P = 2^31-1``
(Mersenne); operands stay < 2^62 so int64 arithmetic never wraps in either
engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PRIME31 = (1 << 31) - 1  # 2147483647, Mersenne prime


def perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs via Lehmer LCG (a != 0).  Pure ints so the
    identical constants can be pasted into oracle SQL strings."""
    x = seed
    out = []
    for _ in range(num_perm):
        x = (x * 48271) % PRIME31
        a = x or 1
        x = (x * 48271) % PRIME31
        out.append((a, x))
    return out


def h60(col: Column) -> Column:
    """60-bit portable string hash: int(md5(s)[:15], 16).

    DuckDB oracle spelling: ``cast(('0x' || substr(md5(s),1,15)) as bigint)``.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_signature(
    shingles: Column, num_perm: int = 16, seed: int = 42
) -> Column:
    """MinHash signature (array<long>, length ``num_perm``) of an
    array<string> shingle set.

    The per-shingle base hash is computed once and reused by all
    permutations (num_perm modular ops per shingle, all codegen'd JVM
    arithmetic — the md5 is the only non-trivial cost).
    """
    base = F.transform(shingles, lambda s: h60(s) % PRIME31)
    mins = [
        F.array_min(
            F.transform(base, lambda x: (F.lit(a) * x + F.lit(b)) % PRIME31)
        )
        for a, b in perm_params(num_perm, seed)
    ]
    return F.array(*mins)


# Per-task memo sizing for the Python-side h60 (the mapInArrow fold tier).
# A cached entry costs ~250 bytes for a typical 8-word ASCII gram (str
# object ~90-140 B + dict slot ~100 B + small-int/boxed int64); a 64 MiB
# budget therefore caps at ~256k entries PER TASK.  With 32 concurrent task
# slots that bounds worst-case executor memo memory at ~2 GiB instead of
# the ~32 GiB a 4M-entry cap could reach on a high-vocabulary corpus.
# Correctness never depends on a hit — past the cap every call recomputes —
# and Zipfian gram/word frequency means the hot head fills first, so the
# hit rate stays high at a fraction of the old cap.
H60_MEMO_BYTES = 64 << 20
_H60_ENTRY_BYTES = 256
H60_MEMO_ENTRIES = H60_MEMO_BYTES // _H60_ENTRY_BYTES


def memoized_h60(mod: int | None = None, max_entries: int | None = None):
    """A fresh per-task memoized Python ``h60``: str -> 60-bit int64.

    Identical bytes to the SQL spelling in :func:`h60` (first 15 hex
    digits of md5 as int), optionally reduced ``% mod`` (the MinHash
    base hash uses ``mod=PRIME31``).  Call INSIDE the mapInArrow
    generator so the cache is task-local; the cache is bounded by
    ``max_entries`` (default :data:`H60_MEMO_ENTRIES` — an approximate
    byte budget, not an entry-count guess; see the sizing note above).
    A hot call site that profiles a hit-rate loss under the shared
    budget can pass a larger ``max_entries`` explicitly instead of
    re-raising the global cap for every fold tier (r10 advice item 3).
    Measured (PLANS.md "r11: h60 memo hit rate under the 256k cap",
    exact replay of the fold's per-task gram stream): the worst task's DISTINCT gram count is 1.2k
    (sf1, k=2), 36k (sf1, k=3), 43k (sf10, k=3) — the 256k cap never
    binds and the recompute-rate delta vs the old 4M cap is exactly
    0.0000, so no site overrides.
    """
    import hashlib

    cap = H60_MEMO_ENTRIES if max_entries is None else max_entries
    cache: dict[str, int] = {}

    def h(g: str) -> int:
        v = cache.get(g)
        if v is None:
            v = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
            if mod is not None:
                v %= mod
            if len(cache) < cap:
                cache[g] = v
        return v

    return h
