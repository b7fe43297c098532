"""Distributed proof-of-indexing (ref sinker/sinker.go:232-269 + poi/).

Spark decomposition: the POI digest is a 32-byte state in a commutative
monoid (24-byte fld mixer + event count).  Per-block states are independent
— each block folds its own events at addresses derived from
``(block_num, event_index)`` — so they compute in parallel with
``applyInPandas`` over block groups (one shuffle on block_num).  The
cross-block chain ``digest_b = state_b (+) digest_{b-1}`` is a prefix fold
over one tiny row per block, done driver-side (a million blocks is ~32 MB).

Events feed per operation exactly like the reference sinker
(sinker.go:279-291): CREATE/UPDATE/FINAL -> SetEntity, DELETE ->
RemoveEntity; entity and field names stay UN-normalized for hashing.
A ``poi2$`` row is emitted only when the digest changes
(sinker.go:260-269); empty blocks keep the digest fixed because the mixer
constant I is the monoid identity.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..stablehash.poi import (
    chain_block_states,
    fold_runs_batched,
    merge_block_states,
    pause_block_state,
)

_STATE_SCHEMA = "block_num long, state binary, n_events long"
_RUNS_SCHEMA = "block_num long, min_seq long, max_seq long, n long"
_RUN_STATES_SCHEMA = _RUNS_SCHEMA + ", state binary"


def poi_block_states(raw: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Per-block paused POI states from raw change rows.

    ``raw`` needs columns ``block_num`` (long), ``seq`` (long) and ``value``
    (the raw JSONL line).  Returns (block_num, state binary, n_events).

    Physical shape: EXPLICIT ``repartition(n, block_num)`` + mapInPandas
    accumulating blocks per partition.  A groupBy().applyInPandas here gets
    its shuffle AQE-coalesced to ~1 partition (the stream is few MBs, and
    AQE's bytes-based model can't see the Python hashing cost) — measured
    10x wall difference; the explicit partition count is honored by AQE,
    and folding whole partitions also removes the per-group pandas
    overhead of ten thousand tiny block groups.
    """
    spark = raw.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism

    def fold(it) -> pd.DataFrame:
        from ..stablehash.poi import fold_blocks_batched

        # accumulate RAW lines (parsed just-in-time inside the fold:
        # holding a partition's parsed dicts is ~10x the memory and was
        # measured 4x slower from worker GC churn)
        acc: dict[int, list[tuple[int, str]]] = {}
        for pdf in it:
            for b, s, v in zip(pdf["block_num"], pdf["seq"], pdf["value"]):
                acc.setdefault(int(b), []).append((int(s), v))
        # whole-partition batched fold: the fixed-length event-addressed
        # writes hash through the numpy kernels in two vectorized calls
        # (bit-identical to the per-event fold; see fold_blocks_batched)
        states = fold_blocks_batched(acc)
        rows = [
            {"block_num": b, "state": st, "n_events": n}
            for b, (st, n) in states.items()
        ]
        if rows:
            yield pd.DataFrame(rows)

    return (
        raw.select("block_num", "seq", "value")
        .repartition(n, "block_num")
        .mapInPandas(fold, _STATE_SCHEMA)
    )


def _discover_runs(it):
    """Arrival-order run segmentation over (block_num, seq) — vectorized.

    A run is a maximal consecutive same-block stretch of a partition's
    rows; carries (block_num, min_seq, max_seq, n).  Run state threads
    across Arrow batches, so a run spanning batch boundaries stays one
    run."""
    import numpy as np

    prev = None  # (block, min_seq, max_seq, n)
    out = []
    for pdf in it:
        b = pdf["block_num"].to_numpy()
        s = pdf["seq"].to_numpy()
        if len(b) == 0:
            continue
        cuts = np.flatnonzero(b[1:] != b[:-1]) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [len(b)]))
        for st, en in zip(starts.tolist(), ends.tolist()):
            blk = int(b[st])
            seg = s[st:en]
            mn, mx, n = int(seg.min()), int(seg.max()), en - st
            if prev is not None and prev[0] == blk:
                prev = (blk, min(prev[1], mn), max(prev[2], mx), prev[3] + n)
            else:
                if prev is not None:
                    out.append(prev)
                prev = (blk, mn, mx, n)
    if prev is not None:
        out.append(prev)
    if out:
        yield pd.DataFrame(
            out, columns=["block_num", "min_seq", "max_seq", "n"]
        )


def _run_offsets(
    runs: list[tuple[int, int, int, int]],
) -> dict[tuple[int, int], int] | None:
    """Within-block ordinal offset of every run, keyed (block, min_seq).

    Valid only when each block's runs occupy pairwise-disjoint seq
    intervals: disjointness guarantees that concatenating the runs by
    ascending min_seq reproduces the block's global seq order, so the
    offset of a run is the total event count of the runs before it.
    Returns None when intervals overlap (physically interleaved input —
    the caller falls back to the shuffle path)."""
    by_block: dict[int, list[tuple[int, int, int]]] = {}
    for blk, mn, mx, n in runs:
        by_block.setdefault(blk, []).append((mn, mx, n))
    offsets: dict[tuple[int, int], int] = {}
    for blk, rs in by_block.items():
        rs.sort()
        off = 0
        prev_max = None
        for mn, mx, n in rs:
            if prev_max is not None and mn <= prev_max:
                return None
            offsets[(blk, mn)] = off
            off += n
            prev_max = mx
    return offsets


def _make_fold_runs(offsets_bc):
    """Pass-2 worker (mapInArrow): re-segment arrival order into runs,
    fold each at its broadcast ordinal offset, emit unpaused per-run
    states plus the run fingerprint (min/max seq, count) the driver
    validates against pass 1.  A run the offset map doesn't know emits
    state=NULL, which the driver treats as a fallback signal.

    Arrow batches are consumed directly (no pandas block assembly for
    1.8M string rows) and run segmentation is the same vectorized
    boundary scan as pass 1 — the former per-row Python loop (int casts,
    min/max updates, per-row append) was the fold pass's second-largest
    cost after the hash kernels; measured ~20% off the pass at sf0.1."""

    def fold_runs(batches):
        import numpy as np
        import pyarrow as pa

        runs = []  # [block, min_seq, max_seq, [(seq, value), ...]]
        cur = None
        for rb in batches:
            b = rb.column(rb.schema.get_field_index("block_num")).to_numpy(
                zero_copy_only=False
            )
            if len(b) == 0:
                continue
            s = rb.column(rb.schema.get_field_index("seq")).to_numpy(
                zero_copy_only=False
            )
            v = rb.column(rb.schema.get_field_index("value")).to_pylist()
            cuts = np.flatnonzero(b[1:] != b[:-1]) + 1
            starts = np.concatenate(([0], cuts))
            ends = np.concatenate((cuts, [len(b)]))
            for st, en in zip(starts.tolist(), ends.tolist()):
                blk = int(b[st])
                seg = s[st:en]
                mn, mx = int(seg.min()), int(seg.max())
                evs = list(zip(seg.tolist(), v[st:en]))
                if cur is not None and cur[0] == blk:
                    if mn < cur[1]:
                        cur[1] = mn
                    if mx > cur[2]:
                        cur[2] = mx
                    cur[3].extend(evs)
                else:
                    if cur is not None:
                        runs.append(cur)
                    cur = [blk, mn, mx, evs]
        if cur is not None:
            runs.append(cur)
        if not runs:
            return
        offsets = offsets_bc.value
        # Same-block runs inside one partition would collide on the fold
        # key — fold in waves by per-block occurrence index (a partition
        # nearly always holds one run per block, so one wave).
        waves: dict[int, list] = {}
        seen: dict[int, int] = {}
        for r in runs:
            i = seen.get(r[0], 0)
            seen[r[0]] = i + 1
            waves.setdefault(i, []).append(r)
        rows = []
        for wave in waves.values():
            batch = []
            meta = {}
            for blk, mn, mx, evs in wave:
                off = offsets.get((blk, mn))
                if off is None:
                    rows.append(
                        {
                            "block_num": blk,
                            "min_seq": mn,
                            "max_seq": mx,
                            "n": len(evs),
                            "state": None,
                        }
                    )
                    continue
                batch.append(((blk, mn), blk, off, evs))
                meta[(blk, mn)] = mx
            for key, (state, n) in fold_runs_batched(batch).items():
                rows.append(
                    {
                        "block_num": key[0],
                        "min_seq": key[1],
                        "max_seq": meta[key],
                        "n": n,
                        "state": state,
                    }
                )
        if rows:
            yield pa.RecordBatch.from_pydict(
                {
                    "block_num": [r["block_num"] for r in rows],
                    "min_seq": [r["min_seq"] for r in rows],
                    "max_seq": [r["max_seq"] for r in rows],
                    "n": [r["n"] for r in rows],
                    "state": [r["state"] for r in rows],
                },
                schema=pa.schema(
                    [
                        ("block_num", pa.int64()),
                        ("min_seq", pa.int64()),
                        ("max_seq", pa.int64()),
                        ("n", pa.int64()),
                        ("state", pa.binary()),
                    ]
                ),
            )

    return fold_runs


# Sentinel for "run discovery ALREADY ran and exceeded max_runs": a caller
# that shares one discover_runs() result across consumers (run_ingest) passes
# this instead of None so the fold doesn't repeat the full pass-1 scan just
# to hit the same bound again (None keeps meaning "not computed yet").
RUNS_UNAVAILABLE: object = object()


def discover_runs(
    raw: DataFrame,
    target_split_bytes: int = 16 << 20,
    max_runs: int = 5_000_000,
) -> list[tuple[int, int, int, int]] | None:
    """Pass 1 of the shuffle-free fold, exposed on its own: the
    column-pruned (block_num, seq) scan segmenting each split's arrival
    order into per-block runs.  Callers that need BOTH the order check
    and the POI fold (streaming/run_ingest) run this once and derive
    both from it — one fewer full pass over the log.  Returns
    (block, min_seq, max_seq, n) tuples, or None above ``max_runs``.
    The driver materializes at most ``max_runs + 1`` rows (``take``, not
    ``collect``) — an over-bound log costs the scan but never unbounded
    driver memory.  ``target_split_bytes`` must match the fold
    pass's value: split planning is what makes pass-2 run boundaries
    reproduce these (the cross-pass validation catches any drift)."""
    spark = raw.sparkSession
    conf_key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, str(target_split_bytes))
    try:
        run_rows = (
            raw.select("block_num", "seq")
            .mapInPandas(_discover_runs, _RUNS_SCHEMA)
            .take(max_runs + 1)
        )
    finally:
        if prior is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prior)
    if len(run_rows) > max_runs:
        return None
    return [
        (r["block_num"], r["min_seq"], r["max_seq"], r["n"])
        for r in run_rows
    ]


def poi_block_states_sorted(
    raw: DataFrame,
    target_split_bytes: int = 16 << 20,
    max_runs: int = 5_000_000,
    runs: list[tuple[int, int, int, int]] | None = None,
) -> list[tuple[int, bytes, int]] | None:
    """SHUFFLE-FREE per-block paused POI states for physically seq-sorted
    logs (the ``run`` stage's staged parquet: each write task stages one
    wire split in cursor order, so every scan split holds contiguous
    slices of the global (block, seq) order).

    Two scans, zero shuffles of the log:

    1. a column-pruned (block_num, seq) pass segments each partition's
       arrival order into per-block RUNS; the driver derives each run's
       within-block ordinal offset — valid exactly when every block's
       runs occupy disjoint seq intervals, which physically-sorted input
       guarantees and interleaved input provably violates;
    2. a fold pass hashes each run locally at its broadcast offset (the
       event address bakes in the within-block ordinal, so offsets are
       what make partial folds mergeable), emitting one unpaused 32-byte
       state per run; the driver merges a block's partials under the
       commutative FldMix mixer and applies the pause-time count write.

    Compare the shuffle path (poi_block_states): repartition moves every
    raw line across the network/disk before any hashing; here the log is
    only ever read in place — at the 100 TB target that deletes a full
    log-sized shuffle write+read and replaces it with one two-int-column
    scan.  On local[32] the two are a wash (a 47 MB staged log's shuffle
    never leaves RAM; measured 6.6-8.4s both paths at sf0.1/1.8M events)
    — the payoff is the cluster shape, not the laptop number.  Returns
    None when validation fails (pass-1/pass-2 run sets differ,
    overlapping intervals, or run count above ``max_runs``) — callers
    fall back to the shuffle path, so a wrong sortedness assumption
    degrades to the old plan, never to a wrong digest.  ``max_runs``
    bounds the driver collect exactly like the chain's own per-block
    state collect (~32 B/block, millions are fine, billions are not).
    ``target_split_bytes`` temporarily scopes
    ``spark.sql.files.maxPartitionBytes`` so a compact staged log still
    fans out across cores.  16 MB measured fastest at sf0.1 (354 MB
    staged -> 23 splits: 6.7s vs 8.6s at 4 MB — per-task Arrow/worker
    overhead dominates below that); smaller logs trade some fan-out for
    the same amortization, and at cluster scale the log is thousands of
    splits at any of these sizes."""
    spark = raw.sparkSession
    conf_key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, str(target_split_bytes))
    try:
        if runs is RUNS_UNAVAILABLE:
            # discovery already ran upstream and exceeded max_runs —
            # don't repeat the full pass-1 scan to learn that again
            return None
        if runs is None:
            runs = discover_runs(raw, target_split_bytes, max_runs)
            if runs is None:
                return None
        if not runs:
            return []
        offsets = _run_offsets(runs)
        if offsets is None:
            return None
        offsets_bc = spark.sparkContext.broadcast(offsets)
        state_rows = (
            raw.select("block_num", "seq", "value")
            .mapInArrow(_make_fold_runs(offsets_bc), _RUN_STATES_SCHEMA)
            .collect()
        )
    finally:
        if prior is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prior)
    # Cross-pass validation: the fold pass must have seen EXACTLY the run
    # set the offsets were derived from (split planning is deterministic,
    # but never assume it — a drifted run means wrong ordinals, and the
    # failure mode must be fallback, not a wrong digest).
    want = {(blk, mn): (mx, n) for blk, mn, mx, n in runs}
    got: dict[tuple[int, int], tuple[int, int, bytes]] = {}
    for r in state_rows:
        key = (r["block_num"], r["min_seq"])
        if r["state"] is None or key in got:
            return None
        got[key] = (r["max_seq"], r["n"], bytes(r["state"]))
    if {k: v[:2] for k, v in got.items()} != want:
        return None
    by_block: dict[int, list[tuple[int, bytes]]] = {}
    for (blk, _), (_, n, st) in got.items():
        by_block.setdefault(blk, []).append((n, st))
    out = []
    for blk, parts in sorted(by_block.items()):
        state = merge_block_states([st for _, st in parts])
        total = sum(n for n, _ in parts)
        out.append((blk, pause_block_state(blk, state, total), total))
    return out


def poi_chain(
    spark: SparkSession,
    raw: DataFrame,
    chain_id: str,
    start_poi: bytes | None = None,
    assume_sorted: bool = False,
    runs: list[tuple[int, int, int, int]] | None = None,
) -> DataFrame:
    """Full digest chain with change-suppression: one row per block whose
    digest differs from the previous block's (the ``poi2$`` stream).

    ``assume_sorted=True`` tries the shuffle-free fold
    (poi_block_states_sorted) first — correct for the run stage's staged
    log, validated with automatic fallback to the shuffle path.
    ``runs`` passes a precomputed discover_runs() result so the pass-1
    scan isn't repeated (run_ingest shares it with the order check);
    pass :data:`RUNS_UNAVAILABLE` when discovery already ran and
    exceeded its bound, which routes straight to the shuffle path.

    Driver ceiling: the cross-block fold materializes 32 B/block on the
    driver — exact and cheap to ~100M blocks (3.2 GB).

    Returns (block_num long, id string, digest string hex).
    """
    states: list[tuple[int, bytes]] | None = None
    if assume_sorted:
        sorted_states = poi_block_states_sorted(raw, runs=runs)
        if sorted_states is not None:
            states = [(b, st) for b, st, _ in sorted_states]
    if states is None:
        states = [
            (r["block_num"], bytes(r["state"]))
            for r in poi_block_states(raw).collect()
        ]
    chained = chain_block_states(states, start=start_poi)
    blocks, digests = [], []
    prev = start_poi
    for block, digest in chained:
        if digest != prev:
            blocks.append(block)
            digests.append(digest.hex())
        prev = digest
    # an Arrow table becomes a JVM local relation: no Python RDD, no
    # worker start (a pandas frame takes the Python path when empty)
    import pyarrow as pa

    table = pa.table(
        {
            "block_num": pa.array(blocks, pa.int64()),
            "id": pa.array([chain_id] * len(blocks), pa.string()),
            "digest": pa.array(digests, pa.string()),
        }
    )
    return spark.createDataFrame(table, "block_num long, id string, digest string")


def poi_entity_versions(chain: DataFrame) -> DataFrame:
    """``poi2$`` entity rows from the digest chain: each digest change is an
    UPDATE at its block, so version i spans ``[block_i, block_{i+1})`` and
    the newest digest stays open (the reference routes poi2$ through the
    same bundler/tocsv pipeline as any mutable entity; sinker.go:255-269 +
    schema/entities.go:108-124 poi2$ = {id: chain-id, digest: Bytes}).
    """
    w = Window.partitionBy("id").orderBy("block_num")
    return chain.select(
        "id",
        F.col("block_num").alias("block_range_start"),
        F.lead("block_num").over(w).alias("block_range_end"),
        "digest",
    )


def render_poi_csv(versions: DataFrame, bundle_size: int) -> DataFrame:
    """CSV rows for the poi2$ table: ``id,block_range,digest`` with the
    digest as a Postgres hex bytea literal (the chain already carries hex).
    Rows route to the bundle of their *closing* block, open rows to their
    start block — same rule as every mutable entity."""
    from .bundles import bundle_start_col
    from .pg_csv import csv_quote, pg_block_range

    rng = pg_block_range(F.col("block_range_start"), F.col("block_range_end"))
    line = F.concat_ws(
        ",",
        csv_quote(F.col("id")),
        csv_quote(rng),
        csv_quote(F.concat(F.lit("\\x"), F.col("digest"))),
    )
    emit = F.coalesce(F.col("block_range_end"), F.col("block_range_start"))
    return versions.select(
        line.alias("line"),
        bundle_start_col(emit, bundle_size).alias("bundle_start"),
        emit.alias("_order_block"),
        F.col("block_range_start").alias("_order_seq"),
    )


def poi_tocsv(
    spark: SparkSession,
    raw: DataFrame,
    dest_dir: str,
    chain_id: str,
    stop_block: int,
    bundle_size: int = 1000,
    start_poi: bytes | None = None,
    first_block: int = 0,
    assume_sorted: bool = False,
    runs: list[tuple[int, int, int, int]] | None = None,
) -> list[str]:
    """End-to-end poi2$ pipeline: interleaved change stream -> digest chain
    -> SCD-2 versions -> bundled ``poi2$`` CSV files (header
    ``id,block_range,digest``).  ``raw`` must be the PRE-demux stream
    (block_num, seq, value): the per-block event index that addresses the
    hash is global across entities (sinker.go:232-253).  ``first_block`` is
    the sinker start block: bundle enumeration begins at its aligned bundle
    like the reference's bundlers.  ``assume_sorted`` enables the
    shuffle-free fold for physically seq-sorted logs (validated, with
    automatic fallback)."""
    import os

    from .bundles import write_bundled_csv

    chain = poi_chain(
        spark, raw, chain_id, start_poi=start_poi,
        assume_sorted=assume_sorted, runs=runs,
    )
    versions = poi_entity_versions(chain)
    rendered = render_poi_csv(versions, bundle_size)
    dest = os.path.join(dest_dir, "poi2$")
    os.makedirs(dest, exist_ok=True)
    return write_bundled_csv(
        spark,
        rendered,
        dest,
        header="id,block_range,digest",
        first_block=first_block,
        stop_block=stop_block,
        bundle_size=bundle_size,
        order_cols=["_order_block", "_order_seq"],
    )
