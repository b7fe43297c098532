"""Distributed proof-of-indexing (ref sinker/sinker.go:232-269 + poi/).

Spark decomposition: the POI digest is a 32-byte state in a commutative
monoid (24-byte fld mixer + event count).  Per-block states are independent
— each block folds its own events at addresses derived from
``(block_num, event_index)`` — so they compute in parallel: one
``repartition(n, block_num)`` and one ``mapInArrow`` folding each
partition's blocks.  The cross-block chain ``digest_b = state_b (+)
digest_{b-1}`` is a prefix fold over one tiny row per block, done
driver-side (a million blocks is ~32 MB).

Events feed per operation exactly like the reference sinker
(sinker.go:279-291): CREATE/UPDATE/FINAL -> SetEntity, DELETE ->
RemoveEntity; entity and field names stay UN-normalized for hashing.
A ``poi2$`` row is emitted only when the digest changes
(sinker.go:260-269); empty blocks keep the digest fixed because the mixer
constant I is the monoid identity.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..stablehash.poi import chain_block_states, fold_blocks_batched

_STATE_SCHEMA = "block_num long, state binary, n_events long"


def _fold_partition(batches):
    """mapInArrow body: gather each block's raw ``(seq, line)`` events from
    the partition's Arrow batches, then fold every block in one
    :func:`stablehash.poi.fold_blocks_batched` call.  Lines stay raw until
    the fold parses them one at a time: holding a partition's parsed dicts
    is ~10x the memory and was measured 4x slower from worker GC churn."""
    acc: dict[int, list[tuple[int, str]]] = {}
    for rb in batches:
        cols = rb.to_pydict()
        for b, s, v in zip(cols["block_num"], cols["seq"], cols["value"]):
            acc.setdefault(b, []).append((s, v))
    states = fold_blocks_batched(acc)
    if states:
        yield pa.RecordBatch.from_pydict(
            {
                "block_num": list(states),
                "state": [st for st, _ in states.values()],
                "n_events": [n for _, n in states.values()],
            }
        )


def poi_block_states(raw: DataFrame) -> DataFrame:
    """Per-block paused POI states, ``(block_num, state binary, n_events)``.

    ``raw`` needs columns ``block_num`` (long), ``seq`` (long) and ``value``
    (the raw JSONL line).  One ``repartition(n, block_num)`` brings each
    block's events to one task and one ``mapInArrow`` folds them.  The fold
    orders a block's events by (seq, line) before addressing them, so a
    digest does not depend on the physical order of ``raw``.

    The partition count is explicit (the session's default parallelism):
    AQE would coalesce a few-MB shuffle to ~1 partition, as its bytes-based
    model cannot see the Python hashing cost (measured 10x wall), and an
    explicit count is honored.
    """
    n = raw.sparkSession.sparkContext.defaultParallelism
    return (
        raw.select("block_num", "seq", "value")
        .repartition(n, "block_num")
        .mapInArrow(_fold_partition, _STATE_SCHEMA)
    )


# perfbench/spans.py's span table still names this attribute
poi_block_states_sorted = poi_block_states


def discover_runs(raw: DataFrame) -> list[tuple[int, int, int, int]]:
    """Each block's cursor interval, ``(block_num, min seq, max seq,
    events)``: one JVM ``groupBy(block_num)`` aggregate, collected to the
    driver as one row per block.  In a cursor-ordered log each block is
    one run, so the intervals are disjoint and
    :func:`streaming.ingest.check_final_blocks_from_runs` proves the
    order from them alone."""
    rows = (
        raw.groupBy("block_num")
        .agg(
            F.min("seq").alias("min_seq"),
            F.max("seq").alias("max_seq"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    return [(r["block_num"], r["min_seq"], r["max_seq"], r["n"]) for r in rows]


def poi_chain(
    spark: SparkSession,
    raw: DataFrame,
    chain_id: str,
    start_poi: bytes | None = None,
) -> DataFrame:
    """Full digest chain with change-suppression: one row per block whose
    digest differs from the previous block's (the ``poi2$`` stream).

    The per-block states of :func:`poi_block_states` (the one query
    here, and the only one that starts Python workers) are collected and
    chained on the driver from ``start_poi``: 32 B/block, exact and cheap
    to ~100M blocks (3.2 GB).

    Returns (block_num long, id string, digest string hex).
    """
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
) -> list[str]:
    """End-to-end poi2$ pipeline: interleaved change stream -> digest chain
    (:func:`poi_chain`) -> SCD-2 versions -> bundled ``poi2$`` CSV files
    (header ``id,block_range,digest``).  ``raw`` must be the PRE-demux
    stream (block_num, seq, value): the per-block event index that
    addresses the hash is global across entities (sinker.go:232-253); its
    physical order does not matter.  ``first_block`` is the sinker start
    block: bundle enumeration begins at its aligned bundle like the
    reference's bundlers."""
    import os

    from .bundles import write_bundled_csv

    chain = poi_chain(spark, raw, chain_id, start_poi=start_poi)
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
