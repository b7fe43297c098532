"""Product quantization (PQ) for embedding columns — the memory tier of
the ANN family (SURVEY §2.12; Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011).

Where IVF (operators/ann.py) prunes WHICH vectors are scored, PQ shrinks
WHAT is scored: each d-dim float vector becomes ``m`` uint8-sized codes
(one per d/m-dim subspace, each quantized against its own ``ks``-entry
codebook), a 4·d/m-fold compression — 64-dim float32 at m=8 is 256 -> 8
bytes, which is the difference between an embedding table that fits in
cluster RAM and one that doesn't at the 100 TB corpus scale.  Search
scores codes WITHOUT decompressing via ADC (asymmetric distance
computation): per query, one m x ks lookup table of exact
query-sub x centroid dots, then every vector's score is m table lookups
summed — numpy advanced indexing per Arrow batch, no per-pair float
vector math.

Spark shapes (all reused from the cluster/ann modules):
- fit: per-subspace Lloyd's over ``F.slice`` projections — mergeable
  K x dsub partials per round, data never shuffles (cluster.kmeans_fit).
- encode: broadcast codebooks ride the closure; one vectorized argmin
  per Arrow batch.
- search: per-batch partial top-k (k rows per query per batch crossing
  the shuffle, never the corpus) + one small global window — the
  topk_matmul shape with LUT sums in place of BLAS dots.

Approximation contract: scores are exact dots against each vector's
QUANTIZED reconstruction, so results are deterministic (fixed seeds, no
RNG) but approximate w.r.t. the raw vectors — registered rows-only, with
the lossless-corpus exactness anchor in test_pq.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    ArrayType,
    LongType,
    StructField,
    StructType,
)

_PARTIAL_SCHEMA = StructType(
    [
        StructField("q_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("score", DoubleType()),
    ]
)

_CODES_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("codes", ArrayType(IntegerType())),
    ]
)


def pq_fit(
    corpus: DataFrame,
    m: int = 8,
    ks: int = 256,
    iters: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> np.ndarray:
    """Fit ``m`` per-subspace codebooks of ``ks`` centroids each.

    Returns ``(m, ks, d/m)`` float64.  All m subspace fits run TOGETHER:
    every Lloyd round is ONE job whose tasks emit m·ks partial
    (count, sum-vector) rows — the corpus streams once per round, not
    once per subspace per round (the per-subspace kmeans_fit loop costs
    m·iters jobs; at m=16 that is 10x the scheduling and scan work for
    identical centroids).  Data never shuffles; only m·ks·dsub doubles
    cross per task.  Seeds are the ks lowest-id vectors sliced per
    subspace: deterministic, rebuildable, no RNG.
    """
    d = corpus.select(F.size(emb_col).alias("d")).limit(1).collect()[0]["d"]
    if d % m:
        raise ValueError(f"embedding dim {d} not divisible by m={m}")
    dsub = d // m
    seed_rows = (
        corpus.select(id_col, F.col(emb_col).cast("array<double>"))
        .orderBy(id_col)
        .limit(ks)
        .collect()
    )
    if len(seed_rows) < ks:
        raise ValueError(f"corpus has fewer than ks={ks} vectors")
    seeds = np.array([r[1] for r in seed_rows], dtype=np.float64)
    books = np.stack(
        [seeds[:, s * dsub : (s + 1) * dsub] for s in range(m)]
    )  # (m, ks, dsub)

    # fan out a narrower-than-cluster scan before the Lloyd rounds (r12):
    # every round streams this frame through mapInPandas, and a one-row-
    # group parquet otherwise serializes all of them on a single task.
    # A caller that hands in an ALREADY-persisted corpus (the IVF-PQ
    # path persists the residual frame once for seeds+fit+encode) keeps
    # ownership: reuse its cache, add no second persist, unpersist
    # nothing (r12, measured: the registry IVF-PQ pipeline re-ran the
    # residual map three times — the seed pass, this persist's fill and
    # the encode chain each recomputed it).
    from .ann import fan_out_narrow

    sel = corpus.select(F.col(emb_col).cast("array<double>").alias("_v"))
    owned = not corpus.is_cached
    data = (
        fan_out_narrow(sel, min_bytes=2 << 20).persist() if owned else sel
    )
    try:
        for _ in range(iters):
            cur = books

            def partials(batches):
                # mapInArrow + flatten/reshape: the pandas row-wise
                # conversion dominated this pass (see ann.vec_block)
                import pyarrow as pa

                from .ann import list_array, vec_block

                acc_n = np.zeros((m, ks), dtype=np.int64)
                acc_s = np.zeros_like(cur)
                seen = False
                for batch in batches:
                    if not batch.num_rows:
                        continue
                    seen = True
                    block = vec_block(batch.column(0)).astype(
                        np.float64, copy=False
                    )
                    for s in range(m):
                        sub = block[:, s * dsub : (s + 1) * dsub]
                        d2 = (cur[s] ** 2).sum(axis=1)[None, :] - 2.0 * (
                            sub @ cur[s].T
                        )
                        a = np.argmin(d2, axis=1)
                        acc_n[s] += np.bincount(a, minlength=ks)
                        np.add.at(acc_s[s], a, sub)
                if seen:
                    yield pa.record_batch(
                        [
                            pa.array(
                                np.repeat(np.arange(m), ks).astype("int32")
                            ),
                            pa.array(
                                np.tile(np.arange(ks), m).astype("int32")
                            ),
                            pa.array(acc_n.ravel()),
                            list_array(acc_s.reshape(m * ks, dsub)),
                        ],
                        names=["sub", "code", "n", "vsum"],
                    )

            rows = data.mapInArrow(
                partials, "sub int, code int, n long, vsum array<double>"
            ).collect()
            tot_n = np.zeros((m, ks), dtype=np.int64)
            tot_s = np.zeros_like(books)
            for r in rows:
                tot_n[r["sub"], r["code"]] += r["n"]
                tot_s[r["sub"], r["code"]] += np.asarray(r["vsum"])
            nz = tot_n > 0
            books = np.where(
                nz[:, :, None], tot_s / np.maximum(tot_n, 1)[:, :, None], books
            )
    finally:
        if owned:
            data.unpersist()
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Quantize every vector to its per-subspace nearest-centroid codes.

    Output ``(vec_id, codes array<int>)`` — m small ints per vector (the
    persisted form uses one byte each; Spark's narrowest array element is
    int, the parquet encoding dictionary-packs it).  Codebooks ride the
    closure (m·ks·dsub doubles — kilobytes); one argmin per subspace per
    Arrow batch; partitioning inherited, no shuffle.
    """
    books = np.asarray(codebooks, dtype=np.float64)
    m, ks, dsub = books.shape

    def encode(batches):
        import pyarrow as pa

        from .ann import list_array, vec_block

        for batch in batches:
            if not batch.num_rows:
                continue
            block = vec_block(batch.column(1)).astype(np.float64, copy=False)
            codes = np.empty((len(block), m), dtype=np.int64)
            for s in range(m):
                sub = block[:, s * dsub : (s + 1) * dsub]
                # ||x - c||^2 argmin == (||c||^2 - 2 x.c) argmin: one BLAS
                # matmul per subspace instead of an (n, ks, dsub) cube
                d2 = (books[s] ** 2).sum(axis=1)[None, :] - 2.0 * (
                    sub @ books[s].T
                )
                codes[:, s] = np.argmin(d2, axis=1)
            yield pa.record_batch(
                [
                    batch.column(0).cast(pa.int64()),
                    list_array(codes.astype(np.int32)),
                ],
                names=["vec_id", "codes"],
            )

    # no fan-out (r12 re-measure): encode is one streaming pass; the
    # round-robin exchange costs more than the single-task compute saved
    # (the kept fan-outs are the pre-persist Lloyd-fit frames only)
    return corpus.select(id_col, emb_col).mapInArrow(encode, _CODES_SCHEMA)


def pq_search(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
) -> DataFrame:
    """ADC top-k over a codes table: per query an ``m x ks`` table of
    exact query-sub x centroid dots, per vector m lookups summed.

    Partial top-k per Arrow batch (tie-safe on (score desc, id asc)) +
    one global window over #batches · k · #queries rows — the corpus
    codes never cross a shuffle.  Self-matches (vec_id == q_id) are
    excluded, like the rest of the ANN family.
    """
    from .ann import _topk_tiesafe

    if not queries:
        raise ValueError("queries must be non-empty")
    books = np.asarray(codebooks, dtype=np.float64)
    m, ks, dsub = books.shape
    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = np.array([q[1] for q in queries], dtype=np.float64)
    # LUT[qi, s, code] = dot(q_sub, centroid): Q x m x ks
    lut = np.einsum(
        "qsd,skd->qsk", q_mat.reshape(len(q_ids), m, dsub), books
    )

    def partial(batches):
        import pyarrow as pa

        from .ann import vec_block

        sub_idx = np.arange(m)
        for batch in batches:
            if not batch.num_rows:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            cmat = vec_block(batch.column(1)).astype(np.int64, copy=False)
            # one output batch per input batch (the per-query pandas
            # frames this replaces cost a conversion each, r12)
            out_q, out_id, out_s = [], [], []
            for qi in range(len(q_ids)):
                scores = lut[qi][sub_idx[None, :], cmat].sum(axis=1)
                mask = ids != q_ids[qi]
                cand_ids, cand = ids[mask], scores[mask]
                if not len(cand):
                    continue
                top = _topk_tiesafe(cand, cand_ids, k)
                out_q.append(np.full(len(top), q_ids[qi]))
                out_id.append(cand_ids[top])
                out_s.append(cand[top])
            if out_q:
                yield pa.record_batch(
                    [
                        pa.array(np.concatenate(out_q)),
                        pa.array(np.concatenate(out_id)),
                        pa.array(np.concatenate(out_s)),
                    ],
                    names=["q_id", "neighbor_id", "score"],
                )

    partials = codes.select("vec_id", "codes").mapInArrow(
        partial, _PARTIAL_SCHEMA
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cells + product-quantized residuals (Jégou et al. §V)
# ---------------------------------------------------------------------------

_IVFPQ_CODES_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("cell", IntegerType()),
        StructField("codes", ArrayType(IntegerType())),
    ]
)


def ivfpq_residuals(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Coarse-assign every vector (squared-L2 argmin — the same
    association ``kmeans_fit`` trains under) and emit its residual
    against the assigned centroid: ``(vec_id, cell, residual)``.

    Centroids ride the closure (n_cells x d doubles — kilobytes); one
    BLAS distance matrix + one subtraction per Arrow batch; partitioning
    inherited, no shuffle.
    """
    from .cluster import _dist2

    cents = np.asarray(centroids, dtype=np.float64)

    def rez(batches):
        import pyarrow as pa

        from .ann import list_array, vec_block

        for batch in batches:
            if not batch.num_rows:
                continue
            block = vec_block(batch.column(1)).astype(np.float64, copy=False)
            cell = np.argmin(_dist2(block, cents), axis=1)
            yield pa.record_batch(
                [
                    batch.column(0).cast(pa.int64()),
                    pa.array(cell.astype(np.int32)),
                    list_array(block - cents[cell]),
                ],
                names=["vec_id", "cell", "residual"],
            )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("cell", IntegerType()),
            StructField("residual", ArrayType(DoubleType())),
        ]
    )
    from .ann import fan_out_narrow

    # residuals feed the PQ fit AND the encode pass — fanning out here
    # parallelizes both (and pq_fit's own fan-out becomes a no-op)
    return fan_out_narrow(corpus.select(id_col, emb_col)).mapInArrow(
        rez, schema
    )


def ivfpq_fit(
    corpus: DataFrame,
    n_cells: int = 16,
    m: int = 8,
    ks: int = 256,
    cell_iters: int = 3,
    pq_iters: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray]:
    """Fit the two quantizers of an IVF-PQ index: the coarse cell
    centroids (``(n_cells, d)``) and the PQ codebooks over RESIDUALS
    (``(m, ks, d/m)``).

    Quantizing residuals instead of raw vectors is what makes the
    combination better than either part (Jégou et al. 2011, §V): the
    coarse quantizer removes the between-cell variance, so the ks codes
    per subspace only have to cover the within-cell spread.  Both fits
    are the mergeable-partials Lloyd's loops (cluster.kmeans_fit /
    pq_fit) — the corpus streams once per round, nothing shuffles, and
    seeds are lowest-id vectors so the build is deterministic.
    """
    from .cluster import kmeans_fit

    cents = np.asarray(
        kmeans_fit(
            corpus, n_cells, iters=cell_iters, id_col=id_col, vec_col=emb_col
        ),
        dtype=np.float64,
    )
    resid = ivfpq_residuals(corpus, cents, id_col=id_col, emb_col=emb_col)
    books = pq_fit(
        resid, m=m, ks=ks, iters=pq_iters, id_col="vec_id", emb_col="residual"
    )
    return cents, books


def ivfpq_encode(
    residuals: DataFrame, codebooks: np.ndarray
) -> DataFrame:
    """Quantize residuals to per-subspace codes, carrying the cell:
    ``(vec_id, cell, codes)``."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, ks, dsub = books.shape

    def encode(batches):
        import pyarrow as pa

        from .ann import list_array, vec_block

        for batch in batches:
            if not batch.num_rows:
                continue
            block = vec_block(batch.column(2)).astype(np.float64, copy=False)
            codes = np.empty((len(block), m), dtype=np.int64)
            for s in range(m):
                sub = block[:, s * dsub : (s + 1) * dsub]
                d2 = (books[s] ** 2).sum(axis=1)[None, :] - 2.0 * (
                    sub @ books[s].T
                )
                codes[:, s] = np.argmin(d2, axis=1)
            yield pa.record_batch(
                [
                    batch.column(0).cast(pa.int64()),
                    batch.column(1).cast(pa.int32()),
                    list_array(codes.astype(np.int32)),
                ],
                names=["vec_id", "cell", "codes"],
            )

    return residuals.select("vec_id", "cell", "residual").mapInArrow(
        encode, _IVFPQ_CODES_SCHEMA
    )


def ivfpq_search(
    codes: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Top-k dot-product search over IVF-PQ codes.

    Per query the driver ranks the (tiny) centroid table and probes its
    top-``nprobe`` cells; the scan filters to the union of probed cells
    BEFORE any Python runs (against a cell-partitioned codes table this
    is partition pruning — the other cells' files are never read).
    Scoring decomposes exactly: dot(q, v̂) = dot(q, c_cell) + dot(q, r̂),
    where the residual term is m ADC table lookups — so each query pays
    one m x ks LUT build and each candidate m integer gathers + one add,
    never a float vector op.  Tie-safe partial top-k per Arrow batch +
    one global window over #batches · k · #queries rows, the family
    shape.  Self-matches excluded.
    """
    from .ann import _topk_tiesafe

    if not queries:
        raise ValueError("queries must be non-empty")
    cents = np.asarray(centroids, dtype=np.float64)
    cells = np.arange(len(cents), dtype=np.int64)
    books = np.asarray(codebooks, dtype=np.float64)
    m, ks, dsub = books.shape
    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = np.array([q[1] for q in queries], dtype=np.float64)
    qdotc = q_mat @ cents.T  # Q x C — also the probe ranking
    order = np.lexsort((cells[None, :].repeat(len(q_ids), 0), -qdotc), axis=1)
    probed = cells[order[:, :nprobe]]  # Q x nprobe
    # boolean Q x C membership matrix: per-batch candidate masks become
    # probe_mat[qi, vcells] (one gather), not an np.isin over a Python set
    probe_mat = np.zeros((len(q_ids), len(cents)), dtype=bool)
    probe_mat[np.arange(len(q_ids))[:, None], probed] = True
    all_cells = sorted(int(c) for c in np.unique(probed))
    lut = np.einsum(
        "qsd,skd->qsk", q_mat.reshape(len(q_ids), m, dsub), books
    )

    pruned = codes.where(F.col("cell").isin([int(c) for c in all_cells]))

    def partial(batches):
        import pyarrow as pa

        from .ann import vec_block

        sub_idx = np.arange(m)
        for batch in batches:
            if not batch.num_rows:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            vcells = batch.column(1).to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            cmat = vec_block(batch.column(2)).astype(np.int64, copy=False)
            batch_cells = np.unique(vcells)
            out_q, out_id, out_s = [], [], []
            for qi in range(len(q_ids)):
                # skip queries whose probe set is disjoint from this batch
                if not probe_mat[qi, batch_cells].any():
                    continue
                mask = (ids != q_ids[qi]) & probe_mat[qi, vcells]
                if not mask.any():
                    continue
                scores = (
                    lut[qi][sub_idx[None, :], cmat[mask]].sum(axis=1)
                    + qdotc[qi, vcells[mask]]
                )
                cand_ids, cand = ids[mask], scores
                top = _topk_tiesafe(cand, cand_ids, k)
                out_q.append(np.full(len(top), q_ids[qi]))
                out_id.append(cand_ids[top])
                out_s.append(cand[top])
            if out_q:
                yield pa.record_batch(
                    [
                        pa.array(np.concatenate(out_q)),
                        pa.array(np.concatenate(out_id)),
                        pa.array(np.concatenate(out_s)),
                    ],
                    names=["q_id", "neighbor_id", "score"],
                )

    partials = pruned.select("vec_id", "cell", "codes").mapInArrow(
        partial, _PARTIAL_SCHEMA
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank")
    )

