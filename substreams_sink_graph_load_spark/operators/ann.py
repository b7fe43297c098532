"""Approximate/exact nearest-neighbor search over embedding columns.

Three tiers (SURVEY §2.12):

1. ``similarity_topk`` (plans/queries.py) — exact all-pairs top-k.
   Since r13 it shares the ``topk_matmul(fold_rescore=True)`` shape
   below (the crossJoin + JVM-fold baseline it replaced produced the
   identical rows but materialized O(|corpus| x 64) pairs).
2. ``ann_ivf_topk`` (plans/queries.py) — IVF cells, nprobe=1; prunes the
   scored set, still JVM-fold scoring.
3. ``topk_matmul`` (here) — the 100 TB shape: Arrow batches → numpy
   ``corpus_batch @ queries.T`` (one BLAS call per batch) → per-batch
   partial top-k (k rows per query per batch) → one small global
   window top-k.  Shuffle volume is O(#batches · k · #queries), never
   O(|corpus| · #queries).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

_PARTIAL_SCHEMA = StructType(
    [
        StructField("q_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("dot", DoubleType()),
    ]
)


def vec_block(col) -> "np.ndarray":
    """(n, d) ndarray view of an Arrow ``list<numeric>`` column.

    The numeric operators' dominant per-task cost was NOT the linear
    algebra but the row-wise pandas conversion (r12, measured:
    ``np.stack(pdf[c].to_numpy())`` over a 20k x 64 list column is
    ~440 ms per pass; Arrow flatten+reshape of the same batch is
    ~0.05 ms — the values already sit in ONE contiguous buffer, guide
    §4.2).  Valid because these columns are rectangular and null-free;
    reshape raises loudly on ragged input.
    """
    import numpy as np

    flat = col.flatten().to_numpy(zero_copy_only=False)
    n = len(col)
    return flat.reshape(n, -1) if n else flat.reshape(0, 1)


def list_array(mat: "np.ndarray", value_type=None):
    """Arrow ``list<value_type>`` column from a rectangular (n, d)
    ndarray — one values buffer + an arithmetic offsets array, the
    zero-copy inverse of ``vec_block``."""
    import numpy as np
    import pyarrow as pa

    n, d = mat.shape
    values = pa.array(np.ascontiguousarray(mat).ravel(), type=value_type)
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, values)


def plan_size_estimate(df: DataFrame) -> int:
    """The planner's size-in-bytes estimate for the frame's optimized
    plan (file bytes for scans) — the ONE place that touches the private
    ``_jdf.queryExecution()`` API.  ~50 ms of driver time per read, so
    callers that need the estimate more than once must read it once and
    pass it through (r12 verdict item 4: the gated fan-out sites were
    planning the same frame twice inside the timed region)."""
    return int(
        str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )


def narrower_than_cores(df: DataFrame, est: int | None = None) -> bool:
    """True when the frame's scan would yield fewer partitions than the
    cluster has cores — WITHOUT the ``df.rdd`` probe, whose RDD
    conversion costs 0.3-1.1s of planning per call inside the timed
    query region (r12, measured; the planner size estimate is ~50 ms).

    Equivalence: a scan yields ceil(bytes / maxPartitionBytes)
    partitions, so ``est < cores * maxPartitionBytes`` is the same
    predicate modulo small-file packing (a many-tiny-file scan may
    already be wide and take a harmless extra exchange here — at
    production scale est is far above the bound and nothing fires).

    ``est`` lets a caller that already read the plan estimate reuse it
    instead of planning the frame a second time.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if est is None:
        est = plan_size_estimate(df)
    mpb = int(
        str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
        .lower()
        .rstrip("b")
    )
    return est < cores * mpb


def fan_out_narrow(df: DataFrame, min_bytes: int = 0) -> DataFrame:
    """Round-robin repartition to the session's default parallelism when
    the plan's current partitioning is narrower — otherwise pass through
    untouched (zero shuffle where it matters).  ``min_bytes`` gates the
    fan on the planner's input-size estimate (see inline comment).

    The simhash_sketch/gram_sets fan-out rule shared by the numeric
    mapInPandas operators (r12): a small-SF embeddings.parquet is ONE
    row group, so every Lloyd round, encode and ADC search inherited a
    1-task scan and ran single-core (profiled: the PQ fit collects were
    3 of the 4 largest stages of ann_pq_topk/ann_ivf_pq_topk).  At
    production scale the scan already yields far more splits than cores
    and this branch never fires."""
    # ONE plan-stats read per call (r13): the size gate and the width
    # check share the same estimate of the same frame.  The gate itself
    # (r12, measured): below min_bytes the round-robin exchange + task
    # fan-in costs more than the parallelism returns (pq_fit on the
    # 0.8 MB sf0.1 scan: 2.6s un-fanned vs 4.6s fanned; on the 5.9 MB
    # sf1 scan the fan wins 4.0s vs 6.2s).
    est = plan_size_estimate(df)
    if min_bytes and est < min_bytes:
        return df
    cores = df.sparkSession.sparkContext.defaultParallelism
    if narrower_than_cores(df, est):
        return df.repartition(cores)
    return df


def _topk_tiesafe(cand: np.ndarray, cand_ids: np.ndarray, k: int) -> np.ndarray:
    """Indices of the top-k by (value desc, id asc).

    A bare ``argpartition(-cand, k)[:k]`` drops an ARBITRARY member of a
    tie group straddling the k-th position — on corpora with duplicate
    embeddings the batch-local cut could evict exactly the id the global
    (dot desc, id asc) window would keep.  Select by value threshold
    (O(B)), then order the k+ties survivors deterministically.
    """
    if len(cand) > k:
        kth = np.partition(cand, len(cand) - k)[len(cand) - k]
        sel = np.flatnonzero(cand >= kth)
    else:
        sel = np.arange(len(cand))
    order = np.lexsort((cand_ids[sel], -cand[sel]))[:k]
    return sel[order]


def topk_matmul(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    pad: int = 0,
    fold_rescore: bool = False,
) -> DataFrame:
    """Exact dot-product top-k via batched matmul + partial top-k merge.

    ``queries`` is a driver-side list (the query set is small by contract —
    it broadcasts inside the Arrow batches closure).  Returns
    (q_id, neighbor_id, rank) with rank 1..k by (dot desc, neighbor_id).

    ``fold_rescore=True`` replaces the whole shortlist→``exact_rerank``
    second corpus scan (r13): each batch still shortlists top-(k+pad) by
    the BLAS score, but emits the FOLD dot for those candidates —
    ``np.cumsum(row * q, axis=1)[:, -1]`` accumulates strictly
    left-to-right, so the value is bit-identical to the JVM
    ``aggregate(zip_with(...))`` fold and to DuckDB's
    ``list_inner_product`` (same float64 products, same addition order;
    a BLAS dot's SIMD/pairwise accumulation differs in the last ulps).
    The global merge then ranks by exact fold scores directly and the
    corpus is scanned ONCE.  Exactness needs the per-batch BLAS
    top-(k+pad) to contain the per-batch fold top-k — violated only if
    > pad candidates sit within float-accumulation noise (~1e-15
    relative) of the k-th score, impossible on continuous data.
    """
    if not queries:
        raise ValueError("queries must be non-empty")
    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = np.array([q[1] for q in queries], dtype=np.float64)  # Q x D

    def partial(batches):
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            mat = vec_block(batch.column(1)).astype(np.float64, copy=False)
            scores = mat @ q_mat.T  # B x Q, one BLAS call
            # self-matches excluded like the brute-force baseline
            out_q, out_id, out_d = [], [], []
            for qi in range(len(q_ids)):
                col = scores[:, qi]
                mask = ids != q_ids[qi]
                keep = np.flatnonzero(mask)
                cand_ids, cand = ids[keep], col[keep]
                top = _topk_tiesafe(cand, cand_ids, k + pad)
                if fold_rescore:
                    rows = mat[keep[top]]
                    dots = np.cumsum(rows * q_mat[qi], axis=1)[:, -1]
                else:
                    dots = cand[top]
                out_q.append(np.full(len(top), q_ids[qi]))
                out_id.append(cand_ids[top])
                out_d.append(dots)
            if out_q:
                yield pa.record_batch(
                    [
                        pa.array(np.concatenate(out_q)),
                        pa.array(np.concatenate(out_id)),
                        pa.array(np.concatenate(out_d)),
                    ],
                    names=["q_id", "neighbor_id", "dot"],
                )

    # no fan-out (r12 re-measure): one streaming BLAS pass — the round-
    # robin exchange of the embedding arrays costs more than the
    # single-task matmul it spreads (fan_out_narrow stays only on the
    # persisted Lloyd-fit frames, where one exchange feeds many rounds)
    partials = corpus.select(id_col, emb_col).mapInArrow(
        partial, _PARTIAL_SCHEMA
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank")
    )


def ivf_assign_dot(
    df: DataFrame,
    centroid_ids: np.ndarray,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> DataFrame:
    """Assign each vector to its max-DOT centroid, ties to the lowest
    centroid id — one BLAS matmul per Arrow batch, centroids ride the
    closure (nlist x dim doubles: kilobytes), no shuffle.

    The JVM zip_with/aggregate fold that previously computed the
    assignment dots is a CodegenFallback higher-order function —
    measured 45s for the 8M-pair crossJoin at sf1 (20k vectors x 400
    centroids) vs milliseconds here.  ``centroid_ids`` must be sorted
    ascending so ``argmax``'s first-max rule reproduces the oracle's
    ``ORDER BY dot DESC, cid ASC`` tie-break; the vector column passes
    through so in-cell scoring needs no join back.
    """
    ids = np.asarray(centroid_ids, dtype=np.int64)
    if not np.all(np.diff(ids) > 0):
        raise ValueError("centroid_ids must be strictly ascending")
    cents = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64).T)

    def assign(batches):
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            mat = vec_block(batch.column(1)).astype(np.float64, copy=False)
            best = np.argmax(mat @ cents, axis=1)
            yield pa.record_batch(
                [batch.column(0), batch.column(1), pa.array(ids[best])],
                names=[id_col, vec_col, "cid"],
            )

    schema = StructType(
        [f for f in df.select(id_col, vec_col).schema.fields]
        + [StructField("cid", LongType())]
    )
    # single streaming pass: no fan-out (r12 re-measure; see topk_matmul)
    return df.select(id_col, vec_col).mapInArrow(assign, schema)


def sample_queries(
    df: DataFrame,
    modulus: int = 100,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    limit: int | None = None,
) -> list[tuple[int, list[float]]]:
    """The deterministic query sample used by the top-k queries
    (vec_id % modulus == 0), collected driver-side.

    ``limit`` caps the collect at the first ``limit`` ids (ascending) so
    driver memory is O(limit) CHOSEN, not corpus-scaled — at 100x the
    corpus a bare modulus filter would collect 100x the rows.  Registry
    shapes always pass a limit; their oracles mirror it with
    ``ORDER BY vec_id LIMIT n``."""
    q = df.where(F.col(id_col) % modulus == 0).select(
        id_col, F.col(emb_col).cast("array<double>")
    )
    if limit is not None:
        q = q.orderBy(id_col).limit(limit)
    rows = q.collect()
    return [(r[0], list(r[1])) for r in rows]


def fold_dot(a, b) -> F.Column:
    """Dot product as a JVM LEFT FOLD over zipped arrays.

    Summation order is index order — bit-identical to DuckDB's
    ``list_inner_product`` sequential sum, which is what lets fold-scored
    rankings hash-match a SQL oracle exactly (a BLAS matmul's pairwise/
    SIMD accumulation differs in the last ulps and can flip near-ties).
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def exact_rerank(
    corpus: DataFrame,
    candidates: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact top-k over a candidate shortlist: re-score (q_id, neighbor_id)
    pairs with the fold dot product and rank by (dot desc, neighbor_id).

    The refinement stage of a production ANN pipeline (shortlist from the
    approximate tier, final ranking from true scores) — and the stage that
    makes the approximate tiers ORACLE-EXACT: when the shortlist provably
    contains the true top-k, the reranked output equals brute force, and
    the fold's summation order matches a SQL fold bit-for-bit, so a DuckDB
    brute-force window is a valid hash oracle for the whole approximate
    pipeline (a broken sketch/probe wrecks the shortlist and the hash).

    Scale: candidates are O(#queries * shortlist) rows — both sides of
    the join are broadcast (candidates into the corpus scan, queries into
    the projection); the corpus is scanned once, nothing shuffles but the
    tiny reranked set.
    """
    spark = corpus.sparkSession
    qdf = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in queries],
        "q_id long, q_emb array<double>",
    )
    scored = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(emb_col).cast("array<double>").alias("_emb"),
        )
        .join(F.broadcast(candidates.select("q_id", "neighbor_id")), "neighbor_id")
        .join(F.broadcast(qdf), "q_id")
        .select("q_id", "neighbor_id", fold_dot(F.col("_emb"), F.col("q_emb")).alias("dot"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank")
    )

