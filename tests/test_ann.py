"""Matmul top-k must agree exactly with the brute-force crossJoin baseline
(same tie-breaks, same float dot products — numpy row-dot equals the JVM
left-to-right fold only up to float association; ranks with id tie-break
are compared, and dots are checked to 1e-9 relative)."""

import pytest

from substreams_sink_graph_load_spark.operators.ann import (
    sample_queries,
    topk_matmul,
)
from substreams_sink_graph_load_spark.plans.queries import QUERIES


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_matmul_topk_equals_bruteforce(spark, sf_dir, emb):
    brute = {
        (r["q_id"], r["rank"]): r["neighbor_id"]
        for r in QUERIES["similarity_topk"](spark, sf_dir).collect()
    }
    qs = sample_queries(emb, 100)
    fast = {
        (r["q_id"], r["rank"]): r["neighbor_id"]
        for r in topk_matmul(emb, qs, k=5).collect()
    }
    assert fast == brute


def test_matmul_topk_partial_merge(spark):
    # 4 partitions x 100 vectors: global top-k must cross partitions
    import math

    rows = [(i, [math.cos(i * 0.01 + d) for d in range(8)]) for i in range(400)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(4)
    out = topk_matmul(df, [(0, rows[0][1])], k=3).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert all(r["neighbor_id"] != 0 for r in out)  # self excluded


def test_topk_tiesafe_keeps_lowest_ids_on_ties(spark):
    """Duplicate embeddings straddling the k-th position must resolve by
    (dot desc, id asc) — the batch-local cut may not evict an id the
    global window would keep."""
    import numpy as np

    from substreams_sink_graph_load_spark.operators.ann import (
        _topk_tiesafe,
        topk_matmul,
    )

    cand = np.array([1.0, 0.5, 0.5, 0.5, 0.2])
    ids = np.array([50, 40, 10, 30, 5])
    top = _topk_tiesafe(cand, ids, 3)
    assert ids[top].tolist() == [50, 10, 30]  # ties at 0.5 -> lowest ids

    # end-to-end: 6 identical vectors + 1 query in ONE partition; top-3
    # neighbors must be the three lowest other ids
    rows = [(i, [1.0, 0.0]) for i in (9, 3, 7, 1, 5, 11)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1)
    got = {
        (r["rank"]): r["neighbor_id"]
        for r in topk_matmul(df, [(1, [1.0, 0.0])], k=3).collect()
    }
    assert got == {1: 3, 2: 5, 3: 7}


def test_exact_rerank_refines_shortlist(spark, sf_dir, emb):
    """exact_rerank over a shortlist that contains the true top-k must
    equal the brute-force baseline — and the fold dot must rank
    candidates the same way the crossJoin fold does (bit-identical
    summation order)."""
    from substreams_sink_graph_load_spark.operators.ann import (
        exact_rerank,
        topk_matmul,
    )

    qs = sample_queries(emb, 100, limit=8)
    brute = {
        (r["q_id"], r["rank"]): r["neighbor_id"]
        for r in QUERIES["similarity_topk"](spark, sf_dir).collect()
        if any(r["q_id"] == q[0] for q in qs)
    }
    shortlist = topk_matmul(emb, qs, k=5 + 8)
    got = {
        (r["q_id"], r["rank"]): r["neighbor_id"]
        for r in exact_rerank(emb, shortlist, qs, k=5).collect()
    }
    assert got == brute


def test_fold_rescore_matches_rerank_and_left_fold(spark, sf_dir, emb):
    """r13: topk_matmul(fold_rescore=True) replaces the shortlist +
    exact_rerank second corpus scan.  Its output must equal the rerank
    pipeline's exactly — and the cumsum rescore must be BIT-identical to
    a strict left-to-right Python fold (the property that makes it a
    valid stand-in for DuckDB's list_inner_product)."""
    import numpy as np

    from substreams_sink_graph_load_spark.operators.ann import (
        exact_rerank,
        topk_matmul,
    )

    qs = sample_queries(emb, 100, limit=8)
    shortlist = topk_matmul(emb, qs, k=5 + 8)
    rerank = {
        (r["q_id"], r["rank"]): r["neighbor_id"]
        for r in exact_rerank(emb, shortlist, qs, k=5).collect()
    }
    fused = {
        (r["q_id"], r["rank"]): r["neighbor_id"]
        for r in topk_matmul(emb, qs, k=5, pad=8, fold_rescore=True).collect()
    }
    assert fused == rerank

    # bit-exactness of the rescore primitive on association-sensitive
    # values: cumsum's sequential accumulation == a Python left fold,
    # while a numpy dot (pairwise/SIMD) differs on this input
    rng = np.random.default_rng(7)
    rows = rng.standard_normal((4, 257)) * np.logspace(-12, 12, 257)
    q = rng.standard_normal(257)
    got = np.cumsum(rows * q, axis=1)[:, -1]
    for r, g in zip(rows, got):
        acc = 0.0
        for x, y in zip(r, q):
            acc = acc + x * y
        assert acc == g  # exact float equality, not approx


def test_sample_queries_limit_bounds_collect(spark, emb):
    """limit=n caps the driver collect at the n lowest matching ids —
    the registry contract that keeps driver memory O(chosen), not
    corpus-scaled."""
    all_qs = sample_queries(emb, 10)
    capped = sample_queries(emb, 10, limit=3)
    assert len(capped) == 3
    assert [q[0] for q in capped] == sorted(q[0] for q in all_qs)[:3]
    assert dict((q[0], q[1]) for q in all_qs)[capped[0][0]] == capped[0][1]
