"""The benchmark's workloads and why each was chosen.

Sizes are set for a 4-core host (one process, ``local[nproc]``, at most 3
COPY connections per entity) and for the run budget: every run of every
workload, with its set-up, has to fit in about a minute.
"""

from __future__ import annotations

from wiregen import WireKnobs

CHAIN_ID = "perfbench-chain"
PG_SCHEMA = "sgd1"

# backfill-churn: few entity types (two mutable with BigInt, BigDecimal,
# array and bytes fields, one immutable), Zipf-skewed ids so the hottest
# ids carry hundreds of versions, dense blocks (tens of events each) and
# few bundles, POI on.  At 10k events, timed as the first pass in a new
# JVM, the pass is dominated by fixed costs: per-job and per-micro-batch
# driver work, JIT and Python-worker warm-up (README.md, "Traced split").
# Per-event work in staging, the SCD-2 window and the POI fold is a small
# share; the run budget leaves no room for an input large enough to make
# it dominate.
CHURN = WireKnobs(
    events=10_000,
    entity_types=3,
    immutable_share=1 / 3,
    ids_per_type=500,
    id_skew=1.1,
    events_per_block=32.0,
    block_span=4_000,
    p_update=0.85,
    p_delete=0.08,
    bundle_size=1_000,
)
# registry-hot: the ROADMAP's ranked slow lines (pagerank, IVF-PQ top-k,
# n-gram Jaccard) plus one query from each other family, on tables made by
# scripts/gen_sf.gen.  Covers Python-worker start-up, eager jobs started at
# plan time, relational scans and the SCD-2 window used apart from tocsv.
REGISTRY_QUERIES = [
    "graph_pagerank",
    "ann_ivf_pq_topk",
    "dedup_ngram_jaccard",
    "dedup_minhash",
    "q5_region_revenue",
    "scd2_versions",
    "events_sessionize",
]
# sf0.02, not sf0.1: at sf0.1 one warm pass plus the oracle check does not
# fit the run budget, and these queries' cost is mostly fixed per query
# (worker start-up, plan-time jobs) at both sizes.
REGISTRY_SF = 0.02
