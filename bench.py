#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Stdout contract: the compact JSON line
  {"metric": "...", "value": N, "unit": "sec", "queries": {12 flagship},
   "query_count": N, "detail": "BENCH_DETAIL.json", "sf": ...}
is printed FIRST (so a bounded-capture consumer always parses it) and
again LAST (so tail-capture works too) — both lines identical and
bounded (~450 bytes: the r7 driver record proved a full per-query map
outgrows the tail-capture window and nulls `parsed`).  The FULL
per-query map, the variance section (per-pass totals, worst per-query
spread) and the sf1 scale run live in BENCH_DETAIL.json next to this
script; they are not on stdout.

Each query runs ``BENCH_RUNS`` times (default 3, full passes so one
query's JIT warm-up never flatters its neighbor); ``queries`` carries the
per-query MIN and ``value`` is the sum of those mins.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q3_shipping_priority",
    "q5_region_revenue",
    "join_broadcast_segments",
    "agg_rollup_orders",
    "window_topk_per_segment",
    "window_running_total",
    "sort_limit_top10",
    "events_sessionize",
    "events_tumbling_hour",
    "scd2_versions",
    "dedup_exact",
    "text_stats",
    "similarity_topk",
    "dedup_minhash",
    "dedup_minhash_pairs",
    "dedup_simhash",
    "token_count",
    "quality_score",
    "dedup_embedding",
    "ann_ivf_topk",
    "ann_topk_matmul",
    "join_asof",
    "join_range",
    # round-2 additions (r1's 25 stay in place for cross-round comparison)
    "q4_order_priority",
    "tfidf_top_terms",
    "dedup_clusters",
    # round-4 additions
    "fuzzy_pairs",
    "split_train_eval",
    "quality_gopher_rules",
    "ngram_counts",
    "contamination_probe",
    "dedup_substring_stats",
    # round-5 additions
    "dedup_ngram_jaccard",
    "quality_repetition",
    "events_funnel",
    "q10_returned_items",
    "q13_customer_distribution",
    "q21_waiting_supplier",
    "pii_scrub",
    "dedup_cross_source",
    "ann_pq_topk",
    "q2_min_cost_supplier",
    "q9_product_profit",
    "dedup_paragraphs",
    "mix_temperature",
    # round-5 late additions: substring REMOVAL (stats' heavier sibling —
    # adds the coverage window + reassembly), the corpus bigram-LM score,
    # cohort retention, and the composed IVF-PQ ANN tier
    "dedup_substring_remove",
    "quality_lm_bigram",
    "events_retention",
    "ann_ivf_pq_topk",
    "events_gapfill",
    # round-6 additions: retrieval chunking, BM25 ranking, epoch mixing,
    # and the iterative integer-PageRank authority prior
    "docs_chunk_overlap",
    "bm25_search",
    "mix_epochs",
    "graph_pagerank",
    "join_interval_bins",
    "curriculum_order",
    "events_anomaly_mad",
    "sessions_attribution",
    # round-7 additions: per-domain quota sampling, cluster-keyed
    # leakage-safe splitting, and DSIR importance weighting
    "sample_domain_cap",
    "split_leakage_safe",
    "dsir_importance",
    "embedding_quantize_int8",
    "dataset_card_stats",
    "ann_ivf_recall_eval",
    "ann_ivf_nprobe4_topk",
    # round-7 continuation: deterministic mixture rebalancing, Z-order
    # layout stats, and the exact fixed-point covariance fold
    "sample_lang_rebalance",
    "layout_zorder_stats",
    "embedding_covariance",
    "minhash_precision_eval",
    "bpe_pair_counts",
    "embedding_pca_power",
    "minhash_precision_tuned",
    "embedding_drift_by_source",
    "embedding_pc1_outliers",
    # round-7 continuation: the SimHash pair materializer (lossless
    # pigeonhole banding) and the Misra-Gries exact heavy-hitter detector
    "simhash_hamming_pairs",
    "heavy_hitters_phrases",
    "join_salted_skew",
    "minhash_recall_eval",
    # round-7 continuation: the winnowing (local-fingerprint) tier
    "winnow_fingerprints",
    # round-8 addition: the winnowing tier's removal transformation
    "winnow_remove",
    "winnow_plagiarism_pairs",
    # round-8 addition: global concat-and-chunk packing (two-pass prefix scan)
    "sequence_pack_chunks",
]


# Scale-proof subset: run ONCE at sf1 (10x the headline sf) when the
# locally generated tables exist (scripts/gen_sf.py). Chosen for
# scale-sensitivity: the dedup/LSH family (self-joins, banding), the
# SCD-2 window composition, sessionize, and the agg/join heads.
SF1_SUBSET = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "events_sessionize",
    "scd2_versions",
    "dedup_exact",
    "dedup_minhash",
    "dedup_minhash_pairs",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_substring_stats",
    "fuzzy_pairs",
    # similarity_topk computes the exact all-pairs top-k result; since r13
    # it shares the single-scan blocked-matmul + in-partial fold-rescore
    # shape with ann_topk_matmul (same rows the crossJoin baseline
    # produced — r12 verdict item 2 replaced the O(n^2) plan, not the
    # contract).
    "ann_topk_matmul",
    "ann_ivf_topk",
    "dedup_clusters",
    "text_stats",
    # round-5: the heaviest of the new TPC-H shapes (two count-distinct
    # folds over the full lineitem<->orders join) and the cross-source
    # self-join
    "q21_waiting_supplier",
    "dedup_cross_source",
    # round-5 late additions: the distinct part<->supplier relation
    # (60M-pair dedup at sf1), the 5-table join fan, and the chunk-hash
    # dedup with document reassembly
    "q2_min_cost_supplier",
    "q9_product_profit",
    "dedup_paragraphs",
    # round-5 latest: the substring-removal rewrite (gram frequency +
    # per-doc coverage window + reassembly) and the bigram-LM score join
    # are the two new shuffle-bearing corpus ops
    "dedup_substring_remove",
    "quality_lm_bigram",
    # round-7: the persisted-tf DSIR shape and the salted per-source top-N
    "dsir_importance",
    "sample_domain_cap",
    # round-7 continuation: the corpus-scan covariance fold feeding the
    # constant-size PCA epilogue
    "embedding_pca_power",
    # round-7 continuation: the two new self-join pair materializers —
    # SimHash banding (4 rows/doc) and winnowed fingerprints (~40% gram
    # density) — are the shapes whose scale behavior needs measuring
    "simhash_hamming_pairs",
    "winnow_plagiarism_pairs",
    # round-8: the global concat-and-chunk prefix scan — the one shape
    # whose oracle is a single-task window, so its Spark-vs-data ratio
    # is the proof the two-pass scan actually removed the bottleneck
    "sequence_pack_chunks",
]


# Declared bounded-contract plans (r10 verdict item 4): their cost is, BY
# CONTRACT, dominated by a term that is not linear in the corpus (a fixed
# exact brute-force baseline, an exact truth side inside an eval), so
# their sf1/sf0.1 ratio legitimately exceeds the linear-scaling tripwire.
# The ratio is still recorded; it lands under ``bounded_contract`` in the
# sf1 section instead of ``flagged_over_12x`` so the flag list stays a
# real anomaly detector (PLANS.md documents each contract in prose).
# Each contract ALSO carries an absolute sf1 wall ceiling (~2.5x the
# worst recorded wall, degraded-host r10 record included): the contract
# exempts the query from the LINEAR-scaling tripwire, not from regression
# watch — a 100x ratio with a large wall must not silently bucket as
# bounded_contract (r10 advice item 1).
BOUNDED_CONTRACT = {
    "similarity_topk": {
        "contract": "exact all-pairs top-k: O(64 queries x corpus) BLAS "
        "matmul by declaration (single-scan blocked top-k with fold-exact "
        "in-partial rescore since r13; the crossJoin plan it replaced "
        "produced the identical rows)",
        "sf1_wall_ceiling": 30.0,  # worst record 12.4s (r10 driver run)
    },
    "ann_topk_matmul": {
        "contract": "exact BLAS top-k baseline: O(queries x corpus) "
        "matmul by declaration (the scale path is the IVF/PQ tiers)",
        "sf1_wall_ceiling": 10.0,  # worst record 1.2s
    },
    "ann_ivf_recall_eval": {
        "contract": "embeds the exact O(queries x corpus) truth side to "
        "score the IVF shortlist",
        "sf1_wall_ceiling": 20.0,  # worst record 7.2s
    },
    "minhash_recall_eval": {
        "contract": "embeds the quadratic SimHash truth CTE to score "
        "MinHash recall",
        "sf1_wall_ceiling": 45.0,  # ORACLE_HEAVY: not in the sweep today
    },
}


def classify_sf1_ratios(
    ratios: dict[str, float], sf1_timings: dict[str, float]
) -> dict[str, dict]:
    """Partition the >12x sf1/sf0.1 ratios into the reporting buckets
    (pure function so tests can pin the tripwire semantics):

    - ``flagged_over_12x`` — the real anomaly list: ratio > 12 AND an
      absolute sf1 wall >= 2s.  Two rounds of quiet-host adjudications
      proved a >12x single-pass ratio on a sub-second query is a
      page-cache/GC artifact (r9: pg_csv_format "40x" re-timed isolated
      at 2.1x) — and a genuinely superlinear query cannot stay sub-2s
      at sf1.
    - ``ratio_noise_subsecond`` — >12x but under the wall floor,
      recorded with both numbers.
    - ``bounded_contract`` — the declared non-linear baselines,
      annotated with their contract... UNLESS the absolute sf1 wall
      exceeds the contract's recorded ceiling, in which case the entry
      lands in ``bounded_contract_exceeded`` (an anomaly bucket: the
      exemption covers the declared superlinear shape, not an unbounded
      regression on top of it).
    """
    bounded = {
        q: {"ratio": r, "contract": BOUNDED_CONTRACT[q]["contract"]}
        for q, r in ratios.items()
        if r > 12
        and q in BOUNDED_CONTRACT
        and sf1_timings.get(q, 0.0)
        <= BOUNDED_CONTRACT[q]["sf1_wall_ceiling"]
    }
    exceeded = {
        q: {
            "ratio": r,
            "sf1_wall": sf1_timings.get(q, 0.0),
            "ceiling": BOUNDED_CONTRACT[q]["sf1_wall_ceiling"],
        }
        for q, r in ratios.items()
        if r > 12
        and q in BOUNDED_CONTRACT
        and sf1_timings.get(q, 0.0)
        > BOUNDED_CONTRACT[q]["sf1_wall_ceiling"]
    }
    return {
        "flagged_over_12x": {
            q: r
            for q, r in ratios.items()
            if r > 12
            and q not in BOUNDED_CONTRACT
            and sf1_timings.get(q, 0) >= 2.0
        },
        "ratio_noise_subsecond": {
            q: {"ratio": r, "sf1_wall": sf1_timings.get(q, 0.0)}
            for q, r in ratios.items()
            if r > 12
            and q not in BOUNDED_CONTRACT
            and sf1_timings.get(q, 0) < 2.0
        },
        "bounded_contract": bounded,
        "bounded_contract_exceeded": exceeded,
    }


def loadavg_sample() -> dict:
    """One ``/proc/loadavg`` + ``/proc/stat`` steal sample, wall-stamped.

    Host-load evidence belongs IN the bench artifact (r11 verdict
    item 3): two rounds of drift adjudications turned on "what was the
    host doing", and the answer lived in PLANS.md narrative instead of
    the record.  A sample per pass (and per sf1 query) makes the
    artifact-vs-regression call data-in-record.

    ``loadavg`` alone is ambiguous during a pass — the bench's own 32
    executor threads ARE load — so the sample also carries the guest's
    cumulative CPU counters from ``/proc/stat``: ``steal_jiffies``
    (time the hypervisor ran someone else while this guest had work)
    and ``cpu_jiffies`` (sum of all fields, the denominator).  The
    delta between two samples gives the steal share of the interval;
    steal is the one signal the bench cannot have caused itself.  (r12
    measured 13-19% interval steal shares during passes whose walls ran
    2-6x the quiet records, on untouched code — the adjudication that
    used to need an interleaved A/B now reads off the record.)"""
    try:
        with open("/proc/loadavg") as fh:
            load = [float(x) for x in fh.read().split()[:3]]
    except (OSError, ValueError):
        load = []
    sample = {"t": round(time.time(), 1), "loadavg": load}
    try:
        with open("/proc/stat") as fh:
            cpu = [int(x) for x in fh.readline().split()[1:]]
        # user nice system idle iowait irq softirq steal [guest ...]
        if len(cpu) >= 8:
            sample["steal_jiffies"] = cpu[7]
            sample["cpu_jiffies"] = sum(cpu[:8])
    except (OSError, ValueError, IndexError):
        pass
    return sample


def _prior_record() -> dict:
    """The last committed sf0.1 detail record (empty dict if absent or
    unparseable) — the cross-round comparator's baseline and the
    carry-forward source when a run skips the sf1 sweep."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def carry_forward_sf1(prior_record: dict) -> dict | None:
    """When a run skips the sf1 sweep, the rewritten sf0.1 record must
    carry the last committed record's sf1 section forward (marked) —
    the cross-round drift comparator baselines against "the last
    committed BENCH_DETAIL.json", and a no-sf1 run silently erasing the
    section would make the next sweep's tripwire compare against
    nothing (r11 advice item 2).  Returns None when there is nothing to
    carry."""
    prior = prior_record.get("sf1")
    if not prior:
        return None
    out = dict(prior)
    out["carried_forward"] = True
    return out


def compare_sf1_cross_round(
    new_walls: dict[str, float],
    prior_walls: dict[str, float],
    ratio_floor: float = 1.5,
    wall_floor: float = 2.0,
    new_loads: dict[str, float] | None = None,
) -> dict[str, dict]:
    """Flag per-query sf1 drift ACROSS rounds (r10 verdict item 1).

    The within-run ratio tripwire compares sf1 to sf0.1 inside one run;
    the acceptance narrative compares sf0.1 totals across rounds —
    nobody watched per-query sf1 walls across rounds, and drift
    accumulated unflagged for three records (graph_pagerank 17.4 ->
    64.2s).  This pure function compares the new sf1 walls to the LAST
    COMMITTED record's and flags anything that grew more than
    ``ratio_floor`` with a new wall at or over ``wall_floor`` (the same
    >=2s floor the within-run tripwire earned: sub-2s walls are
    page-cache/GC noise territory).  Failed runs (negative walls) on
    either side are skipped — a FAIL is its own loud signal.

    Each flag entry carries the 1-minute host load sampled right after
    the flagged measurement when ``new_loads`` provides one — the first
    number an adjudicator checks.
    """
    out = {}
    for q, w in new_walls.items():
        p = prior_walls.get(q)
        if p is None or p <= 0 or w < 0:
            continue
        if w >= wall_floor and w / p > ratio_floor:
            out[q] = {
                "sf1_wall": w,
                "prior_wall": p,
                "ratio": round(w / p, 2),
            }
            if new_loads is not None and q in new_loads:
                out[q]["load_1m"] = new_loads[q]
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    # the default 8g heap is tuned for tests (local[4]); a 32-thread
    # local JVM driving 50+ queries per pass accumulates enough shuffle/
    # broadcast state that GC pauses inflate late-pass timings by 2-3x
    # (measured: dedup_clusters 1.7s warm-isolated vs 4.3s min-of-3
    # in-pass at 8g). 24g keeps the old-gen churn off the timings.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")

    from substreams_sink_graph_load_spark.session import KEEP_C2, get_spark
    from substreams_sink_graph_load_spark.plans import QUERIES

    # one JVM runs every query BENCH_RUNS times: it keeps C2
    spark = get_spark(app_name="bench",
                      extra_conf={"spark.driver.extraJavaOptions": KEEP_C2})
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers + Python UDF workers once so timings
    # measure the queries, not daemon spin-up
    QUERIES["sort_limit_top10"](spark, sf_dir).collect()
    spark.range(1000).repartition(64).mapInPandas(
        lambda it: it, "id long"
    ).count()

    runs = int(os.environ.get("BENCH_RUNS", "3"))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    pass_totals: list[float] = []
    launch_load = loadavg_sample()
    pass_loads: list[dict] = []
    for r in range(runs):
        pass_loads.append(loadavg_sample())
        pass_total = 0.0
        for name in HEADLINE:
            fn = QUERIES[name]
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            # noop sink materializes every output column (count() would
            # let Catalyst prune the computed expressions away)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            samples[name].append(dt)
            pass_total += dt
            print(f"# run{r + 1} {name}: {dt:.3f}s", file=sys.stderr)
            # operators may persist intermediates (e.g. the LSH sketch
            # across its self-join); drop them so queries don't charge
            # each other rent
            spark.catalog.clearCache()
        pass_totals.append(round(pass_total, 3))
        # settle the JVM between passes so pass N's garbage doesn't bill
        # pass N+1 (caches were cleared per query; this compacts the heap)
        spark.sparkContext._jvm.System.gc()

    timings = {name: round(min(ts), 3) for name, ts in samples.items()}
    spreads = {name: max(ts) - min(ts) for name, ts in samples.items()}
    worst = max(spreads, key=spreads.get)

    # the driver records a bounded slice of stdout — the r7 report proved
    # that a full 82-query map (~2.4 KB) outgrows the capture window and
    # nulls the driver's `parsed` field.  The contract line therefore
    # carries ONLY a fixed 12-query flagship subset plus total/count/sf
    # and a pointer (~450 bytes, printed first AND last); the complete
    # per-query map lives in BENCH_DETAIL.json, committed next to this
    # script.
    flagship = [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_region_revenue",
        "scd2_versions",
        "dedup_exact",
        "dedup_minhash",
        "dedup_simhash",
        "similarity_topk",
        "ann_ivf_topk",
        "events_sessionize",
        "window_running_total",
        "token_count",
    ]
    core = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {q: timings[q] for q in flagship if q in timings},
        "query_count": len(timings),
        "detail": "BENCH_DETAIL.json",
        "sf": sf,
    }
    print(json.dumps(core), flush=True)

    out = dict(core)
    out["queries"] = timings
    out["variance"] = {
        "runs": runs,
        "pass_totals": pass_totals,
        "worst_query_spread": {
            "query": worst,
            "spread_sec": round(spreads[worst], 3),
        },
        # host-load evidence IN the record (r11 verdict item 3): one
        # /proc/loadavg sample at launch and at the start of each pass
        "launch_load": launch_load,
        "pass_loads": pass_loads,
    }

    # sf1 scale-proof section: single pass over the FULL light set (every
    # registry query whose ORACLE isn't sf1-bound — the Spark side is
    # always fine there) plus the legacy scale-sensitive subset, when the
    # generated tables exist (set SPARK_GRAFT_SF1=0 to skip).  The r8
    # subset caught the one superlinear query only because it happened to
    # be in it; full coverage with a ratio column makes the sweep the
    # detector, not luck (r8 verdict item 6).
    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "testdata_local", "sf1"
        ),
    )
    if (
        os.environ.get("SPARK_GRAFT_SF1", "1") != "0"
        and os.path.isdir(sf1_dir)
    ):
        from substreams_sink_graph_load_spark.plans.queries import (
            ORACLE_HEAVY,
        )

        sf1_set = list(
            dict.fromkeys(
                SF1_SUBSET + [q for q in QUERIES if q not in ORACLE_HEAVY]
            )
        )
        sf1_timings: dict[str, float] = {}
        sf1_loads: dict[str, float] = {}
        for name in sf1_set:
            t0 = time.perf_counter()
            try:
                QUERIES[name](spark, sf1_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                sf1_timings[name] = round(time.perf_counter() - t0, 3)
            except Exception as exc:  # loud in the detail record
                sf1_timings[name] = -1.0
                print(f"# sf1 {name}: FAIL {exc}", file=sys.stderr)
            sample = loadavg_sample()
            if sample["loadavg"]:
                sf1_loads[name] = sample["loadavg"][0]
            print(f"# sf1 {name}: {sf1_timings[name]:.3f}s", file=sys.stderr)
            spark.catalog.clearCache()
        # sf0.1 baseline for the ratio column: headline queries use their
        # min-of-N; the rest get one single-pass measurement (marked, so
        # a reader knows the denominator's confidence)
        single_pass_base: dict[str, float] = {}
        for name in sf1_set:
            if name in timings or sf1_timings.get(name, -1) < 0:
                continue
            t0 = time.perf_counter()
            try:
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                single_pass_base[name] = round(time.perf_counter() - t0, 3)
            except Exception:
                pass
            spark.catalog.clearCache()
        base = {**single_pass_base, **timings}
        # scale ratio vs the same queries' sf0.1 time: at a 10x data
        # step, a scale-linear operator lands near 10 (modulo fixed
        # overheads amortizing — most land well under); anything past 12
        # is flagged for the quiet-host re-time.
        ratios = {
            q: round(sf1_timings[q] / base[q], 1)
            for q in sf1_set
            if q in base and base[q] > 0 and sf1_timings.get(q, -1) >= 0
        }
        # cross-round drift watch: compare this run's sf1 walls to the
        # last committed record's BEFORE overwriting it (r10 verdict
        # item 1 — three records of monotone pagerank/ivf_pq drift went
        # unflagged because no tripwire looked across rounds)
        prior_sf1 = _prior_record().get("sf1", {}).get("queries", {}) or {}
        out["sf1"] = {
            "dir": sf1_dir,
            "sf": 1.0,
            "queries": sf1_timings,
            "total": round(sum(t for t in sf1_timings.values() if t > 0), 3),
            "scale_ratio": ratios,
            "baseline_single_pass": sorted(single_pass_base),
            # 1-minute host load sampled right after each query — the
            # adjudication evidence lives in the record (r11 item 3)
            "load_1m": sf1_loads,
            **classify_sf1_ratios(ratios, sf1_timings),
            "cross_round_drift": compare_sf1_cross_round(
                sf1_timings, prior_sf1, new_loads=sf1_loads
            ),
        }
    elif sf == 0.1:
        carried = carry_forward_sf1(_prior_record())
        if carried is not None:
            out["sf1"] = carried

    # the committed BENCH_DETAIL.json is the sf0.1 headline record ONLY —
    # a quick smoke at another SF must not overwrite it
    detail_name = (
        "BENCH_DETAIL.json"
        if out["sf"] == 0.1
        else f"BENCH_DETAIL_sf{out['sf']}.json"
    )
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), detail_name
    )
    with open(detail_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"# variance + sf1 detail -> {detail_path}", file=sys.stderr)
    print(json.dumps(core))
    spark.stop()


if __name__ == "__main__":
    main()
