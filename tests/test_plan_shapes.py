"""Physical-plan assertions for the round-5 relational queries: the scale
claims in PLANS.md (pushdown, single-scan, top-k lowering) verified
against `.explain("formatted")` output, not prose."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from substreams_sink_graph_load_spark.plans import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def pushed_filters(plan: str) -> list[str]:
    return [m.group(1) for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan)]


def test_q21_scans_lineitem_once(spark, sf_dir):
    """Both EXISTS tests ride one window — the fact table is read once
    (the reference's correlated plan reads it three times)."""
    plan = plan_of(spark, sf_dir, "q21_waiting_supplier")
    assert plan.count("lineitem.parquet") == 1
    assert "TakeOrderedAndProject" in plan


def test_q19_part_side_of_disjunction_pushed(spark, sf_dir):
    """The part-side implication of the OR'd predicate (brand IN ...,
    size range) must reach the part scan, and the quantity-range union
    must reach the lineitem scan."""
    plan = plan_of(spark, sf_dir, "q19_discounted_revenue")
    pushed = " | ".join(pushed_filters(plan))
    assert "In(p_brand" in pushed
    assert "l_quantity" in pushed  # Catalyst derives the OR'd range union


def test_q14_shipdate_window_pushed(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q14_promo_revenue")
    pushed = " | ".join(pushed_filters(plan))
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_shipdate" in pushed


def test_q10_topk_before_dimension_join(spark, sf_dir):
    """Aggregate-before-join: the top-20 lowers to TakeOrderedAndProject
    and the returnflag/date filters reach their scans."""
    plan = plan_of(spark, sf_dir, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    pushed = " | ".join(pushed_filters(plan))
    assert "EqualTo(l_returnflag,R)" in pushed
    assert "GreaterThanOrEqual(o_orderdate" in pushed


def test_q13_moves_rows_not_orders(spark, sf_dir):
    """Aggregate-before-join: orders folds to one row per custkey before
    the customer join — the orders scan reads only the two needed columns
    and the priority filter is pushed."""
    plan = plan_of(spark, sf_dir, "q13_customer_distribution")
    pushed = " | ".join(pushed_filters(plan))
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in pushed
    m = re.search(r"orders\.parquet.*?ReadSchema: ([^\n]*)", plan, re.S)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {
        "o_custkey",
        "o_orderpriority",
    }


def test_pii_scrub_is_shuffle_free(spark, sf_dir):
    """The scrub is a pure projection: no Exchange anywhere in the plan,
    no Python (BatchEvalPython / ArrowEvalPython) stages."""
    plan = plan_of(spark, sf_dir, "pii_scrub")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_cross_source_dedups_before_self_join(spark, sf_dir):
    """The (hash, source) distinct must run BEFORE the self-join: two
    HashAggregate pairs (partial+final per side) feed the join, keeping a
    shared prefix at sources^2 pairs, never docs^2."""
    plan = plan_of(spark, sf_dir, "dedup_cross_source")
    assert any(
        j in plan for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    # each self-join side carries its own distinct (partial+final
    # HashAggregate pairs) plus the final pair count: >= 5 aggregates,
    # and exactly the two per-side scans — never an un-deduped join
    assert plan.count("HashAggregate") >= 5
    assert plan.count("documents.parquet") == 2


@pytest.mark.parametrize(
    "name",
    [
        "q8_market_share",
        "q15_top_supplier",
        "q17_small_quantity",
        "q22_inactive_balance",
        "q2_min_cost_supplier",
        "q9_product_profit",
        "q11_important_value",
        "q12_priority_shipmode",
        "q16_supplier_relation",
        "q20_part_promotion",
    ],
)
def test_single_pass_aggregates_no_python(spark, sf_dir, name):
    """None of the new relational queries may fall back to a Python row
    path — everything stays in codegen'd JVM operators."""
    plan = plan_of(spark, sf_dir, name)
    assert "EvalPython" not in plan
    # (pre-execution AQE plans carry no WholeStageCodegen markers; the
    # absence of Python eval nodes is the invariant that matters)
    assert "HashAggregate" in plan


def test_q12_date_window_pushed(spark, sf_dir):
    """The shipdate year-window reaches the lineitem scan (row-group
    stats prune whole files) and the scan reads only the 2 used cols."""
    plan = plan_of(spark, sf_dir, "q12_priority_shipmode")
    pushed = " | ".join(pushed_filters(plan))
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_shipdate" in pushed
    m = re.search(r"lineitem\.parquet.*?ReadSchema: ([^\n]*)", plan, re.S)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {
        "l_orderkey",
        "l_linestatus",
        "l_shipdate",
    }


def test_q9_part_filter_before_join(spark, sf_dir):
    """The contains-LIKE lands on the part scan (StringContains pushed),
    and the part side reads only the 2 needed columns."""
    plan = plan_of(spark, sf_dir, "q9_product_profit")
    pushed = " | ".join(pushed_filters(plan))
    assert "StringContains(p_name,red)" in pushed
    m = re.search(r"part\.parquet.*?ReadSchema: ([^\n]*)", plan, re.S)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {
        "p_partkey",
        "p_name",
        "p_retailprice",
    }


def test_q20_prefix_like_pushed_and_semi_join(spark, sf_dir):
    """'small%' pushes as StringStartsWith (range-prunable, unlike a
    contains) and the qualifying-supplier set attaches as a SEMI join —
    never an inner join that could duplicate suppliers."""
    plan = plan_of(spark, sf_dir, "q20_part_promotion")
    pushed = " | ".join(pushed_filters(plan))
    assert "StringStartsWith(p_name,small)" in pushed
    assert "LeftSemi" in plan


def test_q16_complaint_exclusion_is_anti_join(spark, sf_dir):
    """The NOT-IN subquery lowers to a left-anti join against the
    filtered supplier side, and the distinct-supplier count expands to
    the two-phase aggregate — no window anywhere."""
    plan = plan_of(spark, sf_dir, "q16_supplier_relation")
    assert "LeftAnti" in plan
    assert "Window" not in plan
    pushed = " | ".join(pushed_filters(plan))
    assert "In(p_size" in pushed


def test_q2_min_is_aggregate_not_window(spark, sf_dir):
    """The correlated min lowers to aggregate + join-back — a Window
    over partkey would buffer a hot part's whole candidate set."""
    plan = plan_of(spark, sf_dir, "q2_min_cost_supplier")
    assert "Window" not in plan
    pushed = " | ".join(pushed_filters(plan))
    assert "EqualTo(p_size,7)" in pushed
    assert "EqualTo(p_type,STANDARD)" in pushed


def test_dedup_paragraphs_winner_is_aggregate_not_window(spark, sf_dir):
    """The first-seen winner per chunk-hash must be a groupBy.min
    aggregation (mergeable partials collapse hot boilerplate chunks
    map-side) — never a Window over the hash, which would buffer a hot
    chunk's every occurrence in one task.  No Python anywhere."""
    plan = plan_of(spark, sf_dir, "dedup_paragraphs")
    assert "Window" not in plan
    assert "EvalPython" not in plan
    # winner agg + doc reassembly agg (partial+final pairs) >= 3
    assert plan.count("HashAggregate") + plan.count("ObjectHashAggregate") >= 3


def test_mix_temperature_threshold_is_broadcast(spark, sf_dir):
    """The per-language threshold is a tiny aggregate attached by
    broadcast; the per-doc side does one integer compare in the scan
    stage — no window, no Python."""
    plan = plan_of(spark, sf_dir, "mix_temperature")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan


def test_shard_manifest_single_aggregate(spark, sf_dir):
    """Hash + mod evaluate in the scan stage and the only shuffle is the
    64-group aggregate with map-side partials."""
    plan = plan_of(spark, sf_dir, "shard_manifest")
    # one Exchange node (formatted output names each node twice: once in
    # the tree, once in the detail section — count detail headers)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "EvalPython" not in plan


def test_pack_sequences_windows_on_shard_only(spark, sf_dir):
    """The packing cumsum is the ONE window, partitioned by the shard
    routing key (explicit parallelism knob, file-sized groups) — never
    by a data-scaled key; one final 64-group aggregate; no Python."""
    plan = plan_of(spark, sf_dir, "pack_sequences")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert "EvalPython" not in plan
    # the window's partition expression is the shard hash-mod, not doc_id
    m = re.search(r"Arguments: \[sum\(tok[^\]]*windowspecdefinition\(shard", plan)
    assert m is not None


def test_q11_total_is_broadcast_not_collect(spark, sf_dir):
    """The scalar total/count joins back as a broadcast one-row side
    (BroadcastNestedLoopJoin), never a driver collect, and the per-part
    value fold carries no window."""
    plan = plan_of(spark, sf_dir, "q11_important_value")
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """Spark's InjectRuntimeFilter puts a bloom semi-join reduction on the
    fact side of a shuffle join whose other side carries a selective
    filter: the build side aggregates a `bloom_filter_agg`, the fact scan
    stage gains `bloom_filter_might_contain`, and fact rows that cannot
    match die BEFORE the exchange.  This is a first-class 100 TB lever —
    at the shipped thresholds (creation side <=10 MB, fact scan >=10 GB)
    it self-activates exactly when the join is shuffle-bound — so pin
    that the feature exists and that it does not change results.  The
    thresholds are lowered here only because the test corpus is far below
    the 10 GB activation bar."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"

    from pyspark.sql import functions as F

    def run():
        part = (
            spark.read.parquet(f"{sf_dir}/part.parquet")
            .where(F.col("p_brand") == "Brand#23")
            .select("p_partkey", "p_brand")
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_partkey", "l_quantity"
        )
        return (
            li.join(part, li.l_partkey == part.p_partkey)
            .groupBy("p_brand")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("l_quantity").cast("long")).alias("qty"),
            )
        )

    baseline = {tuple(r) for r in run().collect()}
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        # force the shuffle-join shape the rule targets (a broadcast join
        # needs no bloom: its fact side never shuffles)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = run()
        plan = plan_of_df(df)
        assert "bloom_filter_agg" in plan
        # the fact-side probe renders only in the extended plan
        # (formatted mode elides subquery-filter conditions)
        extended = df._jdf.queryExecution().toString()
        assert "might_contain(" in extended
        assert "xxhash64(l_partkey" in extended
        assert {tuple(r) for r in df.collect()} == baseline
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def plan_of_df(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_heavy_hitters_no_occurrence_relation(spark, sf_dir):
    """The scale claim (r9 shape): gram generation folds INTO the MG and
    recount passes (MapInArrow), so the exploded occurrence stream never
    exists as a relation — no window, no persisted occurrence table, no
    join; the ONLY keyed exchange carries candidate partials (plus the
    small-SF round-robin fan-out, absent at production partition
    counts)."""
    plan = plan_of(spark, sf_dir, "heavy_hitters_phrases")
    assert "MapInArrow" in plan
    assert "Window" not in plan
    assert "Join" not in plan
    assert "InMemoryTableScan" not in plan
    exchanges = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(exchanges) <= 2  # fan-out repartition + candidate groupBy


def test_winnow_zero_keyed_exchange(spark, sf_dir):
    """Winnowing is per-doc (r9 shape): one MapInArrow pass, no window,
    no keyed exchange — the only Exchange ever present is the small-SF
    round-robin fan-out, which is not a data-dependent shuffle."""
    plan = plan_of(spark, sf_dir, "winnow_fingerprints")
    assert "MapInArrow" in plan
    assert "Window" not in plan
    assert "hashpartitioning" not in plan.lower()


def test_simhash_pairs_signature_persisted(spark, sf_dir):
    """The 60-aggregate signature subtree feeds both self-join sides from
    the cache — built once, never twice."""
    plan = plan_of(spark, sf_dir, "simhash_hamming_pairs")
    assert plan.count("InMemoryTableScan") >= 2
    # everything BELOW the cached relation (the formatted plan prints the
    # InMemoryRelation subtree last) may scan documents.parquet; the join
    # itself, printed above it, must read only the cache
    join_section = plan.split("InMemoryRelation")[0]
    assert "documents.parquet" not in join_section


def test_winnow_remove_no_word_relation(spark, sf_dir):
    """r10 shape: the removal is a doc-local mapInArrow sweep over
    (text, marked positions) — no posexplode of the corpus words, no
    per-word window, no collect_list reassembly; the docs⋈marks join is
    SHUFFLE_HASH (Python-relation planner stats must not pick a
    broadcast build)."""
    plan = plan_of(spark, sf_dir, "winnow_remove")
    assert plan.count("MapInArrow") >= 2  # fingerprint pass + sweep pass
    assert "Window" not in plan
    assert "Generate" not in plan  # no explode anywhere
    assert "collect_list" not in plan
    assert "ShuffledHashJoin" in plan


def test_substring_remove_no_word_relation(spark, sf_dir):
    """r10 shape: positional gram relation only (12-byte rows, no word
    strings), removal doc-local — no window, no explode, no
    collect_list; docs⋈marks is SHUFFLE_HASH-pinned."""
    plan = plan_of(spark, sf_dir, "dedup_substring_remove")
    assert plan.count("MapInArrow") >= 2  # gram build + sweep
    assert "Window" not in plan
    assert "Generate" not in plan
    assert "collect_list" not in plan
    assert "ShuffledHashJoin" in plan


def test_similarity_topk_no_cartesian(spark, sf_dir):
    """r12 verdict item 2: similarity_topk computes the exact all-pairs
    top-k WITHOUT materializing the n x 64 cross product — blocked
    matmul partials with the fold-exact rescore inside them.  No
    cartesian/nested-loop node may reappear, no join at all (the r13
    in-partial rescore removed the exact_rerank broadcast join and its
    second corpus scan), and the corpus must flow through Arrow batches
    exactly once."""
    plan = plan_of(spark, sf_dir, "similarity_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInArrow" in plan
    assert "Join" not in plan  # single corpus scan, no rerank attach
    # ONE scan node (formatted explain prints each node twice: once in
    # the tree, once in the numbered details section)
    assert plan.count("Scan parquet") == 2


def test_scan_catalog_memoizes_per_session(spark, sf_dir):
    """r13 (verdict item 4): _t resolves a table to ONE analyzed scan
    relation per (session, sf_dir, table) — spark.read.parquet costs
    ~80 ms of driver time per call and the bench pays plan construction
    inside the timed region.  The memo holds plan objects only (nothing
    executed); invalidation drops it."""
    from substreams_sink_graph_load_spark.plans import queries as q

    q._scan_catalog_invalidate()
    a = q._t(spark, sf_dir, "lineitem")
    b = q._t(spark, sf_dir, "lineitem")
    assert a is b
    e1 = q._events(spark, sf_dir)
    e2 = q._events(spark, sf_dir)
    assert e1 is e2
    q._scan_catalog_invalidate()
    c = q._t(spark, sf_dir, "lineitem")
    assert c is not a
    assert c.schema == a.schema


def exchange_keys(plan: str) -> list[str]:
    """Hash keys of the Exchange nodes in an executed plan's description
    (its Initial Plan: the adaptive Final Plan repeats them)."""
    initial = plan.split("\n\n")[0].split("== Initial Plan ==")[1]
    return sorted(
        re.search(
            rf"\({i}\) Exchange\n.*?Arguments: hashpartitioning\((\w+)#", plan, re.S
        ).group(1)
        for i in re.findall(r"Exchange \((\d+)\)", initial)
    )


# every tocsv command, whatever its entities: one last_event_block job, then
# the write (its two exchange stages and the write stage, one job each
# under AQE)
TOCSV_MAX_JOBS = 5


@pytest.mark.parametrize(
    "entities",
    [["account"], ["transfer"], ["account", "transfer"]],
    ids=["account", "transfer", "account+transfer"],
)
def test_tocsv_checks_add_no_job_or_exchange(spark, tmp_path, entities):
    """tocsv_all is one plan: over the e2e fixture it starts at most
    TOCSV_MAX_JOBS jobs for one entity or two, and its write holds one
    hash(id) exchange per mutable entity for the version window and one
    hash(target, bundle_start) exchange for file assembly.  The fatal
    checks ride the write job; the scan adds no exchange (no per-file
    line-number window), and each entity's full-schema from_json is
    evaluated once per row, not again in a pushed-down stop-block
    filter."""
    import test_pipeline_e2e as e2e

    from substreams_sink_graph_load_spark.tocsv import tocsv_all

    schema = tmp_path / "schema.graphql"
    schema.write_text(e2e.SDL)
    events = {"account": e2e.ACCOUNT_EVENTS, "transfer": e2e.TRANSFER_EVENTS}
    for entity in entities:
        for fname, evs in events[entity].items():
            e2e.write_log(tmp_path / "jsonl", entity, evs, fname=fname)
    dest = tmp_path / "csv"
    sc = spark.sparkContext

    def job_ids():
        # every job of the application, also those a helper thread starts
        # (a job group set here would not reach such a thread)
        jobs = sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList())
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    before = job_ids()
    files = tocsv_all(spark, str(tmp_path / "jsonl"), str(dest), str(schema),
                      stop_block=3000, bundle_size=1000)
    assert sorted(files) == entities
    assert len(job_ids() - before) <= TOCSV_MAX_JOBS

    runs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plan = [
        p for p in (runs.apply(i).physicalPlanDescription() for i in range(runs.size()))
        if "InsertIntoHadoopFsRelationCommand" in p and str(dest) in p
    ][-1]
    assert exchange_keys(plan) == ["id"] * entities.count("account") + ["target"]
    assert re.search(r"hashpartitioning\(target#\d+, bundle_start#\d+L, ", plan)
    # one parse node over the scan: no pruned copy of from_json in a
    # stop-block filter pushed below the full-schema projection
    initial = plan.split("\n\n")[0].split("== Initial Plan ==")[1]
    details = {
        d[1:].split(")")[0]: d for d in re.split(r"\n\n(?=\(\d+\) )", plan)
    }
    parses = [details[i] for i in re.findall(r"\((\d+)\)$", initial, re.M)
              if "from_json(" in details[i]]
    assert len(parses) == len(entities), plan
    for parse in parses:
        assert parse.count("from_json(StructField(entity_change,") == 1, plan
