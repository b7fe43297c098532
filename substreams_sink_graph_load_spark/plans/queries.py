"""Named query registry — the engine's operator contract (SURVEY §2.12).

Every entry is a deterministic DataFrame transform over the driver testdata
tables, paired with an ANSI-SQL oracle (DuckDB) producing identical rows.

Determinism rules (the driver hash-compares values order-insensitively):

- Money/measure aggregates run in **integer cents** (``round(x*100)`` cast
  to bigint) so the sum is exact and order-independent, then divide by a
  power of ten at the end — float summation order can never skew a result.
- Timestamps cross engines as ``unix_micros`` bigints or formatted strings,
  never as raw timestamp columns (dtype parity).
- Every count/size is cast to bigint, every DuckDB ``sum`` wrapped in
  ``cast(... as bigint)`` (DuckDB sums to hugeint, Spark to long).
- Window ranks always carry full tie-breakers.

Scale notes are inline per query; the common themes: dimension joins are
broadcast, aggregations are partial-before-shuffle by construction, filters
sit directly on the parquet scan so pushdown/pruning applies, and nothing
ever collects to the driver.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pandas as pd  # module-level: pandas_udf resolves stringized hints here

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        # a silent overwrite would drop an existing registry entry the
        # driver's CORRECTNESS history still references — fail loudly
        assert name not in QUERIES, f"duplicate registry name: {name}"
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Per-session scan-relation catalog (r13, verdict item 4 "catalog
# roundtrips"): ``spark.read.parquet`` costs ~80 ms of DRIVER time per
# call (file listing + footer schema inference + Py4J), and every query
# function pays it per table per invocation INSIDE the bench's timed
# region — q5's six tables were ~0.5 s of plan construction before a
# single task ran.  A real engine resolves a table to a cached catalog
# relation instead of re-listing files per query; this dict is that
# catalog: keyed by (SparkContext identity, sf_dir, table), it memoizes
# the ANALYZED scan DataFrame — an immutable, unexecuted plan object.
# Execution still scans the parquet files fresh on every action (nothing
# about rows or results is cached, and the memo dies with the process);
# ``_scan_catalog_invalidate()`` drops it if source files are rewritten
# mid-session (the generators never do).
_SCAN_CATALOG: dict[tuple[int, str, str], DataFrame] = {}


def _scan_catalog_invalidate() -> None:
    _SCAN_CATALOG.clear()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Registry table loader: the sf_dir parquet, memoized in the scan
    catalog above."""
    key = (id(spark.sparkContext), os.path.normpath(sf_dir), name)
    df = _SCAN_CATALOG.get(key)
    if df is None:
        # the memo value holds the session alive, so the id() key cannot
        # be reused by a different live context
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _SCAN_CATALOG[key] = df
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events.parquet robustly across testdata vintages.

    Older generators wrote ``ts`` as TIMESTAMP(NANOS), which Spark's reader
    only accepts as int64 via the legacy ``nanosAsLong`` flag; we then
    truncate ns->us exactly like DuckDB does on read.  Newer generators
    write ``timestamp[us]`` which loads natively (as TIMESTAMP_NTZ).
    Inspect the dtype the reader actually produced and normalize both
    vintages to a microsecond TIMESTAMP column.  The session timezone is
    pinned to UTC (session.py), so TIMESTAMP here carries the same wall
    values as the timezone-naive DuckDB oracle, and downstream consumers
    keep the ltz-only operators (``unix_micros``, bigint casts for RANGE
    frames) that the r2-verified plans rely on.

    The legacy flag is SCOPED: saved, set for the read, and restored once
    the schema is resolved.  Spark captures the flag at analysis time (the
    footer is read when the DataFrame is created), so execution of the
    returned lazy plan does not depend on the session value — verified by
    test_events_nanos_flag_scoped, which collects a nanos fixture after
    the restore.  A co-hosted workload that *wants* the nanos error keeps
    getting it."""
    # same scan catalog as _t (the vintage probe is analysis-time work —
    # the docstring's flag-scoping argument is exactly why the NORMALIZED
    # frame is safe to memoize: its plan no longer depends on the flag)
    key = (id(spark.sparkContext), os.path.normpath(sf_dir), "__events__")
    memo = _SCAN_CATALOG.get(key)
    if memo is not None:
        return memo
    flag = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(flag, None)
    spark.conf.set(flag, "true")
    try:
        e = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(e.dtypes)["ts"]  # forces footer read / analysis
    finally:
        if prior is None:
            spark.conf.unset(flag)
        else:
            spark.conf.set(flag, prior)
    if ts_type == "bigint":
        e = e.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
        )
    else:
        e = e.withColumn("ts", F.col("ts").cast("timestamp"))
    _SCAN_CATALOG[key] = e
    return e


def _cents(col) -> F.Column:
    """Exact integer cents from a 2-decimal double (order-independent sums)."""
    return F.round(col * 100).cast("long")


# ---------------------------------------------------------------------------
# Relational contract: aggregations
# ---------------------------------------------------------------------------

@_q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           cast(sum(cast(round(l_quantity*100) AS bigint)) AS bigint)/100.0 AS sum_qty,
           cast(sum(cast(round(l_extendedprice*100) AS bigint)) AS bigint)/100.0 AS sum_base_price,
           cast(sum(cast(round(l_extendedprice*100) AS bigint) * (100 - cast(round(l_discount*100) AS bigint))) AS bigint)/10000.0 AS sum_disc_price,
           cast(sum(cast(round(l_extendedprice*100) AS bigint) * (100 - cast(round(l_discount*100) AS bigint)) * (100 + cast(round(l_tax*100) AS bigint))) AS bigint)/1000000.0 AS sum_charge,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-heavy hash aggregation with map-side combine.

    Scale: filter + 6-column projection push down to the parquet scan; the
    shuffle carries only 4 grouping values x partial sums.
    """
    l = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    ep, disc, tax = _cents(F.col("l_extendedprice")), _cents(F.col("l_discount")), _cents(F.col("l_tax"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(_cents(F.col("l_quantity"))) / 100.0).alias("sum_qty"),
            (F.sum(ep) / 100.0).alias("sum_base_price"),
            (F.sum(ep * (100 - disc)) / 10000.0).alias("sum_disc_price"),
            (F.sum(ep * (100 - disc) * (100 + tax)) / 1000000.0).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "q6_forecast_revenue",
    """
    SELECT cast(sum(cast(round(l_extendedprice*100) AS bigint) * cast(round(l_discount*100) AS bigint)) AS bigint)/10000.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND round(l_discount*100) BETWEEN 4 AND 7
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure predicate-pushdown scan -> single global sum."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.round(F.col("l_discount") * 100).between(4, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg((F.sum(_cents(F.col("l_extendedprice")) * _cents(F.col("l_discount"))) / 10000.0).alias("revenue"))
    )


@_q(
    "agg_rollup_orders",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
           cast(sum(cast(round(o_totalprice*100) AS bigint)) AS bigint)/100.0 AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup_orders(spark, sf_dir):
    """ROLLUP grouping sets (subtotals + grand total in one pass)."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"),
        (F.sum(_cents(F.col("o_totalprice"))) / 100.0).alias("total"),
    )


@_q(
    "agg_cube_part",
    """
    SELECT p_brand, p_size, count(*) AS cnt,
           cast(sum(cast(round(p_retailprice*100) AS bigint)) AS bigint)/100.0 AS retail
    FROM part GROUP BY CUBE (p_brand, p_size)
    """,
)
def agg_cube_part(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.cube("p_brand", "p_size").agg(
        F.count("*").alias("cnt"),
        (F.sum(_cents(F.col("p_retailprice"))) / 100.0).alias("retail"),
    )


@_q(
    "agg_grouping_sets",
    """
    SELECT n_regionkey, n_name, cast(count(*) AS bigint) AS cnt
    FROM nation GROUP BY GROUPING SETS ((n_regionkey), (n_name), ())
    """,
)
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (beyond rollup/cube): per-region, per-name,
    and grand-total groups in one pass — Catalyst expands to a single
    Expand + hash agg, still one shuffle."""
    n = _t(spark, sf_dir, "nation")
    n.createOrReplaceTempView("nation_gs")
    return spark.sql(
        """
        SELECT n_regionkey, n_name, cast(count(*) AS long) AS cnt
        FROM nation_gs GROUP BY GROUPING SETS ((n_regionkey), (n_name), ())
        """
    )


@_q(
    "scalar_array_funcs",
    """
    SELECT doc_id,
           list_sort(list_distinct(string_split(text, ' ')))[1] AS first_word,
           cast(len(list_filter(string_split(text, ' '), w -> length(w) > 4)) AS bigint) AS n_long_words,
           array_to_string(list_slice(list_sort(list_distinct(string_split(text, ' '))), 1, 3), '|') AS top3_words,
           cast(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS bigint) AS total_chars
    FROM documents
    """,
)
def scalar_array_funcs(spark, sf_dir):
    """Array function surface: sort/distinct/filter/slice/transform/
    aggregate — all JVM built-ins over the split word array."""
    d = _t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    distinct_sorted = F.array_sort(F.array_distinct(words))
    return d.select(
        "doc_id",
        F.get(distinct_sorted, 0).alias("first_word"),
        F.size(F.filter(words, lambda w: F.length(w) > 4)).cast("long").alias("n_long_words"),
        F.array_join(F.slice(distinct_sorted, 1, 3), "|").alias("top3_words"),
        F.aggregate(
            words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).alias("total_chars"),
    )


@_q(
    "agg_count_distinct",
    """
    SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_count_distinct(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Relational contract: joins
# ---------------------------------------------------------------------------

@_q(
    "q3_shipping_priority",
    """
    SELECT o_orderkey,
           cast(sum(cast(round(l_extendedprice*100) AS bigint) * (100 - cast(round(l_discount*100) AS bigint))) AS bigint)/10000.0 AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate
    QUALIFY row_number() OVER (ORDER BY revenue DESC, o_orderkey) <= 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective filters -> shuffle joins -> agg -> top-k.

    Scale: every join side here grows with the fact tables (customer and
    orders both scale with SF), so nothing carries a compile-time broadcast
    hint -- AQE size-gates the joins at runtime (broadcasting the small side
    at test SF, shuffle-hash/sort-merge on the join keys at 100 TB).  The
    orders<->lineitem join co-shuffles on orderkey once; top-k is a
    distributed partial top-10 per partition + driver merge
    (TakeOrderedAndProject), never a single-partition global window.
    """
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    # join order: shrink orders by the selective segment filter FIRST so the
    # side reaching the big lineitem join is ~5x smaller (CBO-less Catalyst
    # won't reorder the chain itself); AQE decides broadcast-vs-shuffle from
    # the actual runtime sizes.
    o_building = o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "o_orderdate"
    )
    joined = l.join(o_building, F.col("l_orderkey") == F.col("o_orderkey"))
    agg = joined.groupBy("o_orderkey", "o_orderdate").agg(
        (
            F.sum(_cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount"))))
            / 10000.0
        ).alias("revenue")
    )
    # orderBy().limit() compiles to TakeOrderedAndProject: each partition
    # keeps its local top-10, the driver merges k*partitions rows -- O(k)
    # driver work regardless of how many orders qualify.
    return (
        agg.orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
    )


@_q(
    "q5_region_revenue",
    """
    SELECT n_name,
           cast(sum(cast(round(l_extendedprice*100) AS bigint) * (100 - cast(round(l_discount*100) AS bigint))) AS bigint)/10000.0 AS revenue
    FROM region JOIN nation   ON n_regionkey = r_regionkey
                JOIN supplier ON s_nationkey = n_nationkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders   ON o_custkey  = c_custkey
                JOIN lineitem ON l_orderkey = o_orderkey AND l_suppkey = s_suppkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark, sf_dir):
    """TPC-H Q5 shape: star join with broadcast hints ONLY on the true
    fixed-cardinality dimensions (region 5 rows, nation 25 rows -- their size
    does not grow with SF).  customer/supplier/orders/lineitem all scale with
    the data, so their joins carry no hint: AQE broadcasts the small side at
    test SF and falls back to co-partitioned shuffle joins (custkey ->
    orderkey -> suppkey) at 100 TB.  One final tiny shuffle for the 5-group
    n_name aggregate."""
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    # nation x region after the ASIA filter is exactly 5 rows: the one join
    # side whose size is a schema constant, hence the one explicit broadcast.
    dims = n.join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    co = c.join(F.broadcast(dims), F.col("c_nationkey") == F.col("n_nationkey"))
    oc = o.join(co, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "c_nationkey", "n_name"
    )
    joined = l.join(oc, F.col("l_orderkey") == F.col("o_orderkey")).join(
        s,
        (F.col("l_suppkey") == F.col("s_suppkey"))
        & (F.col("s_nationkey") == F.col("c_nationkey")),
    )
    return joined.groupBy("n_name").agg(
        (
            F.sum(_cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount"))))
            / 10000.0
        ).alias("revenue")
    )


@_q(
    "join_semi_nations",
    """
    SELECT n_name, count(*) AS n_customers
    FROM nation JOIN customer ON c_nationkey = n_nationkey
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                                         AND o_totalprice > 300000)
    GROUP BY n_name
    """,
)
def join_semi_nations(spark, sf_dir):
    """Left-semi join (EXISTS): customers with at least one big order."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    big = c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
    return (
        big.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


@_q(
    "join_anti_customers",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti_customers(spark, sf_dir):
    """Left-anti join (NOT EXISTS): customers with no orders at all."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti").select(
        "c_custkey", "c_name"
    )


@_q(
    "join_broadcast_segments",
    """
    SELECT c_mktsegment, count(*) AS n_orders,
           cast(sum(cast(round(o_totalprice*100) AS bigint)) AS bigint)/100.0 AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_broadcast_segments(spark, sf_dir):
    """Fact-to-dim hash join + 5-row aggregate.  No compile-time broadcast
    hint: customer scales with SF (150k rows/SF, ~2-3 GB at SF100 — well
    past any sane broadcast threshold even though not TB-sized), so the
    build-side choice belongs to AQE, which broadcasts from *measured*
    stage size when the pruned (2-column) dim fits and falls back to a
    shuffle join when it doesn't.  Same policy as q3/q5."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum(_cents(F.col("o_totalprice"))) / 100.0).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# Relational contract: windows / sort / top-k / set ops
# ---------------------------------------------------------------------------

@_q(
    "window_topk_per_segment",
    """
    SELECT c_mktsegment, o_orderkey, rank FROM (
      SELECT c_mktsegment, o_orderkey,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rank
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rank <= 3
    """,
)
def window_topk_per_segment(spark, sf_dir):
    """Top-k per group via ranked window (k=3 biggest orders a segment).
    The customer side scales with SF, so no compile-time broadcast hint —
    AQE size-gates the join strategy at runtime (q3/q5 policy)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, F.col("o_custkey") == F.col("c_custkey"))
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("c_mktsegment", "o_orderkey", "rank")
    )


@_q(
    "window_running_total",
    """
    SELECT o_custkey, o_orderkey,
           cast(sum(cast(round(o_totalprice*100) AS bigint))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS running_cents
    FROM orders
    """,
)
def window_running_total(spark, sf_dir):
    """Running per-customer order total (frame-spec window aggregation)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_cents(F.col("o_totalprice"))).over(w).alias("running_cents"),
    )


@_q(
    "window_lag_delta",
    """
    SELECT user_id, event_id,
           cast(round(value*100) AS bigint)
             - lag(cast(round(value*100) AS bigint))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta_cents
    FROM events
    """,
)
def window_lag_delta(spark, sf_dir):
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v = _cents(F.col("value"))
    return e.select(
        "user_id", "event_id", (v - F.lag(v).over(w)).alias("delta_cents")
    )


@_q(
    "sort_limit_top10",
    """
    SELECT l_orderkey, l_linenumber, cast(round(l_extendedprice*100) AS bigint) AS price_cents
    FROM lineitem
    ORDER BY price_cents DESC, l_orderkey, l_linenumber
    LIMIT 10
    """,
)
def sort_limit_top10(spark, sf_dir):
    """Global top-N: Spark plans TakeOrderedAndProject — per-partition heap +
    driver merge of N rows, never a full sort."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.select(
            "l_orderkey",
            "l_linenumber",
            _cents(F.col("l_extendedprice")).alias("price_cents"),
        )
        .orderBy(F.desc("price_cents"), "l_orderkey", "l_linenumber")
        .limit(10)
    )


_RICH = "SELECT c_custkey FROM customer WHERE c_acctbal > 5000"
_BUILD = "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"


@_q("set_union", f"{_RICH} UNION {_BUILD}")
def set_union(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    rich = c.where(F.col("c_acctbal") > 5000).select("c_custkey")
    bld = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return rich.union(bld).distinct()


@_q("set_intersect", f"{_RICH} INTERSECT {_BUILD}")
def set_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    rich = c.where(F.col("c_acctbal") > 5000).select("c_custkey")
    bld = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return rich.intersect(bld)


@_q("set_except", f"{_RICH} EXCEPT {_BUILD}")
def set_except(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    rich = c.where(F.col("c_acctbal") > 5000).select("c_custkey")
    bld = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return rich.exceptAll(bld).distinct()


# ---------------------------------------------------------------------------
# Relational contract: scalar functions
# ---------------------------------------------------------------------------

@_q(
    "scalar_string_funcs",
    """
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           cast(length(p_name) AS bigint) AS name_len,
           substr(p_type, 1, 6) AS type_prefix,
           replace(p_brand, '#', '-') AS brand_norm,
           concat(p_brand, ':', p_type) AS brand_type,
           cast(len(string_split(p_name, ' ')) AS bigint) AS name_words
    FROM part
    """,
)
def scalar_string_funcs(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 6).alias("type_prefix"),
        F.regexp_replace("p_brand", "#", "-").alias("brand_norm"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.size(F.split("p_name", " ")).cast("long").alias("name_words"),
    )


@_q(
    "scalar_date_funcs",
    """
    SELECT o_orderkey,
           cast(year(o_orderdate) AS int) AS order_year,
           cast(month(o_orderdate) AS int) AS order_month,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           cast(datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS bigint) AS days_since_epoch_start
    FROM orders
    """,
)
def scalar_date_funcs(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch_start"),
    )


@_q(
    "scalar_json_extract",
    """
    SELECT event_id, cast(json_extract_string(props, '$.k') AS bigint) AS k_val
    FROM events WHERE event_type = 'purchase'
    """,
)
def scalar_json_extract(spark, sf_dir):
    e = _events(spark, sf_dir).where(F.col("event_type") == "purchase")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )


# ---------------------------------------------------------------------------
# Event-time windows (batch equivalents of the streaming operators)
# ---------------------------------------------------------------------------

@_q(
    "events_tumbling_hour",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS cnt,
           cast(sum(cast(round(value*100) AS bigint)) AS bigint) AS value_cents
    FROM events GROUP BY 1, 2
    """,
)
def events_tumbling_hour(spark, sf_dir):
    """Tumbling event-time window aggregation (streaming T2 batch shape)."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(_cents(F.col("value"))).alias("value_cents"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "cnt",
            "value_cents",
        )
    )


@_q(
    "events_sliding_window",
    """
    SELECT ws_epoch, count(*) AS cnt FROM (
      SELECT cast(floor(epoch(ts)/1800)*1800 - off.o*1800 AS bigint) AS ws_epoch
      FROM events, (VALUES (0),(1)) off(o)
    ) GROUP BY ws_epoch
    """,
)
def events_sliding_window(spark, sf_dir):
    """Sliding window (1h length, 30m slide): each event lands in 2 windows."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_timestamp(F.col("w.start")).alias("ws_epoch"), "cnt")
    )


@_q(
    "events_sessionize",
    """
    WITH g AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                  OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), s AS (
      SELECT user_id, ts_us,
             cast(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS sess_id
      FROM g
    )
    SELECT user_id, sess_id, count(*) AS n_events,
           min(ts_us) AS session_start_us,
           max(ts_us) - min(ts_us) AS duration_us
    FROM s GROUP BY user_id, sess_id
    """,
)
def events_sessionize(spark, sf_dir):
    """Session windows with a 30-minute inactivity gap (streaming T4 batch
    shape) — lag + cumulative-sum session ids, one shuffle on user_id."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts"))
    new_sess = F.when(
        F.lag(ts_us).over(w).isNull() | ((ts_us - F.lag(ts_us).over(w)) > 1_800_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    # tiebreak on event_id: two events sharing a microsecond must land in
    # an engine-independent session (matches the lag window's order)
    run = Window.partitionBy("user_id").orderBy(ts_us, F.col("event_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = (
        e.withColumn("ts_us", ts_us)
        .withColumn("new_sess", new_sess)
        .withColumn("sess_id", F.sum("new_sess").over(run))
    )
    return sess.groupBy("user_id", "sess_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )


# ---------------------------------------------------------------------------
# Parity ops: SCD-2 / bundling / Postgres CSV over a synthesized change-log
# ---------------------------------------------------------------------------

_SYNTH_LOG_SQL = """
      SELECT cast(user_id AS varchar) AS id,
             event_id AS seq,
             event_id // 10 AS block_num,
             CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY event_id) = 1 THEN 1
                  WHEN event_type = 'error' THEN 3
                  WHEN event_type = 'churn' THEN 4
                  ELSE 2 END AS operation,
             value AS f_value,
             event_type AS f_type
      FROM events
"""


def _synth_log(spark, sf_dir):
    """Deterministic entity-change log derived from the events table: the
    first event per user CREATEs it, 'error' DELETEs, the rest UPDATE."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id")
    return e.select(
        F.col("user_id").cast("string").alias("id"),
        F.col("event_id").alias("seq"),
        F.expr("event_id div 10").alias("block_num"),
        F.when(F.row_number().over(w) == 1, F.lit(1))
        .when(F.col("event_type") == "error", F.lit(3))
        .when(F.col("event_type") == "churn", F.lit(4))
        .otherwise(F.lit(2))
        .alias("operation"),
        F.col("value").alias("f_value"),
        F.col("event_type").alias("f_type"),
    )


@_q(
    "scd2_versions",
    f"""
    WITH log AS ({_SYNTH_LOG_SQL}),
    lf AS (
      SELECT *,
        coalesce(sum(CASE WHEN operation IN (3,4) THEN 1 END)
                 OVER (PARTITION BY id ORDER BY block_num, seq
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lifetime,
        lead(operation) OVER (PARTITION BY id ORDER BY block_num, seq) AS next_op,
        lead(block_num) OVER (PARTITION BY id ORDER BY block_num, seq) AS next_block
      FROM log
    ),
    ver AS (
      SELECT id, operation, block_num AS block_range_start,
        CASE WHEN next_op IN (1,2,3) THEN next_block END AS block_range_end,
        last_value(CASE WHEN operation IN (1,2) THEN f_value END IGNORE NULLS)
          OVER (PARTITION BY id, lifetime ORDER BY block_num, seq
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f_value,
        last_value(CASE WHEN operation IN (1,2) THEN f_type END IGNORE NULLS)
          OVER (PARTITION BY id, lifetime ORDER BY block_num, seq
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f_type
      FROM lf
    )
    SELECT id, block_range_start, block_range_end, f_value, f_type
    FROM ver WHERE operation IN (1,2)
    """,
)
def scd2_versions_q(spark, sf_dir):
    """The core reference operator (§2.3) over a synthesized change-log.

    The oracle re-implements the semantics with standard window SQL; the
    engine runs the production single-shuffle operator.
    """
    from ..operators.scd2 import scd2_versions

    log = _synth_log(spark, sf_dir)
    return scd2_versions(log, field_cols=["f_value", "f_type"]).drop("emit_block")


@_q(
    "scd2_state_at_block",
    f"""
    WITH log AS ({_SYNTH_LOG_SQL}),
    lf AS (
      SELECT *,
        coalesce(sum(CASE WHEN operation IN (3,4) THEN 1 END)
                 OVER (PARTITION BY id ORDER BY block_num, seq
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lifetime,
        lead(operation) OVER (PARTITION BY id ORDER BY block_num, seq) AS next_op,
        lead(block_num) OVER (PARTITION BY id ORDER BY block_num, seq) AS next_block
      FROM log
    ),
    ver AS (
      SELECT id, operation, block_num AS block_range_start,
        CASE WHEN next_op IN (1,2,3) THEN next_block END AS block_range_end,
        last_value(CASE WHEN operation IN (1,2) THEN f_value END IGNORE NULLS)
          OVER (PARTITION BY id, lifetime ORDER BY block_num, seq
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f_value
      FROM lf
    )
    SELECT id, block_range_start, block_range_end, f_value
    FROM ver
    WHERE operation IN (1,2)
      AND block_range_start <= 500
      AND (block_range_end IS NULL OR block_range_end > 500)
    """,
)
def scd2_state_at_block_q(spark, sf_dir):
    """graph-node's primary READ pattern: entity state as-of block 500
    (``block_range @> 500``).  The containment predicate sits on the
    version output — on bundle-partitioned storage the start bound prunes
    partitions; at most one version per id survives."""
    from ..operators.scd2 import scd2_versions, state_at_block

    log = _synth_log(spark, sf_dir)
    versions = scd2_versions(log, field_cols=["f_value", "f_type"])
    return state_at_block(versions, 500).select(
        "id", "block_range_start", "block_range_end", "f_value"
    )


@_q(
    "scd2_validate_ops",
    f"""
    WITH log AS ({_SYNTH_LOG_SQL}),
    lf AS (
      SELECT *,
        coalesce(sum(CASE WHEN operation IN (3,4) THEN 1 END)
                 OVER (PARTITION BY id ORDER BY block_num, seq
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt
      FROM log
    ),
    st AS (
      SELECT *,
        max(CASE WHEN operation IN (1,2) THEN lt END)
          OVER (PARTITION BY id ORDER BY block_num, seq
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS started
      FROM lf
    )
    SELECT id, block_num, operation, issue FROM (
      SELECT id, block_num, operation,
             CASE WHEN operation = 1 AND coalesce(started = lt, false)
                    THEN 'create_on_live'
                  WHEN operation = 3 AND NOT coalesce(started = lt, false)
                    THEN 'delete_unseen' END AS issue
      FROM st
    ) WHERE issue IS NOT NULL
    """,
)
def scd2_validate_ops_q(spark, sf_dir):
    """Operation-sequence violation report (reference-fatal paths
    processor.go:238-241, 288-293) over the synthesized change-log —
    double-DELETEs in the event stream surface as delete_unseen."""
    from ..operators.scd2 import validate_ops

    log = _synth_log(spark, sf_dir)
    return validate_ops(log)


@_q(
    "scd2_immutable_rows",
    f"""
    WITH log AS ({_SYNTH_LOG_SQL})
    SELECT id, block_num AS "block$", f_value, f_type
    FROM log WHERE operation IN (1, 2)
    """,
)
def scd2_immutable_rows_q(spark, sf_dir):
    """Immutable-entity layout (§2.3 CREATE-immutable): emit-on-arrival."""
    from ..operators.scd2 import immutable_rows

    log = _synth_log(spark, sf_dir)
    return immutable_rows(log, field_cols=["f_value", "f_type"])


@_q(
    "bundle_assign",
    """
    SELECT event_id, b - b % 1000 AS bundle_start,
           printf('%010d-%010d', b - b % 1000, b - b % 1000 + 999) AS bundle_file
    FROM (SELECT event_id, event_id // 10 AS b FROM events)
    """,
)
def bundle_assign_q(spark, sf_dir):
    """Tumbling block-count bundles + reference file naming (§2.10 T2)."""
    from ..operators.bundles import bundle_start_col

    e = _events(spark, sf_dir).select(
        "event_id", F.expr("event_id div 10").alias("b")
    )
    bs = bundle_start_col(F.col("b"), 1000)
    return e.select(
        "event_id",
        bs.alias("bundle_start"),
        F.format_string("%010d-%010d", bs, bs + 999).alias("bundle_file"),
    )


@_q(
    "pg_csv_format",
    r"""
    SELECT doc_id,
           '\x' || lower(hex(encode(substr(text, 1, 8)))) AS bytea_lit,
           '{' || array_to_string(
                    list_transform(string_split(substr(text, 1, 40), ' '),
                                   w -> replace(replace(w, '\', '\\'), ',', '\,')),
                    ',') || '}' AS arr_lit,
           printf('[%d,%d)', doc_id, doc_id + 10) AS range_lit,
           CASE WHEN lang = 'en' THEN lang ELSE 'NULL' END AS null_rendered
    FROM documents
    """,
)
def pg_csv_format_q(spark, sf_dir):
    """Postgres rendering expression bundle (§2.9 F2-F8) exercised as data:
    bytea hex, escaped array literal, int4range, NULL defaulting."""
    from ..operators.pg_csv import bytea_hex, pg_array, pg_block_range

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        bytea_hex(F.encode(F.substring("text", 1, 8), "UTF-8")).alias("bytea_lit"),
        pg_array(F.split(F.substring("text", 1, 40), " "), lambda e: e).alias("arr_lit"),
        pg_block_range(F.col("doc_id"), F.col("doc_id") + 10).alias("range_lit"),
        F.coalesce(
            F.when(F.col("lang") == "en", F.col("lang")), F.lit("NULL")
        ).alias("null_rendered"),
    )


# ---------------------------------------------------------------------------
# LLM-pipeline extension ops: text stats / dedup / similarity
# ---------------------------------------------------------------------------

@_q(
    "text_stats",
    """
    SELECT doc_id,
           cast(length(text) AS bigint) AS n_chars_computed,
           cast(len(string_split(text, ' ')) AS bigint) AS n_words,
           cast(len(list_distinct(string_split(text, ' '))) AS bigint) AS n_distinct_words,
           cast(len(list_filter(string_split(text, ' '),
                                w -> w IN ('the', 'a', 'data', 'row'))) AS bigint) AS n_stopwords
    FROM documents
    """,
)
def text_stats(spark, sf_dir):
    """Per-document quality stats: char/word/distinct/stopword counts —
    all built-in array expressions, zero Python in the row path."""
    d = _t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    stop = F.array(*[F.lit(w) for w in ("the", "a", "data", "row")])
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_computed"),
        F.size(words).cast("long").alias("n_words"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct_words"),
        F.size(F.filter(words, lambda w: F.array_contains(stop, w))).cast("long").alias("n_stopwords"),
    )


@_q(
    "lang_id_heuristic",
    """
    SELECT doc_id, lang,
           cast(floor((1000000.0 * len(list_filter(string_split(text, ' '),
                 w -> w IN ('the', 'a', 'of', 'and', 'to', 'in')))) / len(string_split(text, ' '))) AS bigint) AS en_score_ppm
    FROM documents
    """,
)
def lang_id_heuristic(spark, sf_dir):
    """Stopword-ratio language scoring (n-gram-heuristic stand-in) — the
    score is exact integer ppm so engines hash identically."""
    d = _t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    stop = F.array(*[F.lit(w) for w in ("the", "a", "of", "and", "to", "in")])
    hits = F.size(F.filter(words, lambda w: F.array_contains(stop, w)))
    return d.select(
        "doc_id",
        "lang",
        F.floor((1000000.0 * hits) / F.size(words)).cast("long").alias("en_score_ppm"),
    )


@_q(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, count(*) AS n_copies,
           min(doc_id) AS keep_doc_id
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup via content hash group-by: one shuffle on the hash, the
    canonical survivor is min(doc_id).  At 100 TB the hash (not the text)
    is the shuffle key — constant width per row."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count("*").alias("n_copies"),
        F.min("doc_id").alias("keep_doc_id"),
    )


@_q(
    "similarity_topk",
    """
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
               WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 64),
    p AS (SELECT q.q_id, e.vec_id AS neighbor_id,
                 list_inner_product(cast(e.embedding AS DOUBLE[]),
                                    cast(q.q_emb AS DOUBLE[])) AS dot
          FROM embeddings e, q WHERE e.vec_id != q.q_id)
    SELECT q_id, neighbor_id, rank FROM (
      SELECT q_id, neighbor_id,
             row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, neighbor_id) AS rank
      FROM p
    ) WHERE rank <= 5
    """,
)
def similarity_topk(spark, sf_dir):
    """Exact all-pairs top-k for a bounded query sample — the same rows
    the brute-force crossJoin produced, computed in ONE corpus scan
    (r12 verdict item 2: the contract is the exact RESULT, not the
    crossJoin PLAN, and the crossJoin materialized O(n * 64) pairs
    through a window — the one remaining 100 TB scale-killer).

    Shape shared with ann_topk_matmul: Arrow batches -> one BLAS
    corpus_batch @ queries.T per batch -> tie-safe per-batch partial
    top-(5+8) by BLAS score -> fold-exact rescore of those <=13
    candidates IN the partial (np.cumsum is a strict left-to-right
    accumulation, bit-identical to DuckDB's list_inner_product) -> tiny
    global merge ranks by the exact fold dot.  The BLAS top-13 provably
    contains the fold top-5 unless >= 9 candidates sit within
    float-accumulation noise of the 5th score — impossible on continuous
    data.  Shuffle volume O(batches*k*queries), never |corpus|*64; the
    query collect is capped (limit=64), not corpus-scaled; no second
    corpus scan (the r13 exact_rerank join is gone).
    """
    from ..operators.ann import sample_queries, topk_matmul

    e = _t(spark, sf_dir, "embeddings")
    qs = sample_queries(e, 100, limit=64)
    return topk_matmul(e, qs, k=5, pad=8, fold_rescore=True)


@_q(
    "scalar_math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           abs(cast(round(l_extendedprice*100) AS bigint) - 100000) AS abs_delta_cents,
           cast(round(l_extendedprice*100) AS bigint) % 97 AS mod97,
           cast(floor(sqrt(cast(round(l_extendedprice*100) AS bigint))) AS bigint) AS sqrt_floor,
           cast(floor(ln(cast(round(l_extendedprice*100) AS bigint)) * 1000) AS bigint) AS ln_milli,
           cast(power(cast(l_linenumber AS bigint), 3) AS bigint) AS line_cubed
    FROM lineitem WHERE l_orderkey % 200 = 0
    """,
)
def scalar_math_funcs_q(spark, sf_dir):
    """Math function surface: abs/mod/sqrt/ln/power over exact integer
    cents, outputs floored to integers so both engines hash identically."""
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 200 == 0)
    cents = _cents(F.col("l_extendedprice"))
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(cents - 100000).alias("abs_delta_cents"),
        (cents % 97).alias("mod97"),
        F.floor(F.sqrt(cents)).cast("long").alias("sqrt_floor"),
        F.floor(F.log(cents) * 1000).cast("long").alias("ln_milli"),
        F.pow(F.col("l_linenumber").cast("long"), 3).cast("long").alias("line_cubed"),
    )


@_q(
    "join_left_outer",
    """
    SELECT c_custkey,
           cast(count(o_orderkey) AS bigint) AS n_orders,
           cast(coalesce(sum(cast(round(o_totalprice*100) AS bigint)), 0) AS bigint) AS spend_cents
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer_q(spark, sf_dir):
    """LEFT OUTER join preserving customers with zero orders (count of the
    nullable side skips nulls; sum coalesces to 0) — the outer-join member
    of the §2.12 join contract."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(_cents(F.col("o_totalprice"))), F.lit(0))
            .cast("long")
            .alias("spend_cents"),
        )
    )


@_q(
    "agg_salted",
    """
    SELECT l_returnflag,
           cast(sum(cast(round(l_extendedprice*100) AS bigint)) AS bigint) AS s,
           cast(count(l_extendedprice) AS bigint) AS n,
           cast(min(cast(round(l_extendedprice*100) AS bigint)) AS bigint) AS mn,
           cast(max(cast(round(l_extendedprice*100) AS bigint)) AS bigint) AS mx
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_salted_q(spark, sf_dir):
    """Two-phase salted aggregation over the 3-value (maximally skewed)
    return-flag key — result-identical to the plain GROUP BY the oracle
    runs: the salt stage bounds any single reducer's share of a hot key to
    ~1/salts, the algebraic rewrite changes nothing observable."""
    from ..operators.skew import salted_agg

    l = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", _cents(F.col("l_extendedprice")).alias("cents")
    )
    return salted_agg(
        l,
        ["l_returnflag"],
        {"s": ("sum", "cents"), "n": ("count", "cents"),
         "mn": ("min", "cents"), "mx": ("max", "cents")},
        salts=16,
    )


@_q(
    "decimal_arithmetic",
    """
    SELECT l_returnflag,
           cast(sum(cast(cast(l_extendedprice AS DECIMAL(38,6))
               * (1 - cast(l_discount AS DECIMAL(38,6))) AS DECIMAL(38,6))) AS DOUBLE) AS net_revenue,
           cast(sum(cast(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def decimal_arithmetic_q(spark, sf_dir):
    """Exact DecimalType(38,6) arithmetic (SURVEY §1.2: the BigDecimal
    arithmetic carrier): decimal multiply + sum is exact and therefore
    order-independent across engines — no integer-cents workaround needed.
    Each operand cast BEFORE multiplying, and the product truncated back to
    (38,6) in both engines so scale propagation rules can't diverge."""
    l = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(38,6)")
    net = (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast(
        "decimal(38,6)"
    )
    # the aggregation is exact decimal; only the FINAL value casts to double
    # (identical exact sums -> identical doubles; comparing raw decimals
    # trips dtype mismatches between engines' client libraries)
    return l.groupBy("l_returnflag").agg(
        F.sum(net).cast("double").alias("net_revenue"),
        F.sum(dec("l_quantity")).cast("double").alias("total_qty"),
    )


@_q(
    "agg_approx_distinct",
    """
    SELECT event_type,
           cast(count(*) AS bigint) AS n_events,
           cast(count(DISTINCT user_id) AS bigint) AS exact_users,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type
    """,
)
def agg_approx_distinct_q(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++): the sketch-based cardinality
    path for 100 TB group-bys where exact count-distinct's per-key dedup
    shuffle is prohibitive.  HLL register values are engine-specific, so
    the oracle pins the sketch's CONTRACT instead of its internals: the
    output carries the exact cardinality (hash-checked value-for-value
    against DuckDB) plus a boolean asserting the rsd=1% sketch landed
    within 5% of it — deterministic (HLL++ has no RNG; same data -> same
    registers -> same estimate), so a broken sketch flips the boolean and
    the hash.  Both aggregates run in the SAME groupBy (one shuffle,
    partial-before-merge); the exact twin query is agg_count_distinct."""
    e = _events(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.01)
                - F.count_distinct("user_id")
            )
            <= F.count_distinct("user_id") * 0.05
        ).alias("approx_within_5pct"),
    )


@_q(
    "ann_topk_matmul",
    """
    WITH q AS (SELECT vec_id AS q_id, cast(embedding AS DOUBLE[]) AS q_emb
               FROM embeddings WHERE vec_id % 100 = 0
               ORDER BY vec_id LIMIT 64)
    SELECT q_id, neighbor_id, rank FROM (
      SELECT q.q_id, e.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.q_id
               ORDER BY list_inner_product(cast(e.embedding AS DOUBLE[]),
                                           q.q_emb) DESC, e.vec_id) AS rank
      FROM embeddings e, q WHERE e.vec_id != q.q_id
    ) WHERE rank <= 5
    """,
)
def ann_topk_matmul_q(spark, sf_dir):
    """The 100 TB ANN shape, ORACLE-EXACT in one corpus scan: Arrow
    batches -> numpy corpus @ queries.T (one BLAS call per batch) ->
    per-batch partial top-(5+8) by BLAS score -> fold-exact rescore of
    those <=13 candidates IN the partial -> tiny global merge -> top-k.

    The in-partial rescore (np.cumsum over the candidate-row products)
    accumulates strictly left-to-right, bit-identical to DuckDB's
    list_inner_product — same guarantee the r11 exact_rerank join gave,
    minus its second corpus scan (r13).  The BLAS top-13 provably
    contains the fold top-5 unless >=9 candidates sit within
    float-accumulation noise (~1e-15 relative) of the 5th score —
    impossible on continuous data.  Shuffle volume O(batches*k*queries),
    never |corpus|*|queries|; the query set collect is capped
    (limit=64), not corpus-scaled."""
    from ..operators.ann import sample_queries, topk_matmul

    e = _t(spark, sf_dir, "embeddings")
    qs = sample_queries(e, 100, limit=64)
    return topk_matmul(e, qs, k=5, pad=8, fold_rescore=True)


_POI_CHAIN_GOLDEN = [
    (1, "29a8365360822fddeeb7e5978b051f6faf3ba904ce3c61ac0900000000000000"),
    (2, "f3d02f7c43f98b324b2687e17f5d5107a739bbe6c6a0e4ec1900000000000000"),
    (3, "6d4e21439bb5bc3be7bdc3dc751d87bb08ea0999470014bd2900000000000000"),
    (4, "532ae6f6e9c05ed00530cdba47cebe214eedaf9eddd3c8323900000000000000"),
    (5, "b9c1d07e9cbaed71a0251a47acc8d3974aee33315ce2f2ef4c00000000000000"),
]

_POI_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"(CAST({b} AS BIGINT), 'spark-graft', '{d}')" for b, d in _POI_CHAIN_GOLDEN
) + ") AS t(block_num, id, digest)"


@_q("poi_chain", _POI_ORACLE)
def poi_chain_q(spark, sf_dir):
    """Proof-of-indexing digest chain (§2.5 A2-A4) over a fixed 5-block
    change log whose FIRST block is byte-identical to the reference's own
    golden case (poi/poi_test.go:12-29 — the BlockMeta entity whose
    mid-stream digest test_stablehash pins to the published
    993dd21d... constant), followed by CREATE/UPDATE/DELETE blocks
    exercising every operation the sinker feeds (sinker.go:279-291).

    The oracle is the resulting digest-chain constant: sf-independent
    (so it hash-checks at EVERY scale factor), anchored to the reference
    golden through the shared block-1 input, and sensitive end-to-end —
    any change to the wire decode, the per-block parallel fold, the
    numpy XXH3 kernels, the pause semantics, or the cross-block chain
    shifts every digest after the break.  Per-block states fold in
    parallel (one repartition on block_num, one mapInArrow fold per
    partition); the chain is a driver-side prefix fold over one 32-byte
    row per block.  The
    sf-SCALED POI surface (millions of events) is exercised by the run
    stage (streaming/ingest.py; its 1.8M-event throughput is in PLANS.md
    "End-to-end tocsv throughput") where the digests also feed the poi2$
    entity sink."""
    import json

    from ..operators.poi import poi_chain

    golden_fields = [
        {"name": "at", "new_value": {"Typed": {"String_": "2015-07-30 00:00:00"}}},
        {"name": "number", "new_value": {"Typed": {"Bigint": "1"}}},
        {"name": "hash", "new_value": {"Typed": {"Bytes": "iOltRTe+pNnAXRJUmQezJWHTvzH0Wq5zTNwRnxNAbLY="}}},
        {"name": "parent_hash", "new_value": {"Typed": {"Bytes": "1OVnQPh2rvjAELhqQNX1Z0WhGNCQajTmmuyMDbHLj6M="}}},
        {"name": "timestamp", "new_value": {"Typed": {"String_": "2015-07-30T15:26:28Z"}}},
    ]

    def change(block, seq, entity, eid, op, fields):
        return (
            block,
            seq,
            json.dumps(
                {
                    "entity_change": {
                        "entity": entity,
                        "id": eid,
                        "operation": op,
                        "fields": fields,
                    },
                    "block_num": block,
                }
            ),
        )

    rows = [change(1, 0, "BlockMeta", "day:first:20150730", 1, golden_fields)]
    for b in range(2, 6):
        for s in range(3):
            rows.append(
                change(
                    b,
                    b * 10 + s,
                    "UserState",
                    f"user:{s}",
                    1 if b == 2 else 2,
                    [
                        {"name": "etype", "new_value": {"Typed": {"String_": f"click{b}"}}},
                        {"name": "amount", "new_value": {"Typed": {"Bigint": str(b * 100 + s)}}},
                    ],
                )
            )
    rows.append(change(5, 99, "UserState", "user:1", 3, []))  # DELETE
    raw = spark.createDataFrame(
        rows, "block_num long, seq long, value string"
    ).repartition(4)
    return poi_chain(spark, raw, chain_id="spark-graft")


# ---------------------------------------------------------------------------
# LLM-pipeline extension ops: MinHash / SimHash / Jaccard / embedding dedup,
# token counting, fingerprinting, quality scoring, ANN, multimodal
# ---------------------------------------------------------------------------
# Oracle-SQL building blocks.  Every hash is md5-derived so DuckDB replays it
# bit-for-bit (functions/hashing.py); the permutation constants are embedded
# from the SAME perm_params() call the Spark operators use.

from ..functions.hashing import (
    PRIME31 as _P,
    memoized_h60,
    perm_params as _perm_params,
)

_PERMS16 = _perm_params(16)


def _h60_sql(x: str) -> str:
    return f"cast(('0x' || substr(md5({x}), 1, 15)) as bigint)"


# distinct word 2-grams per doc (matches functions.text.word_shingles k=2)
_GRAMS2_SQL = """
  (SELECT doc_id, source,
          list_distinct(CASE WHEN len(ws) < 2 THEN [text]
               ELSE list_transform(range(len(ws) - 1),
                                   i -> ws[i+1] || ' ' || ws[i+2]) END) AS grams
   FROM (SELECT doc_id, text, source, string_split(text, ' ') AS ws
         FROM documents))
"""

_SIG16_SQL = (
    "[ "
    + ", ".join(
        f"list_min(list_transform(hs, x -> ({a} * x + {b}) % {_P}))"
        for a, b in _PERMS16
    )
    + " ]"
)

_SIG_CTE_SQL = f"""
  grams AS {_GRAMS2_SQL},
  h AS (SELECT doc_id,
               list_transform(grams, g -> {_h60_sql('g')} % {_P}) AS hs
        FROM grams),
  sig AS (SELECT doc_id, {_SIG16_SQL} AS sig FROM h)
"""


def _minhash_pairs_sql(num_perm: int, bands: int) -> str:
    """Parameterized DuckDB twin of ``minhash_candidate_pairs`` — built
    from the SAME ``perm_params()`` sequence the Spark operator hashes
    with, so one generator serves every (num_perm, bands) tier."""
    rows = num_perm // bands
    sig_sql = (
        "[ "
        + ", ".join(
            f"list_min(list_transform(hs, x -> ({a} * x + {b}) % {_P}))"
            for a, b in _perm_params(num_perm)
        )
        + " ]"
    )
    return f"""
    WITH grams AS {_GRAMS2_SQL},
    h AS (SELECT doc_id,
                 list_transform(grams, g -> {_h60_sql('g')} % {_P}) AS hs
          FROM grams),
    sig AS (SELECT doc_id, {sig_sql} AS sig FROM h),
    bands AS (
      SELECT doc_id, sig, b.band_idx,
             md5(array_to_string(
               sig[b.band_idx*{rows}+1 : b.band_idx*{rows}+{rows}], ',')) AS band_key
      FROM sig, (SELECT unnest(range({bands})) AS band_idx) b
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS n_shared_bands,
             first(a.sig) AS sig_a, first(b.sig) AS sig_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, cast(n_shared_bands AS bigint) AS n_shared_bands,
           cast(len(list_filter(range({num_perm}),
                i -> sig_a[i+1] = sig_b[i+1])) AS bigint) AS n_sig_agree
    FROM pairs
    """


@_q(
    "dedup_minhash",
    f"""
    WITH {_SIG_CTE_SQL}
    SELECT doc_id,
           md5(array_to_string(sig[1:4], ','))   AS band_0,
           md5(array_to_string(sig[5:8], ','))   AS band_1,
           md5(array_to_string(sig[9:12], ','))  AS band_2,
           md5(array_to_string(sig[13:16], ',')) AS band_3,
           cast(list_sum(sig) AS bigint) AS sig_sum,
           cast(list_min(sig) AS bigint) AS sig_min
    FROM sig
    """,
)
def dedup_minhash(spark, sf_dir):
    """MinHash sketch (16 perms, 4 LSH bands) per document — SURVEY §2.12.

    Scale: narrow projection, zero shuffle; md5-per-shingle runs once and
    feeds all 16 permutations as codegen'd modular arithmetic."""
    from ..operators.dedup import minhash_sketch

    d = _t(spark, sf_dir, "documents")
    sk = minhash_sketch(d, "doc_id", "text", num_perm=16, bands=4, k=2)
    return sk.select(
        "doc_id",
        "band_0",
        "band_1",
        "band_2",
        "band_3",
        F.aggregate(
            "sig", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("sig_sum"),
        F.array_min("sig").alias("sig_min"),
    )


@_q("dedup_minhash_pairs", _minhash_pairs_sql(32, 4))
def dedup_minhash_pairs(spark, sf_dir):
    """LSH candidate pairs: docs sharing >= 1 of 4 signature bands, with
    the exact signature-agreement count (est. Jaccard = n_sig_agree/32).

    Parameters are the SCALE-SAFE tier measured by the r8 precision study:
    32 perms / 4 bands (8 rows per band, S-curve threshold
    (1/4)^(1/8)=0.84).  The old 16/4 default measured 60.4% precision at
    sf0.1 and a 23x superlinear sf1 wall as buckets filled;
    minhash_precision_tuned proved 32/4 keeps ~99% of true dups with 37x
    fewer candidates at sf10, so 32/4 is what ships — 16/4 survives only
    as the minhash_precision_eval study query.

    Scale: the self-join shuffles on 16-byte band keys, never text; skewed
    buckets are capped via max_bucket in the operator (off here for oracle
    exactness)."""
    from ..operators.dedup import minhash_candidate_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_candidate_pairs(
        d, "doc_id", "text", num_perm=32, bands=4, k=2
    )


@_q(
    "dedup_simhash",
    f"""
    SELECT doc_id,
           cast(list_sum(list_transform(range(60),
                j -> CASE WHEN 2 * len(list_filter(hs, h -> (h >> j) & 1 = 1))
                          >= len(hs)
                     THEN (cast(1 AS bigint) << j) ELSE 0 END)) AS bigint) AS simhash,
           cast(list_sum(list_transform(range(60),
                j -> CASE WHEN 2 * len(list_filter(hs, h -> (h >> j) & 1 = 1))
                          >= len(hs)
                     THEN (cast(1 AS bigint) << j) ELSE 0 END)) // 17592186044416 AS bigint) AS band16
    FROM (SELECT doc_id,
                 list_transform(string_split(text, ' '), w -> {_h60_sql('w')}) AS hs
          FROM documents)
    """,
)
def dedup_simhash(spark, sf_dir):
    """60-bit SimHash per doc + top-16-bit blocking band (2^44 divisor).
    Near-identical docs agree on the full hash; near-dups share the band."""
    from ..operators.dedup import simhash_sketch

    d = _t(spark, sf_dir, "documents")
    return simhash_sketch(d, "doc_id", "text").select(
        "doc_id",
        "simhash",
        # integer shift, not float division: 60-bit values exceed double's
        # 53-bit mantissa
        F.shiftright("simhash", 44).cast("long").alias("band16"),
    )


@_q(
    "dedup_ngram_jaccard",
    f"""
    WITH gs AS {_GRAMS2_SQL},
    g0 AS (SELECT doc_id, source,
                  list_distinct(list_transform(grams,
                      g -> cast(('0x' || substr(md5(g), 1, 15)) AS bigint))) AS grams
           FROM gs),
    gb AS (SELECT *, length(cast(len(grams) AS varchar)) AS band FROM g0),
    g AS (SELECT * FROM (
            SELECT *, count(*) OVER (PARTITION BY source, band) AS _n
            FROM gb) WHERE _n <= 2000)
    SELECT * FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             cast(floor(1000000.0 * len(list_intersect(a.grams, b.grams))
                  / len(list_distinct(list_concat(a.grams, b.grams)))) AS bigint) AS jaccard_ppm
      FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
               AND abs(a.band - b.band) <= 1
    ) WHERE jaccard_ppm >= 100000
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 2-gram Jaccard for pairs blocked by source: set arithmetic in
    integer ppm.  Blocking bounds the pair count — the join shuffles on the
    bucket key, in-bucket pairs only — with the LOSSLESS digit-count
    length band (threshold 0.1 => qualifying size ratio <= 10 => adjacent
    bands; see ngram_jaccard_pairs) and a 2000-doc cap per (source, band)
    bucket, mirrored in the oracle.  The cap is the declared contract for
    exact all-pairs Jaccard: inside a hot bucket nothing makes pairwise
    set intersection sub-quadratic, so oversized buckets drop here and
    route through MinHash (constant per-pair cost) instead — at the
    driver SFs the cap never triggers; at sf1 it bounds a ~60M-pair
    explosion this query hit before the cap existed."""
    from ..operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, "doc_id", "text", bucket_cols=("source",), k=2,
        min_jaccard_ppm=100_000, max_bucket=2000, length_band=True,
    )


_DEDUP_EMB_UNION_SQL = """
    b AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS e
          FROM embeddings WHERE vec_id < 2000),
    u AS (SELECT vec_id, e FROM b
          UNION ALL
          SELECT vec_id + 1000000, e FROM b WHERE vec_id % 10 = 0),
    n AS (SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm FROM u),
    pairs AS (
      SELECT a.vec_id AS vec_a, c.vec_id AS vec_b
      FROM n a JOIN n c ON a.vec_id < c.vec_id
      WHERE list_inner_product(a.e, c.e) / (a.nrm * c.nrm) >= 0.999
    )
"""


def _dedup_emb_union(spark, sf_dir):
    """The planted-duplicate fixture both embedding-dedup oracles replay:
    the bounded corpus (vec_id < 2000 — constant across scale factors so
    the brute-force oracle stays tractable) unioned with an exact copy of
    every 10th vector re-identified at +1,000,000."""
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 2000)
    copies = e.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    return e.select("vec_id", "embedding").unionByName(copies)


@_q(
    "dedup_embedding",
    f"""
    WITH {_DEDUP_EMB_UNION_SQL}
    SELECT vec_a, vec_b FROM pairs
    """,
)
def dedup_embedding(spark, sf_dir):
    """Embedding cosine near-dup: banded sign-LSH (4 bands x 4
    hyperplanes) + exact in-bucket cosine threshold — hash-oracled
    against a full brute-force pair scan over a planted-duplicate
    fixture.  The fixture (bounded corpus + exact copies of every 10th
    vector) makes the LSH recall PROVABLE, not probabilistic: identical
    vectors produce identical sign patterns, so every planted pair
    collides in every band; and the 0.999 threshold sits >=0.037 cosine
    above the largest chance pair at every sf dir (measured max 0.9615
    at sf1/sf10, 0.60 on the driver vintages) — float-accumulation
    differences of ~1e-15 can never flip a membership decision, which is
    what kept this entry rows-only before.  The oracle brute-forces ALL
    pairs of the union, so extra pairs (broken band dedup), missing
    pairs (broken bucketing), and wrong ids all break the hash.

    Scale: pair enumeration stays per-(band, bucket), never corpus-wide;
    the vec_id<2000 bound is the ORACLE's tractability contract, not the
    operator's (the unbounded threshold-0.4 shape this entry previously
    ran is the same code path, still exercised in test_dedup)."""
    from ..operators.dedup import embedding_neardup_pairs

    return embedding_neardup_pairs(
        _dedup_emb_union(spark, sf_dir),
        "vec_id",
        "embedding",
        dim=64,
        n_bands=4,
        planes_per_band=4,
        min_cos_ppm=999_000,
    ).select("vec_a", "vec_b")


@_q(
    "token_count",
    """
    SELECT doc_id,
           cast(len(toks) AS bigint) AS n_tokens,
           cast(len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$'))) AS bigint) AS n_alpha,
           cast(len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$'))) AS bigint) AS n_digit,
           cast(len(list_filter(toks, t -> NOT regexp_matches(t, '^[a-z0-9]'))) AS bigint) AS n_punct
    FROM (SELECT doc_id, regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') AS toks
          FROM documents)
    """,
)
def token_count(spark, sf_dir):
    """BPE-ish pre-tokenizer counts (letter runs / digit runs / punctuation
    marks) — all regexp_extract_all + array filters, zero Python."""
    from ..functions.text import token_split

    d = _t(spark, sf_dir, "documents")
    toks = token_split(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$"))).cast("long").alias("n_alpha"),
        F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$"))).cast("long").alias("n_digit"),
        F.size(F.filter(toks, lambda t: ~t.rlike("^[a-z0-9]"))).cast("long").alias("n_punct"),
    )


@_q(
    "doc_fingerprint",
    f"""
    SELECT doc_id,
           cast(list_reduce(list_prepend(0, hs),
                            (acc, x) -> (acc * 31 + x) % {_P}) AS bigint) AS fingerprint,
           cast(len(hs) AS bigint) AS n_words
    FROM (SELECT doc_id,
                 list_transform(string_split(text, ' '),
                                w -> {_h60_sql('w')} % {_P}) AS hs
          FROM documents)
    """,
)
def doc_fingerprint(spark, sf_dir):
    """Order-sensitive rolling document fingerprint (Rabin-Karp-style
    polynomial fold) — complements order-insensitive MinHash; reordered
    near-dups diverge here."""
    from ..functions.text import rolling_fingerprint

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        rolling_fingerprint(F.col("text")).alias("fingerprint"),
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
    )


_QUALITY_STOPWORDS = ("data", "row", "table", "key", "scan", "join", "agg", "value")


@_q(
    "quality_score",
    f"""
    SELECT doc_id,
           cast(floor((
             least(1000000, floor(5000000.0 * len(list_filter(ws, w -> w IN
                 ({", ".join("'" + w + "'" for w in _QUALITY_STOPWORDS)}))) / len(ws)))
             + floor(1000000.0 * len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$')))
                     / greatest(len(toks), 1))
             + floor(1000000.0 * len(list_distinct(ws)) / len(ws))
           ) / 3) AS bigint) AS quality_ppm
    FROM (SELECT doc_id, string_split(text, ' ') AS ws,
                 regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') AS toks
          FROM documents)
    """,
)
def quality_score(spark, sf_dir):
    """Composite pretraining-quality score in exact ppm: stopword density,
    alpha-token share, distinct-word share, averaged."""
    from ..functions.text import quality_score_ppm

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        quality_score_ppm(F.col("text"), list(_QUALITY_STOPWORDS)).alias(
            "quality_ppm"
        ),
    )


@_q(
    "ann_ivf_topk",
    """
    WITH c AS (SELECT vec_id AS cid, cast(embedding AS DOUBLE[]) AS ce
               FROM embeddings WHERE vec_id % 50 = 0
               ORDER BY vec_id LIMIT 400),
    -- assignment as two streaming aggregates over a thin (vec, cid, dot)
    -- CTE instead of a row_number window: the window materializes the
    -- corpus x centroid product WITH embedding payloads (44 GB at sf10);
    -- this shape peaks at the 24-byte-per-pair dot table
    pairdots AS (
      SELECT e.vec_id, c.cid,
             list_inner_product(cast(e.embedding AS DOUBLE[]), c.ce) AS dot
      FROM embeddings e, c),
    best AS (SELECT vec_id, max(dot) AS mdot FROM pairdots GROUP BY vec_id),
    assign0 AS (
      SELECT p.vec_id, min(p.cid) AS cid
      FROM pairdots p JOIN best b ON p.vec_id = b.vec_id AND p.dot = b.mdot
      GROUP BY p.vec_id),
    assign AS (
      SELECT a.vec_id, e.embedding, a.cid
      FROM assign0 a JOIN embeddings e ON a.vec_id = e.vec_id),
    q AS (SELECT vec_id AS q_id, embedding AS q_emb, cid AS q_cid
          FROM assign WHERE vec_id % 100 = 0
          ORDER BY vec_id LIMIT 64)
    SELECT q_id, neighbor_id, rank FROM (
      SELECT q.q_id, a.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.q_id
               ORDER BY list_inner_product(cast(a.embedding AS DOUBLE[]),
                                           cast(q.q_emb AS DOUBLE[])) DESC, a.vec_id) AS rank
      FROM assign a JOIN q ON a.cid = q.q_cid AND a.vec_id != q.q_id
    ) WHERE rank <= 5
    """,
)
def ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN: assign every vector to its nearest of ~n/50 seed
    centroids (broadcast), then search only the query's cell (nprobe=1).

    Scale path vs brute force: per-query work drops from |corpus| to
    |cell|; the centroids collect to the driver (nlist x dim doubles —
    kilobytes, capped at 400 rows like the 64-query cap so no collect is
    corpus-scaled) and ride the assignment closure, the corpus streams once
    for assignment (one BLAS matmul per Arrow batch; the former JVM
    zip_with fold is CodegenFallback and measured 45s at sf1 for the
    8M-dot crossJoin, vs ~1s here) and once for in-cell scoring — no
    corpus self-shuffle.  In-cell dots stay on the JVM fold: that volume
    is |cells| x |queries|-bounded, and its left-fold order matches the
    oracle exactly.  Output is ids+rank only so float accumulation can't
    flip the hash; assignment argmax ties break to the lowest cid like
    the oracle's ORDER BY dot DESC, cid."""
    from ..operators.ann import ivf_assign_dot

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    import numpy as np

    cent_rows = (
        e.where(F.col("vec_id") % 50 == 0).orderBy("vec_id").limit(400).collect()
    )
    assign = ivf_assign_dot(
        e,
        np.array([r["vec_id"] for r in cent_rows], dtype=np.int64),
        np.array([r["e"] for r in cent_rows], dtype=np.float64),
    )
    q = (
        assign.where(F.col("vec_id") % 100 == 0)
        .orderBy("vec_id")
        .limit(64)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("e").alias("q_emb"),
            F.col("cid").alias("q_cid"),
        )
    )
    dot_q = F.aggregate(
        F.zip_with(F.col("e"), F.col("q_emb"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w_rank = Window.partitionBy("q_id").orderBy(
        F.desc("dot"), F.asc("neighbor_id")
    )
    return (
        assign.join(
            F.broadcast(q),
            (F.col("cid") == F.col("q_cid"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select(
            "q_id", F.col("vec_id").alias("neighbor_id"), dot_q.alias("dot")
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= 5)
        .select("q_id", "neighbor_id", "rank")
    )


@_q(
    "join_asof",
    """
    SELECT event_id, user_id, ts_us, prior_click_id FROM (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us, kind,
             last_value(click_id IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, kind, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prior_click_id
      FROM (
        SELECT user_id, ts, event_id, 0 AS kind, event_id AS click_id
        FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT user_id, ts, event_id, 1 AS kind, NULL AS click_id
        FROM events WHERE event_type = 'error'
      )
    ) WHERE kind = 1
    """,
)
def join_asof(spark, sf_dir):
    """As-of join via union + ordered window (the shuffle-minimal idiom):
    for each error event, the same user's latest click at-or-before it.

    Scale: ONE shuffle on user_id; the inequality never becomes a join
    predicate (no range-join explosion), and state is a single value per
    partition scan.  Ties: clicks sort before errors at equal ts (kind), and
    the latest click event_id wins."""
    e = _events(spark, sf_dir)
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id",
        F.lit(0).alias("kind"), F.col("event_id").alias("click_id"),
    )
    errors = e.where(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id",
        F.lit(1).alias("kind"), F.lit(None).cast("long").alias("click_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        clicks.unionByName(errors)
        .withColumn(
            "prior_click_id", F.last("click_id", ignorenulls=True).over(w)
        )
        .where(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "prior_click_id",
        )
    )


@_q(
    "join_range",
    """
    SELECT band_id,
           cast(count(*) AS bigint) AS n_parts,
           cast(sum(cast(round(p_retailprice * 100) AS bigint)) AS bigint) AS sum_price_cents
    FROM part
    JOIN (SELECT range AS band_id, 900 + range * 10.0 AS lo, 900 + (range + 1) * 10.0 AS hi
          FROM range(0, 10)) bands
      ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band_id
    """,
)
def join_range(spark, sf_dir):
    """Range (non-equi) join: parts bucketed into broadcast price bands.

    Scale: the band table is tiny and broadcast — Spark plans a
    BroadcastNestedLoopJoin whose inner side is 25 rows, so the scan streams
    once; the aggregation is an ordinary hash agg on band_id."""
    p = _t(spark, sf_dir, "part")
    bands = spark.range(0, 10).select(
        F.col("id").alias("band_id"),
        (900 + F.col("id") * 10.0).alias("lo"),
        (900 + (F.col("id") + 1) * 10.0).alias("hi"),
    )
    return (
        p.join(
            F.broadcast(bands),
            (F.col("p_retailprice") >= F.col("lo"))
            & (F.col("p_retailprice") < F.col("hi")),
        )
        .groupBy("band_id")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum(_cents(F.col("p_retailprice"))).alias("sum_price_cents"),
        )
    )


# --- multimodal family: ASCII-corpus oracle assumption -------------------
# The Spark fixture generators (attach_binary and the *_fused writers) derive
# payload parameters from text BYTES (`text.encode("utf-8")[i]`, strlen in
# bytes), while the DuckDB oracles state them via `ascii(substr(text, i, 1))`
# — the i-th CODE POINT.  The two agree only because the driver corpus (and
# scripts/gen_sf.py) is pure ASCII, where byte i == code point i and
# strlen == octet_length.  The OPERATORS are byte-correct on any input
# (PNG/WAV roundtrip the exact bytes); only the SQL twins assume ASCII —
# so the assumption is enforced where it lives:
# tests/test_multimodal.py::test_corpus_is_ascii_for_byte_oracles fails
# loudly if any driver documents.text ever gains a non-ASCII character.

@_q(
    "multimodal_features",
    """
    SELECT doc_id, 'text/plain' AS mime,
           cast(strlen(text) AS bigint) AS n_bytes,
           cast(ascii(substr(text, 1, 1)) AS bigint) AS first_byte,
           cast(list_sum(list_transform(range(least(16, strlen(text))),
                                        i -> ascii(substr(text, i+1, 1)))) AS bigint) AS head_sum
    FROM documents
    """,
)
def multimodal_features(spark, sf_dir):
    """Multimodal plumbing end-to-end: text -> opaque binary payload +
    metadata struct -> Arrow-batched mapInPandas feature extraction
    (deterministic fake decode; codec stubbed per environment).

    The oracle recomputes the byte-level features in SQL — possible only
    because the fake decode is the identity on ASCII payloads; the Spark
    side genuinely round-trips binary through pandas batches."""
    from ..operators.multimodal import attach_binary, extract_features

    d = _t(spark, sf_dir, "documents")
    return extract_features(attach_binary(d, "doc_id", "text"), fake=True)


@_q(
    "multimodal_png_roundtrip",
    """
    SELECT doc_id, 'image/png' AS mime,
           cast(strlen(text) AS bigint) AS n_bytes,
           cast(ascii(substr(text, 1, 1)) AS bigint) AS first_byte,
           cast(list_sum(list_transform(range(least(16, strlen(text))),
                                        i -> ascii(substr(text, i+1, 1)))) AS bigint) AS head_sum
    FROM documents WHERE strlen(text) > 0
    """,
)
def multimodal_png_roundtrip(spark, sf_dir):
    """The REAL codec path as a hash-oracled registry query (the
    multimodal_features twin without the fake): every doc's UTF-8 bytes
    are rendered into an actual 1-row grayscale PNG (operators/
    multimodal.encode_png — stdlib zlib/CRC writer), and the feature
    stage decodes it through the from-spec decode_png (fake=False)
    before computing byte features.  PNG is lossless, so the decoded
    bytes equal the original text bytes and the DuckDB oracle can state
    the expected features directly on the text — any corruption in
    either codec half breaks the driver hash.  (Oracle indexes code
    points, Spark indexes bytes: valid under the enforced ASCII-corpus
    assumption — see the section comment above multimodal_features.)

    Scale: ONE Arrow stage (r13 fusion of the PNG writer and the
    feature reader): both codec halves run back to back per row inside
    the same Python worker, so the PNG bytes never cross JVM<->Python at
    all.  1:1 rows, partitioning inherited, no shuffle."""
    from ..operators.multimodal import png_features_fused

    d = _t(spark, sf_dir, "documents")
    return png_features_fused(d, "doc_id", "text")


@_q(
    "multimodal_avi_frame_sample",
    """
    SELECT doc_id,
           cast(i AS bigint) AS frame_idx,
           cast(64 AS bigint) AS n_pix,
           cast(ascii(substr(text, i + 1, 1)) AS bigint) AS pix_first,
           cast(64 * ascii(substr(text, i + 1, 1)) AS bigint) AS pix_sum
    FROM (SELECT doc_id, text,
                 unnest(range(0, least(strlen(text), 24), 3)) AS i
          FROM documents WHERE strlen(text) > 0)
    """,
)
def multimodal_avi_frame_sample(spark, sf_dir):
    """REAL video decode as a hash-oracled registry query: every doc's
    first 24 text bytes are rendered into an actual MJPEG AVI (frame i =
    an 8x8 constant-gray baseline JPEG of byte i; operators/multimodal
    encode_const_jpeg + encode_avi_mjpeg), then the frame-sampling stage
    walks the RIFF container, keeps every 3rd frame, and decodes each
    kept frame through the from-spec ITU T.81 JPEG path (fake=False).
    A constant 8x8 block with an all-ones quantization table roundtrips
    EXACTLY (DC = 8*(v-128) is integral, all AC are zero), so the DuckDB
    oracle states the per-frame pixel features directly on the text —
    any corruption in the container writer, the walker, or either JPEG
    half breaks the driver hash.

    Scale: ONE Arrow stage (r13 fusion of the AVI writer and the frame
    sampler): the container writer, the RIFF walker, and the
    per-kept-frame JPEG decode run back to back per row, so the AVI
    bytes never cross JVM<->Python; sampling still decodes only the kept
    1/3 of frames — the codec-cost contract that makes video feasible at
    100 TB.  1->N fan-out, partitioning inherited, no shuffle."""
    from ..operators.multimodal import avi_frame_sample_fused

    d = _t(spark, sf_dir, "documents")
    return avi_frame_sample_fused(
        d, "doc_id", "text", max_frames=24, every_n=3
    )


@_q(
    "multimodal_wav_windows",
    """
    WITH d AS (SELECT doc_id, text, strlen(text) AS n
               FROM documents WHERE strlen(text) > 0),
    base AS (SELECT doc_id, text, n,
                    unnest(range(0, greatest(n - 16, 0) + 1, 8)) AS start
             FROM d),
    extra AS (SELECT doc_id, text, n,
                     ((greatest(n - 16, 0) // 8) + 1) * 8 AS start
              FROM d
              WHERE (greatest(n - 16, 0) // 8) * 8 + 16 < n),
    s AS (SELECT * FROM base UNION ALL SELECT * FROM extra)
    SELECT doc_id,
           cast(start // 8 AS bigint) AS win_idx,
           cast(least(16, n - start) AS bigint) AS win_bytes,
           cast(list_sum(list_transform(range(least(16, n - start)),
                j -> ascii(substr(text, start + j + 1, 1)))) AS bigint) AS energy
    FROM s
    """,
)
def multimodal_wav_windows(spark, sf_dir):
    """REAL audio decode as a hash-oracled registry query, completing
    the modality triple (PNG r8, MJPEG-AVI r8-late, now WAV): every
    doc's UTF-8 bytes are rendered as an actual 8-bit mono PCM WAV
    (unsigned 8-bit samples ARE the raw bytes, so the stdlib wave
    encode/decode pair is lossless), decodes it back through the real
    RIFF path and emits the STFT-frame shape: window 16 / hop 8
    overlapping windows with
    integer energies (the silence-trim signal).  Losslessness lets the
    DuckDB oracle state every window's start, length, and energy
    directly on the text — the window-start formula (incl. the trailing
    partial window librosa-style padding keeps) is checked against the
    oracle on every document length in the table.

    Scale: ONE Arrow stage (r13 fusion of the WAV writer, reader and
    windowing): the stdlib wave writer and reader run back to back per
    row, so neither the WAV payload nor the window bytes ever cross
    JVM<->Python (the query only outputs win_idx / win_bytes / energy).
    Declared 1->N fan-out, partitioning inherited — no shuffle; pruned
    2-column scan."""
    from ..operators.multimodal import wav_windows_fused

    d = _t(spark, sf_dir, "documents")
    return wav_windows_fused(
        d, "doc_id", "text", window_bytes=16, hop_bytes=8
    )


@_q(
    "multimodal_mp4_probe",
    """
    SELECT doc_id,
           cast(16 * ((ascii(substr(text, 1, 1)) % 16) + 1) AS bigint) AS width,
           cast(144 AS bigint) AS height,
           cast(strlen(text) AS bigint) AS n_samples,
           cast(40 * strlen(text) AS bigint) AS duration_ms,
           'avc1' AS codec
    FROM documents WHERE strlen(text) > 0
    """,
)
def multimodal_mp4_probe(spark, sf_dir):
    """Container-metadata triage as a hash-oracled query: each doc
    becomes a REAL ISO-BMFF (MP4) metadata skeleton (encode_mp4_stub —
    ftyp + moov/mvhd/trak/tkhd/mdia/stbl written from the public
    ISO 14496-12 box layouts, parameters derived from the text), then
    parse_mp4_meta walks the boxes and emits dimensions, sample
    count, duration, and codec WITHOUT touching media data.  This
    probe-first shape is the correct 100 TB video operation: filter on
    moov metadata (resolution floors, duration bands, codec
    allowlists), decode only survivors.  The writer and walker are
    independent codepaths over the same spec, so the oracle stating the
    parameters straight from the text catches a corruption in either.
    (mp4_probe_fused keys the width on raw[0], the first UTF-8 BYTE; the
    oracle's ascii(substr(text,1,1)) is the first CODE POINT — equal
    under the enforced ASCII-corpus assumption, see the section comment
    above multimodal_features.)

    Scale: ONE Arrow stage (r13 fusion of writer and box-walker): the
    two run back to back per
    row, so the ISO-BMFF bytes never cross JVM<->Python.  1:1 rows, no
    shuffle; pruned 2-column scan."""
    from ..operators.multimodal import mp4_probe_fused

    d = _t(spark, sf_dir, "documents")
    return mp4_probe_fused(d, "doc_id", "text")


@_q(
    "multimodal_mp3_probe",
    """
    SELECT doc_id,
           cast(([32,40,48,56,64,80,96,112,128,160,192,224,256,320])
                [(ascii(substr(text, 1, 1)) % 14) + 1] AS bigint) AS bitrate_kbps,
           cast(48000 AS bigint) AS sample_rate,
           cast(CASE WHEN ascii(substr(text, 1, 1)) % 2 = 1
                     THEN 1 ELSE 2 END AS bigint) AS channels,
           cast(least(strlen(text), 32) AS bigint) AS n_frames
    FROM documents WHERE strlen(text) > 0
    """,
)
def multimodal_mp3_probe(spark, sf_dir):
    """MP3 header-walk triage as a hash-oracled query, the audio
    counterpart of the mp4 moov probe: each doc becomes a REAL MPEG-1
    Layer III stream (encode_mp3_stub — ID3v2.3 tag with syncsafe size +
    per-byte frames at 48 kHz, from the public ISO 11172-3 header
    layout), then parse_mp3_meta skips the tag, reads bitrate /
    sample rate / channel mode from the first header, and counts frames
    by walking the computed frame lengths — payload bytes never read.
    Writer and walker are independent codepaths over the same spec; the
    oracle stating the parameters from the text (bitrate via the public
    Layer III table as a SQL array literal) catches corruption in
    either.  (mp3_probe_fused keys bitrate/channels on the first UTF-8 BYTE
    vs the oracle's first code point — equal under the enforced
    ASCII-corpus assumption, see above multimodal_features.)  Frame decode (hybrid filterbank/huffman) stays behind the
    documented stub boundary — triage is the 100 TB operation.

    Scale: ONE Arrow stage (r13 fusion of writer and header-walker): the
    two run back to back per row, so the ~17 KB/row synthetic stream
    never crosses JVM<->Python (a two-stage form moved ~850 MB of payload
    through pandas object columns at sf1 to emit 5 longs per row).  1:1
    rows, no shuffle; pruned 2-column scan."""
    from ..operators.multimodal import mp3_probe_fused

    d = _t(spark, sf_dir, "documents")
    return mp3_probe_fused(d, "doc_id", "text")


# ---------------------------------------------------------------------------
# Core parity surface as oracle-checked queries (SURVEY §2.12 first table)
# ---------------------------------------------------------------------------

@_q(
    "typed_extract",
    """
    SELECT cast(o_orderkey AS varchar) AS id,
           o_orderstatus AS status,
           cast(cast(round(o_totalprice*100) AS bigint) AS varchar) AS total_cents,
           cast(day(o_orderdate) AS integer) AS ship_priority
    FROM orders WHERE o_orderkey % 100 = 0
    """,
)
def typed_extract_q(spark, sf_dir):
    """Typed-value extraction differential (§2.2 P2): rows are ENCODED into
    the reference's JSONL wire layout (entity_change/fields/new_value/Typed)
    with to_json, decoded with the engine's from_json schema + typed
    extraction, and must round-trip exactly to what the oracle computes
    directly from the source columns."""
    from ..schema.entities import parse_schema
    from ..sources.jsonl import CHANGE_JSON_SCHEMA, typed_extract

    sdl = """
    type Order @entity {
      id: ID!
      status: String!
      totalCents: BigInt!
      shipPriority: Int!
    }
    """
    desc = parse_schema(sdl)["order"]
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 100 == 0)

    # one shared Typed struct type; to_json drops the null members so the
    # wire layout keeps the reference's single-key Typed objects
    def typed(name, s=None, b=None, i=None):
        return F.struct(
            F.lit(name).alias("name"),
            F.struct(
                F.struct(
                    (s if s is not None else F.lit(None).cast("string")).alias("String_"),
                    (b if b is not None else F.lit(None).cast("string")).alias("Bigint"),
                    (i if i is not None else F.lit(None).cast("int")).alias("Int32"),
                ).alias("Typed")
            ).alias("new_value"),
        )

    wire = o.select(
        F.to_json(
            F.struct(
                F.struct(
                    F.lit("Order").alias("entity"),
                    F.col("o_orderkey").cast("string").alias("id"),
                    F.lit(1).alias("operation"),
                    F.array(
                        typed("status", s=F.col("o_orderstatus")),
                        typed("totalCents", b=_cents(F.col("o_totalprice")).cast("string")),
                        typed("shipPriority", i=F.dayofmonth("o_orderdate").cast("int")),
                    ).alias("fields"),
                ).alias("entity_change"),
                F.col("o_orderkey").alias("block_num"),
            )
        ).alias("value")
    )
    parsed = wire.select(F.from_json("value", CHANGE_JSON_SCHEMA).alias("j")).select(
        F.col("j.block_num").alias("block_num"),
        F.lit(0).cast("long").alias("seq"),
        F.col("j.entity_change.id").alias("id"),
        F.col("j.entity_change.operation").alias("operation"),
        F.col("j.entity_change.fields").alias("fields"),
    )
    out = typed_extract(parsed, desc, originals=list(desc.fields))
    return out.select("id", "status", "total_cents", "ship_priority")


@_q(
    "normalize_names",
    r"""
    SELECT part_name,
           lower(regexp_replace(part_name, '([a-z])([A-Z])', '\1_\2', 'g')) AS snake
    FROM (SELECT DISTINCT
            concat(upper(substr(w1,1,1)), substr(w1,2),
                   upper(substr(w2,1,1)), substr(w2,2)) AS part_name
          FROM (SELECT string_split(p_name, ' ')[1] AS w1,
                       string_split(p_name, ' ')[2] AS w2
                FROM part))
    """,
)
def normalize_names_q(spark, sf_dir):
    """camelCase -> snake_case normalization (§2.2 P1, schema/normalize.go).
    The engine runs its full caser (acronym/digit rules, unit-tested against
    the reference's cases) via a scalar UDF; the oracle replays the
    letters-only subset these inputs exercise with a regex.  Schema-time op:
    the UDF cost is per distinct NAME, never per data row."""
    from pyspark.sql.functions import udf

    from ..schema.normalize import normalize_field

    norm = udf(normalize_field, "string")
    p = _t(spark, sf_dir, "part")
    words = F.split("p_name", " ")
    camel = F.concat(F.initcap(F.get(words, 0)), F.initcap(F.get(words, 1)))
    return (
        p.select(camel.alias("part_name"))
        .distinct()
        .select("part_name", norm("part_name").alias("snake"))
    )


@_q(
    "validate_notnull",
    """
    SELECT event_id, 'value' AS missing_field
    FROM events WHERE event_type = 'purchase' AND value < 1.0
    """,
)
def validate_notnull_q(spark, sf_dir):
    """Non-null validation report (§2.2 P7): purchase events with a
    synthesized-absent required field surface as (row id, field name) —
    the check tocsv fails on (operators/scd2.mutable_fatal)."""
    e = _events(spark, sf_dir)
    required = F.when(F.col("value") >= 1.0, F.col("value"))  # synth nulls
    return (
        e.where(F.col("event_type") == "purchase")
        .withColumn("req", required)
        .where(F.col("req").isNull())
        .select("event_id", F.lit("value").alias("missing_field"))
    )


@_q(
    "filter_range",
    """
    SELECT (event_id // 10) - ((event_id // 10) % 100) AS bundle_start,
           cast(count(*) AS bigint) AS n_events
    FROM events
    WHERE event_id // 10 >= 150 AND event_id // 10 < 750
    GROUP BY 1
    """,
)
def filter_range_q(spark, sf_dir):
    """Block/bundle range pruning (§2.2 P4-P5): start/stop predicates sit
    directly on the scan (pushdown-eligible), bundle assignment is pure
    arithmetic."""
    e = _events(spark, sf_dir)
    block = F.expr("event_id div 10")
    return (
        e.where((block >= 150) & (block < 750))
        .groupBy((block - (block % 100)).alias("bundle_start"))
        .agg(F.count("*").cast("long").alias("n_events"))
    )


@_q(
    "bigdecimal_normalize",
    """
    WITH r AS (
      SELECT l_orderkey, l_linenumber,
             printf('%.4f', l_extendedprice) AS mant,
             l_linenumber - 3 AS exp
      FROM lineitem WHERE l_orderkey % 500 = 0
    ),
    d AS (
      SELECT l_orderkey, l_linenumber, exp,
             mant || 'e' || CAST(exp AS VARCHAR) AS raw,
             replace(mant, '.', '') AS digits,
             regexp_replace(replace(mant, '.', ''), '0+$', '') AS stripped
      FROM r
    )
    SELECT l_orderkey, l_linenumber, raw,
           CASE WHEN stripped = '' THEN '0' ELSE stripped END AS int_val,
           CASE WHEN stripped = '' THEN 0
                ELSE cast(4 - exp - (len(digits) - len(stripped)) AS bigint)
           END AS scale
    FROM d
    """,
)
def bigdecimal_normalize_q(spark, sf_dir):
    """BigDecimal normalization (§2.9 F9): parse sci-notation, cut to 34
    significant digits rounding toward +inf, strip trailing zeros.
    Golden-vector validated against stablehash/big_decimal_test.go
    (where the 34-digit cut and the negative-digit-count quirk ARE
    exercised); the oracle replays the normalization symbolically in
    VARCHAR (never DecimalType, whose half-up rounding provably differs
    on the goldens): on these <=10-significant-digit inputs the
    normalize is exactly strip-trailing-zeros + scale = 4 - exp - t,
    which DuckDB computes with string ops — so the driver hash-checks
    the parse/strip/scale path value-for-value, while the cut/rounding
    quirks stay pinned by the goldens.  Arrow-batched pandas UDF."""
    from pyspark.sql.functions import pandas_udf

    from ..stablehash.big_decimal import BigDecimal

    @pandas_udf("string")
    def norm_int(s: pd.Series) -> pd.Series:
        return s.map(lambda v: str(BigDecimal.from_string(v).int_val))

    @pandas_udf("long")
    def norm_scale(s: pd.Series) -> pd.Series:
        return s.map(lambda v: BigDecimal.from_string(v).scale)

    l = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 500 == 0)
    raw = F.format_string(
        "%.4fe%d", F.col("l_extendedprice"), (F.col("l_linenumber") - 3)
    )
    return l.select(
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        raw.alias("raw"),
    ).select(
        "l_orderkey", "l_linenumber", "raw",
        norm_int("raw").alias("int_val"),
        norm_scale("raw").alias("scale"),
    )


@_q(
    "proto_roundtrip",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS id, text, lang, source,
           CAST(n_chars AS INTEGER) AS n_chars
    FROM documents
    """,
)
def proto_roundtrip_q(spark, sf_dir):
    """Protobuf wire-format differential (§2.1 S2): documents -> one
    ``EntityChanges`` wire message per row (pure-Python encoder, one
    mapInPandas pass) -> wire decode -> JVM typed extraction.  The output
    must equal a plain projection of the source table, proving the binary
    path yields the same typed rows the JSONL path would (ref
    sinker/sinker.go:209-215 unmarshals exactly this message before the
    JSONL hop).  Encoder and decoder share one field-number table but walk
    it in opposite directions, so a transposed tag breaks the oracle."""
    from ..schema.entities import parse_schema
    from ..sources.jsonl import typed_extract
    from ..sources.protobuf import encode_entity_changes, parse_change_protobuf

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"),
        "text", "lang", "source",
        F.col("n_chars").cast("int").alias("n_chars"),
    )

    def encode(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                change = {
                    "entity": "Document", "id": r.id, "operation": 1,
                    "fields": [
                        {"name": "text", "new_value": {"Typed": {"String_": r.text}}},
                        {"name": "lang", "new_value": {"Typed": {"String_": r.lang}}},
                        {"name": "source", "new_value": {"Typed": {"String_": r.source}}},
                        {"name": "nChars", "new_value": {"Typed": {"Int32": int(r.n_chars)}}},
                    ],
                }
                rows.append(
                    {"block_num": int(r.id), "payload": encode_entity_changes([change])}
                )
            yield pd.DataFrame(rows, columns=["block_num", "payload"])

    wire = docs.mapInPandas(encode, schema="block_num long, payload binary")
    parsed = parse_change_protobuf(wire)
    desc = parse_schema(
        "type Document @entity { id: ID! text: String lang: String "
        "source: String nChars: Int }"
    )["document"]
    return typed_extract(parsed, desc).select(
        "id", "text", "lang", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# Round-2 widening: correlated shapes, pivots, exact quantiles, text ranking,
# clustering, runtime filters, deterministic sampling
# ---------------------------------------------------------------------------


@_q(
    "q4_order_priority",
    """
    SELECT o_orderpriority, cast(count(*) AS bigint) AS order_count
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS decorrelates to a left-semi join with a mixed
    equi + inequality condition, then a one-shuffle count by priority.

    Scale: the semi join shuffles both sides on orderkey (equi part drives
    the partitioning; the date inequality evaluates post-match, never a
    nested loop); count rides partial/final hash agg."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    hit = o.join(
        l,
        (o["o_orderkey"] == l["l_orderkey"]) & (l["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


@_q(
    "join_correlated_min",
    """
    SELECT l_partkey, l_suppkey, l_orderkey, l_extendedprice
    FROM lineitem l
    WHERE l_partkey % 20 = 0
      AND l_extendedprice = (SELECT min(l2.l_extendedprice) FROM lineitem l2
                             WHERE l2.l_partkey = l.l_partkey)
    """,
)
def join_correlated_min(spark, sf_dir):
    """TPC-H Q2's correlated-min shape, rewritten the Spark way: the
    per-group scalar subquery becomes one window min over the group key —
    a single hash(l_partkey) exchange instead of the self-join a naive
    decorrelation produces.  Ties keep every minimal row, exactly like the
    correlated predicate."""
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_partkey") % 20 == 0)
    w = Window.partitionBy("l_partkey")
    return (
        l.withColumn("min_price", F.min("l_extendedprice").over(w))
        .where(F.col("l_extendedprice") == F.col("min_price"))
        .select("l_partkey", "l_suppkey", "l_orderkey", "l_extendedprice")
    )


@_q(
    "agg_pivot",
    """
    SELECT o_orderpriority,
           cast(count(*) FILTER (WHERE o_orderstatus = 'F') AS bigint) AS status_f,
           cast(count(*) FILTER (WHERE o_orderstatus = 'O') AS bigint) AS status_o,
           cast(count(*) FILTER (WHERE o_orderstatus = 'P') AS bigint) AS status_p
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_pivot(spark, sf_dir):
    """Pivot with an explicit value list, hand-compiled to conditional
    counts: ONE hash aggregation, one shuffle.  (Spark's ``.pivot()``
    inserts a second aggregation even with explicit values — audited at
    2 exchanges — and without explicit values it adds a value-discovery
    job on top; the conditional-agg form is what a pivot should lower to
    at scale.)"""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("status_f"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("status_o"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("status_p"),
    )


@_q(
    "unpivot_metrics",
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
    FROM lineitem WHERE l_orderkey % 100 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey % 100 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
)
def unpivot_metrics(spark, sf_dir):
    """Wide -> long melt via the native unpivot (Expand node: one pass over
    the scan emitting 3 rows per input, zero shuffles — the UNION ALL an
    engine without unpivot needs would scan the table three times)."""
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 100 == 0)
    return l.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "val",
    )


@_q(
    "window_ntile",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           cast(ntile(4) OVER w AS int) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def window_ntile(spark, sf_dir):
    """Rank-family window functions (ntile / percent_rank / cume_dist) in
    one window spec: one hash(c_mktsegment) exchange + one sort serves all
    three.  The c_custkey tiebreak makes every rank deterministic."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@_q(
    "agg_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.5)  AS p50,
           quantile_cont(l_quantity, 0.75) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark, sf_dir):
    """EXACT percentiles (linear interpolation) per group — both engines
    compute (1-d)*lo + d*hi on the sorted group, so values hash-match.
    Scale note: exact percentile sorts each group (one shuffle + per-group
    sort); the streaming-friendly variant is approx_percentile (t-digest,
    mergeable partials), registered separately as rows-only since sketches
    are engine-specific."""
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("p25"),
        F.expr("percentile(l_quantity, 0.5)").alias("p50"),
        F.expr("percentile(l_quantity, 0.75)").alias("p75"),
    )


@_q(
    "tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, lower(t.tok) AS term
      FROM documents, unnest(regexp_extract_all(text, '[A-Za-z]+')) AS t(tok)
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, cast(tf.tf AS bigint) AS tf,
             cast(df.df AS bigint) AS df,
             round(tf.tf * ln(cast(n.n_docs AS double) / df.df), 6) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, score FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rn
      FROM scored) WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """TF-IDF top-3 terms per document — the canonical training-data
    relevance pipeline, all JVM expressions.

    ASCII-token extraction happens BEFORE lowercasing (lower() on pure
    [A-Za-z] agrees across engines; full-Unicode lowering does not).  The
    corpus is tokenized ONCE: tf = hash(doc_id, term) agg; df aggregates
    the grouped tf relation (tiny) rather than re-exploding the text;
    then hash(term) for the DF join and hash(doc_id) for the top-3
    window.  Scores round to 6dp so libm ln() ulp differences can't
    break ties; the (score, term) ordering makes top-3 deterministic.

    The tokenize+partial-agg map stage is the query's CPU and inherits
    the scan's 1-2 row-group parallelism at small SFs (r12 sf1 profile:
    two 2-task stages, 5.5s of 6.3s wall) — fan the scan out behind the
    same size gate as the PQ fits; every downstream op keys on
    (doc_id/term), so round-robin placement is results-invariant."""
    from ..operators.ann import fan_out_narrow

    d = fan_out_narrow(_t(spark, sf_dir, "documents"), min_bytes=2_000_000)
    toks = d.select(
        "doc_id",
        F.explode(
            F.expr("transform(regexp_extract_all(text, '[A-Za-z]+', 0), w -> lower(w))")
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # document frequency FROM tf (already one row per (doc, term)), not
    # from a second explode of the corpus: the df aggregation reads the
    # small grouped relation instead of re-tokenizing 100% of the text
    df_ = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n_docs = d.count()  # O(1) metadata-ish count, driven once
    scored = tf.join(df_, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "score")
    )


@_q(
    "sample_stratified",
    """
    SELECT o_orderstatus,
           cast(count(*) AS bigint) AS n_sampled,
           sum(cast(round(o_totalprice * 100) AS bigint)) / 100.0 AS sampled_value
    FROM orders
    WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 10
    GROUP BY o_orderstatus
    """,
)
def sample_stratified(spark, sf_dir):
    """Deterministic 10% sample via a portable content hash (md5 -> 60-bit
    int -> mod 100), aggregated per stratum.  Unlike rand()-based sampling
    this is reproducible across engines, runs, and partitionings — the
    property a training-data pipeline needs for holdout splits.  The hash
    predicate evaluates in the scan stage (no shuffle before the agg), and
    the same expression selects the same rows in DuckDB."""
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100
    )
    return (
        o.where(bucket < 10)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_sampled"),
            (F.sum(_cents(F.col("o_totalprice"))) / 100.0).alias("sampled_value"),
        )
    )


@_q(
    "join_runtime_minmax",
    """
    SELECT s.s_nationkey, cast(count(*) AS bigint) AS n_items,
           sum(cast(round(l.l_extendedprice * 100) AS bigint)) / 100.0 AS revenue
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE s.s_acctbal > 9000
    GROUP BY s.s_nationkey
    """,
)
def join_runtime_minmax(spark, sf_dir):
    """Runtime min/max filter: the filtered dim's key bounds are computed
    first (tiny agg) and pushed into the fact scan as a BETWEEN predicate
    before the exact join — the DPP/runtime-filter pattern for engines
    without bloom pushdown.  False positives inside the range are removed
    by the join, so the result is provably identical to the plain join
    (the oracle).  At 100 TB the BETWEEN lands in PushedFilters and prunes
    row groups at the parquet reader, cutting the shuffle's input.  The
    filtered supplier side still scales with SF, so it carries no
    compile-time broadcast hint — AQE decides from its measured post-filter
    size (q3/q5 policy)."""
    s = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") > 9000)
    lo, hi = s.agg(F.min("s_suppkey"), F.max("s_suppkey")).first()
    l = _t(spark, sf_dir, "lineitem")
    if lo is not None:
        l = l.where(F.col("l_suppkey").between(lo, hi))
    return (
        l.join(s, l["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_items"),
            (F.sum(_cents(F.col("l_extendedprice"))) / 100.0).alias("revenue"),
        )
    )


@_q(
    "dedup_clusters",
    f"""
    WITH RECURSIVE cand AS ({_minhash_pairs_sql(32, 4)}),
    pairs AS (SELECT DISTINCT doc_a, doc_b FROM cand),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(id, label) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst
    )
    SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id
    """,
)
def dedup_clusters(spark, sf_dir):
    """Duplicate clusters: connected components over the MinHash-LSH
    candidate graph.  Cluster id = smallest doc_id in the component — the
    canonical representative a dedup pipeline keeps.  Candidates come
    from the shipped dedup_minhash_pairs tier, i.e. the scale-safe
    (32, 4) parameters since r9 (the oracle composes the same
    parameterized band SQL, so a sketch drift breaks the hash).

    Execution is adaptive (operators/dedup.py connected_components): the
    LSH graph is orders of magnitude smaller than the corpus, so a
    driver-sized edge list folds with a local union-find, while larger
    graphs run alternating large-star/small-star contraction (Kiveris et
    al. MapReduce CC: O(log^2 n) rounds independent of component
    diameter).  The oracle is a recursive CTE over the same band-derived
    edges."""
    from ..operators.dedup import connected_components, minhash_candidate_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(
        d, "doc_id", "text", num_perm=32, bands=4, k=2
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


@_q(
    "window_range_frame",
    """
    SELECT event_id, user_id,
           sum(cast(round(value * 100) AS bigint))
             OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             / 100.0 AS sum_1h
    FROM events
    """,
)
def window_range_frame(spark, sf_dir):
    """Time-range window frame: per user, the rolling 1-hour sum of
    ``value`` ending at each event — RANGE BETWEEN on the epoch-MICROS
    key, so frame membership is defined by TIME distance, not row count
    (rows-frames silently break on irregular event spacing).

    One hash(user_id) exchange + one sort serves the whole frame; values
    sum as exact integer cents so any accumulation order hash-matches.
    The frame key is integer microseconds on BOTH engines
    (``unix_micros`` / ``epoch_us``): the earlier epoch-SECONDS key hid
    a cross-engine boundary bug — Spark's timestamp->long cast truncates
    fractional seconds while DuckDB's epoch()->bigint cast rounds, so an
    event .5s inside the hour sat in different frames, which surfaced
    only at sf1 event density (0.025% of rows).  Integer micros involve
    no rounding step anywhere, and peer groups (RANGE includes ties) are
    exact-timestamp ties in both engines."""
    e = _events(spark, sf_dir)
    key = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(key)
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        (F.sum(_cents(F.col("value"))).over(w) / 100.0).alias("sum_1h"),
    )


@_q(
    "q18_large_orders",
    """
    SELECT c.c_name, o.o_custkey, o.o_orderkey, o.o_orderdate,
           cast(round(o.o_totalprice * 100) AS bigint) / 100.0 AS o_totalprice,
           t.sum_qty
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN (SELECT l_orderkey,
                 cast(sum(cast(l_quantity AS bigint)) AS bigint) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(cast(l_quantity AS bigint)) > 300) t
      ON o.o_orderkey = t.l_orderkey
    """,
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): aggregate lineitem FIRST
    (one hash(l_orderkey) agg), filter with HAVING, and only join the
    surviving handful of orderkeys — the aggregate-before-join ordering is
    the entire plan at 100 TB (joining then aggregating would shuffle the
    full fact table twice).  The shrunken agg side is small enough that
    AQE broadcast-gates the orders join at any SF."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .select(
            "c_name",
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            (_cents(F.col("o_totalprice")) / 100.0).alias("o_totalprice"),
            "sum_qty",
        )
    )


@_q(
    "agg_approx_percentile",
    """
    SELECT l_returnflag,
           quantile_disc(l_quantity, 0.25) AS p25,
           quantile_disc(l_quantity, 0.5) AS p50,
           quantile_disc(l_quantity, 0.75) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark, sf_dir):
    """Streaming-friendly percentile sketch: approx_percentile keeps a
    bounded mergeable summary per group (partial/final agg, one shuffle,
    constant state) — the 100 TB path its exact sibling agg_percentiles
    (full per-group sort) can't take.

    Hash-oracled against DuckDB's EXACT discrete percentile: the GK
    sketch at accuracy=10000 guarantees rank error <= n/10000, while
    l_quantity's 50 distinct values each span ~n/50 ranks — the
    guaranteed error is 200x smaller than a value bucket, so the sketch
    returns the exact discrete percentile unless the target rank falls
    within n/10000 of a value boundary.  Deterministic (same data ->
    same sketch -> same answer); verified value-equal at
    sf0.001/0.01/0.1/1/10.  The sketch is genuinely in the path: a
    broken merge shifts the estimate across a bucket and the hash.

    The three percentiles come back as scalar columns (one sketch per
    group evaluated at three points) rather than one array column —
    flat frames canonicalize; array cells don't sort/hash portably."""
    l = _t(spark, sf_dir, "lineitem")
    pcts = F.expr(
        "approx_percentile(l_quantity, array(0.25, 0.5, 0.75), 10000)"
    )
    return l.groupBy("l_returnflag").agg(
        F.element_at(pcts, 1).alias("p25"),
        F.element_at(pcts, 2).alias("p50"),
        F.element_at(pcts, 3).alias("p75"),
    )


@_q(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
           sum(cents) / 100.0 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             cast(year(l.l_shipdate) AS int) AS l_year,
             cast(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS bigint) AS cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    ) GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping between a nation pair): two roles
    of the same tiny dimension, an OR'd pair predicate that only resolves
    after both sides attach, and a 3-key rollup.

    Scale: only the two nation lookups carry compile-time broadcast hints
    (dimension-sized by construction); supplier/customer/orders joins are
    AQE-gated, lineitem⋈orders co-shuffles on orderkey.  The nation-name
    filter halves each nation table before its join, so the OR predicate
    evaluates over at most 2x2 name combinations per row."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    pair = F.col("n_name").isin("NATION_1", "NATION_2")
    n1 = n.where(pair).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.where(pair).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        l.join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
            _cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "cents"
            ),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg((F.sum("cents") / 100.0).alias("revenue"))
    )


@_q(
    "fuzzy_pairs",
    """
    WITH t0 AS (SELECT doc_id, source, substr(text, 1, 24) AS head
                FROM documents),
    t AS (SELECT doc_id, source, head FROM (
            SELECT *, count(*) OVER (
              PARTITION BY source, cast(floor(length(head) / 10) AS bigint)
            ) AS _n FROM t0) WHERE _n <= 2000)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           cast(levenshtein(a.head, b.head) AS int) AS dist
    FROM t a JOIN t b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE abs(length(a.head) - length(b.head)) <= 10
      AND levenshtein(a.head, b.head) <= 10
    """,
)
def fuzzy_pairs(spark, sf_dir):
    """Fuzzy near-match join on document heads via edit distance — the
    string-similarity sibling of the MinHash/SimHash family (both engines
    implement classic Levenshtein DP, so distances hash-match exactly).

    Runs through ``operators.dedup.fuzzy_candidate_pairs``: the self-join
    blocks on (source, length-band-of-width-max_dist), not source alone.
    ``documents.source`` is ~20-distinct, so blocking on it alone leaves
    each block at corpus/20 and pair cost quadratic in the slice; the
    length band (edit distance >= |len gap|, so real pairs sit in equal
    or adjacent bands, and the band-emit trick surfaces each exactly
    once) re-bounds the block, and ``max_bucket=2000`` hard-caps any
    band that is still hot — mirrored in the oracle's windowed count, so
    the survivor set is identical in both engines.  24-char heads mean
    most docs share ONE band, so the cap is the operative bound: the sf1
    run measured 389s uncapped (~60M threshold-Levenshtein pairs) — a
    block that hot is boilerplate and routes through MinHash, exactly
    like dedup_ngram_jaccard's cap.  At the driver SFs (<=250 docs per
    band) the cap never triggers."""
    from ..operators.dedup import fuzzy_candidate_pairs

    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "source", F.substring("text", 1, 24).alias("head")
    )
    return fuzzy_candidate_pairs(
        t,
        id_col="doc_id",
        text_col="head",
        bucket_cols=("source",),
        max_dist=10,
        max_bucket=2000,
    )


_KMEANS_ORACLE = """
    WITH c AS (
      SELECT vec_id AS cid, embedding FROM embeddings ORDER BY vec_id LIMIT 10
    ),
    ce AS (
      SELECT cid, unnest(embedding) AS cv,
             generate_subscripts(embedding, 1) AS i
      FROM c
    ),
    ee AS (
      SELECT vec_id, unnest(embedding) AS ev,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    d AS (
      SELECT ee.vec_id, ce.cid,
             sum((cast(ee.ev AS double) - cast(ce.cv AS double))
               * (cast(ee.ev AS double) - cast(ce.cv AS double))) AS d2
      FROM ee JOIN ce USING (i) GROUP BY ee.vec_id, ce.cid
    )
    SELECT vec_id, cast(cid AS int) AS cluster FROM (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM d) WHERE rn = 1
"""


@_q("cluster_kmeans_assign", _KMEANS_ORACLE)
def cluster_kmeans_assign(spark, sf_dir):
    """Nearest-centroid assignment (operators/cluster.py): centroids are
    the 10 lowest vec_ids (deterministic seed), distances are float64
    elementwise (x-c)^2 sums so both engines agree on argmin; ties break
    to the lowest cluster id.  Scale: centroids broadcast by value, one
    numpy distance matrix per Arrow batch, the scan is the only data
    movement.  The oracle re-derives assignment relationally via
    unnest + group-sum + row_number."""
    from ..operators.cluster import kmeans_assign

    import numpy as np

    e = _t(spark, sf_dir, "embeddings")
    seed = e.orderBy("vec_id").limit(10).collect()
    cents = np.array([r["embedding"] for r in seed], dtype=np.float64)
    return kmeans_assign(e, cents)


@_q(
    "cluster_kmeans_fit",
    """
    SELECT cast(count(*) AS bigint) AS n_points,
           10 AS k_centroids,
           TRUE AS sse_le_init,
           TRUE AS sse_le_onecluster
    FROM embeddings
    """,
)
def cluster_kmeans_fit(spark, sf_dir):
    """Five Lloyd's iterations (operators/cluster.py kmeans_fit: one job
    per round, per-partition partial sums, K x dim bytes to the driver),
    hash-oracled via the same bound-contract pattern as the approx
    sketches: raw fit internals (sizes, norms) are float-order-dependent
    across vintages, so the output pins the fit's CONTRACT with values
    the oracle computes independently plus booleans that are THEOREMS,
    not statistical luck:

    * ``sse_le_init`` — Lloyd monotonicity: the final min-assignment SSE
      never exceeds the SSE of the deterministic seed centroids (the k
      lowest vec_id vectors).  Each round's argmin step and mean-update
      step both weakly decrease the objective.
    * ``sse_le_onecluster`` — cell means minimize within-cell SSE, so the
      fitted partition's SSE is bounded by the k=1 SSE about the global
      mean (computed JVM-side as sum over dims of n * var_pop — no second
      Python pass).

    Both margins are sums over every point, so they dwarf float
    accumulation noise on any non-degenerate data; a broken update rule,
    divergence, or NaN centroids flips a boolean (NaN compares false) and
    the driver hash.  Earlier oracle designs fail on measured grounds —
    label purity needs separable data (~0.15 modal purity on the shipped
    embeddings) and a SQL Lloyd replay is float-divergent on overlapped
    data — which is exactly why the contract, not the trajectory, is
    what's pinned.  The per-point assignment half is hash-checked
    value-for-value via cluster_kmeans_assign; trajectory exactness is
    anchored by tests/test_cluster.py's numpy differential run."""
    import numpy as np

    from ..operators.cluster import kmeans_fit, kmeans_sse

    e = _t(spark, sf_dir, "embeddings")
    seed = np.array(
        [
            r["embedding"]
            for r in e.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(10)
            .collect()
        ],
        dtype="float64",
    )
    cents = kmeans_fit(e, 10, iters=5)
    sse_fit = kmeans_sse(e, cents)
    sse_init = kmeans_sse(e, seed)
    n_points = e.count()
    sse_one = (
        e.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.var_pop("x").alias("v"))
        .agg(F.sum("v").alias("tv"))
        .collect()[0]["tv"]
    ) * n_points
    return spark.createDataFrame(
        [
            (
                n_points,
                len(cents),
                bool(sse_fit <= sse_init),
                bool(sse_fit <= sse_one),
            )
        ],
        "n_points long, k_centroids int, sse_le_init boolean, "
        "sse_le_onecluster boolean",
    )


@_q(
    "split_train_eval",
    """
    SELECT source,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'valid'
                ELSE 'test' END AS split,
           cast(count(*) AS bigint) AS n_docs,
           cast(sum(n_chars) AS bigint) AS sum_chars
    FROM (SELECT source, n_chars,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      AS BIGINT) % 100 AS b
          FROM documents)
    GROUP BY source, split
    """,
)
def split_train_eval(spark, sf_dir):
    """Deterministic train/valid/test assignment via a portable content
    hash (md5 -> 60-bit int -> mod 100: 80/10/10), aggregated per source.

    The split a training pipeline needs: reproducible across engines,
    runs, partitionings, and data ORDER — appending new docs never
    reshuffles old assignments, unlike rand()-seeded splits.  The hash
    evaluates in the scan stage; the agg shuffles 20 sources x 3 splits.
    """
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return d.groupBy("source", split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


@_q(
    "quality_gopher_rules",
    """
    SELECT doc_id, n_words, mwl_c100, distinct_ppm,
           CASE WHEN n_words BETWEEN 20 AND 70
                 AND mwl_c100 BETWEEN 350 AND 460
                 AND distinct_ppm >= 500000
                THEN 1 ELSE 0 END AS keep
    FROM (SELECT doc_id,
                 len(ws) AS n_words,
                 cast(floor(100.0 * (length(text) - (len(ws) - 1)) / len(ws))
                      AS bigint) AS mwl_c100,
                 cast(floor(1000000.0 * len(list_distinct(ws)) / len(ws))
                      AS bigint) AS distinct_ppm
          FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
                FROM documents))
    """,
)
def quality_gopher_rules(spark, sf_dir):
    """Gopher-style per-document quality gates (word count bounds, mean
    word length band, distinct-word floor) as exact-integer signals plus
    the fused keep/drop verdict — the rule-based filter stage of a
    pretraining pipeline.

    All three signals derive from one ``split`` of the text inside
    whole-stage codegen: no UDF, no shuffle (pure per-row projection),
    and integer outputs (chars*100 / ppm) so the cross-engine hash can
    never wobble on float division.
    """
    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    n_words = F.size(ws)
    mwl_c100 = F.floor(
        100.0 * (F.length("text") - (n_words - 1)) / n_words
    ).cast("long")
    distinct_ppm = F.floor(
        1_000_000.0 * F.size(F.array_distinct(ws)) / n_words
    ).cast("long")
    keep = (
        n_words.between(20, 70)
        & mwl_c100.between(350, 460)
        & (distinct_ppm >= 500_000)
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        mwl_c100.alias("mwl_c100"),
        distinct_ppm.alias("distinct_ppm"),
        keep.cast("int").alias("keep"),
    )


@_q(
    "ngram_counts",
    """
    SELECT gram, cast(count(*) AS bigint) AS n
    FROM (SELECT unnest(list_transform(range(1, len(ws)),
                                       i -> ws[i] || ' ' || ws[i + 1])) AS gram
          FROM (SELECT string_split(text, ' ') AS ws FROM documents)
          WHERE len(ws) >= 2)
    GROUP BY gram
    ORDER BY n DESC, gram
    LIMIT 20
    """,
)
def ngram_counts(spark, sf_dir):
    """Corpus-level top-20 word bigrams — the n-gram statistics pass of a
    data-audit / contamination workflow.

    Scale shape: bigrams build row-local (sequence + transform, no join),
    the count is a partial-before-shuffle hash agg keyed on the gram, and
    only the top-k crosses to the driver via a TakeOrdered with a full
    (count desc, gram) tiebreak — deterministic under any partitioning.
    """
    from ..functions.text import exploded_shingles

    d = _t(spark, sf_dir, "documents")
    # bigram occurrences via posexplode + lead (codegen; the
    # sequence/transform lambda variant ran interpreted, ~3x slower);
    # no short-doc fallback — single-word docs contribute nothing
    ex = exploded_shingles(
        d, "doc_id", "text", 2, short_doc_fallback=False
    )
    return (
        ex.groupBy("gram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "gram")
        .limit(20)
    )


_CONTAM_PROBES = [
    "table table key",
    "the line sort",
    "big big group",
    "data query small",
    "batch batch agg",
    "spark data vector",
]


@_q(
    "contamination_probe",
    f"""
    WITH s AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(ws) < 3 THEN [text]
                  ELSE list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END)
               AS sh
      FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
            FROM documents))
    SELECT probe, cast(count(*) AS bigint) AS n_docs
    FROM (SELECT unnest(list_intersect(sh,
                 [{", ".join("'" + p + "'" for p in _CONTAM_PROBES)}]))
            AS probe
          FROM s)
    GROUP BY probe
    """,
)
def contamination_probe(spark, sf_dir):
    """Benchmark-contamination screen: count documents containing each
    probe trigram (an eval-set shingle), the filter a pretraining
    pipeline runs before training on scraped data.

    Trigram occurrences build via posexplode + lead (codegen — the
    array_intersect-over-word_shingles variant ran its lambdas
    interpreted, ~4x slower); the probe IN-filter prunes in the same
    codegen stage before the distinct, so only (doc, probe) hits — at
    most |probes| per doc — reach the shuffle.  Zero-match probes appear
    in neither engine's output by construction.
    """
    from ..functions.text import exploded_shingles

    d = _t(spark, sf_dir, "documents")
    ex = exploded_shingles(d, "doc_id", "text", 3)
    return (
        ex.where(F.col("gram").isin(_CONTAM_PROBES))
        .select("doc_id", F.col("gram").alias("probe"))
        .distinct()
        .groupBy("probe")
        .agg(F.count("*").alias("n_docs"))
    )


@_q(
    "dedup_substring_stats",
    """
    WITH s0 AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(ws) < 8 THEN [text]
                  ELSE list_transform(range(1, len(ws) - 6),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                         || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5]
                         || ' ' || ws[i+6] || ' ' || ws[i+7]) END) AS sh
      FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
            FROM documents)),
    -- the engine intersects 60-bit md5-prefix gram hashes (gram_sets
    -- hashed mode); the identical transform here keeps both engines
    -- bit-equal even under a (vanishingly rare) collision
    s AS (SELECT doc_id,
                 list_distinct(list_transform(sh,
                     g -> cast(('0x' || substr(md5(g), 1, 15)) AS bigint)))
                   AS sh
          FROM s0),
    ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
    dup AS (SELECT g FROM ex GROUP BY g HAVING count(*) > 1)
    SELECT s.doc_id,
           cast(len(s.sh) AS bigint) AS n_grams,
           cast(coalesce(d.dup_grams, 0) AS bigint) AS dup_grams
    FROM s LEFT JOIN (SELECT doc_id, cast(count(*) AS bigint) AS dup_grams
                      FROM ex JOIN dup USING (g)
                      GROUP BY doc_id) d USING (doc_id)
    """,
)
def dedup_substring_stats(spark, sf_dir):
    """Per-document duplicated-span statistics: how many of a doc's
    distinct word 8-grams occur in at least one OTHER document (same-doc
    repeats don't count — shingles are distinct per doc).  The signal
    behind exact-substring deduplication of training corpora (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): a high
    dup_grams/n_grams ratio marks boilerplate to strip before training.

    Scale shape: shingles build row-local (no explode until the gram
    table), the gram doc-frequency is a partial-before-shuffle
    ``groupBy(gram)`` — a boilerplate 8-gram present in half the corpus
    collapses to ONE row per map task before it ever shuffles — and the
    join back on ``gram`` is AQE-skew-splittable (the build side carries
    exactly one row per duplicated gram, so a hot probe partition can be
    split freely).  The earlier formulation used
    ``count().over(Window.partitionBy("gram"))``, which buffers a hot
    gram's whole group in ONE WindowExec task that AQE cannot split — the
    exact failure mode this operator invites at 100 TB (boilerplate grams
    are its point).  The doc-level rollup shuffles only (doc_id, count)
    pairs.
    """
    from ..operators.dedup import gram_sets

    d = _t(spark, sf_dir, "documents")
    # per-doc distinct gram HASHES built doc-locally (gram_sets r9): the
    # posexplode+lead shape this replaces shuffled every word occurrence
    # through the lead window and every 8-word gram STRING through the
    # .distinct() — now only 16-byte (doc_id, hash) rows ever shuffle.
    # (History: the array-lambda word_shingles formulation measured 38s
    # vs ~2s at sf0.1 before that — interpreted lambdas, no CSE.)
    # two consumers (the dup aggregate + the join back) and a mapInArrow
    # relation has no exchange for Catalyst to reuse — persist or the
    # Python pass runs twice per action (measured 2x at sf1).  No
    # unpersist hook exists inside a lazy registry query: the cache is
    # reclaimed by Spark's ContextCleaner once the returned plan is
    # unreachable (the driver/bench sweep holds one query at a time)
    ex = gram_sets(d, "doc_id", "text", 8, hashed=True).select(
        "doc_id", F.explode("grams").alias("gram")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # doc-frequency: partial agg collapses hot grams map-side; only
    # grams seen in >1 doc survive to the join build side (most grams
    # are unique, so the build input shrinks by ~the dup rate)
    dup = (
        ex.groupBy("gram")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") > 1)
        .select("gram", F.lit(1).alias("is_dup"))
    )
    return (
        ex.join(dup, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0)).cast("long")).alias(
                "dup_grams"
            ),
        )
    )


@_q(
    "quality_repetition",
    """
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws
               FROM documents),
    g AS (SELECT doc_id,
                 unnest(CASE WHEN len(ws) < 2 THEN [text]
                        ELSE list_transform(range(len(ws) - 1),
                                            i -> ws[i+1] || ' ' || ws[i+2])
                        END) AS gram
          FROM t),
    c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram)
    SELECT doc_id,
           cast(sum(c) AS bigint) AS n_bigrams,
           cast(max(c) AS bigint) AS top_bigram_n,
           cast(coalesce(sum(c) FILTER (WHERE c > 1), 0) AS bigint)
             AS dup_bigram_n
    FROM c GROUP BY doc_id
    """,
)
def quality_repetition(spark, sf_dir):
    """WITHIN-document repetition signals (Gopher rules 6-8 family,
    Rae et al.): per doc, total word-bigram occurrences, the count of the
    most frequent bigram, and how many occurrences belong to bigrams
    repeated within the SAME doc.  High top/dup fractions mark template
    spam and looping generations; the cross-document complement is
    dedup_substring_stats.

    Integer counts only — consumers divide, so no float ever crosses the
    hash.  Scale shape (r9): the statistic is a pure function of ONE
    document, so the whole query is a single zero-shuffle ``mapInArrow``
    pass — per doc, one Counter over its bigrams, three ints out.  The
    previous two-aggregation shape ((doc, gram) then (doc)) shuffled
    every bigram occurrence of the corpus to compute a doc-local fact.
    Exact integer counts, no hashing — the oracle is unchanged.
    """
    import pyarrow as pa

    def fold(batches):
        from collections import Counter

        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            tot, top, dup = [], [], []
            for t in texts:
                ws = t.split(" ")
                grams = (
                    [t]
                    if len(ws) < 2
                    else [
                        f"{ws[j]} {ws[j + 1]}" for j in range(len(ws) - 1)
                    ]
                )
                c = Counter(grams)
                tot.append(len(grams))
                top.append(max(c.values()))
                dup.append(sum(v for v in c.values() if v > 1))
            yield pa.record_batch(
                [
                    ids,
                    pa.array(tot, type=pa.int64()),
                    pa.array(top, type=pa.int64()),
                    pa.array(dup, type=pa.int64()),
                ],
                names=["doc_id", "n_bigrams", "top_bigram_n", "dup_bigram_n"],
            )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text").where(
        F.col("text").isNotNull()
    )
    from ..operators.ann import narrower_than_cores

    cores = spark.sparkContext.defaultParallelism
    if narrower_than_cores(d):
        d = d.repartition(cores)
    return d.mapInArrow(
        fold,
        "doc_id long, n_bigrams long, top_bigram_n long, dup_bigram_n long",
    )


@_q(
    "events_funnel",
    """
    WITH v AS (SELECT user_id, min(ts) AS tv FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS tc
          FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.tv
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS tp
          FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.tc
          GROUP BY e.user_id)
    SELECT (SELECT cast(count(*) AS bigint) FROM v) AS users_view,
           (SELECT cast(count(*) AS bigint) FROM c) AS users_click,
           (SELECT cast(count(*) AS bigint) FROM p) AS users_purchase
    """,
)
def events_funnel(spark, sf_dir):
    """Ordered three-stage funnel over the event stream: users whose
    first view precedes a click that precedes a purchase.  The classic
    product-analytics query a sink's warehouse serves.

    Scale shape: three filtered partial aggregations, each stage joining
    the previous stage's one-row-per-user table (shrinking monotonically,
    broadcast-able) — never a per-user window, so a hot user costs max()
    work, not a buffered WindowExec group.  Counts cross engines as
    bigints; timestamps never leave the plan.
    """
    e = _events(spark, sf_dir)
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("tc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    return (
        v.agg(F.count("*").cast("long").alias("users_view"))
        .crossJoin(c.agg(F.count("*").cast("long").alias("users_click")))
        .crossJoin(p.agg(F.count("*").cast("long").alias("users_purchase")))
    )


# ---------------------------------------------------------------------------
# Round 5: the rest of the TPC-H plan-shape family, adapted to the driver
# schema (no partsupp / commitdate / receiptdate / phone columns — each
# query keeps its reference plan SHAPE and swaps unavailable predicates
# for schema-equivalent ones, noted per query).
# ---------------------------------------------------------------------------


@_q(
    "q8_market_share",
    """
    WITH t AS (
      SELECT year(o_orderdate) AS o_year,
             cast(round(l_extendedprice*100) AS bigint)
               * (100 - cast(round(l_discount*100) AS bigint)) AS vol_cents,
             n2.n_name AS supp_nation
      FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN part     ON p_partkey  = l_partkey
        JOIN customer ON c_custkey  = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN supplier ON s_suppkey  = l_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY')
    SELECT cast(o_year AS bigint) AS o_year,
           cast(sum(CASE WHEN supp_nation = 'NATION_6' THEN vol_cents ELSE 0 END) AS bigint) AS nation_cents,
           cast(sum(vol_cents) AS bigint) AS total_cents,
           cast(sum(CASE WHEN supp_nation = 'NATION_6' THEN vol_cents ELSE 0 END) AS bigint) * 1.0
             / cast(sum(vol_cents) AS bigint) AS mkt_share
    FROM t GROUP BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: two-role nation dimension (customer-side region
    filter, supplier-side share target) feeding a conditional-ratio
    aggregate per year.  Adapted: ``p_type = 'ECONOMY'`` stands in for the
    reference's part-type predicate; AMERICA/NATION_6 for the
    region/nation pair.

    Scale: nation x region after the AMERICA filter is 5 rows and nation
    itself 25 — the only compile-time broadcasts.  part/customer/supplier
    all scale with SF so their joins are AQE-gated; lineitem->orders
    co-shuffles on orderkey, then custkey.  The share is computed from two
    exact cents sums (conditional + total) in ONE aggregation pass — never
    two scans joined — and the final division of exact bigints is
    IEEE-identical across engines.
    """
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    cust_dims = n.join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cn_nationkey"))
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey").join(
        F.broadcast(cust_dims), F.col("c_nationkey") == F.col("cn_nationkey")
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    supp_nation = s.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    # shrink lineitem by the selective part filter first, then orders
    # (AMERICA customers), then attach the supplier nation label
    lp = l.join(p, F.col("l_partkey") == F.col("p_partkey"))
    oc = o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    t = (
        lp.join(oc, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "o_year",
            (_cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))).alias("vol_cents"),
            "supp_nation",
        )
    )
    nat = F.sum(
        F.when(F.col("supp_nation") == "NATION_6", F.col("vol_cents")).otherwise(F.lit(0))
    ).cast("long")
    tot = F.sum("vol_cents").cast("long")
    return t.groupBy("o_year").agg(
        nat.alias("nation_cents"),
        tot.alias("total_cents"),
        (nat * F.lit(1.0) / tot).alias("mkt_share"),
    )


@_q(
    "q10_returned_items",
    """
    WITH rev AS (
      SELECT o_custkey,
             cast(sum(cast(round(l_extendedprice*100) AS bigint)
                      * (100 - cast(round(l_discount*100) AS bigint))) AS bigint) AS rev_cents
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY o_custkey
      QUALIFY row_number() OVER (ORDER BY rev_cents DESC, o_custkey) <= 20)
    SELECT c_custkey, c_name, rev_cents/10000.0 AS revenue, n_name, c_acctbal
    FROM rev JOIN customer ON c_custkey = o_custkey
             JOIN nation ON n_nationkey = c_nationkey
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: top customers by returned-item revenue in a
    quarter.  (No c_phone/c_address/c_comment in the driver schema — the
    remaining output columns keep Q10's join fan: customer + nation
    attached to an aggregated fact.)

    Scale: aggregate-before-join — revenue folds to one row per custkey
    BEFORE any dimension attaches (custkey functionally determines every
    output column), the top-20 runs as TakeOrderedAndProject on that
    aggregate, and customer/nation join onto 20 rows, not 20 rows onto
    all of customer.  At 100 TB the only big shuffles are
    lineitem<->orders on orderkey and the custkey agg.
    """
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    rev = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            F.sum(_cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount"))))
            .cast("long")
            .alias("rev_cents")
        )
        .orderBy(F.desc("rev_cents"), F.asc("o_custkey"))
        .limit(20)
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        rev.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .select(
            "c_custkey",
            "c_name",
            (F.col("rev_cents") / 10000.0).alias("revenue"),
            "n_name",
            "c_acctbal",
        )
    )


@_q(
    "q13_customer_distribution",
    """
    SELECT c_count, cast(count(*) AS bigint) AS custdist
    FROM (SELECT c_custkey, cast(count(o_orderkey) AS bigint) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: distribution of per-customer order counts
    including zero-order customers (the outer-join-then-double-aggregate
    plan).  ``o_orderpriority <> '1-URGENT'`` stands in for the
    reference's comment-pattern filter.

    Scale: implemented aggregate-before-join — orders folds to one row
    per custkey first (partial agg collapses map-side), then a LEFT join
    from customer fills the zero bucket with coalesce(0), then the second
    aggregate keys on c_count (low cardinality, but partial aggregation
    collapses it before the one tiny shuffle).  Equivalent to the
    outer-join formulation because count(o_orderkey) over a left join
    counts only matched rows, and strictly cheaper: the join moves one
    row per customer instead of one per order.
    """
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    per_cust = c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left").select(
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("long").alias("custdist")
    )


@_q(
    "q14_promo_revenue",
    """
    SELECT cast(sum(CASE WHEN p_type = 'PROMO'
                    THEN cast(round(l_extendedprice*100) AS bigint)
                         * (100 - cast(round(l_discount*100) AS bigint))
                    ELSE 0 END) AS bigint) AS promo_cents,
           cast(sum(cast(round(l_extendedprice*100) AS bigint)
                    * (100 - cast(round(l_discount*100) AS bigint))) AS bigint) AS total_cents,
           100.0 * cast(sum(CASE WHEN p_type = 'PROMO'
                    THEN cast(round(l_extendedprice*100) AS bigint)
                         * (100 - cast(round(l_discount*100) AS bigint))
                    ELSE 0 END) AS bigint)
             / cast(sum(cast(round(l_extendedprice*100) AS bigint)
                    * (100 - cast(round(l_discount*100) AS bigint))) AS bigint) AS promo_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: promo-revenue share for one month — a
    conditional-ratio aggregate over a fact<->dimension join.

    Scale: the shipdate window is pushed into the lineitem scan
    (PushedFilters), part carries no broadcast hint (it scales with SF;
    AQE broadcasts at test scale, shuffles on partkey at 100 TB), and
    numerator + denominator come out of ONE aggregation pass as exact
    cents bigints — the final ``100.0 * promo / total`` division of two
    exact integers is IEEE-identical across engines.
    """
    l = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0))
    ).cast("long")
    total = F.sum(vol).cast("long")
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            promo.alias("promo_cents"),
            total.alias("total_cents"),
            (F.lit(100.0) * promo / total).alias("promo_pct"),
        )
    )


@_q(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             cast(sum(cast(round(l_extendedprice*100) AS bigint)
                      * (100 - cast(round(l_discount*100) AS bigint))) AS bigint) AS total_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_cents/10000.0 AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_cents = (SELECT max(total_cents) FROM rev)
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: quarterly revenue per supplier, keep the
    supplier(s) at the maximum (the view + scalar-max-subquery plan).

    Scale: the scalar subquery becomes a one-row aggregate broadcast-
    cross-joined against the per-supplier revenue — no collect(), no
    global sort; ties all survive, exactly like the reference semantics.
    The revenue fold is one suppkey-keyed shuffle with map-side partials;
    supplier attaches AFTER the max filter (a handful of rows), so the
    dimension join never sees the full aggregate.
    """
    l = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    rev = l.groupBy("l_suppkey").agg(
        F.sum(_cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount"))))
        .cast("long")
        .alias("total_cents")
    )
    mx = rev.agg(F.max("total_cents").alias("mx"))
    top = rev.join(F.broadcast(mx), F.col("total_cents") == F.col("mx")).select(
        "l_suppkey", "total_cents"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return top.join(s, F.col("s_suppkey") == F.col("l_suppkey")).select(
        "s_suppkey",
        "s_name",
        (F.col("total_cents") / 10000.0).alias("total_revenue"),
    )


@_q(
    "q17_small_quantity",
    """
    WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1'),
         li AS (SELECT l_partkey, l_quantity, l_extendedprice
                FROM lineitem JOIN bp ON p_partkey = l_partkey),
         a  AS (SELECT l_partkey AS a_partkey, avg(l_quantity) AS avg_qty
                FROM li GROUP BY 1)
    SELECT cast(sum(cast(round(l_extendedprice*100) AS bigint)) AS bigint)/100.0/7.0 AS avg_yearly,
           cast(count(*) AS bigint) AS n_small_lines
    FROM li JOIN a ON a_partkey = l_partkey
    WHERE l_quantity < 0.5 * avg_qty
    """,
)
def q17_small_quantity(spark, sf_dir):
    """TPC-H Q17 shape: lines whose quantity falls below a fraction of
    that part's own average — the correlated-average-per-group plan,
    lowered to aggregate + join-back instead of a correlated subquery.
    (Brand#1 / 0.5x stand in for the reference's Brand/container/0.2x so
    every shipped SF yields qualifying rows.)

    Scale: the brand filter semi-prunes lineitem FIRST (both the average
    and the probe only need lines of Brand#1 parts — per-part averages
    are unchanged by dropping other parts), the per-part average is one
    partkey-keyed aggregation joined back on the same key (AQE reuses the
    co-partitioning), and NO window function appears — a hot part costs a
    mergeable partial, never a buffered WindowExec group.  l_quantity is
    a whole number 1..50 stored as double, so avg = exact-int-sum / count
    is order-independent and the 0.5x threshold compare is deterministic
    across engines.
    """
    bp = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1").select(
        "p_partkey"
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(bp, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
    )
    a = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    small = li.join(a, F.col("l_partkey") == F.col("a_partkey")).where(
        F.col("l_quantity") < 0.5 * F.col("avg_qty")
    )
    return small.agg(
        (F.sum(_cents(F.col("l_extendedprice"))).cast("long") / 100.0 / 7.0).alias(
            "avg_yearly"
        ),
        F.count("*").cast("long").alias("n_small_lines"),
    )


@_q(
    "q19_discounted_revenue",
    """
    SELECT cast(sum(cast(round(l_extendedprice*100) AS bigint)
                    * (100 - cast(round(l_discount*100) AS bigint))) AS bigint)/10000.0 AS revenue,
           cast(count(*) AS bigint) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 shape: three OR'd (brand, size-range, quantity-range)
    conjunctions across a fact<->dimension join.  (Container/shipmode
    legs of the reference predicate don't exist in the driver schema;
    the brand x size x quantity triple keeps the mixed-side disjunction
    that makes Q19 a pushdown test.)

    Scale: the part-side implication of the disjunction — brand IN the
    three values AND size in the union range — is factored out and
    pushed into the part scan (PushedFilters), so the join build side
    shrinks ~8x before the full mixed-side OR (which references both
    tables and can only run post-join) evaluates in the join's codegen
    stage.  No hint on the join: AQE broadcasts the filtered part at
    test SF, shuffles on partkey at 100 TB.
    """
    p = _t(spark, sf_dir, "part").where(
        F.col("p_brand").isin("Brand#3", "Brand#13", "Brand#23")
        & F.col("p_size").between(1, 35)
    ).select("p_partkey", "p_brand", "p_size")
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(
            (
                F.sum(_cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount"))))
                .cast("long")
                / 10000.0
            ).alias("revenue"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


@_q(
    "q21_waiting_supplier",
    """
    WITH ll AS (
      SELECT l_orderkey, l_suppkey,
             (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'),
    g AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS nsupp,
             count(DISTINCT CASE WHEN late THEN l_suppkey END) AS nlate
      FROM ll GROUP BY l_orderkey)
    SELECT s_name, cast(count(*) AS bigint) AS numwait
    FROM ll JOIN g USING (l_orderkey)
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
    WHERE ll.late AND g.nsupp > 1 AND g.nlate = 1 AND n_name = 'NATION_3'
    GROUP BY s_name
    QUALIFY row_number() OVER (ORDER BY numwait DESC, s_name) <= 10
    """,
)
def q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who alone held up a multi-supplier
    order.  The reference predicate uses receipt/commit dates (absent
    here); "late" is adapted to ``l_shipdate > o_orderdate + 60 days``.
    Q21's EXISTS (another supplier in the order) and NOT EXISTS (another
    LATE supplier in the order) lower to per-order counts: nsupp > 1 and
    nlate == 1 — for a late row, "the only late supplier is me".

    Scale: both existence tests come from ONE orderkey-partitioned window
    over the joined fact — a single lineitem scan and a single orderkey
    shuffle (the aggregate-then-join-back alternative reads lineitem
    twice and measured 3x slower at sf1; the reference plan scans it
    three times).  A WindowExec group here is one ORDER — bounded by the
    schema's lines-per-order, not data-scaled, so the buffered-group
    skew hazard that rules out windows on open-ended keys (see
    dedup_substring_stats) does not apply.  The nation filter prunes the
    supplier dimension before its join; the final s_name top-10 is
    TakeOrderedAndProject.
    """
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    ll = l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60).cast("timestamp")).alias("late"),
    )
    w = Window.partitionBy("l_orderkey")
    ann = ll.select(
        "*",
        F.size(F.collect_set("l_suppkey").over(w)).alias("nsupp"),
        F.size(
            F.collect_set(F.when(F.col("late"), F.col("l_suppkey"))).over(w)
        ).alias("nlate"),
    )
    culprits = ann.where(
        F.col("late") & (F.col("nsupp") > 1) & (F.col("nlate") == 1)
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3").select(
        "n_nationkey"
    )
    sn = s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    return (
        culprits.join(sn, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


@_q(
    "q22_inactive_balance",
    """
    WITH cust AS (
      SELECT c_custkey, c_nationkey,
             cast(round(c_acctbal*100) AS bigint) AS bal_cents
      FROM customer),
    thr AS (
      SELECT cast(sum(bal_cents) AS bigint) * 1.0 / count(*) AS t
      FROM cust WHERE bal_cents > 0)
    SELECT cast(c_nationkey % 5 AS bigint) AS cohort,
           cast(count(*) AS bigint) AS numcust,
           cast(sum(bal_cents) AS bigint)/100.0 AS totacctbal
    FROM cust, thr
    WHERE bal_cents > thr.t
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
    GROUP BY c_nationkey % 5
    """,
)
def q22_inactive_balance(spark, sf_dir):
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders, grouped into cohorts.  Adapted: the phone-prefix country
    code (no phone column) becomes ``c_nationkey % 5``, and "never
    ordered" (every driver customer has orders) becomes "no orders since
    2001-01-01" — preserving Q22's scalar-average subquery + anti-join
    plan.

    Scale: the average is computed in exact cents (bigint sum / count —
    the double division of two exact ints is engine-identical, and the
    ``bal_cents > t`` compare is int-vs-exact-double, so no float-sum
    order sensitivity anywhere).  It broadcasts as a one-row cross join.
    The anti join's right side is orders AFTER the pushed-down date
    filter — a fraction of the table — and shuffles on custkey opposite
    the filtered customer side.  Cohort agg is 5 groups, collapsed
    map-side.
    """
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        _cents(F.col("c_acctbal")).alias("bal_cents"),
    )
    thr = cust.where(F.col("bal_cents") > 0).agg(
        (F.sum("bal_cents").cast("long") * F.lit(1.0) / F.count("*")).alias("t")
    )
    recent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp")
    ).select("o_custkey")
    kept = (
        cust.crossJoin(F.broadcast(thr))
        .where(F.col("bal_cents") > F.col("t"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return kept.groupBy(
        (F.col("c_nationkey") % 5).cast("long").alias("cohort")
    ).agg(
        F.count("*").cast("long").alias("numcust"),
        (F.sum("bal_cents").cast("long") / 100.0).alias("totacctbal"),
    )


@_q(
    "q2_min_cost_supplier",
    """
    WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    fp AS (SELECT p_partkey, p_type FROM part
           WHERE p_size = 7 AND p_type = 'STANDARD'),
    eu AS (SELECT s_suppkey, s_name, n_name,
                  cast(round(s_acctbal*100) AS bigint) AS cost_cents
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
                         JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE'),
    cand AS (SELECT p_partkey, s_name, n_name, cost_cents
             FROM fp JOIN rel ON l_partkey = p_partkey
                     JOIN eu  ON s_suppkey = l_suppkey),
    mn AS (SELECT p_partkey AS m_partkey, min(cost_cents) AS min_cents
           FROM cand GROUP BY p_partkey)
    SELECT p_partkey, s_name, n_name, cost_cents/100.0 AS s_acctbal
    FROM cand JOIN mn ON p_partkey = m_partkey AND cost_cents = min_cents
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: for each qualifying part, the region-local
    supplier(s) achieving the minimum cost — the correlated-min-subquery
    plan lowered to aggregate + join-back on (part, min).  Adapted: the
    part<->supplier relation derives from DISTINCT lineitem pairs (no
    partsupp table) and s_acctbal stands in for ps_supplycost; EUROPE /
    size 7 / STANDARD mirror the reference's region/size/type predicate.
    All min-ties survive, exactly like the reference semantics, so no
    LIMIT tiebreak is needed.

    Scale: the part filter prunes FIRST (pushed to the parquet scan) and
    semi-shrinks the distinct pair relation before any supplier attaches;
    the relation dedup is one partial-agg distinct on the composite key.
    The min is a partkey-keyed aggregation joined back on the same key —
    AQE reuses the co-partitioning, and no window appears, so a hot part
    costs a mergeable partial.  region x nation is the only compile-time
    broadcast; supplier scales with SF so its join is AQE-gated.  Cost
    compares are exact cents (bigint), never float.
    """
    rel = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    fp = _t(spark, sf_dir, "part").where(
        (F.col("p_size") == 7) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    nr = n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")).select(
        "n_nationkey", "n_name"
    )
    eu = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_suppkey",
            "s_name",
            "n_name",
            _cents(F.col("s_acctbal")).alias("cost_cents"),
        )
    )
    cand = (
        fp.join(rel, F.col("l_partkey") == F.col("p_partkey"))
        .join(eu, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "s_name", "n_name", "cost_cents")
    )
    mn = cand.groupBy(F.col("p_partkey").alias("m_partkey")).agg(
        F.min("cost_cents").alias("min_cents")
    )
    return cand.join(
        mn,
        (F.col("p_partkey") == F.col("m_partkey"))
        & (F.col("cost_cents") == F.col("min_cents")),
    ).select(
        "p_partkey",
        "s_name",
        "n_name",
        (F.col("cost_cents") / 100.0).alias("s_acctbal"),
    )


@_q(
    "q9_product_profit",
    """
    WITH amt AS (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             cast(round(l_extendedprice*100) AS bigint)
               * (100 - cast(round(l_discount*100) AS bigint))
             - cast(round(l_quantity) AS bigint)
               * cast(round(p_retailprice*100) AS bigint) * 10 AS amount
      FROM lineitem
        JOIN part     ON p_partkey  = l_partkey
        JOIN supplier ON s_suppkey  = l_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN orders   ON o_orderkey = l_orderkey
      WHERE p_name LIKE '%red%')
    SELECT nation, cast(o_year AS bigint) AS o_year,
           cast(sum(amount) AS bigint) AS profit_e4
    FROM amt GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by supplier nation x order year over parts
    matching a name pattern — the widest join fan in the suite (lineitem
    + part + supplier + nation + orders).  Adapted: profit = revenue -
    quantity x 0.1 x p_retailprice (no ps_supplycost; the retail-derived
    pseudo-cost keeps the amount expression's fact x dim arithmetic), and
    ``p_name LIKE '%red%'`` keeps the non-anchored LIKE that defeats
    index pruning in the reference.

    Scale: everything runs in e4 fixed-point (cents x percent) so the
    sum is exact and order-independent; quantities are whole numbers so
    ``round()`` is lossless.  The name filter prunes part before its join
    (a contains-LIKE can't push to parquet stats, but column pruning
    keeps the scan at 3 columns); lineitem co-shuffles once on orderkey
    and once on partkey/suppkey per AQE's choice; supplier x nation
    pre-joins into a narrow (suppkey, nation) side.  The final agg keys
    on ~25 nations x 7 years — collapsed map-side.
    """
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%red%")).select(
        "p_partkey", _cents(F.col("p_retailprice")).alias("retail_cents")
    )
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "nation")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    )
    amt = (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "nation",
            "o_year",
            (
                _cents(F.col("l_extendedprice"))
                * (100 - _cents(F.col("l_discount")))
                - F.round(F.col("l_quantity")).cast("long")
                * F.col("retail_cents")
                * 10
            ).alias("amount"),
        )
    )
    return amt.groupBy("nation", "o_year").agg(
        F.sum("amount").cast("long").alias("profit_e4")
    )


@_q(
    "q11_important_value",
    """
    WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    v AS (SELECT l_partkey AS partkey,
                 cast(sum(cast(round(s_acctbal*100) AS bigint)) AS bigint) AS val_cents
          FROM rel JOIN supplier ON s_suppkey = l_suppkey
                   JOIN nation   ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_3'
          GROUP BY l_partkey),
    tot AS (SELECT cast(sum(val_cents) AS bigint) AS t,
                   cast(count(*) AS bigint) AS c FROM v)
    SELECT partkey, val_cents
    FROM v, tot WHERE val_cents * c * 4 > 3 * t
    """,
)
def q11_important_value(spark, sf_dir):
    """TPC-H Q11 shape: per-part "stock value" restricted to one
    nation's suppliers, keeping parts whose value exceeds a fixed
    fraction of the global total — the group-agg + scalar-total-subquery
    + HAVING plan.  Adapted: value(part) = sum of s_acctbal over its
    NATION_3 suppliers via the DISTINCT lineitem relation (no partsupp /
    availqty), and the threshold is 0.75x the MEAN per-part value
    rather than the reference's fixed fraction of the total — a fixed
    fraction selects ever fewer parts as the catalog grows (the
    reference compensates with its 0.0001/SF knob); comparing to the
    mean keeps the selected fraction SF-stable with no knob.

    Scale: the nation filter shrinks supplier before the relation join;
    the per-part value is one partkey-keyed partial agg; the total is a
    one-row aggregate broadcast-cross-joined back (never a collect).
    The HAVING compare is exact bigint x 500 vs bigint — no float
    threshold anywhere, so engines can't disagree on boundary rows.
    """
    rel = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3").select(
        "n_nationkey"
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", _cents(F.col("s_acctbal")).alias("bal_cents"))
    )
    v = (
        rel.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum("bal_cents").cast("long").alias("val_cents"))
    )
    tot = v.agg(
        F.sum("val_cents").cast("long").alias("t"),
        F.count("*").cast("long").alias("c"),
    )
    return (
        v.crossJoin(F.broadcast(tot))
        .where(F.col("val_cents") * F.col("c") * 4 > 3 * F.col("t"))
        .select("partkey", "val_cents")
    )


@_q(
    "q12_priority_shipmode",
    """
    SELECT l_linestatus,
           cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS bigint) AS high_line_count,
           cast(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS bigint) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q12_priority_shipmode(spark, sf_dir):
    """TPC-H Q12 shape: lines shipped in a year, bucketed by a line
    attribute, counting high- vs low-priority orders per bucket with a
    conditional two-sum aggregate.  Adapted: l_linestatus stands in for
    l_shipmode and the shipdate year-window for the commit/receipt date
    sandwich (neither column exists in the driver schema) — the
    fact-filter + join + CASE-split aggregation plan is intact.

    Scale: the date window pushes to the lineitem scan (min/max row-group
    stats prune whole files); the join co-shuffles the filtered fact with
    orders on orderkey; both CASE sums fold map-side into 2 groups.
    Nothing here exceeds one shuffle beyond the join.
    """
    l = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@_q(
    "q16_supplier_relation",
    """
    WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    ok AS (SELECT l_partkey, l_suppkey FROM rel
           WHERE l_suppkey NOT IN
                 (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
    SELECT p_brand, p_type, cast(p_size AS bigint) AS p_size,
           cast(count(DISTINCT l_suppkey) AS bigint) AS supplier_cnt
    FROM ok JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_relation(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    over the part<->supplier relation, excluding some part classes and a
    NOT-IN "complaint supplier" subquery.  Adapted: the relation derives
    from DISTINCT lineitem pairs (no partsupp) and negative account
    balance stands in for the LIKE '%Complaints%' comment filter.

    Scale: the complaint exclusion is a left-anti join against a tiny
    filtered supplier side (broadcast-able at any SF — it's a fraction of
    suppliers); the part predicate prunes before its join (size IN-list
    and brand/type inequalities all reach the scan); count(DISTINCT)
    expands to the standard two-phase partial-distinct aggregate keyed on
    (brand, type, size, suppkey) then (brand, type, size) — bounded by
    25 x 6 x 8 groups, no windows, no skew hazard.
    """
    rel = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    ok = rel.join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    ).select("p_partkey", "p_brand", "p_type", F.col("p_size").cast("long"))
    return (
        ok.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@_q(
    "q20_part_promotion",
    """
    WITH q AS (
      SELECT l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'small%'
      GROUP BY l_suppkey, l_partkey
      HAVING cast(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                            AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
                           THEN cast(round(l_quantity) AS bigint) ELSE 0 END) AS bigint) * 2
             > cast(sum(cast(round(l_quantity) AS bigint)) AS bigint))
    SELECT s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_4'
      AND s_suppkey IN (SELECT l_suppkey FROM q)
    """,
)
def q20_part_promotion(spark, sf_dir):
    """TPC-H Q20 shape: suppliers in one nation who moved more than half
    their volume of name-filtered parts inside the target year — the
    nested-aggregate + IN-subquery (semi-join) plan.  Adapted: without
    ps_availqty, "availability > 0.5 x year quantity" becomes "1997
    quantity > 0.5 x all-time quantity" per (supplier, part), keeping
    both the inner grouped HAVING and the outer semi-join; 'small%' /
    NATION_4 mirror the reference's 'forest%' / CANADA.

    Scale: the part-name prefix filter prunes before the fact join; the
    inner agg folds lineitem to one row per (suppkey, partkey) with both
    sums computed in ONE pass (a CASE-split, never two scans); the
    qualifying suppkeys collapse via the semi-join's build side.  The
    outer side is nation-filtered supplier — a fraction of an already
    SF-linear table.  All threshold math is exact bigint (x2 vs sum),
    so boundary pairs can't flip between engines.
    """
    fp = _t(spark, sf_dir, "part").where(F.col("p_name").like("small%")).select(
        "p_partkey"
    )
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    in97 = (
        F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp")
    ) & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    qty = F.round(F.col("l_quantity")).cast("long")
    q = (
        l.join(fp, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in97, qty).otherwise(0)).cast("long").alias("q97"),
            F.sum(qty).cast("long").alias("qall"),
        )
        .where(F.col("q97") * 2 > F.col("qall"))
        .select("l_suppkey")
    )
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_4").select(
        "n_nationkey", "n_name"
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "n_name")
    return s.join(
        q, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_name", "n_name")


# ---------------------------------------------------------------------------
# Round 5: pipeline additions — PII scrubbing and cross-source contamination
# ---------------------------------------------------------------------------


@_q(
    "pii_scrub",
    r"""
    WITH withpii AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@mail' || (doc_id % 7)
                  || '.example or +1-555-' || lpad(cast((doc_id * 37) % 10000 AS varchar), 4, '0')
                  || ' from 10.' || (doc_id % 256) || '.0.' || ((doc_id * 3) % 256) AS txt
      FROM documents)
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(txt,
                 '[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]', '<EMAIL>', 'g'),
                 '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
                 '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')) AS scrubbed_md5,
           cast(len(regexp_extract_all(txt, '[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]')) AS bigint) AS n_emails,
           cast(len(regexp_extract_all(txt, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS bigint) AS n_phones,
           cast(len(regexp_extract_all(txt, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS bigint) AS n_ips
    FROM withpii
    """,
)
def pii_scrub(spark, sf_dir):
    r"""PII redaction pass: replace emails / phone numbers / IPv4
    addresses with typed placeholders and count the redactions — the
    scrub every pretraining pipeline runs before anything else sees the
    text.  The corpus is synthetic word-soup, so deterministic PII
    derived from doc_id is embedded first and the scrub is verified to
    remove exactly it (the oracle recomputes both embed and scrub).

    Scale: pure per-row projection — JVM regexp_replace/regexp_count in
    one codegen stage, zero shuffles, zero Python.  The patterns stay in
    the RE2-safe subset (no backrefs/lookaround) so Spark's Java regex
    and any RE2-based engine agree.  Output carries md5(scrubbed), not
    the scrubbed text, to keep the result narrow.
    """
    email = r"[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]"
    phone = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
    ip = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
    d = _t(spark, sf_dir, "documents")
    txt = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example or +1-555-"),
        F.lpad(((F.col("doc_id") * 37) % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        ((F.col("doc_id") * 3) % 256).cast("string"),
    )
    w = d.select("doc_id", txt.alias("txt"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("txt"), email, "<EMAIL>"),
            phone,
            "<PHONE>",
        ),
        ip,
        "<IP>",
    )
    return w.select(
        "doc_id",
        F.md5(scrubbed).alias("scrubbed_md5"),
        F.regexp_count(F.col("txt"), F.lit(email)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("txt"), F.lit(phone)).cast("long").alias("n_phones"),
        F.regexp_count(F.col("txt"), F.lit(ip)).cast("long").alias("n_ips"),
    )


@_q(
    "dedup_cross_source",
    """
    WITH h AS (SELECT DISTINCT md5(substr(text, 1, 64)) AS h, source
               FROM documents)
    SELECT a.source AS source_a, b.source AS source_b,
           cast(count(*) AS bigint) AS shared_prefixes
    FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def dedup_cross_source(spark, sf_dir):
    """Cross-source contamination matrix: for every source pair, how many
    distinct 64-char text prefixes both emitted.  The audit that tells a
    corpus curator which feeds are mirroring each other (full-text exact
    dup is dedup_exact; this catches shared boilerplate heads across
    feeds even when tails diverge).

    Scale: dedup to (prefix-hash, source) FIRST — one partial-agg
    distinct keyed on the 16-byte hash — then a self-equi-join on the
    hash.  A prefix shared by all S sources costs S^2 pairs for that ONE
    key (S = 20 here, source count is a catalog property, not data-
    scaled), never |docs|^2: the hash join key is high-cardinality, so
    AQE splits any residual skew.  The pair agg keys on (source_a,
    source_b) <= S^2 groups, collapsed map-side.
    """
    d = _t(spark, sf_dir, "documents")
    h = d.select(
        F.md5(F.substring(F.col("text"), 1, 64)).alias("h"), "source"
    ).distinct()
    a = h.select(F.col("h").alias("ha"), F.col("source").alias("source_a"))
    b = h.select(F.col("h").alias("hb"), F.col("source").alias("source_b"))
    pairs = a.join(
        b, (F.col("ha") == F.col("hb")) & (F.col("source_a") < F.col("source_b"))
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count("*").cast("long").alias("shared_prefixes")
    )


@_q(
    "ann_pq_topk",
    """
    WITH q AS (SELECT vec_id AS q_id, cast(embedding AS DOUBLE[]) AS q_emb
               FROM embeddings WHERE vec_id % 100 = 0
               ORDER BY vec_id LIMIT 64)
    SELECT q_id, neighbor_id, rank FROM (
      SELECT q.q_id, e.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.q_id
               ORDER BY list_inner_product(cast(e.embedding AS DOUBLE[]),
                                           q.q_emb) DESC, e.vec_id) AS rank
      FROM embeddings e, q WHERE e.vec_id != q.q_id
    ) WHERE rank <= 5
    """,
)
def ann_pq_topk(spark, sf_dir):
    """Product-quantized ANN top-k (operators/pq.py; Jégou et al. 2011),
    ORACLE-EXACT via the standard deploy shape: ADC shortlist + exact
    refinement.  Vectors compress to m=16 uint8 codes (16x over float32
    at dim 64); search is ADC — per query one m x ks lookup table of
    exact query-sub x centroid dots, per vector m table lookups summed —
    and the ADC top-L shortlist is then reranked by the exact fold dot
    (operators/ann.exact_rerank), so the output equals brute force and a
    DuckDB brute-force window hash-checks the WHOLE pipeline: garbage
    codebooks/codes/LUTs wreck the shortlist and the hash with them.
    Shortlist contract (empirical, deterministic — fixed seeds, fixed
    data): L = max(96, n/6) is >=1.6x the worst measured ADC rank of any
    true top-5 neighbor at every sf dir (58/32/108/1873 at
    sf0.001/0.01/0.1/1) while still pruning >80% of the corpus at the
    driver's sf0.01 gate, so a broken sketch IS caught there.  L scales
    with n because this corpus is noise-dominated (score gaps shrink
    into the quantization noise as competitors multiply — the same
    measured caveat ann_ivf_pq documents); a production corpus with real
    cluster structure keeps L fixed and accepts the recall floor test_pq
    pins, alongside its lossless-corpus exactness anchor.

    Scale: the fit streams the corpus once per Lloyd round (ONE job
    emitting m·ks mergeable partials — never a job per subspace), encode
    and search are broadcast-closure mapInPandas over Arrow batches,
    #batches · min(L, batch) · #queries partial-top-k rows cross the
    shuffle, and the query-set collect is capped (limit=64).  Be precise
    about what that costs: with the registry's noise-corpus L (∝ n) the
    shuffle and rerank volumes are corpus-proportional — the price of
    oracle EXACTNESS on structureless data, not the production shape.
    Deployed on a corpus with real cluster structure, L is a fixed
    constant, the volume is O(#queries · L), and correctness is the
    recall contract test_pq pins rather than hash-equality with brute
    force."""
    from ..operators.ann import exact_rerank, sample_queries
    from ..operators.pq import pq_encode, pq_fit, pq_search

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    books = pq_fit(e, m=16, ks=64, iters=2)
    codes = pq_encode(e, books)
    queries = sample_queries(e, 100, limit=64)
    n = e.count()
    shortlist = pq_search(codes, books, queries, k=max(96, n // 6))
    return exact_rerank(e, shortlist, queries, k=5)


@_q(
    "mix_temperature",
    """
    WITH c AS (SELECT lang, cast(count(*) AS bigint) AS n_l
               FROM documents GROUP BY lang),
    m AS (SELECT min(n_l) AS n_min FROM c),
    thr AS (SELECT lang, n_l,
                   cast(floor(sqrt(n_min * 1.0 / n_l) * 1048576) AS bigint) AS thr
            FROM c, m),
    d AS (SELECT lang, n_chars,
                 CAST(('0x' || substr(md5('mix' || cast(doc_id AS VARCHAR)), 1, 15))
                      AS BIGINT) % 1048576 AS b
          FROM documents)
    SELECT d.lang,
           cast(count(*) AS bigint) AS n_in,
           cast(sum(CASE WHEN b < thr THEN 1 ELSE 0 END) AS bigint) AS n_kept,
           cast(sum(CASE WHEN b < thr THEN n_chars ELSE 0 END) AS bigint) AS chars_kept
    FROM d JOIN thr ON d.lang = thr.lang
    GROUP BY d.lang
    """,
)
def mix_temperature(spark, sf_dir):
    """Temperature resampling of the language mixture (T=2, the
    multilingual-pretraining standard): keep-rate per language is
    sqrt(n_min/n_l), so the head language is downsampled toward the
    flattened n^(1/T) mixture while the rarest keeps everything.  The
    keep decision is a salted md5 bucket against a per-language
    threshold — reproducible across engines, runs, and data order, and
    appending docs never flips old decisions (unlike rand()-seeded
    sampling).

    Scale: language counts are a 5-row aggregate; the threshold
    ``floor(sqrt(n_min/n_l) * 2^20)`` is computed ONCE on that tiny side
    (IEEE-754 sqrt/floor on exact int inputs — engine-identical) and
    broadcast; each doc then does one integer compare in the scan stage.
    No per-row float math, no window, one final 5-group aggregate.
    """
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count("*").cast("long").alias("n_l"))
    m = c.agg(F.min("n_l").alias("n_min"))
    thr = c.crossJoin(F.broadcast(m)).select(
        F.col("lang").alias("t_lang"),
        F.floor(
            F.sqrt(F.col("n_min") * F.lit(1.0) / F.col("n_l")) * 1048576
        ).cast("long").alias("thr"),
    )
    b = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix"), F.col("doc_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 1048576
    )
    kept = F.col("b") < F.col("thr")
    return (
        d.select("lang", "n_chars", b.alias("b"))
        .join(F.broadcast(thr), F.col("lang") == F.col("t_lang"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_in"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_kept"),
        )
    )


@_q(
    "dedup_paragraphs",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id, ws,
                 unnest(range(cast(ceil(len(ws) / 25.0) AS bigint))) AS pos
          FROM t),
    ch AS (SELECT doc_id, pos,
                  array_to_string(list_slice(ws, pos*25 + 1, pos*25 + 25), ' ') AS chunk,
                  doc_id * 1024 + pos AS wkey
           FROM g),
    w AS (SELECT md5(chunk) AS h, min(wkey) AS keep_key
          FROM ch GROUP BY md5(chunk))
    SELECT doc_id,
           cast(count(*) AS bigint) AS n_chunks,
           cast(sum(CASE WHEN wkey = keep_key THEN 0 ELSE 1 END) AS bigint) AS n_dropped,
           md5(coalesce(string_agg(chunk, ' ' ORDER BY pos)
                          FILTER (WHERE wkey = keep_key), '')) AS cleaned_md5
    FROM ch JOIN w ON md5(chunk) = w.h
    GROUP BY doc_id
    """,
)
def dedup_paragraphs(spark, sf_dir):
    """Paragraph-level (fixed 25-word chunk) first-seen deduplication
    with document reassembly: every chunk of every doc hashes, the
    globally-first occurrence (lowest (doc_id, pos)) survives, repeats
    are cut, and each doc re-joins its surviving chunks in order.  The
    sub-document complement of dedup_exact — what pipelines run to strip
    shared boilerplate blocks while keeping the unique remainder (the
    corpus has no newlines, so fixed word windows stand in for
    paragraph breaks; the operator is break-rule-agnostic).

    Scale: the winner per chunk-hash is a groupBy(hash).min(key)
    aggregation — mergeable partials, so a boilerplate chunk present in
    half the corpus collapses map-side and never buffers a WindowExec
    group (the hot-gram lesson from dedup_substring_stats).  The
    join-back keys on the same 16-byte hash (AQE splits residual skew),
    and the reassembly is one doc-keyed aggregation: sort_array over a
    (pos, chunk) struct, never a window.  Chunking itself is JVM slice/
    array_join in the scan stage — no Python, no shuffle.
    """
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    )
    n_chunks = F.ceil(F.size("ws") / F.lit(25.0)).cast("long")
    g = d.select(
        "doc_id",
        "ws",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("pos"),
    )
    ch = g.select(
        "doc_id",
        "pos",
        F.array_join(
            F.slice(F.col("ws"), F.col("pos").cast("int") * 25 + 1, 25), " "
        ).alias("chunk"),
        (F.col("doc_id") * 1024 + F.col("pos")).alias("wkey"),
    ).withColumn("h", F.md5("chunk"))
    w = ch.groupBy("h").agg(F.min("wkey").alias("keep_key"))
    j = ch.join(w, "h")
    kept = F.col("wkey") == F.col("keep_key")
    return j.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.when(kept, 0).otherwise(1)).cast("long").alias("n_dropped"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(kept, F.struct("pos", "chunk"))
                        )
                    ),
                    lambda x: x["chunk"],
                ),
                " ",
            )
        ).alias("cleaned_md5"),
    )


@_q(
    "shard_manifest",
    """
    WITH d AS (SELECT n_chars,
                      CAST(('0x' || substr(md5('shard' || cast(doc_id AS VARCHAR)), 1, 15))
                           AS BIGINT) AS h60
               FROM documents)
    SELECT h60 % 64 AS shard,
           cast(count(*) AS bigint) AS n_docs,
           cast(sum(n_chars) AS bigint) AS sum_chars,
           bit_xor(h60) AS content_digest
    FROM d GROUP BY h60 % 64
    """,
)
def shard_manifest(spark, sf_dir):
    """Deterministic 64-way shard manifest for a training-data export:
    each doc routes to md5-hash-mod-64 and every shard reports its row
    count, character volume, and an order-insensitive xor content
    digest.  The manifest is what a downstream loader checks before
    trusting an export — and because assignment is content-hashed, a
    re-export after appending docs only ever ADDS to shards, never
    reshuffles existing ones.

    Scale: hash + mod evaluate in the scan stage; the aggregate keys on
    64 shards with map-side partials (count/sum/xor all mergeable), so
    the shuffle carries 64 rows per task regardless of corpus size.
    The xor digest is associative/commutative — partition order can
    never change it.
    """
    d = _t(spark, sf_dir, "documents")
    h60 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("shard"), F.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return (
        d.select("n_chars", h60.alias("h60"))
        .groupBy((F.col("h60") % 64).alias("shard"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.bit_xor("h60").alias("content_digest"),
        )
    )


@_q(
    "pack_sequences",
    """
    WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS tok,
                      CAST(('0x' || substr(md5('shard' || cast(doc_id AS VARCHAR)), 1, 15))
                           AS BIGINT) AS h60
               FROM documents),
    c AS (SELECT doc_id, tok, h60 % 64 AS shard,
                 sum(tok) OVER (PARTITION BY h60 % 64
                                ORDER BY h60, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
          FROM d)
    SELECT shard,
           cast(count(*) AS bigint) AS n_docs,
           cast(sum(tok) AS bigint) AS total_tokens,
           cast((max(cum) + 511) // 512 AS bigint) AS n_windows,
           cast(sum(CASE WHEN (cum - tok) // 512 < (cum - 1) // 512
                         THEN 1 ELSE 0 END) AS bigint) AS n_split_docs
    FROM c GROUP BY shard
    """,
)
def pack_sequences(spark, sf_dir):
    """Sequence-packing manifest: docs concatenate in deterministic hash
    order within their shard and cut into fixed 512-token context
    windows — the last step before a trainer reads the corpus.  Per
    shard: docs, tokens, how many windows the shard packs into, and how
    many docs straddle a window boundary (the loss-masking cost of
    packing).  Hash-ordered packing is reproducible across engines,
    runs, and partitionings, unlike any order-of-arrival packing.

    Scale: the running total is a window over the SHARD key — per-group
    state by design, because packing is inherently sequential within an
    output stream.  The shard count (64 here) is the explicit
    parallelism knob: real exports size it so a shard is one output file
    (~256 MB), which bounds every window group to file size regardless
    of corpus scale — the documented difference from a hot-KEY window,
    where one key's group grows with the data.  Everything else is scan-
    stage hash math and a 64-group aggregate.
    """
    d = _t(spark, sf_dir, "documents")
    h60 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("shard"), F.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    base = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("tok"),
        h60.alias("h60"),
    ).withColumn("shard", F.col("h60") % 64)
    w = (
        Window.partitionBy("shard")
        .orderBy("h60", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = base.withColumn("cum", F.sum("tok").over(w))
    straddles = (
        F.floor((F.col("cum") - F.col("tok")) / 512)
        < F.floor((F.col("cum") - 1) / 512)
    )
    return c.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("total_tokens"),
        F.floor((F.max("cum") + 511) / 512).cast("long").alias("n_windows"),
        F.sum(F.when(straddles, 1).otherwise(0)).cast("long").alias("n_split_docs"),
    )


@_q(
    "curate_manifest",
    r"""
    WITH s AS (
      SELECT doc_id, lang,
             regexp_replace(regexp_replace(regexp_replace(text,
                 '[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]', '<EMAIL>', 'g'),
                 '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
                 '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS text
      FROM documents),
    g AS (
      SELECT doc_id, lang, text,
             cast(len(string_split(text, ' ')) AS bigint) AS n_words,
             md5(text) AS h
      FROM s
      WHERE len(string_split(text, ' ')) BETWEEN 20 AND 2000
        AND floor(1000000.0 * len(list_distinct(string_split(text, ' ')))
                  / greatest(len(string_split(text, ' ')), 1)) >= 300000),
    dd AS (
      SELECT g.* FROM g
      JOIN (SELECT h, min(doc_id) AS keep_id FROM g GROUP BY h) w
        ON g.h = w.h AND g.doc_id = w.keep_id),
    c AS (SELECT lang, cast(count(*) AS bigint) AS n_l FROM dd GROUP BY lang),
    m AS (SELECT min(n_l) AS n_min FROM c),
    thr AS (SELECT lang, cast(floor(sqrt(n_min * 1.0 / n_l) * 1048576) AS bigint) AS thr
            FROM c, m),
    mixed AS (
      SELECT dd.doc_id, dd.n_words FROM dd JOIN thr ON dd.lang = thr.lang
      WHERE CAST(('0x' || substr(md5('mix' || cast(dd.doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 1048576 < thr.thr)
    SELECT CAST(('0x' || substr(md5('shard' || cast(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 64 AS shard,
           cast(count(*) AS bigint) AS n_docs,
           cast(sum(n_words) AS bigint) AS sum_words,
           bit_xor(CAST(('0x' || substr(md5(cast(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT)) AS content_digest
    FROM mixed GROUP BY 1
    """,
)
def curate_manifest(spark, sf_dir):
    """The full curation pipeline (operators/curate.py) end-to-end,
    reported as its shard manifest: scrub → quality gate → exact dedup →
    T=2 mixture resample → 64-way shard.  The DuckDB oracle replays
    every stage in SQL, so this row hash-checks the COMPOSITION — stage
    order, hand-offs (dedup on scrubbed text, mixture on post-dedup
    counts), and the manifest digest — not just each operator alone.

    Scale: the whole pipeline is one Catalyst plan — scrub/gate/hash in
    the scan's codegen stage, one dedup shuffle on the 16-byte content
    hash, a 5-row broadcast for mixture thresholds, one 64-group
    manifest aggregate.  No window, no Python, nothing driver-side.
    """
    from ..operators.curate import curate, manifest_of

    return manifest_of(curate(_t(spark, sf_dir, "documents")))


@_q(
    "dedup_substring_remove",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    w AS (SELECT doc_id, unnest(ws) AS w,
                 unnest(range(1, len(ws) + 1)) AS pos
          FROM t),
    -- 60-bit md5-prefix gram hashes, matching the engine's positional
    -- builder bit-for-bit (a collision merges the same grams in both)
    g AS (SELECT doc_id,
                 unnest(range(1, len(ws) - 6)) AS pos,
                 unnest(list_transform(range(1, len(ws) - 6),
                        i -> cast(('0x' || substr(md5(
                             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                          || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5]
                          || ' ' || ws[i+6] || ' ' || ws[i+7]), 1, 15))
                          AS bigint))) AS gram
          FROM t WHERE len(ws) >= 8),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
    st AS (SELECT doc_id, pos, 1 AS isd FROM g JOIN dup USING (gram)),
    m AS (SELECT w.doc_id, w.pos, w.w, coalesce(st.isd, 0) AS isd
          FROM w LEFT JOIN st ON w.doc_id = st.doc_id AND w.pos = st.pos),
    c AS (SELECT doc_id, pos, w,
                 max(isd) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
                   AS cov
          FROM m)
    SELECT doc_id,
           cast(count(*) AS bigint) AS n_words,
           cast(sum(cov) AS bigint) AS n_removed,
           md5(coalesce(string_agg(w, ' ' ORDER BY pos)
                          FILTER (WHERE cov = 0), '')) AS kept_md5
    FROM c GROUP BY doc_id
    """,
)
def dedup_substring_remove(spark, sf_dir):
    """Exact-substring DEDUPLICATION as a transformation, not just a
    report: every word covered by any word 8-gram that occurs more than
    once in the corpus (within- or cross-document) is cut, and each doc
    re-joins its surviving words in order (Lee et al., "Deduplicating
    Training Data Makes Language Models Better" — the removal their
    suffix-array tool performs, re-expressed relationally at a fixed
    gram width).  dedup_substring_stats is the audit; this is the
    rewrite that produces the training corpus.  Output is (n_words,
    n_removed, md5-of-cleaned-text) per doc so the driver hash pins the
    exact reconstruction byte-for-byte.

    Scale shape (r9 gram fold, r10 doc-local rewrite): the positional
    gram table builds doc-locally in ONE ``mapInArrow`` pass —
    (doc_id, pos, 60-bit gram hash), 12 bytes/row, no word strings (the
    oracle applies the identical md5-prefix transform, so a collision
    merges the same grams in both engines).  The duplicated-gram set is
    a partial-before-shuffle ``groupBy(gram)`` — a boilerplate gram in
    half the corpus collapses to one row per map task (the hot-gram
    lesson) — filtered to count>1; the join back on ``gram`` is
    AQE-skew-splittable and folds straight to ONE doc-keyed marks row
    (``collect_set(pos)``).  The removal itself runs doc-locally in a
    second ``mapInArrow`` pass (diff-array coverage sweep + kept-text
    md5 in hashlib), so the sliding-max window + collect_list
    reassembly over every word row never happens — the forced-
    projection sf10 probe read 16.5s for that shape (see PLANS.md r10);
    the only corpus-sized motion left is the SHUFFLE_HASH-pinned
    docs⋈marks doc-keyed join.
    """
    import pyarrow as pa

    def build(batches):
        h = memoized_h60()

        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            o_id, o_pos, o_g = [], [], []
            for i, t in enumerate(texts):
                ws = t.split(" ")
                n = len(ws)
                # only GRAM positions (p + 8 <= n): the tail words carry
                # no gram and the doc-local sweep recovers n_words from
                # the text itself, so the positional relation is 12
                # bytes/row with no word strings at all (r10)
                for p in range(n - 7):
                    o_id.append(ids[i])
                    o_pos.append(p)
                    o_g.append(h(" ".join(ws[p : p + 8])))
            yield pa.record_batch(
                [
                    pa.array(o_id, type=pa.int64()),
                    pa.array(o_pos, type=pa.int32()),
                    pa.array(o_g, type=pa.int64()),
                ],
                names=["doc_id", "pos", "gram"],
            )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text").where(
        F.col("text").isNotNull()
    )
    from ..operators.ann import narrower_than_cores

    cores = spark.sparkContext.defaultParallelism
    if narrower_than_cores(d):
        d = d.repartition(cores)
    # two consumers (dup aggregate + the positional join) — persist, a
    # mapInArrow relation has no exchange for Catalyst to reuse; cache
    # reclaimed by ContextCleaner when the returned plan is unreachable
    g = d.mapInArrow(
        build, "doc_id long, pos int, gram long"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    dup = (
        g.groupBy("gram")
        .agg(F.count("*").alias("nocc"))
        .where(F.col("nocc") > 1)
        .select("gram")
    )
    # r10: the rewrite itself is doc-local (the winnow_remove lesson,
    # same round) — fold the duplicated-gram positions to ONE doc-keyed
    # row and sweep coverage per doc in a second mapInArrow pass,
    # instead of dragging every word row through a sliding-max window +
    # collect_list reassembly (forced-projection sf10 probe: 16.5s for
    # the window shape).  The gram join stays AQE-skew-splittable; the
    # docs⋈marks join is SHUFFLE_HASH-pinned (marks derive from a
    # Python relation with unreliable planner stats).
    marks = (
        g.join(dup, "gram")
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("_mpos"))
    )
    src = d.join(marks.hint("SHUFFLE_HASH"), "doc_id", "left")

    def sweep(batches):
        import hashlib

        import numpy as np

        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            mposs = batch.column(2).to_pylist()
            o_n, o_r, o_md5 = [], [], []
            for t, mp in zip(texts, mposs):
                ws = t.split(" ")
                n = len(ws)
                if not mp:
                    o_n.append(n)
                    o_r.append(0)
                    o_md5.append(hashlib.md5(t.encode("utf-8")).hexdigest())
                    continue
                # duplicated 8-gram at position p covers words p..p+7
                # (p + 8 <= n by construction): diff-array + cumsum
                diff = np.zeros(n + 1, dtype=np.int64)
                for p in mp:
                    diff[p] += 1
                    diff[p + 8] -= 1
                cov = np.cumsum(diff[:n]) > 0
                kept = [w_ for w_, c_ in zip(ws, cov) if not c_]
                o_n.append(n)
                o_r.append(int(cov.sum()))
                o_md5.append(
                    hashlib.md5(" ".join(kept).encode("utf-8")).hexdigest()
                )
            yield pa.record_batch(
                [
                    ids,
                    pa.array(o_n, type=pa.int64()),
                    pa.array(o_r, type=pa.int64()),
                    pa.array(o_md5, type=pa.string()),
                ],
                names=["doc_id", "n_words", "n_removed", "kept_md5"],
            )

    return src.mapInArrow(
        sweep, "doc_id long, n_words long, n_removed long, kept_md5 string"
    )


@_q(
    "ann_ivf_pq_topk",
    """
    WITH c AS (SELECT vec_id AS cid, cast(embedding AS DOUBLE[]) AS ce
               FROM embeddings WHERE vec_id % 50 = 0
               ORDER BY vec_id LIMIT 256),
    -- L2-argmin assignment via streaming aggregates over a thin
    -- (vec, cid, dist) CTE — same shape as ann_ivf_topk's oracle; a
    -- row_number window here materializes corpus x centroids with
    -- embedding payloads (tens of GB at sf10)
    pairdist AS (
      SELECT e.vec_id, c.cid,
             list_distance(cast(e.embedding AS DOUBLE[]), c.ce) AS dist
      FROM embeddings e, c),
    best AS (SELECT vec_id, min(dist) AS mdist FROM pairdist GROUP BY vec_id),
    assign0 AS (
      SELECT p.vec_id, min(p.cid) AS cid
      FROM pairdist p JOIN best b ON p.vec_id = b.vec_id AND p.dist = b.mdist
      GROUP BY p.vec_id),
    assign AS (
      SELECT a.vec_id, e.embedding, a.cid
      FROM assign0 a JOIN embeddings e ON a.vec_id = e.vec_id),
    q AS (SELECT vec_id AS q_id, cast(embedding AS DOUBLE[]) AS q_emb
          FROM embeddings WHERE vec_id % 100 = 0
          ORDER BY vec_id LIMIT 64),
    probe AS (
      SELECT q_id, cid FROM (
        SELECT q.q_id, c.cid,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY list_inner_product(q.q_emb, c.ce) DESC, c.cid) AS pr
        FROM q, c) WHERE pr <= 2)
    SELECT q_id, neighbor_id, rank FROM (
      SELECT q.q_id, a.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.q_id
               ORDER BY list_inner_product(cast(a.embedding AS DOUBLE[]),
                                           q.q_emb) DESC, a.vec_id) AS rank
      FROM assign a JOIN probe p ON a.cid = p.cid JOIN q ON p.q_id = q.q_id
      WHERE a.vec_id != q.q_id
    ) WHERE rank <= 5
    """,
)
def ann_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ top-k (operators/pq.py ivfpq_*; Jégou et al. 2011 §V) —
    the two ANN scale levers COMPOSED, now ORACLE-EXACT end-to-end: the
    coarse quantizer prunes WHICH cells are scanned, residual-PQ ADC
    prunes WHAT is reranked, and an exact fold-dot refinement of the ADC
    shortlist (operators/ann.exact_rerank) makes the output equal the
    within-probe brute force a SQL oracle can replay.  The oracle
    replicates every approximate decision EXCEPT the ADC internals:
    coarse cells are the lowest-id seed vectors (vec_id%50, capped 256 —
    a deterministic coreset, the same seeding rule the Lloyd fits use),
    assignment is L2-argmin (ties to lowest cid, = DuckDB's
    list_distance/row_number), probing is top-2 cells by query-centroid
    dot, and the final ranking is the fold dot whose summation order
    matches list_inner_product bit-for-bit.  The ADC tier is covered by
    the shortlist contract: L = max(48, n/24) is >=1.5x the worst
    measured in-probe ADC rank of any true neighbor at every sf dir
    (31/23/57/414 at sf0.001/0.01/0.1/1) while pruning >50% of the
    probed set at the driver's sf0.01 gate — broken codebooks/LUTs evict
    true neighbors there and break the hash.  Residual quantization is
    the §V insight: the cell centroid absorbs between-cell variance so
    ks=64 codebooks cover only the within-cell spread (on THIS
    noise-dominated corpus that absorption is weak — residual norm stays
    ~0.95 — which is exactly why L scales with n; test_pq pins the
    recall floor and the lossless exactness anchor at n_cells=1).

    Scale: the PQ fit is mergeable-partials Lloyd's (one job per round,
    nothing shuffles), encode/search are broadcast-closure mapInPandas
    (seed centroids are kilobytes riding the closure), the probe filter
    runs BEFORE any Python, #batches · min(L, batch) ·
    #queries rows cross the shuffle, and every driver collect is capped
    (256 seeds, 64 queries).  As with ann_pq_topk: the registry's
    noise-corpus L (∝ n) makes shuffle/rerank volume corpus-proportional
    — the oracle-exactness price on structureless data; production
    corpora with cluster structure keep L fixed (O(#queries · L) volume)
    under the recall contract test_pq pins."""
    from ..operators.ann import exact_rerank, sample_queries
    from ..operators.pq import ivfpq_search

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents, books, codes = _ivfpq_fit_registry(e)
    queries = sample_queries(e, 100, limit=64)
    n = e.count()
    shortlist = ivfpq_search(
        codes, cents, books, queries, k=max(48, n // 24), nprobe=2
    )
    return exact_rerank(e, shortlist, queries, k=5)


def _ivfpq_fit_registry(e: DataFrame):
    """The registry ``ann_ivf_pq_topk`` index fit — seeds, residual-PQ
    codebooks, codes: deterministic seed rule (vec_id%50, capped 256),
    fixed Lloyd parameters (m=16, ks=64, iters=2), no RNG anywhere.
    Returns ``(cents ndarray, books ndarray, codes DataFrame)``."""
    import numpy as np

    from ..operators.pq import ivfpq_encode, ivfpq_residuals, pq_fit

    seeds = (
        e.where(F.col("vec_id") % 50 == 0).orderBy("vec_id").limit(256).collect()
    )
    cents = np.array([list(r["embedding"]) for r in seeds], dtype=np.float64)
    # persist the residual frame ONCE for the whole fit+encode pipeline
    # (r12, measured): unpersisted, the Python residual map re-ran three
    # times — pq_fit's seed pass, its internal Lloyd persist fill, and
    # the encode->search chain.  pq_fit detects the pre-persisted input
    # and reuses it instead of stacking a second cache; reclaimed by
    # ContextCleaner when the returned codes plan goes unreachable.
    resid = ivfpq_residuals(e, cents).persist()
    books = pq_fit(resid, m=16, ks=64, iters=2, emb_col="residual")
    codes = ivfpq_encode(resid, books)
    return cents, books, codes


@_q(
    "quality_lm_bigram",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(ws)),
                                       i -> ws[i] || ' ' || ws[i+1])) AS gram
          FROM t WHERE len(ws) >= 2),
    c AS (SELECT gram, count(*) AS cf FROM g GROUP BY gram)
    SELECT g.doc_id,
           cast(count(*) AS bigint) AS n_bigrams,
           cast(sum(CASE WHEN c.cf = 1 THEN 1 ELSE 0 END) AS bigint)
             AS oov_bigrams,
           cast(sum(floor(log2(c.cf))) AS bigint) AS sum_log2_freq
    FROM g JOIN c USING (gram) GROUP BY g.doc_id
    """,
)
def quality_lm_bigram(spark, sf_dir):
    """Corpus-language-model quality signal, integer-exact: fit the
    trivial corpus bigram frequency table, then score every document by
    (a) how many of its bigram occurrences are corpus-unique (the OOV /
    hapax fraction — high on garbled text) and (b) the summed
    floor(log2(corpus frequency)) of its bigrams — a Zipf-scaled
    "how ordinary is this text" measure, the cheap stand-in for the
    KenLM perplexity gate every curation pipeline runs.  All-integer
    outputs: floor(log2(bigint)) is exact in IEEE doubles far beyond any
    reachable count, so the hash is engine-stable; consumers divide by
    n_bigrams for the per-token score.

    Scale shape: the frequency table is ONE partial-before-shuffle
    ``groupBy(gram)`` over lead-window shingles ("the of" at 10^9
    occurrences collapses map-side); the score join keys on ``gram``
    with a data-scaled but per-key-tiny build side under AQE skew
    handling; the doc rollup shuffles (doc_id, 3 ints).  This is the
    model-fit-then-score pattern at its smallest: the same two-pass
    shape a distributed KenLM scorer uses, minus the Python.
    """
    from ..functions.text import exploded_shingles

    d = _t(spark, sf_dir, "documents")
    ex = exploded_shingles(d, "doc_id", "text", 2, short_doc_fallback=False)
    cnt = ex.groupBy("gram").agg(F.count("*").alias("cf"))
    return (
        ex.join(cnt, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("cf") == 1, 1).otherwise(0))
            .cast("long")
            .alias("oov_bigrams"),
            F.sum(F.floor(F.log2("cf"))).cast("long").alias("sum_log2_freq"),
        )
    )


@_q(
    "dedup_semantic_clusters",
    f"""
    WITH RECURSIVE {_DEDUP_EMB_UNION_SQL},
    edges AS (SELECT vec_a AS a, vec_b AS b FROM pairs
              UNION SELECT vec_b, vec_a FROM pairs),
    reach(id, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
    )
    SELECT id AS vec_id, min(r) AS keep_id FROM reach GROUP BY id
    """,
)
def dedup_semantic_clusters(spark, sf_dir):
    """Semantic deduplication end-to-end (the SemDeDup recipe, Abbas et
    al. 2023 shape): embedding near-dup pairs (banded sign-LSH + exact
    in-bucket cosine, the dedup_embedding operator) feed connected
    components, and every vector maps to its cluster representative —
    the smallest vec_id in its component, the row a curation pipeline
    keeps while dropping the rest.  Completes the symmetry with the
    lexical chain (dedup_minhash_pairs -> dedup_clusters): one CC
    operator serves both candidate graphs.

    Hash-oracled over the same planted-duplicate fixture as
    dedup_embedding (provable LSH recall, >=0.037 cosine margin on the
    threshold), with the components replayed GENERICALLY in SQL: a
    recursive min-label propagation over the brute-forced pair graph —
    the oracle assumes nothing about the planted shape, so a CC bug that
    merges, splits, or mis-labels a component breaks the hash, as does
    any pair-level defect upstream.  Vectors with no near-dup never
    enter the edge list and are absent on both sides (singletons are the
    identity mapping).

    Scale: pair enumeration is per-(band, bucket) BLAS, never
    corpus-wide; the candidate graph is orders smaller than the corpus,
    so CC takes the adaptive path (driver union-find under 5M edges,
    star-contraction above — operators/dedup.py connected_components).
    """
    from ..operators.dedup import connected_components, embedding_neardup_pairs

    pairs = embedding_neardup_pairs(
        _dedup_emb_union(spark, sf_dir),
        "vec_id",
        "embedding",
        dim=64,
        n_bands=4,
        planes_per_band=4,
        min_cos_ppm=999_000,
    ).select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    return connected_components(pairs).select(
        F.col("id").alias("vec_id"), F.col("cluster_id").alias("keep_id")
    )


@_q(
    "events_gapfill",
    """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             cast(count(*) AS bigint) AS cnt,
             cast(sum(cast(round(value*100) AS bigint)) AS bigint) AS cents
      FROM events GROUP BY 1, 2),
    b AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM h),
    grid AS (
      SELECT t.event_type, g.hr
      FROM (SELECT DISTINCT event_type FROM events) t,
           (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
            FROM b) g),
    j AS (SELECT grid.event_type, grid.hr, coalesce(h.cnt, 0) AS cnt,
                 h.cents
          FROM grid LEFT JOIN h
            ON grid.event_type = h.event_type AND grid.hr = h.hr)
    SELECT event_type, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
           cnt,
           coalesce(last_value(cents IGNORE NULLS)
             OVER (PARTITION BY event_type ORDER BY hr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
             AS filled_cents
    FROM j
    """,
)
def events_gapfill(spark, sf_dir):
    """Time-series gap-fill + forward-fill (LOCF): per event type, a
    DENSE hourly grid from the corpus's first to last hour — absent
    buckets materialize with cnt=0 and carry the last observed hour's
    value-cents forward (the resample/LOCF operator every time-series
    store ships natively and Spark lacks; downstream models need dense,
    regularly-spaced series, not the sparse observed buckets).

    Lowering: one (type, hour) partial-collapsing aggregation over the
    events (NO dense rows touch the fact scan); the grid is |types| x
    |hours| rows generated from a one-row min/max bound broadcast into a
    ``sequence()`` explode — both catalog-sized, never fact-sized; the
    left join back keys on the same (type, hour); the forward fill is
    ``last(ignorenulls)`` over a per-type window whose group size is
    calendar-bounded (hours in the data's time span), not data-scaled —
    a decade of hours is 87k rows per type regardless of corpus size.
    Value sums cross as exact integer cents, the grid edge is the
    truncated-hour min/max on both engines, and the fill is
    order-deterministic (hr is unique within type), so the hash pins
    every filled cell.
    """
    e = _events(spark, sf_dir)
    h = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(_cents(F.col("value"))).cast("long").alias("cents"),
    )
    b = h.agg(F.min("hr").alias("h0"), F.max("hr").alias("h1"))
    grid = (
        e.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(b))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("hr"),
        )
    )
    j = grid.join(h, ["event_type", "hr"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "event_type",
        F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
        F.coalesce(F.last("cents", ignorenulls=True).over(w), F.lit(0))
        .cast("long")
        .alias("filled_cents"),
    )


@_q(
    "events_retention",
    """
    WITH u AS (SELECT DISTINCT user_id, cast(ts AS DATE) AS day FROM events),
    f AS (SELECT user_id, min(day) AS cohort FROM u GROUP BY user_id)
    SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
           cast(datediff('day', f.cohort, u.day) AS bigint) AS day_offset,
           cast(count(*) AS bigint) AS n_users
    FROM u JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_retention(spark, sf_dir):
    """Cohort retention matrix over the event stream: users cohorted by
    their first active day, counted at every (cohort, day-offset) cell —
    the standard product-analytics triangle (and, for a training-data
    pipeline, the freshness/engagement audit of a feedback corpus).

    Scale shape: activity dedups to (user, day) first — a partial-agg
    distinct, so a user with 10^6 events on one day collapses map-side —
    then the cohort is a user-keyed min.  The activity⋈cohort join keys
    on user_id; both sides just left user-keyed exchanges, so AQE reuses
    the partitioning, and no user is hotter than its distinct-day count
    (bounded by the calendar).  The final cell rollup is
    (cohort, offset)-keyed with mergeable counts: each user contributes
    at most one row per cell by construction, so ``count(*)`` IS
    count-distinct-users with no distinct aggregate.
    """
    e = _events(spark, sf_dir)
    u = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    f = u.groupBy("user_id").agg(F.min("day").alias("cohort"))
    return (
        u.join(f, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("day", "cohort").cast("long").alias("day_offset"),
        )
        .agg(F.count("*").cast("long").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Round 6: retrieval / mixing / graph-prior additions
# ---------------------------------------------------------------------------

_CHUNK_W, _CHUNK_STRIDE = 32, 24


@_q(
    "docs_chunk_overlap",
    f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    s AS (SELECT doc_id, words,
                 unnest(range(0, greatest(len(words), 1), {_CHUNK_STRIDE})) AS start
          FROM w)
    SELECT doc_id,
           cast(start // {_CHUNK_STRIDE} AS bigint) AS chunk_id,
           cast(least({_CHUNK_W}, len(words) - start) AS bigint) AS n_words,
           md5(array_to_string(list_slice(words, start + 1, start + {_CHUNK_W}), ' ')) AS chunk_md5
    FROM s
    """,
)
def docs_chunk_overlap(spark, sf_dir):
    """RAG-style overlapping chunking: every document splits into
    32-word windows on a 24-word stride (8-word overlap), each chunk
    pinned by md5 — the retrieval-indexing front half of an
    embed-and-search pipeline (chunks feed the embeddings table's role).

    Scale: pure per-row codegen — the start offsets come from a
    ``sequence`` column (fan-out declared in-plan, ceil(n/stride) per
    doc), the chunk text from ``slice`` + ``concat_ws``; no shuffle at
    any SF, and a 100 TB corpus chunks in one scan-stage map.  The
    oracle replays the identical window algebra (DuckDB ``range``
    excludes the stop bound exactly where Spark's inclusive
    ``sequence(0, n-1)`` tops out, proven equal for n >= 1)."""
    from ..functions.text import chunk_starts, chunk_text

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    d = d.select(
        "doc_id", "w", F.explode(chunk_starts(F.col("w"), _CHUNK_STRIDE)).alias("start")
    )
    return d.select(
        "doc_id",
        F.expr(f"start div {_CHUNK_STRIDE}").cast("long").alias("chunk_id"),
        F.least(F.lit(_CHUNK_W), F.size("w") - F.col("start"))
        .cast("long")
        .alias("n_words"),
        F.md5(chunk_text(F.col("w"), F.col("start"), _CHUNK_W)).alias("chunk_md5"),
    )


_BM25_PROBES = ["table", "spark", "window", "merge", "scan"]

# One shared arithmetic string: Spark's expr() and the DuckDB oracle parse
# the SAME parenthesization, so the IEEE-754 op sequence — and therefore
# every bit of the double — is identical cross-engine before the final
# integer quantization.
_BM25_SCORE = (
    "cast(round("
    " ((cast(n_docs - df as double) + 0.5) / (cast(df as double) + 0.5))"
    " * ((cast(tf as double) * 2.2)"
    "    / (cast(tf as double)"
    "       + 1.2 * (0.25 + 0.75 * (cast(dl as double)"
    "                               / (cast(sum_dl as double) / cast(n_docs as double))))))"
    " * 1000) as bigint)"
)

_BM25_PROBE_LIST = ", ".join(f"'{t}'" for t in _BM25_PROBES)


@_q(
    "bm25_search",
    f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    dl AS (SELECT doc_id, cast(len(words) AS bigint) AS dl FROM d),
    stats AS (SELECT cast(sum(dl) AS bigint) AS sum_dl,
                     cast(count(*) AS bigint) AS n_docs FROM dl),
    tf AS (SELECT doc_id, term, cast(count(*) AS bigint) AS tf
           FROM (SELECT doc_id, unnest(words) AS term FROM d)
           WHERE term IN ({_BM25_PROBE_LIST})
           GROUP BY doc_id, term),
    df AS (SELECT term, cast(count(*) AS bigint) AS df FROM tf GROUP BY term),
    scored AS (SELECT tf.term, tf.doc_id, tf.tf, dl.dl,
                      {_BM25_SCORE} AS score_milli
               FROM tf JOIN dl ON tf.doc_id = dl.doc_id
                       JOIN df ON tf.term = df.term, stats)
    SELECT term, doc_id,
           cast(row_number() OVER (PARTITION BY term
                ORDER BY score_milli DESC, doc_id) AS bigint) AS rank,
           score_milli, tf, dl
    FROM scored QUALIFY rank <= 5
    """,
)
def bm25_search(spark, sf_dir):
    """BM25 relevance scoring (k1=1.2, b=0.75) for a broadcast probe-term
    set, top-5 docs per term — the inverted-index ranking primitive of a
    retrieval/decontamination stack, expressed as pure DataFrame algebra.

    Scale: tokens explode then IMMEDIATELY filter to the probe list
    inside the same codegen stage, so only |probes| x docs rows ever
    reach the tf shuffle; df and the corpus length stats are tiny aggs
    broadcast back.  The per-term top-k deliberately avoids a single
    window over an open per-term group (|probes| reducers would each
    buffer a corpus-scale group): a salted partial top-5 per (term,
    doc_id%64) bounds every window buffer, then the global top-5 ranks
    64x5 rows per term.  Scores quantize to integer milli-units through
    a character-identical arithmetic expression on both engines, so the
    ranking key is exact."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    dl = d.select("doc_id", F.size("w").cast("long").alias("dl"))
    tf = (
        d.select("doc_id", F.explode("w").alias("term"))
        .where(F.col("term").isin(_BM25_PROBES))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    stats = dl.agg(
        F.sum("dl").cast("long").alias("sum_dl"),
        F.count("*").cast("long").alias("n_docs"),
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term", "doc_id", "tf", "dl", F.expr(_BM25_SCORE).alias("score_milli")
        )
    )
    partial = Window.partitionBy("term", F.expr("doc_id % 64")).orderBy(
        F.desc("score_milli"), "doc_id"
    )
    final = Window.partitionBy("term").orderBy(F.desc("score_milli"), "doc_id")
    return (
        scored.withColumn("pr", F.row_number().over(partial))
        .where(F.col("pr") <= 5)
        .withColumn("rank", F.row_number().over(final).cast("long"))
        .where(F.col("rank") <= 5)
        .select("term", "doc_id", "rank", "score_milli", "tf", "dl")
    )


# Per-domain epoch recipe keyed on source-id % 4: (whole epochs, extra-copy
# threshold in 1/65536ths).  1.5 / 0.5 / 2.0 / 2.75 epochs — group 1 is a
# DOWN-sample (half the docs drop), the rest upsample, matching the
# integer-epochs + fractional-tail recipe of published data mixtures.
_MIX_EPOCH_SQL = (
    "(CASE cast(substring(source, 4) as int) % 4"
    " WHEN 0 THEN 1 WHEN 1 THEN 0 WHEN 2 THEN 2 ELSE 2 END)"
    " + (CASE WHEN ((doc_id % 65536) * 2654435761) % 65536 <"
    "   (CASE cast(substring(source, 4) as int) % 4"
    "    WHEN 0 THEN 32768 WHEN 1 THEN 32768 WHEN 2 THEN 0 ELSE 49152 END)"
    "  THEN 1 ELSE 0 END)"
)


@_q(
    "mix_epochs",
    f"""
    WITH n AS (SELECT doc_id, source, {_MIX_EPOCH_SQL} AS n_copies FROM documents)
    SELECT doc_id, source, cast(copy_idx AS bigint) AS copy_idx,
           md5(cast(doc_id AS varchar) || ':' || cast(copy_idx AS varchar)) AS sample_key
    FROM (SELECT doc_id, source, unnest(range(0, n_copies)) AS copy_idx FROM n)
    """,
)
def mix_epochs(spark, sf_dir):
    """Deterministic per-domain epoch up/down-sampling: each source
    group gets a fractional epoch count (0.5-2.75); docs replicate
    floor(epochs) times plus one more when their multiplicative hash
    bucket falls under the fractional remainder — the exact-integer
    version of the repeat-and-sample mixture recipe (no RNG, so the
    manifest is reproducible row-for-row and append-stable).

    Scale: one scan, zero shuffles — the copy count is a CASE expression
    (shared character-for-character with the oracle), the fan-out an
    explode over ``slice(sequence(0,3), 1, n)`` whose worst case (3
    copies) is declared in-plan.  Each emitted copy carries a stable
    md5 sample key so downstream shuffles spread replicas of a hot doc
    across partitions instead of colliding on doc_id."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_MIX_EPOCH_SQL).alias("n_copies")
    )
    return d.select(
        "doc_id",
        "source",
        F.expr("explode(slice(sequence(0, 3), 1, n_copies))").alias("ci"),
    ).select(
        "doc_id",
        "source",
        F.col("ci").cast("long").alias("copy_idx"),
    ).select(
        "doc_id",
        "source",
        "copy_idx",
        F.md5(
            F.concat_ws(":", F.col("doc_id").cast("string"), F.col("copy_idx").cast("string"))
        ).alias("sample_key"),
    )


def _pagerank_oracle(iterations: int = 5) -> str:
    prev, ctes = "r0", []
    for i in range(1, iterations + 1):
        ctes.append(
            f"r{i} AS (SELECT ed.dst AS node,"
            f" cast(150000 + sum(({prev}.r * 85) // (100 * deg.deg)) AS bigint) AS r"
            f" FROM ed JOIN {prev} ON ed.src = {prev}.node"
            f" JOIN deg ON ed.src = deg.node GROUP BY ed.dst)"
        )
        prev = f"r{i}"
    return f"""
    WITH pk AS (SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    p AS (SELECT 'c' || cast(ck AS varchar) AS c,
                 's' || cast(sk AS varchar) AS s FROM pk),
    ed AS (SELECT c AS src, s AS dst FROM p UNION ALL SELECT s, c FROM p),
    deg AS (SELECT src AS node, cast(count(*) AS bigint) AS deg FROM ed GROUP BY src),
    r0 AS (SELECT node, cast(1000000 AS bigint) AS r FROM deg),
    {', '.join(ctes)}
    SELECT deg.node AS node, deg.deg AS deg, {prev}.r AS rank_ppm
    FROM {prev} JOIN deg ON {prev}.node = deg.node
    """


def pagerank_edges(spark, sf_dir):
    """The long-encoded bidirectional customer-supplier edge relation
    graph_pagerank iterates over (distinct orders x lineitem pairs;
    customers even ``ck*2``, suppliers odd ``sk*2+1`` so the whole
    iterative phase shuffles 8-byte keys)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # dedup on the INTEGER pair, label afterwards: the distinct's hash
    # table compares 16-byte fixed rows instead of variable strings
    enc = (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
    )
    return enc.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionByName(
        enc.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


@_q("graph_pagerank", _pagerank_oracle())
def graph_pagerank(spark, sf_dir):
    """PageRank authority prior over the customer-supplier purchase
    graph (distinct orders x lineitem pairs, undirected), 5 power
    iterations at d=0.85 — the link-graph quality signal a crawl-based
    curation pipeline attaches to documents, here in EXACT parts-per-
    million integer arithmetic so ranks are bit-stable under any
    partitioning or engine (operators/graph.py: integer div + integer
    sums are order-free where float PageRank is not).

    Scale: each iteration is one edges-joins-ranks shuffle plus one
    partial-before-shuffle sum keyed on dst; edges persist across
    iterations, every stage keys on the node column so the partitioning
    is reusable, and a hub's in-mass is a mergeable sum (AQE-splittable),
    never a buffered window.  Iteration count is a fixed constant —
    lineage depth 5, no checkpoint needed.  The edge relation comes from
    :func:`pagerank_edges` (long-encoded node keys; the oracle's string
    labels are reconstructed in one projection at the very end —
    measured: the string-keyed variant spent the bench's single largest
    line here)."""
    from ..operators.graph import pagerank_ppm

    # symmetric=True: pagerank_edges emits both directions, so every node
    # is a src AND a dst — the operator drops the nodes relation and the
    # per-iteration left join (bit-identical integer ranks, see
    # operators/graph.py; r12 profile: 39 jobs/84 stages -> ~half).
    # copartition pins the edge partitioning at the session's shuffle width.
    pr = pagerank_ppm(
        pagerank_edges(spark, sf_dir),
        iterations=5,
        damping_pct=85,
        symmetric=True,
        copartition=int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    return pr.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("c"), F.expr("node div 2").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("s"), F.expr("(node - 1) div 2").cast("string"))
        )
        .alias("node"),
        "deg",
        "rank_ppm",
    )


_SESSIONS_SQL = """
      SELECT user_id,
             min(ts_us) AS s_us,
             max(ts_us) AS e_us
      FROM (
        SELECT user_id, ts_us,
               cast(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS sess_id
        FROM (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                      OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 THEN 1 ELSE 0 END AS new_sess
          FROM events) g) s
      GROUP BY user_id, sess_id
"""

_HOUR_US = 3_600_000_000


@_q(
    "join_interval_bins",
    f"""
    WITH sess AS ({_SESSIONS_SQL}),
    bounds AS (SELECT min(s_us // {_HOUR_US}) AS k0, max(e_us // {_HOUR_US}) AS k1 FROM sess),
    grid AS (SELECT unnest(range(k0, k1 + 1)) AS k FROM bounds),
    hit AS (SELECT grid.k, sess.user_id, sess.s_us, sess.e_us
            FROM grid JOIN sess
              ON grid.k * {_HOUR_US} <= sess.e_us
             AND sess.s_us < (grid.k + 1) * {_HOUR_US})
    SELECT cast(k * {_HOUR_US} AS bigint) AS hour_us,
           cast(count(*) AS bigint) AS n_sessions,
           cast(count(DISTINCT user_id) AS bigint) AS n_users,
           cast(sum(least(e_us, (k + 1) * {_HOUR_US}) - greatest(s_us, k * {_HOUR_US})) AS bigint) AS busy_us
    FROM hit GROUP BY k
    """,
)
def join_interval_bins(spark, sf_dir):
    """Interval-overlap join at scale: which sessions overlap which
    wall-clock hours, and how much — the range join Spark has no native
    operator for, lowered to the BINNED equi-join (each interval
    explodes into the hour bins it covers, then joins/aggregates on the
    bin key).  A naive inequality join is a BroadcastNestedLoopJoin —
    O(intervals x hours) comparisons; the binned plan shuffles
    O(intervals x bins-per-interval) rows on an equi key instead, the
    standard 100 TB range-join rewrite (Databricks' range-join hint
    does the same binning internally).

    Cross-algorithm oracle: DuckDB replays it as a TRUE inequality join
    against the hour grid (kH <= e AND s < (k+1)H), provably the same
    hour set as the floor-range explosion [floor(s/H), floor(e/H)] —
    so a binning bug (off-by-one at an hour boundary) cannot pass.

    Scale: sessions fold from one user_id-window pass (the sessionize
    shape); the explode fan-out is duration/hour + 1 — bounded for
    gap-capped sessions and declared in-plan; the final agg is
    partial-before-shuffle keyed on the hour bin whose cardinality is
    the calendar, never the fact table."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts"))
    new_sess = F.when(
        F.lag(ts_us).over(w).isNull()
        | ((ts_us - F.lag(ts_us).over(w)) > 1_800_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    run = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = (
        e.withColumn("ts_us", ts_us)
        .withColumn("new_sess", new_sess)
        .withColumn("sess_id", F.sum("new_sess").over(run))
        .groupBy("user_id", "sess_id")
        .agg(F.min("ts_us").alias("s_us"), F.max("ts_us").alias("e_us"))
    )
    H = _HOUR_US
    binned = sess.select(
        "user_id",
        "s_us",
        "e_us",
        F.explode(
            F.sequence(F.expr(f"s_us div {H}"), F.expr(f"e_us div {H}"))
        ).alias("k"),
    )
    return binned.groupBy("k").agg(
        (F.col("k") * H).cast("long").alias("hour_us"),
        F.count("*").cast("long").alias("n_sessions"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.sum(
            F.least(F.col("e_us"), (F.col("k") + 1) * H)
            - F.greatest(F.col("s_us"), F.col("k") * H)
        )
        .cast("long")
        .alias("busy_us"),
    ).select("hour_us", "n_sessions", "n_users", "busy_us")


@_q(
    "events_anomaly_mad",
    f"""
    WITH hc AS (
      SELECT event_type, epoch_us(ts) // {_HOUR_US} AS k,
             cast(count(*) AS bigint) AS cnt
      FROM events GROUP BY event_type, k),
    st AS (
      SELECT event_type, median(cnt) AS med FROM hc GROUP BY event_type),
    dev AS (
      SELECT hc.event_type, hc.k, hc.cnt, st.med,
             abs(hc.cnt - st.med) AS adev
      FROM hc JOIN st ON hc.event_type = st.event_type),
    md AS (
      SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type)
    SELECT dev.event_type AS event_type,
           cast(dev.k * {_HOUR_US} AS bigint) AS hour_us,
           dev.cnt AS cnt, dev.med AS med, md.mad AS mad
    FROM dev JOIN md ON dev.event_type = md.event_type
    WHERE dev.adev > 3 * greatest(md.mad, 0.5)
    """,
)
def events_anomaly_mad(spark, sf_dir):
    """Robust time-series anomaly detection: flag (event_type, hour)
    cells whose count deviates from the per-type median by more than
    3 x MAD (median absolute deviation) — the outlier screen a data
    pipeline runs over ingest volumes before trusting a day's crawl.
    Median/MAD instead of mean/stddev so the anomalies being hunted
    can't mask themselves by inflating the baseline.

    Determinism: counts are integers; both engines' continuous median
    interpolates as the exact mean of two integers — bit-equal doubles —
    and the 3xMAD comparison runs on those exact values (the 0.5 floor
    keeps a zero-MAD type from flagging every hour).

    Scale: the hourly matrix is calendar x |event types| — already
    reduced by a partial-before-shuffle count — and BOTH medians run as
    window aggregates over that bounded matrix partitioned by type, so
    the two stats passes reuse one hash(event_type) exchange and the
    fact-level aggregate is computed exactly once (the agg-then-join
    formulation re-derived it per consumer: 7 exchanges -> 2)."""
    e = _events(spark, sf_dir)
    hc = (
        e.groupBy(
            "event_type",
            F.expr(f"unix_micros(ts) div {_HOUR_US}").alias("k"),
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = Window.partitionBy("event_type")
    dev = hc.withColumn("med", F.expr("percentile(cnt, 0.5)").over(w)).withColumn(
        "adev", F.abs(F.col("cnt") - F.col("med"))
    )
    scored = dev.withColumn("mad", F.expr("percentile(adev, 0.5)").over(w))
    return (
        scored.where(F.col("adev") > 3 * F.greatest(F.col("mad"), F.lit(0.5)))
        .select(
            "event_type",
            (F.col("k") * _HOUR_US).cast("long").alias("hour_us"),
            "cnt",
            "med",
            "mad",
        )
    )


@_q(
    "sessions_attribution",
    f"""
    WITH s AS (
      SELECT user_id, event_id, event_type, value, ts_us,
             cast(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS sess_id
      FROM (
        SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                      OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                    OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               THEN 1 ELSE 0 END AS new_sess
        FROM events) g),
    ft AS (
      SELECT user_id, sess_id, event_id, event_type, value,
             first_value(event_type) OVER (PARTITION BY user_id, sess_id
                  ORDER BY ts_us, event_id) AS first_touch
      FROM s)
    SELECT first_touch,
           cast(count(*) AS bigint) AS n_purchases,
           cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS revenue_cents
    FROM ft WHERE event_type = 'purchase'
    GROUP BY first_touch
    """,
)
def sessions_attribution(spark, sf_dir):
    """First-touch attribution: every purchase credits the event type
    that OPENED its session (the marketing-attribution fold run over
    clickstreams).  Composes the gap-sessionize shape with a
    first_value window — both windows key on user_id, so the whole
    query is ONE user shuffle + one tiny aggregate; revenue sums in
    exact integer cents.

    Scale: session ids and the first-touch value derive in the same
    exchange-reusing window stage; the purchase filter prunes before
    the final agg, whose key cardinality is |event types|."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts"))
    new_sess = F.when(
        F.lag(ts_us).over(w).isNull()
        | ((ts_us - F.lag(ts_us).over(w)) > 1_800_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    run = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = (
        e.withColumn("ts_us", ts_us)
        .withColumn("new_sess", new_sess)
        .withColumn("sess_id", F.sum("new_sess").over(run))
    )
    ftw = Window.partitionBy("user_id", "sess_id").orderBy("ts_us", "event_id")
    ft = s.withColumn("first_touch", F.first("event_type").over(ftw))
    return (
        ft.where(F.col("event_type") == "purchase")
        .groupBy("first_touch")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum(_cents(F.col("value"))).cast("long").alias("revenue_cents"),
        )
    )


# Curriculum banding thresholds on the integer quality score (ppm): four
# fixed bands — threshold banding, NOT ntile, because a corpus-wide ntile
# is one unsplittable window group at scale while a fixed threshold is a
# scan-stage projection.
_CURRICULUM_BANDS_SQL = (
    "(CASE WHEN score_ppm >= 600000 THEN 3 WHEN score_ppm >= 400000 THEN 2"
    " WHEN score_ppm >= 200000 THEN 1 ELSE 0 END)"
)


@_q(
    "curriculum_order",
    f"""
    WITH scored AS (
      SELECT doc_id, source,
             cast(least(1000000,
               (len(string_split(text, ' ')) * 1000000) // 100) AS bigint) AS score_ppm,
             ((doc_id % 65536) * 2654435761) % 64 AS bucket
      FROM documents),
    banded AS (SELECT doc_id, source, score_ppm,
                      {_CURRICULUM_BANDS_SQL} AS band, bucket FROM scored)
    SELECT doc_id, source, cast(band AS bigint) AS band,
           cast(bucket AS bigint) AS bucket,
           cast(row_number() OVER (PARTITION BY band, bucket
                ORDER BY score_ppm DESC, doc_id) AS bigint) AS pos_in_bucket
    FROM banded
    """,
)
def curriculum_order(spark, sf_dir):
    """Curriculum data ordering: band documents by a quality signal
    (here word-count normalized to ppm, the stand-in for a model score),
    then assign each a deterministic position — easy bands first, and
    WITHIN a band a hash-shuffled stream.  The trainer reads shards in
    (band desc, bucket, pos_in_bucket) order; that composite key IS the
    global curriculum, so no corpus-wide total order is ever
    materialized.

    Scale: the banding is a scan-stage projection (fixed thresholds —
    deliberately not ntile, whose corpus-wide window is one unsplittable
    reducer); position is a row_number over (band, bucket) where the 64
    hash buckets bound every window group to ~1/256th of the corpus, the
    same salted-window idiom as bm25_search.  Output is integer-only."""
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        F.least(
            F.lit(1_000_000),
            F.expr("(size(split(text, ' ')) * 1000000) div 100"),
        )
        .cast("long")
        .alias("score_ppm"),
        # mask before the Knuth multiply: (a*K) mod 64 depends only on
        # a mod 65536, and the masked product cannot overflow int64
        # (Spark wraps silently, the DuckDB oracle would error)
        F.expr("((doc_id % 65536) * 2654435761) % 64").alias("bucket"),
    )
    banded = scored.withColumn("band", F.expr(_CURRICULUM_BANDS_SQL))
    w = Window.partitionBy("band", "bucket").orderBy(
        F.desc("score_ppm"), "doc_id"
    )
    return banded.select(
        "doc_id",
        "source",
        F.col("band").cast("long").alias("band"),
        F.col("bucket").cast("long").alias("bucket"),
        F.row_number().over(w).cast("long").alias("pos_in_bucket"),
    )


# 60-bit md5 prefix of the doc id — the deterministic "random" order every
# quota/split op below ranks by (shared character-for-character with the
# oracles so both engines sort the same ASCII-hex strings).
_DOC_MD5_SQL = "md5(cast(doc_id as varchar))"

_DOMAIN_CAP = 15


@_q(
    "sample_domain_cap",
    f"""
    SELECT source, doc_id, rank FROM (
      SELECT source, doc_id,
             cast(row_number() OVER (PARTITION BY source
                  ORDER BY {_DOC_MD5_SQL}, doc_id) AS bigint) AS rank
      FROM documents) r
    WHERE rank <= {_DOMAIN_CAP}
    """,
)
def sample_domain_cap(spark, sf_dir):
    """Per-domain quota sampling: keep at most N docs per source, chosen
    by deterministic hash order — the "cap any one domain's share"
    curation step that stops a crawl-dump source from dominating the
    mixture, reproducible across runs/partitionings and append-stable
    (a new doc can displace at most one ranked doc, never reshuffle).

    Scale: a single window over an open per-source group would buffer a
    data-scaled group per source; instead the salted two-phase top-N
    (partial top-N per (source, doc_id%64), then final rank over <=64*N
    survivors per source) bounds every window buffer by a constant —
    the same shape bm25_search uses for per-term top-k."""
    d = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", F.md5(F.col("doc_id").cast("string")).alias("hk")
    )
    partial = Window.partitionBy("source", F.expr("doc_id % 64")).orderBy(
        "hk", "doc_id"
    )
    final = Window.partitionBy("source").orderBy("hk", "doc_id")
    return (
        d.withColumn("pr", F.row_number().over(partial))
        .where(F.col("pr") <= _DOMAIN_CAP)
        .withColumn("rank", F.row_number().over(final).cast("long"))
        .where(F.col("rank") <= _DOMAIN_CAP)
        .select("source", "doc_id", "rank")
    )


# Identical split-bucket arithmetic on both engines, applied to the
# LEAKAGE KEY (the near-dup cluster representative), not the doc id.
_CLUSTER_BUCKET_SQL = (
    "cast(('0x' || substr(md5(cast(ck as varchar)), 1, 15)) AS bigint) % 100"
)


@_q(
    "split_leakage_safe",
    f"""
    WITH RECURSIVE {_SIG_CTE_SQL},
    bands AS (
      SELECT doc_id, b.band_idx,
             md5(array_to_string(sig[b.band_idx*4+1 : b.band_idx*4+4], ',')) AS band_key
      FROM sig, (SELECT unnest(range(4)) AS band_idx) b
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(id, label) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst
    ),
    clusters AS (SELECT id AS doc_id, min(label) AS cluster_id
                 FROM reach GROUP BY id),
    keyed AS (SELECT d.doc_id,
                     cast(coalesce(c.cluster_id, d.doc_id) AS bigint) AS ck
              FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id)
    SELECT doc_id, ck AS cluster_key,
           CASE WHEN {_CLUSTER_BUCKET_SQL} < 80 THEN 'train'
                WHEN {_CLUSTER_BUCKET_SQL} < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM keyed
    """,
)
def split_leakage_safe(spark, sf_dir):
    """Leakage-safe train/valid/test split: every member of a near-dup
    cluster is assigned by its CLUSTER representative's hash, so a
    document and its near-duplicates can never straddle the train/eval
    boundary — the eval-contamination failure mode a doc-hash split
    (split_train_eval) cannot prevent.  Singletons key on their own id.

    DELIBERATELY stays on the 16/4 candidate graph when the shipped
    dedup pairs tier moved to 32/4 (r9): for leakage safety the
    HIGHER-RECALL banding is the conservative choice — a looser graph
    groups more borderline near-dups onto one side of the split, and
    false-positive groupings only cost split balance, never leak.

    Scale: the cluster map is the adaptive connected-components operator
    over banded-LSH candidate pairs (the dedup_clusters machinery — the
    pair graph is orders of magnitude smaller than the corpus); the
    join-back is keyed on doc_id and the split bucket evaluates in the
    join's output projection.  Oracle replays clustering through the
    recursive-CTE transitive closure, which is in dedup_clusters'
    intractability class at large scale factors; the sf1/sf10 replay
    is recorded in PLANS.md "Round-7: scale ladder for the r6-late
    trio"."""
    from ..operators.dedup import connected_components, minhash_candidate_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(
        d, "doc_id", "text", num_perm=16, bands=4, k=2
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    clusters = connected_components(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    keyed = (
        d.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").cast("long").alias("ck"),
        )
    )
    # Spark's equivalent of the oracle's ('0x' || hex)::bigint idiom is
    # conv(hex, 16, 10) — same 60-bit value on both engines (the
    # shard_manifest/split_train_eval precedent)
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("ck").cast("string")), 1, 15), 16, 10
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return keyed.select(
        "doc_id", F.col("ck").alias("cluster_key"), split.alias("split")
    )


# Hashed-feature bucket: 60-bit md5 prefix of the word, mod 4096 — the
# fixed-width feature space of hashed-n-gram importance weighting.
_DSIR_BUCKET_SQL = (
    "cast(('0x' || substr(md5(w), 1, 15)) AS bigint) % 4096"
)


@_q(
    "dsir_importance",
    f"""
    WITH g AS (SELECT doc_id,
                      (lang = 'en') AS is_target,
                      {_DSIR_BUCKET_SQL} AS bucket
               FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
                     FROM documents)),
    tfb AS (SELECT doc_id, is_target, bucket,
                   cast(count(*) AS bigint) AS tf
            FROM g GROUP BY doc_id, is_target, bucket),
    freq AS (SELECT bucket,
                    cast(sum(tf) AS bigint) AS cnt_r,
                    cast(sum(CASE WHEN is_target THEN tf ELSE 0 END) AS bigint) AS cnt_t
             FROM tfb GROUP BY bucket)
    SELECT tfb.doc_id,
           cast(sum(tf) AS bigint) AS n_words,
           cast(sum(tf * (floor(log2(cnt_t + 1)) - floor(log2(cnt_r + 1)))) AS bigint)
             AS dsir_score
    FROM tfb JOIN freq ON tfb.bucket = freq.bucket
    GROUP BY tfb.doc_id
    """,
)
def dsir_importance(spark, sf_dir):
    """Hashed-n-gram importance weighting (the DSIR recipe, Xie et al.
    2023): score every document by how much its hashed word distribution
    looks like a TARGET slice (here lang='en') versus the raw corpus —
    per-word weight = log2(target count+1) - log2(corpus count+1) over a
    fixed 4096-bucket hashed feature space, summed per doc.  Integer-
    exact: floor(log2(bigint)) is exact in IEEE doubles far beyond any
    reachable count (the quality_lm_bigram argument), so the score hash-
    pins cross-engine.

    Scale: words explode ONCE — the (doc, bucket) tf relation is the
    single exploded pass (one data-scaled shuffle, partial-agg'd
    map-side), PERSISTED before its two consumers so the physical plan
    cannot re-run the explode subtree per consumer; both frequency
    columns come out of that already-reduced relation in one 4096-group
    agg (a broadcast-sized constant at any corpus size); the join-back
    attaches 4096 rows by broadcast and the per-doc sum is the second
    and last data-scaled shuffle.

    The explode+md5+partial-agg map stage inherits the scan's 1-2
    row-group parallelism at small SFs (r12 sf1 profile: one 2-task
    3.3s stage was 70% of the wall) — fan the scan out behind the PQ
    fits' size gate; everything downstream is key-based, order-free."""
    from ..operators.ann import fan_out_narrow

    d = fan_out_narrow(
        _t(spark, sf_dir, "documents"), min_bytes=2_000_000
    ).select(
        "doc_id",
        (F.col("lang") == "en").alias("is_target"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10).cast("long") % 4096
    )
    tfb = (
        d.select("doc_id", "is_target", bucket.alias("bucket"))
        .groupBy("doc_id", "is_target", "bucket")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    # persist before the fan-out: freq AND the join consume tfb, and
    # without a persist each consumer physically re-runs the whole
    # explode + per-word md5 + data-scaled shuffle subtree (caught by
    # plan_audit in r7: 4 exchanges, two full document scans — a
    # grouping-sets single-pass draft didn't help either, Catalyst
    # pushes the gid filter through the aggregate into the Expand and
    # splits the scan again).  Same fault-tolerant pattern as the LSH
    # sketch persist in operators/dedup.py: MEMORY_AND_DISK, lineage
    # kept, so a lost executor recomputes instead of failing.
    tfb = tfb.persist(StorageLevel.MEMORY_AND_DISK)
    freq = tfb.groupBy("bucket").agg(
        F.sum("tf").cast("long").alias("cnt_r"),
        F.sum(F.when(F.col("is_target"), F.col("tf")).otherwise(F.lit(0)))
        .cast("long")
        .alias("cnt_t"),
    )
    return (
        tfb.join(F.broadcast(freq), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_words"),
            F.sum(
                F.col("tf")
                * (
                    F.floor(F.log2(F.col("cnt_t") + 1))
                    - F.floor(F.log2(F.col("cnt_r") + 1))
                )
            )
            .cast("long")
            .alias("dsir_score"),
        )
    )


@_q(
    "embedding_quantize_int8",
    """
    SELECT vec_id,
           cast(maxabs AS double) AS maxabs,
           CASE WHEN maxabs = 0 THEN ''
                ELSE array_to_string(list_transform(embedding,
                       x -> cast(floor(cast(x AS double) * 127.0
                                       / cast(maxabs AS double) + 0.5) AS int)), ',')
           END AS codes,
           CASE WHEN maxabs = 0 THEN 0
                ELSE cast(len(list_filter(list_transform(embedding,
                       x -> cast(floor(cast(x AS double) * 127.0
                                       / cast(maxabs AS double) + 0.5) AS int)),
                       c -> abs(c) = 127)) AS bigint)
           END AS n_sat
    FROM (SELECT vec_id, embedding,
                 list_max(list_transform(embedding, x -> abs(x))) AS maxabs
          FROM embeddings)
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    """Symmetric int8 quantization of the embedding column — the
    compression step a training pipeline applies before shipping
    embeddings to an ANN index or a feature store (absmax scaling, the
    llama.cpp/FAISS SQ8 recipe).  Emits the per-vector scale, the int8
    code vector (comma-joined for cross-engine hashing), and the
    saturation count (|code| = 127), the signal used to pick per-vector
    vs per-block scaling.

    Determinism: codes are floor(x*127/maxabs + 0.5) on IEEE doubles
    promoted EXACTLY from the stored float32 on both engines — floor is
    deterministic where round() implementations differ at .5; all-zero
    vectors short-circuit (maxabs = 0 would otherwise divide by zero).

    Scale: pure scan-stage codegen projection — zero shuffles, zero
    Python; at 100 TB this runs at parquet-scan speed and is the shape
    you'd fuse into the shard-export write."""
    e = _t(spark, sf_dir, "embeddings")
    mx = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x)))
    code = lambda x: F.floor(
        x.cast("double") * 127.0 / F.col("maxabs").cast("double") + 0.5
    ).cast("int")
    codes = F.transform(F.col("embedding"), code)
    return (
        e.select("vec_id", "embedding", mx.alias("maxabs"))
        .select(
            "vec_id",
            F.col("maxabs").cast("double").alias("maxabs"),
            F.when(F.col("maxabs") == 0, F.lit("")).otherwise(
                F.array_join(
                    F.transform(codes, lambda c: c.cast("string")), ","
                )
            ).alias("codes"),
            F.when(F.col("maxabs") == 0, F.lit(0).cast("long")).otherwise(
                F.size(F.filter(codes, lambda c: F.abs(c) == 127)).cast("long")
            ).alias("n_sat"),
        )
    )


@_q(
    "dataset_card_stats",
    """
    SELECT source,
           cast(count(*) AS bigint) AS n_docs,
           cast(sum(n_chars) AS bigint) AS total_chars,
           cast(count(DISTINCT lang) AS bigint) AS n_langs,
           cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS bigint) AS en_docs,
           quantile_cont(n_chars, 0.5) AS p50_chars,
           quantile_cont(n_chars, 0.9) AS p90_chars,
           round(avg(cast(n_chars AS double)), 6) AS mean_chars
    FROM documents GROUP BY source
    """,
)
def dataset_card_stats(spark, sf_dir):
    """Per-source dataset-card manifest: the summary table a curation
    pipeline publishes next to every training mixture (doc counts, size,
    language spread, length distribution) — the machine-readable half of
    a HuggingFace-style dataset card.

    Determinism: exact linear-interpolation percentiles (the
    agg_percentiles precedent — both engines compute (1-d)*lo + d*hi on
    the sorted group); the mean rounds to 6dp.

    Scale: one partial-aggregable shuffle keyed on source for the
    counts/sums; the exact percentiles sort per source group — bounded
    by the largest single source, the documented trade vs the mergeable
    approx_percentile sketch (registered separately); count(DISTINCT
    lang) expands by the ~constant language cardinality, never by docs."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("en_docs"),
        F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
        F.expr("percentile(n_chars, 0.9)").alias("p90_chars"),
        F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("mean_chars"),
    )


@_q(
    "ann_ivf_nprobe4_topk",
    """
    WITH c AS (SELECT vec_id AS cid, cast(embedding AS DOUBLE[]) AS ce
               FROM embeddings WHERE vec_id % 50 = 0
               ORDER BY vec_id LIMIT 400),
    pairdots AS (
      SELECT e.vec_id, c.cid,
             list_inner_product(cast(e.embedding AS DOUBLE[]), c.ce) AS dot
      FROM embeddings e, c),
    best AS (SELECT vec_id, max(dot) AS mdot FROM pairdots GROUP BY vec_id),
    assign0 AS (
      SELECT p.vec_id, min(p.cid) AS cid
      FROM pairdots p JOIN best b ON p.vec_id = b.vec_id AND p.dot = b.mdot
      GROUP BY p.vec_id),
    assign AS (
      SELECT a.vec_id, e.embedding, a.cid
      FROM assign0 a JOIN embeddings e ON a.vec_id = e.vec_id),
    q AS (SELECT vec_id AS q_id, cast(embedding AS DOUBLE[]) AS q_emb
          FROM embeddings WHERE vec_id % 100 = 0
          ORDER BY vec_id LIMIT 64),
    qprobe AS (
      SELECT q_id, cid FROM (
        SELECT q.q_id, p.cid,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY p.dot DESC, p.cid) AS pr
        FROM q JOIN pairdots p ON p.vec_id = q.q_id) WHERE pr <= 4)
    SELECT q_id, neighbor_id, rank FROM (
      SELECT qp.q_id, a.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY qp.q_id
               ORDER BY list_inner_product(cast(a.embedding AS DOUBLE[]),
                                           q.q_emb) DESC, a.vec_id) AS rank
      FROM qprobe qp
      JOIN assign a ON a.cid = qp.cid AND a.vec_id != qp.q_id
      JOIN q ON q.q_id = qp.q_id
    ) WHERE rank <= 5
    """,
)
def ann_ivf_nprobe4_topk(spark, sf_dir):
    """Multi-probe IVF: each query searches its FOUR nearest cells
    instead of one — the standard recall/latency knob (FAISS nprobe)
    that recovers the single-probe recall loss the recall-eval operator
    measures (57% mean recall@5 at sf1 with nprobe=1).  Probing 4 of
    ~n/50 cells still prunes ~99% of the corpus per query.

    Scale: assignment is the same one-BLAS-matmul-per-batch corpus
    stream as ann_ivf_topk; probe selection ranks the kilobyte centroid
    table against the 64 bounded queries on the driver (numpy, same
    (dot desc, cid asc) tiebreak as the oracle) and broadcasts ≤ 64×4
    probe rows; candidates are one broadcast-join against the assigned
    corpus (a vector belongs to exactly one cell, so no dedup pass);
    in-cell dots stay on the JVM fold whose left-fold order matches
    list_inner_product bit-for-bit (the ann_ivf_topk precedent)."""
    from ..operators.ann import ivf_assign_dot

    import numpy as np

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cent_rows = (
        e.where(F.col("vec_id") % 50 == 0).orderBy("vec_id").limit(400).collect()
    )
    cids = np.array([r["vec_id"] for r in cent_rows], dtype=np.int64)
    cents = np.array([r["e"] for r in cent_rows], dtype=np.float64)
    assign = ivf_assign_dot(e, cids, cents)
    # bounded collect (64 rows, the registry-wide query-sample cap):
    # probe selection is a 64 x 400 driver matmul, broadcast back
    q_rows = (
        e.where(F.col("vec_id") % 100 == 0).orderBy("vec_id").limit(64).collect()
    )
    probe_rows = []
    for r in q_rows:
        dots = cents @ np.array(r["e"], dtype=np.float64)
        order = np.lexsort((cids, -dots))  # dot desc, cid asc on ties
        for pcid in cids[order[:4]]:
            probe_rows.append((int(r["vec_id"]), list(r["e"]), int(pcid)))
    probes = spark.createDataFrame(
        probe_rows, "q_id long, q_emb array<double>, pcid long"
    )
    dot_q = F.aggregate(
        F.zip_with(F.col("e"), F.col("q_emb"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w_rank = Window.partitionBy("q_id").orderBy(
        F.desc("dot"), F.asc("neighbor_id")
    )
    return (
        assign.join(
            F.broadcast(probes),
            (F.col("cid") == F.col("pcid")) & (F.col("vec_id") != F.col("q_id")),
        )
        .select(
            "q_id", F.col("vec_id").alias("neighbor_id"), dot_q.alias("dot")
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= 5)
        .select("q_id", "neighbor_id", "rank")
    )


# Recall evaluation composes the two ANN tiers' ORACLES verbatim, so the
# eval's ground truth is definitionally the already-verified exact
# baseline and the approx side is the already-verified IVF result — a
# bug in either tier surfaces here as a recall shift the driver
# hash-checks.  (Defined after both, so the registry dict carries them.)
_RECALL_ORACLE = f"""
    WITH exact AS ({ORACLES["ann_topk_matmul"]}),
    approx AS ({ORACLES["ann_ivf_topk"]}),
    hits AS (
      SELECT e.q_id, cast(count(*) AS bigint) AS n_hits
      FROM exact e JOIN approx a
        ON e.q_id = a.q_id AND e.neighbor_id = a.neighbor_id
      GROUP BY e.q_id)
    SELECT q.q_id,
           cast(coalesce(h.n_hits, 0) AS bigint) AS n_hits,
           cast(coalesce(h.n_hits, 0) * 20 AS bigint) AS recall_pct
    FROM (SELECT DISTINCT q_id FROM exact) q
    LEFT JOIN hits h USING (q_id)
"""


@_q("ann_ivf_recall_eval", _RECALL_ORACLE)
def ann_ivf_recall_eval(spark, sf_dir):
    """Recall@5 of the IVF ANN tier against the exact brute-force
    baseline, per query — the evaluation loop every production ANN
    deployment runs before trusting an index (FAISS's bench protocol).
    Both sides are the REGISTRY queries themselves (same 64-query set:
    vec_id % 100 = 0, LIMIT 64), so this measures the shipped operators,
    not reimplementations; the oracle composes the two shipped oracle
    texts verbatim for the same property.

    Scale: the eval join is top-5-rows x 64 queries on both sides —
    constant-size regardless of corpus; total cost is the two underlying
    queries' cost, which are each independently scale-audited."""
    exact = ann_topk_matmul_q(spark, sf_dir)
    approx = ann_ivf_topk(spark, sf_dir)
    hits = (
        exact.join(approx, ["q_id", "neighbor_id"])
        .groupBy("q_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    return (
        exact.select("q_id")
        .distinct()
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) * 20)
            .cast("long")
            .alias("recall_pct"),
        )
    )


@_q(
    "sample_lang_rebalance",
    """
    SELECT doc_id, lang, source,
           cast(('0x' || substr(md5(cast(doc_id AS VARCHAR)), 1, 15)) AS bigint)
             % 4096 AS bucket
    FROM documents
    WHERE cast(('0x' || substr(md5(cast(doc_id AS VARCHAR)), 1, 15)) AS bigint)
            % 4096
          < CASE WHEN lang = 'en' THEN 512 ELSE 2048 END
    """,
)
def sample_lang_rebalance(spark, sf_dir):
    """Deterministic stratified downsampling — the mixture-rebalancing
    step every pretraining pipeline applies (downweight the dominant
    language/crawl, keep the tails): keep a doc iff its stable 60-bit
    md5 bucket (mod 4096) falls under the stratum's rate numerator
    (en -> 512/4096 = 12.5%, every other stratum 2048/4096 = 50%).

    Hash-based sampling beats rand() at scale because it is (a)
    reproducible run-to-run and executor-to-executor, (b) consistent
    across tables — any other table keyed by doc_id samples the SAME
    docs with no join, and (c) exactly replayable by the oracle.

    Scale: a pure scan-stage codegen filter — zero shuffles, zero
    Python, no driver state; at 100 TB it runs at parquet-scan speed
    and composes with any downstream operator as a cheap prefilter.
    The rate table here is a CASE literal; a real deployment broadcasts
    a (stratum -> numerator) dimension instead, same plan shape."""
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 4096
    )
    rate = F.when(F.col("lang") == "en", F.lit(512)).otherwise(F.lit(2048))
    return (
        d.select("doc_id", "lang", "source", bucket.alias("bucket"))
        .where(F.col("bucket") < rate)
    )


def _zbit_sql(b1: str, b2: str, div: str) -> str:
    """Engine-portable 12-bit Morton interleave of two 6-bit buckets as
    pure integer arithmetic (bit k of b is (b div 2^k) % 2) — identical
    text modulo the integer-division token (`div` on Spark, `//` on
    DuckDB)."""
    terms = []
    for k in range(6):
        p = 1 << k
        terms.append(f"(({b1} {div} {p}) % 2) * {1 << (2 * k)}")
        terms.append(f"(({b2} {div} {p}) % 2) * {1 << (2 * k + 1)}")
    return "(" + " + ".join(terms) + ")"


_ZORDER_ORACLE = f"""
    WITH maxck AS (SELECT max(o_custkey) AS mck FROM orders),
    b AS (
      SELECT least(63, date_diff('day', DATE '1995-01-01',
                                 CAST(o_orderdate AS DATE)) // 38) AS b1,
             (o_custkey * 64) // (mck + 1) AS b2
      FROM orders CROSS JOIN maxck),
    z AS (SELECT {_zbit_sql("b1", "b2", "//")} // 16 AS zfile, b1, b2 FROM b)
    SELECT zfile,
           cast(count(*) AS bigint) AS n_rows,
           cast(min(b1) AS bigint) AS min_b1, cast(max(b1) AS bigint) AS max_b1,
           cast(min(b2) AS bigint) AS min_b2, cast(max(b2) AS bigint) AS max_b2
    FROM z GROUP BY zfile
"""


@_q("layout_zorder_stats", _ZORDER_ORACLE)
def layout_zorder_stats(spark, sf_dir):
    """Z-order (Morton) layout assignment + per-file clustering stats —
    the data-layout optimization a lakehouse runs (Delta/Iceberg
    ``OPTIMIZE ZORDER BY``) so multi-dimensional filters prune files on
    BOTH dimensions at once.  Each order gets a 12-bit Morton code
    interleaving its 6-bit date bucket (fixed 38-day width over the
    corpus' fixed date range) with its 6-bit customer bucket (domain
    split by the runtime max custkey — SF-scaled); 16 consecutive codes
    form one "file", and the output is each file's min/max extent on
    both dimensions plus its row count — exactly the footer stats a
    reader's pruner would consult.  Bounded extents on both axes (vs a
    date-sorted layout whose custkey extent spans the full domain) are
    the measurable win.

    Scale: the custkey bound is a one-row partial agg broadcast into the
    scan projection (the join_runtime_minmax precedent); the Morton code
    is pure integer codegen arithmetic; one partial-aggregated shuffle
    on the 256-value zfile key produces the stats.  At 100 TB the same
    plan writes the layout itself via ``repartitionByRange(zfile)`` +
    per-file sort — the stats table IS the pruning index."""
    o = _t(spark, sf_dir, "orders")
    mck = o.agg(F.max("o_custkey").alias("mck"))
    b = o.crossJoin(F.broadcast(mck)).select(
        F.least(
            F.lit(63),
            F.expr(
                "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') div 38"
            ),
        ).alias("b1"),
        F.expr("(o_custkey * 64) div (mck + 1)").alias("b2"),
    )
    z = b.select(
        F.expr(_zbit_sql("b1", "b2", "div") + " div 16").alias("zfile"), "b1", "b2"
    )
    return z.groupBy("zfile").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("b1").cast("long").alias("min_b1"),
        F.max("b1").cast("long").alias("max_b1"),
        F.min("b2").cast("long").alias("min_b2"),
        F.max("b2").cast("long").alias("max_b2"),
    )


@_q(
    "embedding_covariance",
    """
    WITH qv AS (
      SELECT vec_id, i - 1 AS i,
             CAST(floor(CAST(e AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS q
      FROM (SELECT vec_id, unnest(embedding) AS e,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)),
    cells AS (
      SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS s_ij
      FROM qv a JOIN qv b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i),
    mom AS (SELECT i, CAST(sum(q) AS BIGINT) AS s FROM qv GROUP BY i),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
    SELECT CAST(c.i AS INTEGER) AS i, CAST(c.j AS INTEGER) AS j, c.s_ij,
           (CAST(c.s_ij AS DOUBLE)
            - CAST(mi.s AS DOUBLE) * CAST(mj.s AS DOUBLE) / CAST(nn.n AS DOUBLE))
           / CAST(nn.n AS DOUBLE) AS cov
    FROM cells c
    JOIN mom mi ON mi.i = c.i
    JOIN mom mj ON mj.i = c.j
    CROSS JOIN nn
    """,
)
def embedding_covariance(spark, sf_dir):
    """Exact upper-triangle covariance of the embedding column — the
    one-pass second-moment statistic feeding whitening/PCA and embedding
    drift monitors.  Fixed-point quantization (floor(x*2^20 + 0.5) as
    int64, exact for float32 inputs) makes every partial sum an exact
    integer, so the result is bit-identical under any partitioning and
    the driver can hash it; the double `cov` column is derived from
    those exact integers by a fixed IEEE expression both engines
    evaluate identically.

    Scale (operators/moments.py): each partition folds its rows into a
    local (d+1)x(d+1) int64 Gram matrix (one numpy matmul per Arrow
    batch — the constant 1-column makes first moments and the row count
    fall out of the same product), and ONLY the d(d+1)/2 cells shuffle:
    the corpus is scanned once with no data-scaled exchange.  The oracle
    is the d^2 self-join formulation — tractable at oracle SFs,
    intentionally NOT the engine plan."""
    from ..operators.moments import covariance

    return covariance(_t(spark, sf_dir, "embeddings"), "embedding")


def _minhash_eval_sql(cand_sql: str) -> str:
    """True-Jaccard annotation of a candidate-pair relation (the
    precision-eval epilogue, shared by the 16/4 and tuned variants)."""
    return f"""
    WITH cand AS ({cand_sql}),
    g AS (SELECT doc_id, grams, len(grams) AS n_grams FROM {_GRAMS2_SQL}),
    j AS (
      SELECT c.doc_a, c.doc_b, c.n_shared_bands, c.n_sig_agree,
             len(list_intersect(ga.grams, gb.grams)) AS inter,
             ga.n_grams + gb.n_grams
               - len(list_intersect(ga.grams, gb.grams)) AS un
      FROM cand c
      JOIN g ga ON ga.doc_id = c.doc_a
      JOIN g gb ON gb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, n_shared_bands, n_sig_agree,
           CAST(floor(1000000.0 * inter / un) AS bigint) AS jaccard_ppm,
           CAST(CASE WHEN floor(1000000.0 * inter / un) >= 200000
                     THEN 1 ELSE 0 END AS bigint) AS is_dup
    FROM j
    """


# Pinned EXPLICITLY at (16, 4): the precision eval is the parameter STUDY
# of the loose tier, and must keep measuring 16/4 even though the shipped
# dedup_minhash_pairs default moved to the scale-safe (32, 4) in r9.
_MINHASH_EVAL_ORACLE = _minhash_eval_sql(_minhash_pairs_sql(16, 4))


def _minhash_eval_frame(spark, sf_dir, num_perm: int, bands: int):
    """Shared Spark body for the precision evals: LSH candidates at the
    given parameters, annotated with exact word-2-gram Jaccard.  The
    gram table is cut to candidate docs BEFORE any join, so the exact
    verify costs O(candidates x doc length), never corpus^2."""
    from ..operators.dedup import gram_sets, minhash_candidate_pairs

    d = _t(spark, sf_dir, "documents")
    cand = minhash_candidate_pairs(
        d, num_perm=num_perm, bands=bands, k=2
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # NOT persisted (r9, measured ~3.4 -> ~3.0s at sf0.1 with the
    # jaccard projection forced — a count()-probe exaggerates this to
    # 4.7 -> 1.9s because column pruning deletes the array_intersect):
    # g is candidate-bounded cheap, and a persist here is a synchronous
    # materialization barrier that stops the ids-join pipelining into
    # each shuffle_hash side — recomputing it once per side costs less.
    # Gram build (r12, measured): candidate cut FIRST (broadcast join on
    # doc_id), then the Arrow-batched ``gram_sets`` pass over the
    # survivors — the old ``word_shingles`` JVM expression is an
    # interpreted (CodegenFallback) higher-order chain that evaluated on
    # a 1-task scan for ~13s of CPU at sf0.1; gram_sets shingles the
    # same sets in Python at scan-or-cores parallelism (identical gram
    # semantics, see its docstring) and keeps the candidate-bounded
    # cost contract.
    g = gram_sets(d.join(ids, "doc_id"), "doc_id", "text", 2)
    # SHUFFLE_HASH pinned (the r8 simhash_hamming_pairs finding, same
    # cause): g is candidate-bounded but carries the gram ARRAYS, and the
    # planner's size estimate for the persisted join output sits far
    # below reality — at sf10 the flip to BroadcastHashJoin builds a
    # multi-GB driver-side table of shingle arrays and dies with a
    # broadcast OOM.  Hash-partitioning on the pair keys is the 100 TB
    # plan: grams shuffle once, keyed by doc id.
    ga = g.select(
        F.col("doc_id").alias("doc_a"),
        F.col("grams").alias("grams_a"),
        F.col("n_grams").alias("na"),
    ).hint("shuffle_hash")
    gb = g.select(
        F.col("doc_id").alias("doc_b"),
        F.col("grams").alias("grams_b"),
        F.col("n_grams").alias("nb"),
    ).hint("shuffle_hash")
    inter = F.size(F.array_intersect(F.col("grams_a"), F.col("grams_b")))
    union = F.col("na") + F.col("nb") - inter
    jac = F.floor(1000000.0 * inter / union).cast("long")
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            "n_sig_agree",
            jac.alias("jaccard_ppm"),
            F.when(jac >= 200000, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("is_dup"),
        )
    )


@_q("minhash_precision_eval", _MINHASH_EVAL_ORACLE)
def minhash_precision_eval(spark, sf_dir):
    """Precision audit of the MinHash-LSH tier: every LSH candidate pair
    annotated with its TRUE word-2-gram Jaccard (exact integer ppm) and
    a duplicate verdict at the ngram_jaccard operator's 0.2 threshold —
    the dedup analogue of ann_ivf_recall_eval, and the measurement a
    pipeline owner reads before trusting banded LSH at a new corpus
    (16 perms / 4 bands ⇒ the S-curve admits many sub-threshold
    candidates by design; this query quantifies how many).  The
    candidate side IS the shipped dedup_minhash_pairs query and the
    oracle composes its oracle text verbatim, so a drift in either the
    sketch or the shingle definition surfaces as a driver hash mismatch.

    Scale: true-Jaccard verification touches ONLY candidate pairs —
    never corpus² — and the gram table is cut to candidate docs
    (2·|pairs| ids) BEFORE any join, so the exact check costs
    O(candidates × doc length).  This mirrors production near-dup
    pipelines (MinHash prefilter, exact verify on survivors)."""
    return _minhash_eval_frame(spark, sf_dir, num_perm=16, bands=4)


@_q("minhash_precision_tuned", _minhash_eval_sql(_minhash_pairs_sql(32, 4)))
def minhash_precision_tuned(spark, sf_dir):
    """The knob the minhash_precision_eval finding points at, measured:
    the same true-Jaccard-annotated candidate audit with 32 perms / 4
    bands (8 signature rows per band instead of 4).  Doubling rows-per-
    band moves the LSH S-curve threshold from (1/4)^(1/4)=0.71 to
    (1/4)^(1/8)=0.84 estimated signature similarity, so band buckets
    stop admitting the sub-threshold collisions that dropped precision
    92.6% -> 60.4% as the corpus grew — the nprobe-style
    parameter-sweep pattern (ann_ivf_nprobe4_topk) applied to the dedup
    tier.  Comparing this query's rows with minhash_precision_eval's
    gives BOTH sides of the trade on real data: precision recovered,
    and which true-dup candidates (is_dup=1) the sharper curve loses.

    Oracle: the parameterized signature/band SQL generator instantiated
    at (32, 4) — built from the SAME perm_params() sequence the Spark
    operator hashes with, so a drift in either engine's sketch
    arithmetic surfaces as a driver hash mismatch.

    Scale: identical shape to minhash_precision_eval — band-key
    self-join (16-byte keys, never text), exact verify restricted to
    candidates; 32 perms double the per-doc min-aggregate count (still
    one codegen'd hash-agg pass) and halve nothing else."""
    return _minhash_eval_frame(spark, sf_dir, num_perm=32, bands=4)


@_q(
    "bpe_pair_counts",
    """
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    p AS (
      SELECT unnest(list_transform(range(len(w) - 1),
                                   i -> w[i+1:i+2])) AS pair
      FROM w WHERE len(w) >= 2),
    c AS (SELECT pair, cast(count(*) AS bigint) AS cnt FROM p GROUP BY pair)
    SELECT pair, cnt,
           cast(row_number() OVER (ORDER BY cnt DESC, pair) AS bigint) AS rank
    FROM c ORDER BY cnt DESC, pair LIMIT 20
    """,
)
def bpe_pair_counts(spark, sf_dir):
    """The first iteration of BPE tokenizer training: corpus-wide counts
    of adjacent character pairs inside words, top-20 by frequency with a
    full (count desc, pair asc) tiebreak — the merge-candidate table a
    byte-pair-encoding trainer materializes each round.  Shipping it as
    an engine query is what makes distributed tokenizer training on the
    pretraining corpus itself feasible (the merge loop re-runs this with
    the previous merges applied).

    Scale: ONE explode pass — words explode to rows, the in-word pair
    list is a codegen `transform` over `sequence` (never a second
    explode per character), and the pair rows partial-aggregate map-side
    before the single shuffle on the pair key (≤ ~26² distinct keys for
    ASCII text: a broadcast-sized agg at any corpus size).  The global
    top-20 lowers to TakeOrderedAndProject (per-partition top-20, driver
    merge of K×20 rows) — no single-partition window.  The descending
    `sequence(1, len-1)` trap for 1-char words is guarded on both
    engines (DuckDB's `range(0)` is empty; Spark's `sequence(1, 0)`
    DESCENDS, so the guard is explicit).

    The explode+pair+partial-agg map stage inherits the scan's 1-2
    row-group parallelism at small SFs (r12 sf1 profile: one 2-task
    3.8s stage was 93% of the wall) — fan the scan out behind the PQ
    fits' size gate; the pair counts are key-based, order-free."""
    from ..operators.ann import fan_out_narrow

    d = fan_out_narrow(_t(spark, sf_dir, "documents"), min_bytes=2_000_000)
    pairs = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1),"
                    " i -> substring(w, i, 2))"
                )
            ).alias("pair")
        )
    )
    c = pairs.groupBy("pair").agg(F.count("*").cast("long").alias("cnt"))
    top = c.orderBy(F.col("cnt").desc(), F.col("pair")).limit(20)
    w_rank = Window.orderBy(F.col("cnt").desc(), F.col("pair"))
    return top.withColumn("rank", F.row_number().over(w_rank).cast("long"))


def _pca_power_oracle(squarings: int) -> str:
    """Unrolled integer matrix-squaring power method over the
    covariance oracle.

    Every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and with each
    squaring referencing the previous matrix TWICE (self-join) plus its
    own max, an inlined chain re-evaluates the covariance subtree
    O(2^squarings) times — the un-annotated version of this oracle ran
    >7 min at sf0.01 where the materialized one takes seconds.
    """
    ctes = [
        f"covt AS MATERIALIZED ({ORACLES['embedding_covariance']})",
        # quantize to 2^20 units and mirror the upper triangle to full
        """g0 AS MATERIALIZED (
          SELECT i, j, CAST(floor(cov / 1048576.0) AS BIGINT) AS m FROM covt
          UNION ALL
          SELECT j, i, CAST(floor(cov / 1048576.0) AS BIGINT) AS m
          FROM covt WHERE i < j)""",
    ]
    for t in range(1, squarings + 1):
        ctes.append(
            f"""s{t} AS MATERIALIZED (
              SELECT a.i, b.j, CAST(sum(a.m * b.m) AS BIGINT) AS s
              FROM g{t - 1} a JOIN g{t - 1} b ON a.j = b.i
              GROUP BY a.i, b.j)"""
        )
        ctes.append(f"mx{t} AS MATERIALIZED (SELECT max(abs(s)) AS mx FROM s{t})")
        ctes.append(
            f"""g{t} AS MATERIALIZED (
              SELECT i, j, CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)
                   * floor(abs(s) * 1048576.0 / mx) AS BIGINT) AS m
              FROM s{t}, mx{t})"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
        y AS MATERIALIZED (
          SELECT i, CAST(sum(m) AS BIGINT) AS y FROM g{squarings} GROUP BY i),
        my AS MATERIALIZED (SELECT max(abs(y)) AS my FROM y)
        SELECT i, CAST((CASE WHEN y < 0 THEN -1 ELSE 1 END)
             * floor(abs(y) * 1048576.0 / my) AS BIGINT) AS v_q
        FROM y, my"""
    )


_PCA_SQUARINGS = 8


def _pca_epilogue(it):
    """Single-task integer matrix-squaring chain over the quantized
    covariance triangle (constant 64 x 64 by contract — see
    embedding_pca_power).  int64 numpy matmuls are exact; the
    renormalization sign * floor(|s| * 2^20 / max|s|) is elementwise
    IEEE-double multiply/divide/floor — the identical op sequence the
    DuckDB oracle evaluates, so results are bit-equal cross-engine."""
    import numpy as np
    import pyarrow as pa

    cells = [b for b in it if b.num_rows]
    if not cells:
        return
    tbl = pa.Table.from_batches(cells)
    i = tbl.column("i").to_numpy(zero_copy_only=False).astype(np.int64)
    j = tbl.column("j").to_numpy(zero_copy_only=False).astype(np.int64)
    m = tbl.column("m").to_numpy(zero_copy_only=False).astype(np.int64)
    d = int(max(i.max(), j.max())) + 1
    g = np.zeros((d, d), dtype=np.int64)
    g[i, j] = m
    g[j, i] = m  # mirror the upper triangle

    def renorm(x):
        mx = np.abs(x).max()
        return (
            np.sign(x) * np.floor(np.abs(x).astype(np.float64) * 1048576.0 / mx)
        ).astype(np.int64)

    for _ in range(_PCA_SQUARINGS):
        g = renorm(g @ g)
    v = renorm(g.sum(axis=1))
    yield pa.RecordBatch.from_arrays(
        [pa.array(np.arange(d, dtype=np.int32)), pa.array(v)],
        names=["i", "v_q"],
    )


@_q("embedding_pca_power", _pca_power_oracle(_PCA_SQUARINGS))
def embedding_pca_power(spark, sf_dir):
    """Dominant principal component of the embedding covariance via
    deterministic integer MATRIX SQUARING — the whitening/drift
    direction a pipeline extracts from the second-moment fold.  Plain
    power iteration is useless on near-isotropic embedding spectra
    (lambda2/lambda1 = 0.93 on the fixtures -> ~100 iterations for 1e-3
    alignment); squaring the matrix k times yields C^(2^k), so 8
    squarings = 256 effective iterations for 8 tiny self-joins
    (measured |cos| vs numpy's eigh: 0.9999999999).  The data-scaled
    work is EXACTLY the shipped embedding_covariance fold (one corpus
    scan, d(d+1)/2 exact cells); everything after operates on the d x d
    matrix: quantize cells to 2^20 units (int64), mirror the triangle,
    then 8 rounds of (M <- M @ M, renormalize to max |entry| = 2^20)
    where the matmul is an order-independent integer SUM and the
    renormalize is sign * floor(|s| * 2^20 / max|s|) on IEEE doubles
    derived from exact ints — both engines agree bit-for-bit.  The
    final vector is renorm(M @ ones).  The oracle composes the
    embedding_covariance oracle text verbatim and unrolls the same 8
    squarings (MATERIALIZED, or DuckDB re-inlines the chain
    exponentially).

    Overflow contract: post-renorm |m| <= 2^20, so a squaring term is
    <= 2^40 and the 64-term cell sum <= 2^46 — int64-safe with 2^17
    headroom; |s| * 2^20 <= 2^66 rounds identically in IEEE double on
    both engines before the floor.

    Scale: the data-scaled work ends at the covariance fold (audited
    separately); the squaring chain operates on a FIXED d x d = 64 x 64
    matrix, so it runs as ONE vectorized Arrow task over the coalesced
    2,080-cell triangle (no driver collect, no per-round scheduling).
    An earlier draft ran the 8 squarings as 8 localCheckpointed
    self-join rounds — in-plan, but 8 scheduled rounds of a 4,096-row
    frame cost 4.4s of pure stage latency at sf0.01 vs ~1s for the
    single-task epilogue; distributing a constant-size matrix is
    overhead, not scale."""
    from ..operators.moments import covariance

    cov = covariance(_t(spark, sf_dir, "embeddings"), "embedding")
    tri = cov.select(
        "i", "j", F.floor(F.col("cov") / 1048576.0).cast("long").alias("m")
    )
    out = tri.coalesce(1).mapInArrow(
        _pca_epilogue, schema="i int, v_q bigint"
    )
    return out


@_q(
    "embedding_pc1_outliers",
    f"""
    WITH pc AS MATERIALIZED ({_pca_power_oracle(_PCA_SQUARINGS)}),
    qv AS (
      SELECT vec_id, i - 1 AS i,
             CAST(floor(CAST(e AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS q
      FROM (SELECT vec_id, unnest(embedding) AS e,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)),
    proj AS (
      SELECT qv.vec_id, CAST(sum(qv.q * pc.v_q) AS BIGINT) AS proj_q
      FROM qv JOIN pc ON pc.i = qv.i
      GROUP BY qv.vec_id)
    SELECT vec_id, proj_q FROM proj
    ORDER BY abs(proj_q) DESC, vec_id LIMIT 50
    """,
)
def embedding_pc1_outliers(spark, sf_dir):
    """Top-50 embeddings by |projection onto the dominant principal
    component| — the outlier screen that puts embedding_pca_power's
    direction to work (vectors far out along the top variance axis are
    the classic candidates for encoder glitches and domain outliers).

    The PC vector is the shipped embedding_pca_power result (64 int64
    entries, |v| <= 2^20 by its renormalization contract) — collected
    driver-side as a BOUNDED d-row read (the centroid/codebook idiom)
    and closed over a mapInArrow projection: one exact int64 numpy
    matvec per Arrow batch (|q·v| <= 2^40, 64-term sum <= 2^46 —
    int64-safe), so the corpus streams once with no shuffle and the
    global top-50 lowers to TakeOrderedAndProject (partition-local
    top-k + driver merge, never a single-partition sort).  The oracle
    composes the embedding_pca_power oracle verbatim as a MATERIALIZED
    CTE and reduces with an integer SUM — both engines agree
    bit-for-bit, ties broken by vec_id."""
    import numpy as np
    import pyarrow as pa

    pc_rows = embedding_pca_power(spark, sf_dir).collect()  # d rows, bounded
    v = np.zeros(len(pc_rows), dtype=np.int64)
    for r in pc_rows:
        v[r["i"]] = r["v_q"]

    def _proj(it):
        for batch in it:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            col = batch.column(1)
            if isinstance(col, pa.ChunkedArray):  # pragma: no cover
                col = col.combine_chunks()
            flat = col.flatten().to_numpy(zero_copy_only=False)
            x = np.floor(flat.astype(np.float64) * 1048576.0 + 0.5).astype(
                np.int64
            ).reshape(batch.num_rows, v.size)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids.astype(np.int64)), pa.array(x @ v)],
                names=["vec_id", "proj_q"],
            )

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    proj = e.mapInArrow(_proj, schema="vec_id bigint, proj_q bigint")
    return proj.orderBy(F.abs(F.col("proj_q")).desc(), "vec_id").limit(50)


@_q(
    "embedding_drift_by_source",
    """
    WITH qv AS (
      SELECT vec_id, i - 1 AS i,
             CAST(floor(CAST(e AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS q
      FROM (SELECT vec_id, unnest(embedding) AS e,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)),
    j AS (SELECT d.source, qv.i, qv.q
          FROM qv JOIN documents d ON d.doc_id = qv.vec_id),
    per AS (SELECT source, i, CAST(sum(q) AS BIGINT) AS s_q,
                   CAST(count(*) AS BIGINT) AS n_vecs
            FROM j GROUP BY source, i),
    g AS (SELECT i, CAST(sum(s_q) AS BIGINT) AS g_q,
                 CAST(sum(n_vecs) AS BIGINT) AS n_tot
          FROM per GROUP BY i)
    SELECT per.source, CAST(per.i AS INTEGER) AS i, per.n_vecs, per.s_q,
           CAST(per.s_q AS DOUBLE) / CAST(per.n_vecs AS DOUBLE)
             - CAST(g.g_q AS DOUBLE) / CAST(g.n_tot AS DOUBLE) AS delta
    FROM per JOIN g ON g.i = per.i
    """,
)
def embedding_drift_by_source(spark, sf_dir):
    """Per-source embedding-centroid drift from the corpus centroid —
    the monitoring statistic a pipeline owner watches to catch a source
    whose embedding distribution shifted (encoder change, scraper
    regression, domain drift) before it contaminates training.  Joins
    embeddings to documents on id, then per (source, dim): the exact
    int64 fixed-point coordinate sum (floor(x*2^20+0.5), exact for
    float32 — the moments.py contract) and the count.  The drift column
    ``delta`` = per-source mean minus global mean, computed PER-DIM as
    doubles derived from exact integers by one fixed div/div/subtract —
    never a cross-engine double summation, so both engines agree
    bit-for-bit (summing 64 doubles would be order-sensitive; emitting
    the 64 per-dim rows is what keeps the hash oracle exact).

    Scale: the id join co-partitions two data-scaled tables (sort-merge
    on the integer id); the dim explode is
    scan-stage and collapses map-side into |sources| x d partial rows
    per task, so the shuffle carries partials, never vectors.  The
    global centroid re-aggregates the persisted per-source partials
    (|sources| x d rows), then broadcasts d rows back onto them."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    ex = (
        e.join(d, "doc_id")
        .select(
            "source",
            F.posexplode(
                F.transform(
                    F.col("embedding"),
                    lambda x: F.floor(
                        x.cast("double") * 1048576.0 + 0.5
                    ).cast("long"),
                )
            ).alias("i", "q"),
        )
    )
    per = (
        ex.groupBy("source", "i")
        .agg(
            F.sum("q").cast("long").alias("s_q"),
            F.count("*").cast("long").alias("n_vecs"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    glob = per.groupBy("i").agg(
        F.sum("s_q").cast("long").alias("g_q"),
        F.sum("n_vecs").cast("long").alias("n_tot"),
    )
    return per.join(F.broadcast(glob), "i").select(
        "source",
        F.col("i").cast("int").alias("i"),
        "n_vecs",
        "s_q",
        (
            F.col("s_q").cast("double") / F.col("n_vecs").cast("double")
            - F.col("g_q").cast("double") / F.col("n_tot").cast("double")
        ).alias("delta"),
    )


# The 60-bit SimHash signature CTE (identical to the dedup_simhash oracle
# body) — shared by the Hamming-pairs cross-algorithm differential below.
_SIMHASH_CTE_SQL = f"""sim AS (
      SELECT doc_id,
             cast(list_sum(list_transform(range(60),
                  j -> CASE WHEN 2 * len(list_filter(hs, h -> (h >> j) & 1 = 1))
                            >= len(hs)
                       THEN (cast(1 AS bigint) << j) ELSE 0 END)) AS bigint) AS simhash
      FROM (SELECT doc_id,
                   list_transform(string_split(text, ' '), w -> {_h60_sql('w')}) AS hs
            FROM documents)
    )"""


@_q(
    "simhash_hamming_pairs",
    f"""
    WITH {_SIMHASH_CTE_SQL}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           cast(bit_count(xor(a.simhash, b.simhash)) AS bigint) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_hamming_pairs(spark, sf_dir):
    """SimHash near-duplicate PAIRS: all (doc_a, doc_b) whose 60-bit
    SimHash signatures differ in at most 3 bits, with the exact Hamming
    distance — the operator that completes the SimHash tier
    (dedup_simhash ships signatures + a blocking band; this materializes
    the duplicate pairs those signatures exist for).

    Algorithm: pigeonhole banding.  The 60-bit signature splits into 4
    disjoint 15-bit bands; 3 differing bits can touch at most 3 bands,
    so any pair within Hamming distance 3 agrees EXACTLY on at least one
    band — the banded self-join on (band_idx, band_value) is a LOSSLESS
    candidate generator (recall 1.0 by construction, not probabilistic
    like MinHash banding), and the in-candidate exact
    ``bit_count(a XOR b) <= 3`` filter trims false positives, so the
    output equals the true Hamming-ball pair set.  The oracle is the
    TRUE all-pairs Hamming filter — a cross-algorithm differential
    (the join_interval_bins pattern): the banded plan and the quadratic
    scan must produce identical sets.

    Scale: the signature subtree (the zero-shuffle mapInArrow fold, the
    dedup_simhash shape) is persisted and feeds both join sides; the
    self-join shuffles 4 rows of (int, long) per doc — never text — the
    Hamming trim runs inside the join residual so only true pairs reach
    the dedup exchange, and in-bucket candidate volume is bounded by
    15-bit-band collision counts, not corpus².  At 100 TB the 2^15 band values hash-partition evenly;
    a skewed band value (mass-duplicated boilerplate) is the same hot
    bucket every LSH dedup has and routes through the same cap
    machinery (minhash_candidate_pairs.max_bucket) if it appears.
    20 true pairs at sf0.01, 496 at sf0.1: the sweep verifies the
    recall-1.0 claim against the quadratic oracle at every SF where the
    oracle is tractable (the oracle, not the plan, is the scale bound —
    sf1 joins the HEAVY set)."""
    from ..operators.dedup import simhash_sketch

    d = _t(spark, sf_dir, "documents")
    sim = simhash_sketch(d, "doc_id", "text").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bands = sim.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", 15 * i)
                    .bitwiseAND(F.lit(32767))
                    .cast("int")
                    for i in range(4)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")
    return (
        # Two deliberate physical choices, both r8 re-measurements:
        #
        # SHUFFLE_HASH pinned — the sketch is a cached mapInArrow
        # relation whose planner size estimate is far below reality,
        # which flips this self-join to a BroadcastHashJoin: the whole
        # banded corpus built driver-side and probed at scan parallelism
        # (14 tasks at sf10) with no shuffle fan-out.  Hash-partitioning
        # both sides on the band key spreads candidate enumeration over
        # all shuffle partitions (13.1M sf1 candidates enumerate in
        # 2.0s) and is the plan the 100 TB claim describes: 2^15 band
        # values partition evenly.
        #
        # Hamming filter INSIDE the join residual — the filter-after-
        # groupBy formulation shipped every band-collision candidate
        # (~1.3e9 rows at sf10, tens of GB) through the dedup exchange;
        # evaluating bit_count(xor) during the probe means only TRUE
        # near-dup pairs (313,644 at sf10) ever leave the join, and the
        # share-several-bands dedup groupBy runs on that tiny survivor
        # set instead.  Same output by construction: the collapse only
        # merged rows whose (doc_a, doc_b) — hence whose hamming — were
        # equal.
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (hamming <= 3),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.first("hamming").alias("hamming"))
    )


# Planted-boilerplate fixture for the heavy-hitter detector: the shipped
# corpus is deliberately near-uniform (931 word-bigram vocabulary, top
# share ~n/744; no natural 3-gram exceeds n/2000 at any SF — measured
# sf0.01-sf10), so the query plants a 9-word boilerplate sentence on every
# 20th document, the dedup_embedding planted-fixture pattern.  The 7
# interior 3-grams of the sentence then carry frequency n_docs/20 —
# comfortably above the n/2000 threshold (~n_docs/38) — while the 2×25
# junction grams (doc tail × boilerplate head) spread across distinct doc
# endings and stay at count ~1.
_BOILER_SQL = "lorem ipsum dolor boilerplate footer all rights reserved worldwide"


@_q(
    "heavy_hitters_phrases",
    f"""
    WITH d AS (SELECT CASE WHEN doc_id % 20 = 0
                           THEN text || ' {_BOILER_SQL}' ELSE text END AS text
               FROM documents),
    t AS (SELECT string_split(text, ' ') AS ws FROM d),
    g AS (SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
          FROM t, unnest(range(1, len(ws) - 1)) AS u(i)),
    tot AS (SELECT count(*) AS n FROM g)
    SELECT gram, cast(count(*) AS bigint) AS freq
    FROM g, tot GROUP BY gram, tot.n
    HAVING count(*) * 2000 > tot.n
    """,
)
def heavy_hitters_phrases(spark, sf_dir):
    """Exact heavy-hitter word-3-grams (freq > n/2000) over the corpus —
    boilerplate-phrase detection, the screen a training-data pipeline
    runs before dedup/mixing to find mass-repeated headers, footers and
    license blurbs.  A boilerplate sentence is planted on every 20th
    document (fixture comment above); the output is exactly its 7
    interior 3-grams at every SF.

    Algorithm (operators/sketch.py): two-pass EXACT heavy hitters.
    Pass 1 — per-partition Misra-Gries summaries (capacity 2000) emit a
    candidate superset of at most 2000×partitions terms, independent of
    vocabulary size; pass 2 — the occurrence stream is semi-joined
    against the broadcast candidates BEFORE the count aggregation and
    the strict integer filter ``freq * 2000 > n`` trims to the exact
    answer.  The oracle is the straight one-pass SQL — a
    cross-algorithm differential proving the sketch path loses nothing.

    Scale: this is the 100 TB shape the naive plan lacks — a plain
    groupBy(gram) shuffles a partial-count row per distinct gram per
    map task (billions of n-grams, dominated by the unqualifiable
    tail), while the MG pass bounds the shuffle to candidates (already
    at this fixture: 16k-27k gram vocabulary vs 2000-counter
    summaries).  Since r9 the gram generation folds INTO the two passes
    (operators/sketch.py heavy_hitters_text_grams): the exploded
    occurrence stream never exists as a relation — no lead-window
    exchange over every word, no persisted occurrence table traversed
    three times; the only data-scaled work is two streaming reads of
    the text column, and the only shuffle is candidate partials.  The
    result is partitioning-invariant (mergeable-summaries superset
    guarantee — property-tested in test_sketch.py)."""
    from ..operators.sketch import heavy_hitters_text_grams

    d = _t(spark, sf_dir, "documents").select(
        F.when(
            F.col("doc_id") % 20 == 0,
            F.concat(F.col("text"), F.lit(" " + _BOILER_SQL)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "doc_id",
    )
    return heavy_hitters_text_grams(d, "text", k_gram=3, k=2000).select(
        "gram", F.col("freq").cast("long").alias("freq")
    )


_MINHASH_RECALL_ORACLE = f"""
    WITH cand AS ({{cand}}),
    {_SIMHASH_CTE_SQL},
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             cast(bit_count(xor(a.simhash, b.simhash)) AS bigint) AS hamming
      FROM sim a JOIN sim b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
    g AS (SELECT doc_id, grams, len(grams) AS n_grams FROM {_GRAMS2_SQL}),
    tj AS (
      SELECT t.doc_a, t.doc_b, t.hamming,
             cast(floor(1000000.0 * len(list_intersect(ga.grams, gb.grams))
                  / (ga.n_grams + gb.n_grams
                     - len(list_intersect(ga.grams, gb.grams)))) AS bigint)
               AS jaccard_ppm
      FROM truth t
      JOIN g ga ON ga.doc_id = t.doc_a
      JOIN g gb ON gb.doc_id = t.doc_b)
    SELECT tj.doc_a, tj.doc_b, tj.hamming, tj.jaccard_ppm,
           cast(coalesce(c.n_shared_bands, 0) AS bigint) AS n_shared_bands,
           cast(CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS bigint) AS found
    FROM tj LEFT JOIN cand c
      ON c.doc_a = tj.doc_a AND c.doc_b = tj.doc_b
"""


@_q(
    "minhash_recall_eval",
    _MINHASH_RECALL_ORACLE.format(cand=_minhash_pairs_sql(32, 4)),
)
def minhash_recall_eval(spark, sf_dir):
    """Recall audit of the MinHash-LSH tier — the other half of the
    minhash_precision_eval trade study, measured CROSS-TIER: every
    near-duplicate pair the SimHash tier verifies exactly (Hamming <= 3
    on the 60-bit signature — simhash_hamming_pairs' lossless pigeonhole
    set, an INDEPENDENT near-dup definition, so the eval is not
    circular), annotated with its exact word-2-gram Jaccard, whether the
    SHIPPED MinHash LSH tier (32 perms / 4 bands since r9) surfaced it
    as a candidate, and on how many shared bands.  Precision measured
    how much sub-threshold junk the loose 16/4 S-curve admits (60.4% at
    sf0.1); this measures what the production banding MISSES of the
    other tier's high-confidence near-dups — the two-sided evidence a
    deployment needs before standardizing on one tier.

    All three relations ARE shipped queries (truth = the SimHash
    Hamming ball; annotation = the ngram-Jaccard gram table; candidates
    = dedup_minhash_pairs) and the oracle composes their oracle texts
    verbatim, so drift in any of the three operators surfaces as a
    driver hash mismatch — the ann_ivf_recall_eval composition pattern
    applied to the dedup family.

    Scale: the truth side is the banded SimHash self-join (4 (int,long)
    rows per doc); the Jaccard annotation joins gram arrays onto the
    BOUNDED truth pair set only (the precision-eval idiom — O(pairs x
    doc length), never corpus²); the LSH side shuffles band keys; the
    final LEFT join keys on (doc_a, doc_b) over two candidate-bounded
    relations."""
    from ..operators.dedup import gram_sets, minhash_candidate_pairs

    d = _t(spark, sf_dir, "documents")
    truth = simhash_hamming_pairs(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    ids = (
        truth.select(F.col("doc_a").alias("doc_id"))
        .union(truth.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # candidate cut first, then Arrow-batched shingling — the same
    # word_shingles -> gram_sets rewrite as _minhash_eval_frame (r12):
    # the interpreted JVM transform chain was the single largest CPU
    # block of the eval family's wall, and it ran on the scan's one task.
    g = gram_sets(d.join(ids, "doc_id"), "doc_id", "text", 2)
    # SHUFFLE_HASH pinned — same broadcast-OOM cause as _minhash_eval_frame
    # (found by the r9 sf10 run): the gram relations are candidate-bounded
    # in ROWS but carry shingle arrays, so a planner-estimated broadcast
    # builds GBs on the driver at sf10.
    ga = g.select(
        F.col("doc_id").alias("doc_a"),
        F.col("grams").alias("grams_a"),
        F.col("n_grams").alias("na"),
    ).hint("shuffle_hash")
    gb = g.select(
        F.col("doc_id").alias("doc_b"),
        F.col("grams").alias("grams_b"),
        F.col("n_grams").alias("nb"),
    ).hint("shuffle_hash")
    inter = F.size(F.array_intersect(F.col("grams_a"), F.col("grams_b")))
    jac = (
        F.floor(1000000.0 * inter / (F.col("na") + F.col("nb") - inter))
        .cast("long")
        .alias("jaccard_ppm")
    )
    cand = minhash_candidate_pairs(
        d, "doc_id", "text", num_perm=32, bands=4, k=2
    ).select("doc_a", "doc_b", "n_shared_bands")
    return (
        truth.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select("doc_a", "doc_b", "hamming", jac)
        .join(cand, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "hamming",
            "jaccard_ppm",
            F.coalesce(F.col("n_shared_bands"), F.lit(0))
            .cast("long")
            .alias("n_shared_bands"),
            F.when(F.col("n_shared_bands").isNull(), F.lit(0))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("found"),
        )
    )


# Winnowed-fingerprint selection (Schleimer/Wilkerson/Aiken 2003), shared
# by the per-doc relation and the shared-passage pair query.  The
# rightmost-min tie-break rides inside ONE window min via the integer key
# h*4 - pos (see operators/dedup.py:winnow_fingerprints); both the window
# start's selected position and its hash decode back arithmetically, so
# the SQL replay is bit-exact.
_WINNOW_SEL_SQL = f"""
    ex AS (
      SELECT doc_id, i - 1 AS pos,
             {_h60_sql("ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]")} AS h,
             len(ws) - 2 AS m
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           unnest(range(1, len(ws) - 1)) AS u(i)),
    kk AS (SELECT doc_id, pos, m, h * 4 - pos AS key FROM ex),
    wmin AS (
      SELECT doc_id, pos, m,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk
      FROM kk),
    sel AS (
      SELECT DISTINCT doc_id,
             pos + ((((-mk) % 4 + 4) % 4 - pos % 4) % 4 + 4) % 4 AS fp_pos,
             (mk + pos + ((((-mk) % 4 + 4) % 4 - pos % 4) % 4 + 4) % 4) // 4
               AS fp_hash
      FROM wmin WHERE pos <= greatest(m - 4, 0))
"""


@_q(
    "winnow_fingerprints",
    f"""
    WITH {_WINNOW_SEL_SQL}
    SELECT doc_id, cast(fp_pos AS bigint) AS fp_pos,
           cast(fp_hash AS bigint) AS fp_hash
    FROM sel
    """,
)
def winnow_fingerprints_q(spark, sf_dir):
    """Winnowed document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    2003) — the LOCAL similarity tier: hash every word 3-gram, slide a
    4-hash window, keep each window's minimum (rightmost on ties).  Any
    shared run of >= w+k-1 = 6 words between two documents yields a
    shared fingerprint (the paper's local guarantee) at an expected
    density of only 2/(w+1) = 40% of grams — what MOSS runs under.

    Physical shape: posexplode + lead gram build, ONE window-min pass
    reusing the same doc_id exchange, then pure integer arithmetic and a
    distinct — the rightmost-min tie-break is encoded in the key
    h*4 - pos, so no second pass and no struct comparison, and the
    oracle replays the selection bit-for-bit.  Differential-tested
    against an independent pure-Python winnower on every doc
    (test_sketch.py)."""
    from ..operators.dedup import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(d, "doc_id", "text", k=3, w=4).select(
        "doc_id",
        F.col("fp_pos").cast("long").alias("fp_pos"),
        F.col("fp_hash").cast("long").alias("fp_hash"),
    )


@_q(
    "winnow_plagiarism_pairs",
    f"""
    WITH {_WINNOW_SEL_SQL},
    v AS (SELECT DISTINCT doc_id, fp_hash FROM sel),
    vc AS (SELECT * FROM (
             SELECT doc_id, fp_hash,
                    count(*) OVER (PARTITION BY fp_hash) AS _nd
             FROM v) WHERE _nd <= 1000)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           cast(count(*) AS bigint) AS n_shared
    FROM vc a JOIN vc b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 2
    """,
)
def winnow_plagiarism_pairs(spark, sf_dir):
    """Shared-passage pairs from winnowed fingerprints: documents
    selecting >= 2 common fingerprint VALUES — passage-level
    near-dup/plagiarism candidates that the global tiers cannot see
    (MinHash thresholds whole-doc Jaccard, SimHash whole-doc profiles;
    a lifted paragraph moves neither).

    Scale: the self-join shuffles (value, doc) rows at ~40% of gram
    density; in-bucket volume is bounded per fingerprint value, and a
    value selected by > 1000 documents is dropped BEFORE the join
    (mirrored in the oracle) — mass-boilerplate is the heavy-hitters
    operator's territory, and the cap turns the worst case from docs²
    into docs x cap."""
    from ..operators.dedup import winnow_shared_pairs

    d = _t(spark, sf_dir, "documents")
    return winnow_shared_pairs(
        d, "doc_id", "text", k=3, w=4, min_shared=2, max_value_docs=1000
    )


@_q(
    "winnow_remove",
    f"""
    WITH {_WINNOW_SEL_SQL},
    v AS (SELECT DISTINCT doc_id, fp_hash FROM sel),
    dup AS (SELECT fp_hash FROM v GROUP BY fp_hash HAVING count(*) >= 2),
    mk AS (SELECT s.doc_id, s.fp_pos FROM sel s JOIN dup USING (fp_hash)),
    w AS (SELECT doc_id, unnest(ws) AS wd,
                 unnest(range(0, len(ws))) AS pos
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
    m AS (SELECT w.doc_id, w.pos, w.wd,
                 CASE WHEN mk.fp_pos IS NULL THEN 0 ELSE 1 END AS isd
          FROM w LEFT JOIN mk
            ON w.doc_id = mk.doc_id AND w.pos = mk.fp_pos),
    c AS (SELECT doc_id, pos, wd,
                 max(isd) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                   AS cov
          FROM m)
    SELECT doc_id,
           cast(count(*) AS bigint) AS n_words,
           cast(sum(cov) AS bigint) AS n_removed,
           md5(coalesce(string_agg(wd, ' ' ORDER BY pos)
                          FILTER (WHERE cov = 0), '')) AS kept_md5
    FROM c GROUP BY doc_id
    """,
)
def winnow_remove_q(spark, sf_dir):
    """Shared-passage removal over winnowed fingerprints — the
    transformation that completes the winnowing tier (r7 shipped the
    audit: fingerprints + plagiarism pairs; this is the rewrite), the
    way dedup_substring_remove completed dedup_substring_stats.  Every
    fingerprint value selected by >= 2 distinct documents cuts its
    3-word gram span from each selecting doc; survivors re-join in
    order and the kept-text md5 pins the reconstruction byte-for-byte.
    Winnowing's local guarantee makes the pass principled: any shared
    run >= 6 words loses at least one gram from EVERY copy.

    Scale (r10): no self-join and therefore no value cap — a
    mass-boilerplate fingerprint costs one group row here, not bucket²
    pairs; the duplicated-value set is a partial-agg groupBy(fp_hash),
    the marks fold to ONE doc-keyed row, and the removal itself is a
    doc-local diff-array sweep in a single mapInArrow pass (the
    word-level relation never exists — see operators/dedup.winnow_remove
    and PLANS.md r10: sf10 30.1 -> 9.7s, identical output hash).  The
    oracle keeps the word-window SQL spelling, which the sweep
    reproduces bit-for-bit."""
    from ..operators.dedup import winnow_remove

    d = _t(spark, sf_dir, "documents")
    return winnow_remove(d, "doc_id", "text", k=3, w=4)


@_q(
    "join_salted_skew",
    """
    SELECT p_brand,
           cast(sum(cast(round(l_extendedprice*100) AS bigint)
                    * (100 - cast(round(l_discount*100) AS bigint))) AS bigint)
             AS revenue_cents,
           cast(count(*) AS bigint) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY p_brand
    """,
)
def join_salted_skew(spark, sf_dir):
    """Revenue by part brand through an EXPLICITLY SALTED fact<->dim join
    (operators/skew.py:salted_join) — the driver-verified twin of
    test_skew's parity tests, proving the salting transform is
    result-invariant on real tables: fact rows scatter over 8 salt
    sub-keys, the dim replicates 8-fold, the join key becomes
    (p_partkey, _salt), and the post-join brand aggregation is exact
    integer cents, so the output hash-matches the plain-join oracle
    bit-for-bit.

    Scale: this is the manual fallback for the skew regime AQE's
    skew-join split doesn't cover (one dominant fact key in a
    shuffled-hash/sort-merge join against a dim too big to broadcast but
    cheap to replicate 8x).  Salting bounds any single reducer's share of
    a hot partkey to ~1/8 at the cost of a bounded dim blow-up — the
    documented trade; the oracle being the UNSALTED plain join is the
    point (cross-plan differential, same answer)."""
    from ..operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        (_cents(F.col("l_extendedprice"))
         * (100 - _cents(F.col("l_discount")))).alias("vol"),
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        salted_join(li, p, ["p_partkey"], salts=8)
        .groupBy("p_brand")
        .agg(
            F.sum("vol").cast("long").alias("revenue_cents"),
            F.count("*").cast("long").alias("n_items"),
        )
    )


@_q(
    "sequence_pack_chunks",
    """
    WITH t AS (
      SELECT doc_id,
             cast(len(string_split(text, ' ')) + 1 AS bigint) AS n
      FROM documents),
    s AS (
      SELECT doc_id, n,
             cast(sum(n) OVER (ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - n AS bigint) AS start
      FROM t),
    x AS (
      SELECT doc_id, n, start,
             unnest(range(start // 512, (start + n - 1) // 512 + 1))
               AS chunk_id
      FROM s)
    SELECT cast(chunk_id AS bigint) AS chunk_id,
           cast(count(*) AS bigint) AS n_docs,
           cast(sum(CASE WHEN start // 512 = chunk_id THEN 1 ELSE 0 END)
                AS bigint) AS n_starts,
           cast(min(doc_id) AS bigint) AS head_doc_id,
           cast(sum(least((chunk_id + 1) * 512, start + n)
                    - greatest(chunk_id * 512, start)) AS bigint) AS n_tokens
    FROM x
    GROUP BY chunk_id
    """,
)
def sequence_pack_chunks(spark, sf_dir):
    """Concat-and-chunk sequence packing (Brown et al. 2020 §2.1): every
    document's token stream (whitespace words + 1 EOS) concatenates in
    doc_id order and cuts into 512-token training sequences; this is the
    resulting chunk table — per chunk, the documents intersecting it,
    the sequence-boundary starts, the covering head document, and the
    token fill (== 512 everywhere but the tail, a built-in invariant).
    Complements ``pack_sequences`` (the per-shard packing MANIFEST,
    which sidesteps the global order by hashing into 64 shards): this
    query keeps the single global stream — the layout a curriculum-
    ordered export needs — and earns it with a distributed prefix scan
    instead of a one-task window.

    Scale: the oracle's global running sum is a single-partition window
    — the sequential bottleneck this plan exists to avoid.  The Spark
    side is the two-pass integer prefix scan (operators/pack.py):
    per-group totals (the only collect,
    n_docs/100k rows), broadcast exclusive offsets, per-group PARALLEL
    windows, then a linear chunk fan-out (total_tokens/512 + n_docs
    rows) into one partial-agg shuffle keyed on chunk_id.  The layout is
    a pure function of (docs, seq_len); the grouping constant cannot
    change it (partitioning-invariance pinned in test_pack.py)."""
    from ..operators.pack import pack_chunks

    return pack_chunks(_t(spark, sf_dir, "documents"), seq_len=512)


# ---------------------------------------------------------------------------
# Registry export order
# ---------------------------------------------------------------------------
# The verify driver enumerates queries() in dict order under a bounded budget
# (~50 of the registry — 143 as of r7; COVERAGE.md keeps the live count).
# Export order therefore matters.  It is derived
# MECHANICALLY at import time from the driver's own shipped
# CORRECTNESS_r*.json reports: queries that have never appeared in any
# report go first, then the always-reverified core-parity tier, then the
# remaining queries ordered by how stale their newest driver row is
# (oldest round first), ties broken by ascending measured cost
# (_COST below, sf0.01) so a budget cutoff drops the fewest
# checks.  A hand-maintained list here went stale for two rounds straight
# and hid five broken queries from the driver — never again.


# DuckDB-bound text-LSH ORACLE replays (the heavy set): their Spark side
# is fine at every SF, but the quadratic/recursive oracle formulations
# dominate sweep wall-clock at sf1 and need replay scripts at sf10
# (scripts/oracle_check.py --heavy / --light split; bench.py's sf1
# section covers everything NOT in this list plus the legacy subset).
ORACLE_HEAVY = [
    "quality_lm_bigram",
    "dedup_substring_remove",
    "dedup_cross_source",
    "dedup_paragraphs",
    "contamination_probe",
    "dedup_substring_stats",
    "dedup_minhash",
    "dedup_minhash_pairs",
    "minhash_precision_eval",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    # quadratic cross-algorithm oracle: fine through sf1; the sf10 replay
    # is in PLANS.md "Round-7 continuation: SimHash pair materializer"
    "simhash_hamming_pairs",
    # embeds the same quadratic SimHash CTE as its truth side
    "minhash_recall_eval",
]


# Queries whose SEMANTICS or PLAN SHAPE changed in round N: driver rows
# from earlier rounds witnessed the OLD definition/implementation, so
# they are non-evidence and the query must sort into the never-verified
# front of the budget until a row >= N exists.  r9: the MinHash pairs
# tier and its two downstream compositions moved from (16, 4) to the
# scale-safe (32, 4) parameters (semantic change).  r10: winnow_remove
# and dedup_substring_remove were rewritten doc-local (identical output —
# builder-asserted probe-hash parity + sf0.01/sf1 oracle MATCH — but the
# executed plan is new, so the driver should witness the new shape; r10
# verdict item 3).
_REWITNESS: dict[str, int] = {
    "dedup_minhash_pairs": 9,
    "dedup_clusters": 9,
    "minhash_recall_eval": 9,
    "winnow_remove": 10,
    "dedup_substring_remove": 10,
}


def _driver_rounds(oracled: set[str] | None = None) -> dict[str, int]:
    """Newest CORRECTNESS_r*.json round carrying a PASSING row per query.

    Reads the reports the verify driver drops at the repo root (the parent
    of this package).  Only rows that actually verified count — a
    hash-match, or a rows-only row that produced rows (``err ==
    "no_oracle"``) **for a query that still has no oracle**.  A query
    that has since gained an ORACLES entry must be re-witnessed under the
    hash check, so its stale ``no_oracle`` rows are NON-evidence and it
    sorts into the never-verified front of the budget (r6 verdict item 1:
    the seven converted-oracle ANN/embedding/POI/sketch queries were
    stuck mid-pack behind their own rows-only history).  An error row is
    never evidence, so a query that broke in the newest report keeps its
    last-good round and sorts back toward the front of the budget until
    the driver re-witnesses the fix.  Absent or unparseable reports are
    skipped, so a library install without them degrades to cost-ordered
    export.
    """
    import glob as _glob
    import json as _json
    import re as _re

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    oracled = oracled or set()
    newest: dict[str, int] = {}
    for path in _glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = _json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            passed = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
                and name not in oracled
            )
            if passed:
                newest[name] = max(newest.get(name, 0), rnd)
    # rows older than a semantic change witnessed a different query
    for name, min_round in _REWITNESS.items():
        if newest.get(name, min_round) < min_round:
            del newest[name]
    return newest

# Core parity surface: re-verified EVERY round right after the
# never-verified block, whatever the driver's budget — a CORRECTNESS
# report that skips the SCD-2 heart (processor.go:237-307 semantics) or
# the CSV rendering contract would leave the engine's defining behavior
# unwitnessed for the round.
_CORE = [
    "bundle_assign",
    "pg_csv_format",
    "scd2_validate_ops",
    "scd2_state_at_block",
    "scd2_immutable_rows",
    "scd2_versions",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
]

_COST = {  # seconds at sf0.01, local[32] - full min-of-3 refresh,
    # quiet host, r11 (three registry sweeps, element-wise min)
    "agg_approx_distinct": 1.91, "agg_approx_percentile": 0.321,
    "agg_count_distinct": 0.305, "agg_cube_part": 0.311,
    "agg_grouping_sets": 0.338, "agg_percentiles": 0.296,
    "agg_pivot": 0.274, "agg_rollup_orders": 0.282, "agg_salted": 0.469,
    "ann_ivf_nprobe4_topk": 1.13, "ann_ivf_pq_topk": 2.673,
    "ann_ivf_recall_eval": 1.769, "ann_ivf_topk": 0.961,
    "ann_pq_topk": 1.912, "ann_topk_matmul": 2.321,
    "bigdecimal_normalize": 0.469, "bm25_search": 0.903,
    "bpe_pair_counts": 0.503, "bundle_assign": 0.493,
    "cluster_kmeans_assign": 0.48, "cluster_kmeans_fit": 2.845,
    "contamination_probe": 0.543, "curate_manifest": 1.298,
    "curriculum_order": 0.376, "dataset_card_stats": 0.397,
    "decimal_arithmetic": 0.492, "dedup_clusters": 1.37,
    "dedup_cross_source": 0.529, "dedup_embedding": 1.032,
    "dedup_exact": 0.234, "dedup_minhash": 0.5,
    "dedup_minhash_pairs": 0.939, "dedup_ngram_jaccard": 1.335,
    "dedup_paragraphs": 0.807, "dedup_semantic_clusters": 1.355,
    "dedup_simhash": 0.742, "dedup_substring_remove": 11.051,
    "dedup_substring_stats": 1.36, "doc_fingerprint": 0.346,
    "docs_chunk_overlap": 0.228, "dsir_importance": 1.425,
    "embedding_covariance": 1.487, "embedding_drift_by_source": 0.966,
    "embedding_pc1_outliers": 1.663, "embedding_pca_power": 1.489,
    "embedding_quantize_int8": 0.313, "events_anomaly_mad": 0.504,
    "events_funnel": 0.719, "events_gapfill": 0.676,
    "events_retention": 0.567, "events_sessionize": 0.562,
    "events_sliding_window": 0.354, "events_tumbling_hour": 0.346,
    "filter_range": 0.246, "fuzzy_pairs": 0.65, "graph_pagerank": 5.396,
    "heavy_hitters_phrases": 1.488, "join_anti_customers": 0.301,
    "join_asof": 0.417, "join_broadcast_segments": 0.428,
    "join_correlated_min": 0.326, "join_interval_bins": 0.669,
    "join_left_outer": 0.444, "join_range": 0.434,
    "join_runtime_minmax": 0.564, "join_salted_skew": 0.669,
    "join_semi_nations": 0.479, "lang_id_heuristic": 0.22,
    "layout_zorder_stats": 0.5, "minhash_precision_eval": 1.772,
    "minhash_precision_tuned": 1.835, "minhash_recall_eval": 2.804,
    "mix_epochs": 0.259, "mix_temperature": 0.758,
    "multimodal_avi_frame_sample": 0.669, "multimodal_features": 0.36,
    "multimodal_mp3_probe": 0.459, "multimodal_mp4_probe": 0.426,
    "multimodal_png_roundtrip": 0.449, "multimodal_wav_windows": 0.474,
    "ngram_counts": 0.551, "normalize_names": 0.502,
    "pack_sequences": 0.476, "pg_csv_format": 1.709, "pii_scrub": 0.397,
    "poi_chain": 1.061, "proto_roundtrip": 0.92,
    "q10_returned_items": 0.755, "q11_important_value": 0.891,
    "q12_priority_shipmode": 0.445, "q13_customer_distribution": 0.533,
    "q14_promo_revenue": 0.461, "q15_top_supplier": 0.674,
    "q16_supplier_relation": 0.8, "q17_small_quantity": 0.59,
    "q18_large_orders": 0.475, "q19_discounted_revenue": 0.62,
    "q1_pricing_summary": 0.622, "q20_part_promotion": 0.753,
    "q21_waiting_supplier": 0.848, "q22_inactive_balance": 0.623,
    "q2_min_cost_supplier": 0.999, "q3_shipping_priority": 1.074,
    "q4_order_priority": 0.424, "q5_region_revenue": 1.301,
    "q6_forecast_revenue": 0.276, "q7_nation_volume": 0.807,
    "q8_market_share": 1.068, "q9_product_profit": 0.882,
    "quality_gopher_rules": 0.19, "quality_lm_bigram": 0.682,
    "quality_repetition": 0.432, "quality_score": 0.294,
    "sample_domain_cap": 0.415, "sample_lang_rebalance": 0.167,
    "sample_stratified": 0.275, "scalar_array_funcs": 0.227,
    "scalar_date_funcs": 0.223, "scalar_json_extract": 0.237,
    "scalar_math_funcs": 0.238, "scalar_string_funcs": 0.195,
    "scd2_immutable_rows": 0.479, "scd2_state_at_block": 1.301,
    "scd2_validate_ops": 1.44, "scd2_versions": 1.072,
    "sequence_pack_chunks": 0.917, "sessions_attribution": 0.605,
    "set_except": 0.376, "set_intersect": 0.319, "set_union": 0.337,
    "shard_manifest": 0.318, "simhash_hamming_pairs": 1.491,
    "similarity_topk": 0.568, "sort_limit_top10": 0.27,
    "split_leakage_safe": 1.781, "split_train_eval": 0.285,
    "text_stats": 0.195, "tfidf_top_terms": 0.834, "token_count": 0.32,
    "typed_extract": 0.544, "unpivot_metrics": 0.258,
    "validate_notnull": 0.169, "window_lag_delta": 0.348,
    "window_ntile": 0.329, "window_range_frame": 0.316,
    "window_running_total": 0.394, "window_topk_per_segment": 0.48,
    "winnow_fingerprints": 0.612, "winnow_plagiarism_pairs": 1.306,
    "winnow_remove": 2.213
}


def _export_order(names: list[str]) -> list[str]:
    newest = _driver_rounds(oracled=set(ORACLES))
    never = sorted(
        (n for n in names if n not in newest),
        key=lambda n: _COST.get(n, 99.0),
    )
    core = [n for n in _CORE if n in names and n not in never]
    head = set(never) | set(core)
    rest = sorted(
        (n for n in names if n not in head),
        key=lambda n: (newest.get(n, 0), _COST.get(n, 99.0)),
    )
    return never + core + rest


_order = _export_order(list(QUERIES))
QUERIES = {n: QUERIES[n] for n in _order}
ORACLES = {n: ORACLES[n] for n in _order if n in ORACLES}


# ---------------------------------------------------------------------------
# Flagship
# ---------------------------------------------------------------------------

def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    return q5_region_revenue(spark, sf_dir)
