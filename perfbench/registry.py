"""The registry-hot workload: registry queries in a warm session, each
timed as the query-function call plus a ``noop`` write (as ``bench.py``
times them), checked against their DuckDB oracles."""

from __future__ import annotations

import math
import time
import traceback

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def oracle_frames(sf_dir: str, names: list[str]) -> dict:
    """name -> the oracle's result as a pandas frame (DuckDB, same tables)."""
    import duckdb
    from substreams_sink_graph_load_spark.plans import ORACLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return {n: con.execute(ORACLES[n]).df() for n in names}
    finally:
        con.close()


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def same_result(got, want) -> str | None:
    """None when equal as tests/test_oracle_parity.py compares them (row
    count, column names, order-insensitive values; floats here to 1e-6),
    else the difference."""
    if len(got) != len(want):
        return f"row count {len(got)} vs {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            if isinstance(a, float) and isinstance(b, float):
                if (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6):
                    continue
                return f"{c}[{i}]: {a!r} != {b!r}"
            if str(a) != str(b):
                return f"{c}[{i}]: {a!r} != {b!r}"
    return None


def check_pass(spark, sf_dir: str, names: list[str], oracles: dict, log) -> dict:
    """Run every query once, collecting its result, and compare it with the
    oracle.  Doubles as the session's warm-up pass; not timed."""
    from substreams_sink_graph_load_spark.plans.queries import QUERIES

    res = {"attempted": 0, "failed": 0}
    for name in names:
        res["attempted"] += 1
        try:
            got = QUERIES[name](spark, sf_dir).toPandas()
            diff = same_result(got, oracles[name])
        except Exception:
            diff = traceback.format_exc()
        spark.catalog.clearCache()
        if diff is not None:
            log(f"check {name}: {diff}")
            res["failed"] += 1
    return res


def timed_pass(spark, sf_dir: str, names: list[str], log, tracer=None) -> dict:
    """One timed pass: per query ``build`` (the query-function call) and
    ``exec`` (the noop write).  A failed query is absent from ``walls``."""
    from substreams_sink_graph_load_spark.plans.queries import QUERIES

    res = {"attempted": 0, "failed": 0, "walls": {}}
    for name in names:
        res["attempted"] += 1
        span = tracer.open(f"plans.queries.{name}") if tracer else None
        try:
            t0 = time.perf_counter()
            if tracer:
                df = tracer.call(f"plans.queries.{name}.build", QUERIES[name], spark, sf_dir)
                tracer.call(f"plans.queries.{name}.exec",
                            df.write.format("noop").mode("overwrite").save)
            else:
                df = QUERIES[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            res["walls"][name] = time.perf_counter() - t0
        except Exception:
            log(f"{name} failed:\n{traceback.format_exc()}")
            res["failed"] += 1
        finally:
            if span is not None:
                tracer.close(span)
        # operators may persist intermediates; drop them so queries do not
        # charge each other rent (bench.py does the same)
        spark.catalog.clearCache()
    return res
