"""Side-by-side Spark vs DuckDB oracle parity harness (the driver's t2 check,
runnable locally while iterating).

Usage: python scripts/oracle_check.py [query ...]   (default: all with oracles)
       python scripts/oracle_check.py --light       (all EXCEPT the heavy set)
       python scripts/oracle_check.py --heavy       (only the heavy set)

The heavy set is the DuckDB-bound text-LSH replays: at sf1 they dominate
the sweep wall-clock and at sf10 they need hours (run them one at a time,
cheapest first; dedup_clusters' recursive-CTE oracle is INTRACTABLE at
sf10 — its sf10 replay is recorded in PLANS.md "r9 late: sf10 CC replay
re-pinned on the two-tier candidate graphs").
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entry_mod
from substreams_sink_graph_load_spark.session import KEEP_C2, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.round(6)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main(names: list[str]) -> int:
    # one JVM runs the whole registry: it keeps C2
    spark = get_spark(master="local[8]", shuffle_partitions=8,
                      extra_conf={"spark.driver.extraJavaOptions": KEEP_C2})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{SF_DIR}/{t}.parquet')"
        )
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    names = names or [n for n in qs if n in oracles]
    failed = []
    import time

    for name in names:
        try:
            t0 = time.perf_counter()
            sdf = qs[name](spark, SF_DIR).toPandas()
            t_spark = time.perf_counter() - t0
            if name not in oracles:
                print(f"  {name}: rows-only ({len(sdf)} rows) OK")
                continue
            t0 = time.perf_counter()
            odf = con.execute(oracles[name]).df()
            t_oracle = time.perf_counter() - t0
            s, o = canon(sdf), canon(odf)
            if list(s.columns) != list(o.columns):
                raise AssertionError(f"columns {list(s.columns)} vs {list(o.columns)}")
            if len(s) != len(o):
                raise AssertionError(f"rows {len(s)} vs {len(o)}")
            pd.testing.assert_frame_equal(
                s, o, check_dtype=False, check_exact=False, rtol=1e-6
            )
            print(
                f"  {name}: MATCH ({len(s)} rows) "
                f"[spark {t_spark:.1f}s, oracle {t_oracle:.1f}s]",
                flush=True,
            )
        except Exception as ex:
            failed.append(name)
            msg = str(ex).split("\n")
            print(f"  {name}: FAIL — {' / '.join(msg[:3])}")
    print(f"\n{len(names) - len(failed)}/{len(names)} matched")
    if failed:
        print("failed:", failed)
    return 1 if failed else 0


# DuckDB-bound text-LSH oracle replays, cheapest-first (sf10 notes above);
# the canonical list lives with the registry so bench.py shares it
from substreams_sink_graph_load_spark.plans.queries import (  # noqa: E402
    ORACLE_HEAVY as HEAVY,
)


def _select(argv: list[str]) -> list[str]:
    if argv == ["--heavy"]:
        return list(HEAVY)
    if argv == ["--light"]:
        import __spark_entry__ as em

        return [n for n in em.queries() if n not in HEAVY]
    return argv


if __name__ == "__main__":
    raise SystemExit(main(_select(sys.argv[1:])))
