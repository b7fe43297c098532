"""Bundle boundary math + bundled CSV writing
(ref bundler/bundler_test.go:10-88; writer/common.go:29-31)."""

import os

from pyspark.sql import functions as F

from substreams_sink_graph_load_spark.operators import bundles
from substreams_sink_graph_load_spark.operators.bundles import (
    boundaries,
    bundle_filename,
    bundle_start_col,
    expected_bundles,
)


def test_boundaries_alignment():
    assert boundaries(0, 30, 10) == [(0, 10), (10, 20), (20, 30)]
    # stop-block truncation: [10,15) for stop 15 (bundler_test.go)
    assert boundaries(10, 15, 10) == [(10, 15)]
    # unaligned first block snaps down
    assert boundaries(7, 15, 10) == [(0, 10), (10, 15)]


def test_gap_materialization():
    # jump 4 -> 763 at size 100 must include every intermediate bundle
    names = expected_bundles(0, 763, 100)
    assert names[0] == "0000000000-0000000099.csv"
    assert names[-1] == "0000000700-0000000762.csv"
    assert len(names) == 8


def test_filename_inclusive_end():
    assert bundle_filename(1000, 2000) == "0000001000-0000001999.csv"
    assert bundle_filename(10, 15) == "0000000010-0000000014.csv"


def test_bundle_start_col(spark):
    df = spark.createDataFrame([(0,), (999,), (1000,), (2500,)], "b long")
    got = [r["s"] for r in df.select(bundle_start_col(F.col("b"), 1000).alias("s")).collect()]
    assert got == [0, 0, 1000, 2000]


def test_write_bundled_csv(spark, tmp_path):
    dest = str(tmp_path / "acct")
    os.makedirs(dest, exist_ok=True)
    lines = spark.createDataFrame(
        [(0, 0, 5, "r1"), (0, 0, 3, "r0"), (0, 2000, 1, "r2")],
        "target int, bundle_start long, emit long, line string",
    )
    files = bundles.write_bundled_lines(
        spark, lines, [dest], ["id,block_range"],
        first_block=0, stop_block=2500, bundle_size=1000,
        order_cols=["emit"],
    )
    names = sorted(os.path.basename(f) for f in files)
    assert names == [
        "0000000000-0000000999.csv",
        "0000001000-0000001999.csv",  # empty bundle still materialized
        "0000002000-0000002499.csv",  # truncated at stop
    ]
    with open(os.path.join(dest, names[0])) as fh:
        assert fh.read() == "id,block_range\nr0\nr1\n"  # header first, sorted rows
    with open(os.path.join(dest, names[1])) as fh:
        assert fh.read() == "id,block_range\n"  # header-only
    with open(os.path.join(dest, names[2])) as fh:
        assert fh.read() == "id,block_range\nr2\n"
