"""Block-range bundling: boundary math, file naming, bundled CSV writing.

Parity targets (ref bundler/bundler.go:100-203, bundler_test.go:10-88;
csvprocessor/writer.go:35-99, 326-328; bundler/writer/common.go:29-31):

- bundles are tumbling count-windows of ``bundle_size`` blocks aligned to 0:
  ``start = n - n % size``
- file names are ``%010d-%010d`` with an **inclusive** end block
- the final bundle truncates at ``stop_block``
- bundles with zero rows are still materialized (header-only files) — the
  reference emits "boundaries to skip" so downstream contiguity checks pass

The write path is Spark-native: one hash repartition on ``bundle_start`` (so
each bundle lands in exactly one task -> exactly one file per partition
directory), a within-partition sort for deterministic row order, a
``partitionBy`` text sink, then a driver-side metadata rename to the exact
``NNNNNNNNNN-NNNNNNNNNN.csv`` names.  Renames are O(#bundles) metadata ops,
not data movement.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def bundle_start_col(block: Column, bundle_size: int) -> Column:
    """Aligned bundle start for a block column (bundler.go:181-188)."""
    return (block - block % F.lit(bundle_size)).cast("long")


def boundaries(first_block: int, stop_block: int, bundle_size: int) -> list[tuple[int, int]]:
    """All (start, end_exclusive) bundles covering [first_block, stop_block),
    aligned to 0, final bundle truncated at stop (bundler_test.go:10-88)."""
    out = []
    start = first_block - first_block % bundle_size
    while start < stop_block:
        end = min(start + bundle_size, stop_block)
        out.append((start, end))
        start += bundle_size
    return out


def bundle_filename(start: int, end_exclusive: int, ext: str = "csv") -> str:
    """``%010d-%010d`` with inclusive end (writer/common.go:29-31)."""
    return f"{start:010d}-{end_exclusive - 1:010d}.{ext}"


def expected_bundles(first_block: int, stop_block: int, bundle_size: int) -> list[str]:
    return [bundle_filename(s, e) for s, e in boundaries(first_block, stop_block, bundle_size)]


def header_rows(
    spark: SparkSession,
    header: str,
    first_block: int,
    stop_block: int,
    bundle_size: int,
    order_cols: list[str],
) -> DataFrame:
    """One ``header`` row per bundle of :func:`boundaries`, shaped like
    write_bundled_lines' data rows with ``_hdr`` = 0.  The bundle starts
    come from ``spark.range``, so no Python worker starts."""
    return spark.range(
        first_block - first_block % bundle_size, stop_block, bundle_size
    ).select(
        F.col("id").alias("bundle_start"),
        F.lit(0).alias("_hdr"),
        *[F.lit(0).cast("long").alias(c) for c in order_cols],
        F.lit(header).alias("line"),
    )


def claim_bundle(part_dir: str, target: str) -> None:
    """Turn a ``partitionBy`` write's partition directory into the bundle
    file ``target``: move its one ``part-*`` file, or concatenate (and
    remove) its files in name order — none gives an empty file."""
    parts = sorted(glob.glob(os.path.join(part_dir, "part-*")))
    if len(parts) == 1:
        shutil.move(parts[0], target)
        return
    with open(target, "wb") as out:
        for p in parts:
            with open(p, "rb") as fh:
                shutil.copyfileobj(fh, out)
            os.remove(p)


def write_bundled_lines(
    spark: SparkSession,
    lines: DataFrame,
    dest_dir: str,
    header: str,
    first_block: int,
    stop_block: int,
    bundle_size: int,
    order_cols: list[str],
) -> list[str]:
    """Write a ``line``-column DataFrame as bundled CSV files.

    ``lines`` must carry ``bundle_start`` (long) and ``line`` (string);
    ``order_cols`` define deterministic row order within a bundle.  Every
    expected bundle gets a ``header`` row first, so empty bundles
    materialize too.  Returns the list of files written (every expected
    bundle, including empty ones).
    """
    data_rows = lines.select(
        "bundle_start", F.lit(1).alias("_hdr"), *[F.col(c).cast("long") for c in order_cols], "line"
    )
    # Header sorts before data via the _hdr flag; one header row per
    # expected bundle also materializes empty bundles.
    hdr_rows = header_rows(
        spark, header, first_block, stop_block, bundle_size, order_cols
    )

    staged = os.path.join(dest_dir, "_staged")
    (
        hdr_rows.unionByName(data_rows)
        .repartition("bundle_start")
        # the rendered line is the FINAL tiebreaker: rows tied on every
        # order_col (e.g. two versions of a duplicated id closed by the
        # same block) would otherwise land in partitioning-dependent
        # order — output bytes must not depend on the physical plan
        # (found by the r9 replay-vs-TWS CSV differential)
        .sortWithinPartitions("bundle_start", "_hdr", *order_cols, "line")
        # text sink accepts exactly one string column; the projection after
        # the sort is order-preserving (no exchange in between)
        .select("bundle_start", "line")
        .write.mode("overwrite")
        .partitionBy("bundle_start")
        .text(staged, lineSep="\n")
    )

    # Driver-side rename: partition dirs -> exact reference file names.
    written = []
    for s, e in boundaries(first_block, stop_block, bundle_size):
        target = os.path.join(dest_dir, bundle_filename(s, e))
        claim_bundle(os.path.join(staged, f"bundle_start={s}"), target)
        written.append(target)
    shutil.rmtree(staged, ignore_errors=True)
    return written


def write_bundled_csv(
    spark: SparkSession,
    lines: DataFrame,
    dest_dir: str,
    header: str,
    first_block: int,
    stop_block: int,
    bundle_size: int,
    order_cols: list[str],
) -> list[str]:
    """Bundled CSV files (header per bundle) — see write_bundled_lines."""
    return write_bundled_lines(
        spark, lines, dest_dir, header, first_block, stop_block,
        bundle_size, order_cols,
    )
