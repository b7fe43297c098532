"""Block-range bundling: boundary math, file naming, and the one bundle
writer behind ``run``'s JSONL bundles and ``tocsv``'s CSV bundles.

Parity targets (ref bundler/bundler.go:100-203, bundler_test.go:10-88;
csvprocessor/writer.go:35-99, 326-328; bundler/writer/common.go:29-31):

- bundles are tumbling count-windows of ``bundle_size`` blocks aligned to 0:
  ``start = n - n % size``
- file names are ``%010d-%010d`` with an **inclusive** end block
- the final bundle truncates at ``stop_block``
- bundles with zero rows are still materialized (header-only files) — the
  reference emits "boundaries to skip" so downstream contiguity checks pass

The write path is Spark-native (:func:`write_bundled_lines`): one hash
repartition on (target directory, ``bundle_start``), so each bundle lands in
exactly one task; a within-partition sort for deterministic row order; one
two-level ``partitionBy`` text sink; then driver-side renames to the exact
``NNNNNNNNNN-NNNNNNNNNN`` names.  Renames are O(#bundles) metadata ops, not
data movement.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

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
    headers: list[str],
    first_block: int,
    stop_block: int,
    bundle_size: int,
    order_cols: list[str],
) -> DataFrame:
    """One row per (target, bundle) of :func:`boundaries`, carrying
    ``headers[target]``, shaped like write_bundled_lines' data rows with
    ``_hdr`` = 0.  The rows come from one ``spark.range``, so no Python
    worker starts."""
    first = first_block - first_block % bundle_size
    n = len(boundaries(first_block, stop_block, bundle_size))
    target = (F.col("id") / n).cast("int")
    return spark.range(len(headers) * n).select(
        target.alias("target"),
        (F.col("id") % n * bundle_size + first).alias("bundle_start"),
        F.lit(0).alias("_hdr"),
        *[F.lit(0).cast("long").alias(c) for c in order_cols],
        F.array(*[F.lit(h) for h in headers])[target].alias("line"),
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
    dest_dirs: list[str],
    headers: list[str] | None,
    first_block: int,
    stop_block: int,
    bundle_size: int,
    order_cols: list[str],
) -> list[str]:
    """Write ``line`` rows as bundle files into several directories in one
    job: every JSONL bundle of ``run`` and every CSV bundle of ``tocsv``
    and ``poi2$`` is cut here.

    ``lines`` carries ``target`` (int, the index of its directory in
    ``dest_dirs``), ``bundle_start`` (long), ``order_cols`` and ``line``
    (string).  ``order_cols``, then ``line``, order a bundle's rows.  With
    ``headers`` (one per directory) the bundles are ``.csv`` files whose
    first line is their directory's header; without, ``.jsonl`` files with
    no header.  Every directory gets every bundle of
    :func:`boundaries`, empty ones included (header-only or empty files).

    One hash repartition on (target, bundle_start) puts each bundle in one
    task, so each partition directory of the two-level ``partitionBy`` text
    write holds one bundle; the driver then renames the directories to the
    ``NNNNNNNNNN-NNNNNNNNNN`` names (metadata ops, no data movement).  The
    staged tree is a fresh directory per call, so concurrent calls into one
    destination do not collide.  A failed job removes it; a partition
    directory outside the expected (target, bundle) set raises and keeps
    it, as does any ``part-*`` file left unclaimed.  Returns every file
    written, in ``dest_dirs`` order, then bundle order.
    """
    bounds = boundaries(first_block, stop_block, bundle_size)
    rows = lines.select(
        "target", "bundle_start", F.lit(1).alias("_hdr"),
        *[F.col(c).cast("long") for c in order_cols], "line",
    )
    if headers is not None:
        # the header sorts first in its bundle, and materializes an
        # otherwise empty one
        rows = header_rows(
            spark, headers, first_block, stop_block, bundle_size, order_cols
        ).unionByName(rows)
    for d in dest_dirs:
        os.makedirs(d, exist_ok=True)
    staged = os.path.join(
        os.path.commonpath(dest_dirs), f"_staged-{uuid.uuid4().hex}"
    )
    try:
        (
            rows.repartition("target", "bundle_start")
            # the line is the final tiebreaker: rows tied on every order
            # column (two versions of a duplicated id closed by the same
            # block) would otherwise land in plan-dependent order
            .sortWithinPartitions("target", "bundle_start", "_hdr", *order_cols, "line")
            # the projection after the sort keeps its order (no exchange)
            .select("target", "bundle_start", "line")
            .write.partitionBy("target", "bundle_start")
            .text(staged, lineSep="\n")
        )
    except Exception:
        shutil.rmtree(staged, ignore_errors=True)
        raise
    # a partition directory the claim loop below would not visit would be
    # deleted with the tree: refuse it first (a metadata walk, no data read)
    want = {f"bundle_start={s}" for s, _ in bounds}
    for t_path in glob.glob(os.path.join(staged, "target=*")):
        t = os.path.basename(t_path)
        if t not in {f"target={i}" for i in range(len(dest_dirs))}:
            raise ValueError(
                f"bundle writer staged unexpected target dir {t!r}; rows "
                "would be dropped with the staged tree"
            )
        for bs_path in glob.glob(os.path.join(t_path, "bundle_start=*")):
            if os.path.basename(bs_path) not in want:
                raise ValueError(
                    f"bundle writer staged rows at {bs_path!r} outside block "
                    f"range [{first_block}, {stop_block}); refusing to drop them"
                )

    ext = "jsonl" if headers is None else "csv"
    written = []
    for i, d in enumerate(dest_dirs):
        for s, e in bounds:
            target = os.path.join(d, bundle_filename(s, e, ext))
            claim_bundle(os.path.join(staged, f"target={i}", f"bundle_start={s}"), target)
            written.append(target)
    # the audit should make this unreachable; a future change of the
    # staging layout then fails loudly instead of deleting rows
    leftover = [
        p for p in glob.glob(os.path.join(staged, "**", "part-*"), recursive=True)
        if os.path.getsize(p) > 0
    ]
    if leftover:
        raise RuntimeError(f"staged files unclaimed by any bundle: {leftover[:5]}")
    shutil.rmtree(staged)
    return written
