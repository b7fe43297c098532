"""Wire ingest: the reference's ``graphload run`` JSONL stage
(SURVEY §3.1) — demultiplex an interleaved entity-change stream into
per-entity bundled JSONL files, compute the POI chain over the SAME
interleaved order, and write ``last_block.txt``.

Shape: the wire file is complete when ``run`` starts, so it is read as one
batch on Spark's JVM text source (:func:`read_wire`, exact line cursor
``seq``, no Python worker) and staged once to a parquet log; then demux
cuts every entity's bundle files in one job of the package's one bundle
writer (:func:`..operators.bundles.write_bundled_lines`; no per-entity
rescans), and POI is the §2.5 parallel fold.  The reference
materializes bundles as the stream crosses boundaries; the observable
contract (file set, names, contents, order, empty bundles, poi2$ rows,
last_block marker) is identical.  Resume is the reference's one path:
``--start-block`` + ``--start-poi`` (run.go:76-99).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import bundles
from ..operators.bundles import bundle_start_col
from ..schema.normalize import normalize_field
from ..session import user_errors
from ..sources.jsonl import line_number, read_lines

# last member of the wire object (types.go:3-9 field order); lines that
# miss it (reordered members, junk) fall back to a real JSON parse
_BLOCK_RE = r'"block_num"\s*:\s*(-?\d+)\s*\}\s*$'


def read_wire(spark: SparkSession, wire_path: str) -> DataFrame:
    """The wire file as ``(block_num, seq, value)`` rows, read in one batch
    by the bundles' line reader (:func:`..sources.jsonl.read_lines`).

    ``seq`` is the 0-based :func:`..sources.jsonl.line_number`, the exact
    global line cursor without a sort or a shuffle; blank lines count
    toward it and are then dropped.  A missing path fails the read, a path
    naming several files raises (one cursor would interleave them), and a
    line without an integer ``block_num`` fails the job, naming the file
    and its cursor (the reference fails at the payload unmarshal).
    """
    lines = read_lines(spark, wire_path)
    if len(lines.inputFiles()) > 1:
        raise ValueError(f"wire path {wire_path} names more than one file")
    seq = line_number(lines) - 1
    fast = F.regexp_extract("value", _BLOCK_RE, 1)
    block = F.when(fast != "", fast.cast("long")).otherwise(
        F.from_json("value", "block_num bigint")["block_num"]
    )
    corrupt = F.raise_error(
        F.concat(
            F.lit(f"wire line without an integer block_num in {wire_path} "
                  "at line cursor (seq) "),
            F.col("seq").cast("string"),
            F.lit(": "),
            F.substring("value", 1, 80),
        )
    )
    return (
        lines.select("value", seq.alias("seq"))
        .where(F.col("value") != "")
        .select(F.coalesce(block, corrupt).alias("block_num"), "seq", "value")
    )


class WireIngest:
    """Stages the wire rows once, as a parquet log under ``workdir``."""

    def __init__(self, spark: SparkSession, workdir: str, stop_block: int):
        self.spark = spark
        self.workdir = workdir
        self.stop_block = stop_block
        self.staged = os.path.join(workdir, "wire_log")
        os.makedirs(workdir, exist_ok=True)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # extract the routing key ONCE here, overlapped with the stage
        # write (JVM get_json_object in the same task that writes the
        # row) — every downstream pass (router validation, demux write)
        # then reads a pruned parquet column instead of re-parsing 100%
        # of the line bytes per pass.  Overwrite: a rerun into the same
        # workdir restages instead of doubling the log.
        (
            batch_df.where(F.col("block_num") < self.stop_block)
            .withColumn(
                "entity_raw",
                F.get_json_object("value", "$.entity_change.entity"),
            )
            .write.mode("overwrite")
            .parquet(self.staged)
        )

    def staged_df(self) -> DataFrame:
        return self.spark.read.parquet(self.staged)


def check_final_blocks_only(
    staged: DataFrame, chunk_width: int = 1_000_000
) -> int | None:
    """Reject any block below the running high-water mark in cursor order
    (ref sinker.go:291-293 — an undo/reorg signal is fatal; the sink
    demands final blocks only).  Returns the global max block (the final
    high-water mark, None on empty input) so callers that need it — the
    ``last_block.txt`` marker — don't re-scan the log for a number this
    check already computed.

    Distributed: the cursor space splits into seq-range chunks so the
    non-decreasing property decomposes into (a) a running-max window check
    WITHIN each chunk — chunks run in parallel, no global single-partition
    window — and (b) per-chunk (min, max) block extremes merged driver-side
    across chunk boundaries (O(#chunks) rows).  Accept/reject set is exactly
    the global scan's: a violating row either sees its witness inside its
    own chunk (a) or in some earlier chunk's max (b).
    """
    ch = staged.select(
        "seq",
        "block_num",
        (F.col("seq") / F.lit(chunk_width)).cast("long").alias("_chunk"),
    )
    w = Window.partitionBy("_chunk").orderBy("seq").rowsBetween(
        Window.unboundedPreceding, -1
    )
    intra = (
        ch.withColumn("_hwm", F.max("block_num").over(w))
        .where(F.col("block_num") < F.col("_hwm"))
        .orderBy("seq")
        .limit(1)
        .collect()
    )
    if intra:
        r = intra[0]
        raise ValueError(
            f"received undo signal / out-of-order block at cursor "
            f"{r['seq']}: block {r['block_num']} below high-water mark "
            f"{r['_hwm']} — the sink requires final blocks only"
        )
    extremes = (
        ch.groupBy("_chunk")
        .agg(F.min("block_num").alias("_min"), F.max("block_num").alias("_max"))
        .orderBy("_chunk")
        .collect()
    )
    hwm = None
    for row in extremes:
        if hwm is not None and row["_min"] < hwm:
            lo, hi = row["_chunk"] * chunk_width, (row["_chunk"] + 1) * chunk_width
            bad = (
                ch.where(
                    (F.col("seq") >= lo)
                    & (F.col("seq") < hi)
                    & (F.col("block_num") < F.lit(hwm))
                )
                .orderBy("seq")
                .limit(1)
                .collect()[0]
            )
            raise ValueError(
                f"received undo signal / out-of-order block at cursor "
                f"{bad['seq']}: block {bad['block_num']} below high-water "
                f"mark {hwm} — the sink requires final blocks only"
            )
        hwm = row["_max"] if hwm is None else max(hwm, row["_max"])
    return hwm


def check_final_blocks_from_runs(
    runs: list[tuple[int, int, int, int]],
) -> tuple[bool, int | None]:
    """Order check from :func:`operators.poi.discover_runs`' per-block
    cursor intervals — no scan of its own.

    Returns ``(ok, high_water)``.  ``ok=False`` means the intervals cannot
    PROVE the global cursor order (some blocks' seq intervals overlap: a
    block recurs after another one), and the caller must fall back to
    :func:`check_final_blocks_only`'s windowed scan, which names the first
    bad cursor; it never means "order violated".  A proven violation
    raises the same ValueError as the windowed check: intervals sorted by
    min_seq and pairwise disjoint ARE the global seq order, each holds
    exactly one block, so an interval whose block sits below the running
    high-water mark starts (at its min_seq) the same first-violation
    cursor the windowed check reports.
    """
    if not runs:
        return True, None
    rs = sorted(runs, key=lambda r: (r[1], r[2]))
    prev_max: int | None = None
    hwm: int | None = None
    for blk, mn, mx, _n in rs:
        if prev_max is not None and mn <= prev_max:
            return False, None
        prev_max = mx
        if hwm is not None and blk < hwm:
            raise ValueError(
                f"received undo signal / out-of-order block at cursor "
                f"{mn}: block {blk} below high-water mark {hwm} — the "
                f"sink requires final blocks only"
            )
        hwm = blk if hwm is None else max(hwm, blk)
    return True, hwm


def demux_jsonl(
    spark: SparkSession,
    raw: DataFrame,
    dest_dir: str,
    entities: list[str],
    stop_block: int,
    bundle_size: int = 1000,
    first_block: int = 0,
) -> dict[str, list[str]]:
    """Route raw change lines to ``<dest>/<entity>/NNN-NNN.jsonl`` bundles.

    Entity names normalize to snake_case for the directory (sinker.go:243);
    unknown entities raise, like the reference's router (sinker.go:242-248).
    A column-pruned distinct builds the raw-spelling -> snake router map
    (validated against the schema); the map turns each row's entity into
    its directory's index, and :func:`..operators.bundles.write_bundled_lines`
    cuts every entity's bundles in one job, ordered by (block_num, seq).

    EVERY schema entity materializes every bundle in
    [first_block, stop_block) — never-emitted entities included — as the
    reference creates a bundler per schema entity up front (sinker.go:82-88)
    and rolls them all, so unseen entities still produce (empty) files.

    Strict about its input: any row outside [first_block, stop_block)
    raises — out-of-envelope bundles via the writer's metadata-only
    staged-tree audit, unaligned-edge slivers via a pushed-down pre-pass
    that scans only the edge bundles (and is skipped entirely when both
    boundaries are bundle-aligned).  Callers that legitimately resume
    mid-chain (run_ingest) filter the pre-start blocks themselves first.
    """
    # The router key: staged logs carry it as a parquet column (extracted
    # once at staging time, WireIngest.process_batch); a raw frame without
    # it falls back to JSON extraction here.
    ent = (
        F.col("entity_raw")
        if "entity_raw" in raw.columns
        else F.get_json_object("value", "$.entity_change.entity")
    )
    # Validation pre-pass: distinct raw spellings from a column-pruned scan
    # (map-side-combined agg over a schema-bounded-cardinality column).
    # Deliberately NOT persist()ed: caching the full line column costs more
    # than the re-extraction it saves (measured 25s persist+distinct vs
    # ~5s re-scan at 1.8M events — deserialized Java strings of the whole
    # log thrash the heap), and at 100 TB pinning the log in executor
    # memory is a non-starter while a second column-pruned pass is one
    # cheap map stage.
    seen = [r["e"] for r in raw.select(ent.alias("e")).distinct().collect()]
    norm_map: dict[str, str] = {}
    for raw_name in seen:
        snake = normalize_field(raw_name) if raw_name is not None else None
        if snake not in entities:
            raise ValueError(
                f"cannot find bundler for entity {raw_name!r} "
                f"(normalized {snake!r})"
            )
        norm_map[raw_name] = snake

    # Row-exact range guard, folded to the aligned-envelope edges.  The
    # writer's staged-tree audit is bundle-granular: any row whose ALIGNED
    # bundle falls outside [first_aligned, stop_block) surfaces there as
    # an unexpected bundle_start dir, at metadata cost.  The only rows it
    # cannot see are the two slivers inside legitimate edge bundles — a
    # row below an unaligned first_block but inside the first aligned
    # bundle, or at/after an unaligned stop_block but inside the last.
    # Guard exactly those slivers with a pushed-down range filter
    # (parquet row-group stats prune the scan to the edge bundles for
    # staged logs) and skip the pass entirely for aligned boundaries —
    # the previous full min/max aggregation re-scanned the whole log on
    # every call, a real cost at the 100 TB target.
    slivers = []
    if first_block % bundle_size:
        first_aligned = first_block - first_block % bundle_size
        slivers.append(
            (F.col("block_num") >= first_aligned)
            & (F.col("block_num") < first_block)
        )
    if stop_block % bundle_size:
        last_start = stop_block - stop_block % bundle_size
        slivers.append(
            (F.col("block_num") >= stop_block)
            & (F.col("block_num") < last_start + bundle_size)
        )
    if slivers:
        cond = slivers[0]
        for s in slivers[1:]:
            cond = cond | s
        bad = raw.where(cond).select("block_num").limit(1).collect()
        if bad:
            raise ValueError(
                f"demux input carries block {bad[0]['block_num']} outside "
                f"[{first_block}, {stop_block}); truncate or filter upstream"
            )

    # typed explicitly: an empty wire gives an empty map, which Spark
    # would otherwise type map<void,void> and refuse to index by string
    names = sorted(entities)
    mapping = F.create_map(
        *[F.lit(x) for raw_name in sorted(norm_map)
          for x in (raw_name, names.index(norm_map[raw_name]))]
    ).cast("map<string,int>")
    rows = raw.select(
        mapping[ent].alias("target"),
        bundle_start_col(F.col("block_num"), bundle_size).alias("bundle_start"),
        "block_num",
        "seq",
        F.col("value").alias("line"),
    )
    written = bundles.write_bundled_lines(
        spark, rows, [os.path.join(dest_dir, e) for e in names], None,
        first_block, stop_block, bundle_size, ["block_num", "seq"],
    )
    per = len(written) // len(names)
    return {e: written[i * per:(i + 1) * per] for i, e in enumerate(names)}


def run_ingest(
    spark: SparkSession,
    dest_dir: str,
    entities: list[str],
    stop_block: int,
    wire_path: str,
    bundle_size: int = 1000,
    chain_id: str | None = None,
    start_poi: bytes | None = None,
    workdir: str | None = None,
    first_block: int = 0,
) -> dict[str, list[str]]:
    """Full ``run`` parity: wire file -> per-entity JSONL bundles
    (+ optional poi2$ CSV chain over the interleaved order) +
    ``last_block.txt``.

    Source: ``wire_path``, read in one batch by :func:`read_wire` and
    staged once under ``workdir`` (overwritten by a rerun).

    The reference's source contract is enforced: block numbers must be
    non-decreasing in cursor order — an undo/reorg signal (a block below
    the high-water mark) is fatal (ref sinker.go:291-293 errors on any
    undo; the sink demands final-blocks-only).  The check reads each
    block's cursor interval from one JVM aggregate
    (:func:`operators.poi.discover_runs`) and scans the log only when
    intervals overlap; its high-water mark is ``last_block.txt``.

    ``first_block`` is the sinker start block and ``start_poi`` the digest
    of the block before it — the reference's resume pair (run.go:76-99).
    Bundle enumeration starts at its aligned bundle, and demux and POI
    both see only blocks at or after it.  The JSONL bundles and the
    ``poi2$`` CSV bundles are cut by the same writer
    (:func:`..operators.bundles.write_bundled_lines`), one job each.  Only
    the POI fold
    (:func:`operators.poi.poi_tocsv`, with ``chain_id``) starts Python
    workers.
    """
    from ..operators.poi import discover_runs

    workdir = workdir or os.path.join(dest_dir, "_work_ingest")
    ingest = WireIngest(spark, workdir, stop_block)
    with user_errors():  # a corrupt wire line fails the staging write
        ingest.process_batch(read_wire(spark, wire_path), 0)

    staged = ingest.staged_df()
    ok, last = check_final_blocks_from_runs(discover_runs(staged))
    if not ok:
        last = check_final_blocks_only(staged)
    # The sinker start block: blocks below first_block belong to an
    # earlier run's bundles and chain, so drop them HERE, deliberately and
    # documented — demux_jsonl itself treats any out-of-range row as a
    # hard error rather than silently discarding it with its staging dir.
    resumed = staged.where(F.col("block_num") >= first_block)
    files = demux_jsonl(
        spark, resumed, dest_dir, entities, stop_block, bundle_size,
        first_block=first_block,
    )

    if chain_id is not None:
        from ..operators.poi import poi_tocsv

        files["poi2$"] = poi_tocsv(
            spark, resumed, dest_dir, chain_id, stop_block,
            bundle_size=bundle_size, start_poi=start_poi,
            first_block=first_block,
        )

    # the order check computed the global max (None on an empty log)
    with open(os.path.join(dest_dir, "last_block.txt"), "w") as fh:
        fh.write(f"{last or 0}:\n")
    return files


def read_last_block(dest_dir: str) -> int:
    """The high-water mark :func:`run_ingest` wrote to ``last_block.txt``."""
    with open(os.path.join(dest_dir, "last_block.txt")) as fh:
        return int(fh.read().rstrip(":\n"))
