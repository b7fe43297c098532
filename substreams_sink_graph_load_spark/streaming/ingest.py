"""Wire ingest: the reference's ``graphload run`` JSONL stage
(SURVEY §3.1) — demultiplex an interleaved entity-change stream into
per-entity bundled JSONL files, compute the POI chain over the SAME
interleaved order, and write ``last_block.txt``.

Shape: the wire file is complete when ``run`` starts, so it is read as one
batch on Spark's JVM text source (:func:`read_wire`, exact line cursor
``seq``, no Python worker) and staged once to a parquet log; then demux
cuts the bundle files in one batch job — entity routing is ONE repartition
on (entity, bundle_start) feeding a single two-level ``partitionBy`` text
write (every entity x bundle lands in its own directory in one pass; no
per-entity rescans), and POI is the §2.5 parallel fold.  The reference
materializes bundles as the stream crosses boundaries; the observable
contract (file set, names, contents, order, empty bundles, poi2$ rows,
last_block marker) is identical.  Resume is the reference's one path:
``--start-block`` + ``--start-poi`` (run.go:76-99).
"""

from __future__ import annotations

import glob
import os
import shutil
import urllib.parse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.bundles import boundaries, bundle_filename, bundle_start_col
from ..schema.normalize import normalize_field

# last member of the wire object (types.go:3-9 field order); lines that
# miss it (reordered members, junk) fall back to a real JSON parse
_BLOCK_RE = r'"block_num"\s*:\s*(-?\d+)\s*\}\s*$'


def read_wire(spark: SparkSession, wire_path: str) -> DataFrame:
    """The wire file as ``(block_num, seq, value)`` rows, read in one batch
    on the JVM text source.

    ``seq`` is the exact global line cursor: blank lines count toward it
    and are then dropped.  It needs no sort and no shuffle of the log: the
    text source emits each split's lines in byte order, so a split's
    ``monotonically_increasing_id`` values are consecutive, and one small
    job collects each split's (count, min id) to turn them into prefix
    offsets keyed by ``_metadata.file_block_start``.  ``lineSep="\\n"``
    keeps a CRLF line's ``\\r`` in ``value``.  A missing path fails the
    read; a line without an integer ``block_num`` fails the job, naming the
    file and its cursor (the reference fails at the payload unmarshal).
    """
    lines = spark.read.text(wire_path, lineSep="\n").select(
        "value",
        F.col("_metadata.file_path").alias("_file"),
        F.col("_metadata.file_block_start").alias("_bstart"),
        F.monotonically_increasing_id().alias("_mid"),
    )
    splits = sorted(
        lines.groupBy("_file", "_bstart")
        .agg(F.count("*").alias("n"), F.min("_mid").alias("mid0"))
        .collect(),
        key=lambda r: r["_bstart"],
    )
    if len({r["_file"] for r in splits}) > 1:
        raise ValueError(f"wire path {wire_path} names more than one file")
    shift, off = [], 0
    for r in splits:
        shift += [F.lit(r["_bstart"]), F.lit(off - r["mid0"])]
        off += r["n"]
    seq = F.col("_mid") + F.create_map(*shift).cast("map<bigint,bigint>")[
        F.col("_bstart")
    ]
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
    One routing pass over the data: a column-pruned distinct builds the
    raw-spelling -> snake router map (validated against the schema), then
    ONE repartition on (entity, bundle_start) feeds ONE two-level
    ``partitionBy`` text write — per-bundle files come out of the partition
    directories with driver-side renames (metadata ops).

    EVERY schema entity materializes every bundle in
    [first_block, stop_block) — never-emitted entities included — as the
    reference creates a bundler per schema entity up front (sinker.go:82-88)
    and rolls them all, so unseen entities still produce (empty) files.

    Strict about its input: any row outside [first_block, stop_block)
    raises — out-of-envelope bundles via the metadata-only staged-tree
    audit, unaligned-edge slivers via a pushed-down pre-pass that scans
    only the edge bundles (and is skipped entirely when both boundaries
    are bundle-aligned).  Any entity dir the mover would not glob raises,
    and the staged tree is deleted only once provably empty.  Callers
    that legitimately resume mid-chain (run_ingest) filter the pre-start
    blocks themselves first.
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
    # staged-tree audit below is bundle-granular: any row whose ALIGNED
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
    mapping = F.create_map(
        *[F.lit(x) for kv in sorted(norm_map.items()) for x in kv]
    ).cast("map<string,string>")
    staged = os.path.join(dest_dir, "_staged_demux")
    (
        raw.select(
            mapping[ent].alias("entity"),
            bundle_start_col(F.col("block_num"), bundle_size).alias("bundle_start"),
            F.col("block_num"),
            F.col("seq"),
            F.col("value").alias("line"),
        )
        .repartition("entity", "bundle_start")
        .sortWithinPartitions("entity", "bundle_start", "block_num", "seq")
        .select("entity", "bundle_start", "line")
        .write.mode("overwrite")
        .partitionBy("entity", "bundle_start")
        .text(staged, lineSep="\n")
    )

    bounds = boundaries(first_block, stop_block, bundle_size)
    # Fail-fast audit of the staged partition tree (metadata-only, no data
    # pass): every entity dir must be one we will glob for, and every
    # bundle_start must fall inside [first_block, stop_block) — otherwise
    # the move loop below would never visit those rows and the final
    # rmtree would silently drop them (data loss, not a degraded run).
    expected_dirs = {
        f"entity={urllib.parse.quote(s, safe='')}" for s in entities
    }
    valid_starts = {s for s, _ in bounds}
    for ent_dir_path in glob.glob(os.path.join(staged, "entity=*")):
        ent_d = os.path.basename(ent_dir_path)
        if ent_d not in expected_dirs:
            raise ValueError(
                f"demux staged unexpected entity dir {ent_d!r} (escaping "
                f"mismatch vs {sorted(expected_dirs)}); rows would be "
                "dropped with the staged tree"
            )
        for bs_path in glob.glob(os.path.join(ent_dir_path, "bundle_start=*")):
            bs = int(os.path.basename(bs_path).split("=", 1)[1])
            if bs not in valid_starts:
                raise ValueError(
                    f"demux staged rows at {bs_path!r} outside block range "
                    f"[{first_block}, {stop_block}); refusing to drop them"
                )
    out: dict[str, list[str]] = {}
    for snake in sorted(entities):
        dest = os.path.join(dest_dir, snake)
        os.makedirs(dest, exist_ok=True)
        ent_dir = os.path.join(staged, f"entity={urllib.parse.quote(snake, safe='')}")
        files: list[str] = []
        for s, e in bounds:
            parts = sorted(
                glob.glob(os.path.join(ent_dir, f"bundle_start={s}", "part-*"))
            )
            target = os.path.join(dest, bundle_filename(s, e, "jsonl"))
            if len(parts) == 1:
                shutil.move(parts[0], target)
            elif not parts:  # empty (or never-emitted entity): empty file
                open(target, "wb").close()
            else:  # defensive: concatenate (shouldn't happen post-repartition)
                with open(target, "wb") as outfh:
                    for p in parts:
                        with open(p, "rb") as fh:
                            shutil.copyfileobj(fh, outfh)
                        # consumed: the leftover audit below must not see it
                        os.remove(p)
            files.append(target)
        out[snake] = files
    # Belt-and-braces: nothing with bytes in it may remain before teardown
    # (the audit above should make this unreachable; keep it so any future
    # staging-layout drift fails loudly instead of deleting rows).
    leftover = [
        p
        for p in glob.glob(
            os.path.join(staged, "**", "part-*"), recursive=True
        )
        if os.path.getsize(p) > 0
    ]
    if leftover:
        raise RuntimeError(
            f"demux staged files unclaimed by any bundle: {leftover[:5]}"
        )
    shutil.rmtree(staged, ignore_errors=True)
    return out


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
    both see only blocks at or after it.  Only the POI fold
    (:func:`operators.poi.poi_tocsv`, with ``chain_id``) starts Python
    workers.
    """
    from ..operators.poi import discover_runs

    workdir = workdir or os.path.join(dest_dir, "_work_ingest")
    ingest = WireIngest(spark, workdir, stop_block)
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
