"""End-to-end batch pipeline: JSONL change-log -> bundled graph-node CSV.

Spark-native equivalent of the reference's ``graphload tocsv`` command
(ref cmd/substreams-sink-graph-load/tocsv.go:42-85 + csvprocessor/) — but
instead of a single-threaded state-machine per entity, the whole thing is one
declarative DataFrame DAG, and every entity of a command is one union of
such DAGs:

    read text -> from_json -> typed extract -> SCD-2 window -> CSV render
    -> union over entities -> bundled write

The reference's fatal inputs fail that same write job: each check is a
``raise_error`` inside a column every row evaluates (the scan's block
number, the operation the version window reads), so a clean run starts no
extra job and a failing one leaves no bundle of any entity.

Shuffle budget: one hash(id) exchange per mutable entity for its version
window (none for an immutable entity) plus one hash(target, bundle_start)
exchange per command for file assembly.  Both are necessary at 100 TB (the
reference's zero-shuffle design caps at one machine / one entity per
process); everything between them is whole-stage codegen.
The scan adds none: same-block events are ordered by their scan position in
their file (``sources/jsonl.read_change_jsonl``'s ``seq``), and the exact
line number an unparseable-line error names is computed only once that
error has failed the job.
"""

from __future__ import annotations

import functools
import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema.entities import EntityDesc, parse_schema_file
from .session import user_errors
from .sources.jsonl import (
    check_contiguity, line_number, read_change_jsonl, read_lines, typed_extract,
)
from .operators.scd2 import (
    fold_versions, immutable_fatal, immutable_rows, lifetimes, mutable_fatal,
    raise_on,
)
from .operators.pg_csv import csv_header, render_entity_csv
from .operators import bundles
from .operators.bundles import bundle_start_col


_UNPARSEABLE = "unparseable JSONL line at"


def tocsv(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    entity: str,
    schema_file: str,
    stop_block: int,
    bundle_size: int = 1000,
) -> list[str]:
    """Transform one entity's JSONL change-log into bundled CSV files:
    :func:`tocsv_all`'s plan over one entity.

    Mirrors the reference CLI contract: reads ``<src>/<entity>/*.jsonl``,
    writes ``<dest>/<entity>/NNNNNNNNNN-NNNNNNNNNN.csv``.
    """
    descs = parse_schema_file(schema_file)
    if entity not in descs:
        raise ValueError(f"cannot find entity {entity!r} in schema {schema_file!r}")
    return _write_entities(
        spark, src_dir, dest_dir, {entity: descs[entity]}, stop_block, bundle_size
    )[entity]


def tocsv_all(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    schema_file: str,
    stop_block: int,
    bundle_size: int = 1000,
) -> dict[str, list[str]]:
    """Every schema entity with a directory under ``src_dir``, in one plan.

    The reference parallelizes tocsv by launching one OS process per entity
    (README.md:42-45); here every entity's rows are one union, written by
    one job, so the jobs started do not grow with the entity count: one
    :func:`last_event_block` job and the write.

    Fails like the reference, leaving no bundle of any entity and no
    staged directory: a Float field raises before any job runs; an
    unparseable line (processor.go:205-214), a CREATE on a live id, a
    DELETE on an unseen id or on an immutable entity, or a lifetime
    starter missing a non-nullable field (processor.go:238-293) fails the
    write job itself, naming the file and line or the entity, id and
    block.
    """
    descs = parse_schema_file(schema_file)
    return _write_entities(
        spark, src_dir, dest_dir,
        # schema may declare entities the stream never emitted
        {e: d for e, d in sorted(descs.items())
         if os.path.isdir(os.path.join(src_dir, e))},
        stop_block, bundle_size,
    )


def _write_entities(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    descs: dict[str, EntityDesc],
    stop_block: int,
    bundle_size: int,
) -> dict[str, list[str]]:
    """The tocsv plan: each entity's typed extract, SCD-2 window and CSV
    render, unioned and written in one job to ``<dest>/<entity>/``."""
    if stop_block <= 0:
        raise ValueError("stop_block must be > 0")
    if not descs:
        return {}
    files = {}
    for entity in descs:
        listed = sorted(glob.glob(os.path.join(src_dir, entity, "*.jsonl")))
        if not listed:
            raise ValueError(f"cannot find any entity file under {src_dir}/{entity}")
        # coverage is mandatory like the reference (processor.go:145-146): an
        # input listing short of stop_block errors instead of silently
        # emitting end-of-log flush rows the reference would never write
        files[entity] = check_contiguity(listed, stop_block)
    # a Float field raises here, before any job runs
    rendered = [
        render_entity_csv(
            build_versions(_typed(spark, files[e], d, stop_block, i), d, bundle_size), d
        )
        for i, (e, d) in enumerate(descs.items())
    ]
    last = last_event_block(
        spark, {e: files[e] for e, d in descs.items() if not d.immutable}, stop_block
    )
    parts = []
    for i, (entity, df) in enumerate(zip(descs, rendered)):
        if entity in last:
            # end-of-log flush rows go to the last event's bundle
            emit = F.coalesce(F.col("emit_block"), F.lit(last[entity]))
            df = df.withColumn(
                "bundle_start", bundle_start_col(emit, bundle_size)
            ).withColumn("_order_block", emit)
        parts.append(df.select(
            F.lit(i).alias("target"), "bundle_start", "_order_block", "_order_seq", "line"
        ))
    try:
        with user_errors():
            written = bundles.write_bundled_lines(
                spark,
                functools.reduce(DataFrame.unionByName, parts),
                [os.path.join(dest_dir, e) for e in descs],
                [csv_header(d) for d in descs.values()],
                first_block=0,
                stop_block=stop_block,
                bundle_size=bundle_size,
                order_cols=["_order_block", "_order_seq"],
            )
    except ValueError as e:
        if not str(e).startswith(_UNPARSEABLE):
            raise
        # the writer has removed the aborted job's staged tree
        target, bstart, mid, path = str(e)[len(_UNPARSEABLE) + 1:].split(" ", 3)
        lines = read_lines(spark, list(files.values())[int(target)])
        at = (
            (F.col("_file") == path)
            & (F.col("_bstart") == int(bstart))
            & (F.col("_mid") == int(mid))
        )
        n = lines.where(at).select(line_number(lines)).first()[0]
        raise ValueError(f"unparseable JSONL line in {path} (line {n})") from e
    per = len(written) // len(descs)
    return {e: written[i * per:(i + 1) * per] for i, e in enumerate(descs)}


def _typed(
    spark: SparkSession, files: list[str], desc: EntityDesc, stop_block: int, target: int
) -> DataFrame:
    """One entity's change rows below ``stop_block``, one typed column per
    field.  A line that fails from_json has a NULL block_num: the job
    fails on it before the stop filter could drop it, naming the line by
    its target and scan position; :func:`_write_entities` turns that into
    its number."""
    unparseable = F.raise_error(F.concat_ws(
        " ", F.lit(f"{_UNPARSEABLE} {target}"), "_bstart", "_mid", "_file",
    ))
    raw = read_change_jsonl(spark, files).withColumn(
        "block_num", F.coalesce(F.col("block_num"), unparseable)
    ).where(F.col("block_num") < stop_block)
    return typed_extract(raw, desc, originals=list(desc.fields))


def last_event_block(
    spark: SparkSession, files: dict[str, list[str]], stop_block: int
) -> dict[str, int]:
    """Each entity's max event block below ``stop_block``, read from its
    LAST non-empty bundle file only (bundles are disjoint ascending block
    ranges, so the max lives there): one small job over every entity's
    last file.  An entity whose last file holds no such block moves on to
    its previous file in a further job; one with none left gets 0."""
    pending = {
        e: [f for f in sorted(fs, reverse=True) if os.path.getsize(f) > 0]
        for e, fs in files.items()
    }
    out = {e: 0 for e in files}
    while any(pending.values()):
        now = [(e, fs.pop(0)) for e, fs in pending.items() if fs]
        b = F.get_json_object("value", "$.block_num").cast("long")
        scans = [
            spark.read.text(fn).select(F.lit(e).alias("e"), b.alias("b"))
            for e, fn in now
        ]
        union = functools.reduce(DataFrame.unionByName, scans)
        found = union.where(F.col("b") < stop_block).groupBy("e").agg(F.max("b")).collect()
        for e, m in found:
            out[e] = m
            pending[e] = []
    return out


def build_versions(
    typed: DataFrame, desc: EntityDesc, bundle_size: int
) -> DataFrame:
    """Versioned rows, each change checked for the reference's fatal inputs
    (:func:`~.operators.scd2.raise_on`), with the routing each row decides
    alone.

    An immutable row goes to its own block's bundle.  A mutable version
    row is written while processing its *closing* event (UPDATE/DELETE
    supersede, FINAL flush), so it belongs to the closing block's bundle
    (``emit_block``); end-of-log flush rows (NULL ``emit_block``) land in
    the last processed block's bundle, which only a scan can tell (ref
    csvprocessor/processor.go:168-190, Roll-per-line at :192-230).
    """
    not_null = [
        f.name for f in desc.ordered_fields() if f.name != "id" and not f.nullable
    ]
    if desc.immutable:
        rows = immutable_rows(raise_on(typed, immutable_fatal(desc.name, not_null)))
        return (
            rows.withColumn("bundle_start", bundle_start_col(F.col("block$"), bundle_size))
            .withColumn("_order_block", F.col("block$"))
            .withColumn("_order_seq", F.lit(0).cast("long"))
        )
    lived = lifetimes(typed)
    return fold_versions(
        raise_on(lived, mutable_fatal(desc.name, not_null))
    ).withColumn("_order_seq", F.col("block_range_start"))
