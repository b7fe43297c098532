"""End-to-end batch pipeline: JSONL change-log -> bundled graph-node CSV.

Spark-native equivalent of the reference's ``graphload tocsv`` command
(ref cmd/substreams-sink-graph-load/tocsv.go:42-85 + csvprocessor/) — but
instead of a single-threaded state-machine per entity, the whole thing is one
declarative DataFrame DAG:

    read text -> from_json -> typed extract -> SCD-2 window -> CSV render
    -> bundled write

The reference's fatal inputs fail that same write job: each check is a
``raise_error`` inside a column every row evaluates (the scan's block
number, the operation the version window reads), so a clean run starts no
extra job and a failing one leaves no bundle.

Shuffle budget: one hash(id) exchange for the version window (none for an
immutable entity) and one hash(bundle_start) for file assembly.  Both are
necessary at 100 TB (the reference's zero-shuffle design caps at one machine
/ one entity per process); everything between them is whole-stage codegen.
The scan adds none: same-block events are ordered by their scan position in
their file (``sources/jsonl.read_change_jsonl``'s ``seq``), and the exact
line number an unparseable-line error names is computed only once that
error has failed the job.
"""

from __future__ import annotations

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
from .operators.bundles import bundle_start_col, write_bundled_csv


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
    """Transform one entity's JSONL change-log into bundled CSV files.

    Mirrors the reference CLI contract: reads ``<src>/<entity>/*.jsonl``,
    writes ``<dest>/<entity>/NNNNNNNNNN-NNNNNNNNNN.csv``.

    Fails like the reference, leaving no bundle and no ``_staged``
    directory: a Float field raises before any job runs; an unparseable
    line (processor.go:205-214), a CREATE on a live id, a DELETE on an
    unseen id or on an immutable entity, or a lifetime starter missing a
    non-nullable field (processor.go:238-293) fails the write job itself,
    naming the file and line or the entity, id and block.
    """
    if stop_block <= 0:
        raise ValueError("stop_block must be > 0")
    descs = parse_schema_file(schema_file)
    if entity not in descs:
        raise ValueError(f"cannot find entity {entity!r} in schema {schema_file!r}")
    desc = descs[entity]

    import glob as _glob

    all_files = sorted(_glob.glob(os.path.join(src_dir, entity, "*.jsonl")))
    if not all_files:
        raise ValueError(f"cannot find any entity file under {src_dir}/{entity}")
    # coverage is mandatory like the reference (processor.go:145-146): an
    # input listing short of stop_block errors instead of silently emitting
    # end-of-log flush rows the reference would never write
    files = check_contiguity(all_files, stop_block)
    raw = read_change_jsonl(spark, files)
    # a line that fails from_json has a NULL block_num: fail on it before
    # the stop filter could drop it.  The job knows the line only by its
    # scan position; the failure path below turns that into its number.
    unparseable = F.raise_error(F.concat_ws(
        " ", F.lit(_UNPARSEABLE), "_bstart", "_mid", "_file",
    ))
    raw = raw.withColumn(
        "block_num", F.coalesce(F.col("block_num"), unparseable)
    ).where(F.col("block_num") < stop_block)

    typed = typed_extract(raw, desc, originals=list(desc.fields))
    # a Float field raises here, before any job runs
    rendered = render_entity_csv(build_versions(typed, desc, bundle_size), desc)
    if not desc.immutable:
        # end-of-log flush rows go to the last event's bundle
        emit = F.coalesce(
            F.col("emit_block"), F.lit(last_event_block(spark, files, stop_block))
        )
        rendered = rendered.withColumn(
            "bundle_start", bundle_start_col(emit, bundle_size)
        ).withColumn("_order_block", emit)
    dest = os.path.join(dest_dir, entity)
    os.makedirs(dest, exist_ok=True)
    try:
        with user_errors():
            return write_bundled_csv(
                spark,
                rendered,
                dest,
                header=csv_header(desc),
                first_block=0,
                stop_block=stop_block,
                bundle_size=bundle_size,
                order_cols=["_order_block", "_order_seq"],
            )
    except ValueError as e:
        if not str(e).startswith(_UNPARSEABLE):
            raise
        # the aborted write job has removed _staged already
        bstart, mid, path = str(e)[len(_UNPARSEABLE) + 1:].split(" ", 2)
        lines = read_lines(spark, files)
        at = (
            (F.col("_file") == path)
            & (F.col("_bstart") == int(bstart))
            & (F.col("_mid") == int(mid))
        )
        n = lines.where(at).select(line_number(lines)).first()[0]
        raise ValueError(f"unparseable JSONL line in {path} (line {n})") from e


def tocsv_all(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    schema_file: str,
    stop_block: int,
    bundle_size: int = 1000,
) -> dict[str, list[str]]:
    """Every schema entity in one Spark application.

    The reference parallelizes tocsv by launching one OS process per entity
    (README.md:42-45); here entities are concurrent jobs in one shared
    session (Spark job submission is thread-safe) — scheduler slots fill
    across entities during each job's narrow stages and driver-side file
    renames.  At most four entity jobs run at once.
    """
    from concurrent.futures import ThreadPoolExecutor

    entities = [
        e for e in sorted(parse_schema_file(schema_file))
        # schema may declare entities the stream never emitted
        if os.path.isdir(os.path.join(src_dir, e))
    ]

    def one(entity: str) -> tuple[str, list[str]]:
        return entity, tocsv(
            spark, src_dir, dest_dir, entity, schema_file,
            stop_block=stop_block, bundle_size=bundle_size,
        )

    if len(entities) <= 1:
        return dict(one(e) for e in entities)
    with ThreadPoolExecutor(max_workers=min(4, len(entities))) as ex:
        return dict(ex.map(one, entities))


def last_event_block(spark: SparkSession, files: list[str], stop_block: int) -> int:
    """Max event block across the bundled files — scanned from the LAST
    non-empty file only (bundles are disjoint ascending block ranges, so
    the global max lives there).  O(one bundle), not a full input scan;
    at 100 TB this is the difference between a metadata nibble and a
    second pass over the dataset."""
    for fn in sorted(files, reverse=True):
        if os.path.getsize(fn) == 0:
            continue
        b = F.get_json_object("value", "$.block_num").cast("long")
        df = spark.read.text(fn).select(b.alias("b")).where(F.col("b") < stop_block)
        m = df.agg(F.max("b")).collect()[0][0]
        if m is not None:
            return int(m)
    return 0


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
