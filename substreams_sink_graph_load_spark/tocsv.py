"""End-to-end batch pipeline: JSONL change-log -> bundled graph-node CSV.

Spark-native equivalent of the reference's ``graphload tocsv`` command
(ref cmd/substreams-sink-graph-load/tocsv.go:42-85 + csvprocessor/) — but
instead of a single-threaded state-machine per entity, the whole thing is one
declarative DataFrame DAG:

    read text -> from_json -> typed extract -> SCD-2 window -> CSV render
    -> bundled write

Shuffle budget: exactly two exchanges — one hash(id) for the version window,
one hash(bundle_start) for file assembly.  Both are necessary at 100 TB (the
reference's zero-shuffle design caps at one machine / one entity per
process); everything between them is whole-stage codegen.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema.entities import EntityDesc, parse_schema_file
from .sources.jsonl import check_contiguity, read_change_jsonl, typed_extract
from .operators.scd2 import immutable_rows, scd2_versions
from .operators.pg_csv import csv_header, render_entity_csv
from .operators.bundles import bundle_start_col, write_bundled_csv


def tocsv(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    entity: str,
    schema_file: str,
    stop_block: int,
    bundle_size: int = 1000,
    strict: bool = False,
) -> list[str]:
    """Transform one entity's JSONL change-log into bundled CSV files.

    Mirrors the reference CLI contract: reads ``<src>/<entity>/*.jsonl``,
    writes ``<dest>/<entity>/NNNNNNNNNN-NNNNNNNNNN.csv``.

    ``strict=True`` reproduces the reference's fatal paths: any
    create-on-live / delete-unseen sequence or missing non-nullable field
    raises before anything is written (costs one extra validation pass).
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
    files = check_contiguity(all_files, stop_block, require_coverage=True)
    raw = read_change_jsonl(spark, files)
    if strict:
        # a line that fails from_json yields a null block_num; the loose
        # path would silently drop it at the stop filter below, but the
        # reference fails on any unparseable line (processor.go:205-214)
        corrupt = raw.where(F.col("block_num").isNull()).limit(1).collect()
        if corrupt:
            raise ValueError(
                f"unparseable JSONL line in {corrupt[0]['_file']} "
                f"(line {corrupt[0]['_line_no']})"
            )
    raw = raw.where(F.col("block_num") < stop_block)

    typed = typed_extract(raw, desc, originals=list(desc.fields))
    if strict:
        _raise_on_violations(typed, desc)
    versions = build_versions(
        typed, desc, bundle_size,
        last_block=last_event_block(spark, files, stop_block),
    )

    rendered = render_entity_csv(versions, desc, strict=strict)
    dest = os.path.join(dest_dir, entity)
    os.makedirs(dest, exist_ok=True)
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


def _raise_on_violations(typed: DataFrame, desc: EntityDesc) -> None:
    from .operators.scd2 import validate_changes, validate_ops

    not_null = [
        f.name for f in desc.ordered_fields()
        if f.name != "id" and not f.nullable
    ]
    bad_fields = validate_changes(typed, not_null).limit(5).collect()
    if bad_fields:
        r = bad_fields[0]
        raise ValueError(
            f"field {r['missing_fields']} not found for entity {desc.name} "
            f"id {r['id']} at block {r['block_num']} (+{len(bad_fields) - 1} more)"
        )
    if not desc.immutable:
        bad_ops = validate_ops(typed).limit(5).collect()
        if bad_ops:
            r = bad_ops[0]
            raise ValueError(
                f"{r['issue']} for entity {desc.name} id {r['id']} "
                f"at block {r['block_num']} (+{len(bad_ops) - 1} more)"
            )


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


def last_event_block(
    spark: SparkSession, files: list[str], stop_block: int | None = None
) -> int:
    """Max event block across the bundled files — scanned from the LAST
    non-empty file only (bundles are disjoint ascending block ranges, so
    the global max lives there).  O(one bundle), not a full input scan;
    at 100 TB this is the difference between a metadata nibble and a
    second pass over the dataset."""
    for fn in sorted(files, reverse=True):
        if os.path.getsize(fn) == 0:
            continue
        b = F.get_json_object("value", "$.block_num").cast("long")
        df = spark.read.text(fn).select(b.alias("b"))
        if stop_block is not None:
            df = df.where(F.col("b") < stop_block)
        m = df.agg(F.max("b")).collect()[0][0]
        if m is not None:
            return int(m)
    return 0


def build_versions(
    typed: DataFrame,
    desc: EntityDesc,
    bundle_size: int,
    last_block: int | None = None,
) -> DataFrame:
    """Versioned rows + bundle routing.

    A version row is written while processing its *closing* event (UPDATE/
    DELETE supersede, FINAL flush), so it belongs to the closing block's
    bundle; end-of-log flush rows land in the last processed block's bundle
    (ref csvprocessor/processor.go:168-190, Roll-per-line at :192-230).
    """
    if desc.immutable:
        rows = immutable_rows(typed)
        return (
            rows.withColumn("bundle_start", bundle_start_col(F.col("block$"), bundle_size))
            .withColumn("_order_block", F.col("block$"))
            .withColumn("_order_seq", F.lit(0).cast("long"))
        )

    if last_block is None:
        last_block = typed.agg(F.max("block_num")).collect()[0][0] or 0
    versions = scd2_versions(typed)
    emit = F.coalesce(F.col("emit_block"), F.lit(last_block))
    return (
        versions.withColumn("bundle_start", bundle_start_col(emit, bundle_size))
        .withColumn("_order_block", emit)
        .withColumn("_order_seq", F.col("block_range_start"))
        .drop("emit_block")
    )
