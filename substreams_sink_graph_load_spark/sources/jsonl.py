"""JSONL change-log scan + typed extraction.

The intermediate wire format (ref bundler/encoder.go:16-25, layout per
csvprocessor/entity.go:126-139) is one JSON object per line:

    {"entity_change": {"entity": "...", "id": "...", "operation": N,
                       "fields": [{"name": "...",
                                   "new_value": {"Typed": {<Key>: <val>}}}]},
     "block_num": N}

where ``<Key>`` is one of ``String_ Int32 Bigint Bigdecimal Bytes Boolean
Float Array`` and Array wraps ``{"value": [{"Typed": {<Key>: <val>}}, ...]}``
(entity.go:87-114).

Spark-first: we give ``from_json`` the complete explicit struct schema (never
inferred — matching the reference, which declares schema in GraphQL), so the
whole decode stays JVM-side.  Event order within a file is the line's scan
position; with the reference's strictly block-ordered bundle files,
``(block_num, seq)`` is a stable total order -> the ``seq`` column SURVEY
§2.3 requires.  ``streaming/ingest.read_wire`` shares the line reader.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema.entities import EntityDesc, Field, FieldType, TYPED_KEY
from ..schema.normalize import normalize_field

_SCALAR_TYPED = T.StructType(
    [
        T.StructField("String_", T.StringType()),
        T.StructField("Int32", T.IntegerType()),
        T.StructField("Bigint", T.StringType()),
        T.StructField("Bigdecimal", T.StringType()),
        T.StructField("Bytes", T.StringType()),  # std base64, decoded at extract
        T.StructField("Boolean", T.BooleanType()),
        T.StructField("Float", T.DoubleType()),
    ]
)

_TYPED = T.StructType(
    list(_SCALAR_TYPED.fields)
    + [
        T.StructField(
            "Array",
            T.StructType(
                [
                    T.StructField(
                        "value",
                        T.ArrayType(
                            T.StructType([T.StructField("Typed", _SCALAR_TYPED)])
                        ),
                    )
                ]
            ),
        )
    ]
)

CHANGE_JSON_SCHEMA = T.StructType(
    [
        T.StructField(
            "entity_change",
            T.StructType(
                [
                    T.StructField("entity", T.StringType()),
                    T.StructField("id", T.StringType()),
                    T.StructField("operation", T.IntegerType()),
                    T.StructField(
                        "fields",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("name", T.StringType()),
                                    T.StructField(
                                        "new_value",
                                        T.StructType(
                                            [T.StructField("Typed", _TYPED)]
                                        ),
                                    ),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        ),
        T.StructField("block_num", T.LongType()),
    ]
)


def _text(spark: SparkSession, path: str | list[str], value: Column) -> DataFrame:
    """``value`` and the line's position in one projection (:func:`read_lines`)."""
    return spark.read.text(path, lineSep="\n").select(
        value,
        F.col("_metadata.file_path").alias("_file"),
        F.col("_metadata.file_block_start").alias("_bstart"),
        F.monotonically_increasing_id().alias("_mid"),
    )


def read_lines(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """The one line reader for the wire and the bundles: ``(value, _file,
    _bstart, _mid)`` rows on the JVM text source.

    It splits on ``\\n`` only, as the reference does, so a CRLF line keeps
    its ``\\r``.  ``_bstart`` is the scan split's file offset and ``_mid``
    the row's ``monotonically_increasing_id``: each split's lines come in
    byte order, so ``(_bstart, _mid)`` orders a file's lines without a sort
    or a shuffle, and :func:`line_number` turns it into the line number.
    """
    return _text(spark, path, F.col("value"))


def line_number(lines: DataFrame) -> Column:
    """The exact 1-based line number of each :func:`read_lines` row in its
    file, blank lines counted.

    A split's ``_mid`` values are consecutive, so one small job collects
    each (file, split)'s line count and first ``_mid``; their per-file
    prefix sums shift ``_mid`` to the line number.  Exact on any frame read
    with the same file listing and split size as ``lines``.
    """
    splits = (
        lines.groupBy("_file", "_bstart")
        .agg(F.count("*").alias("n"), F.min("_mid").alias("mid0"))
        .collect()
    )
    offsets, path, before = [], None, 0
    for r in sorted(splits, key=lambda r: (r["_file"], r["_bstart"])):
        if r["_file"] != path:
            path, before = r["_file"], 0
        offsets += [F.lit(f"{r['_bstart']} {path}"), F.lit(before + 1 - r["mid0"])]
        before += r["n"]
    by_split = F.create_map(*offsets).cast("map<string,bigint>")
    return F.col("_mid") + by_split[F.concat_ws(" ", "_bstart", "_file")]


def read_change_jsonl(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Scan bundled JSONL files into raw change rows.

    ``path`` may contain globs (``<dir>/<entity>/*.jsonl``).  The text
    source is used (not ``spark.read.json``), so JSON inference is avoided
    entirely and each row keeps its :func:`read_lines` position.  ``seq``
    is ``struct(_bstart, _mid)``: it orders events within their file, and
    bundle files are disjoint block ranges, so ``(block_num, seq)`` is the
    log's order.  A line ``from_json`` cannot parse has a NULL
    ``block_num``.

    The full-schema ``from_json`` runs in the projection that computes the
    nondeterministic ``_mid``, so a filter on ``block_num`` stays above it
    instead of being pushed below the parse with a second copy of it.
    """
    j = _text(spark, path, F.from_json("value", CHANGE_JSON_SCHEMA).alias("j"))
    return j.select(
        F.col("j.block_num").alias("block_num"),
        F.col("j.entity_change.entity").alias("entity"),
        F.col("j.entity_change.id").alias("id"),
        F.col("j.entity_change.operation").alias("operation"),
        F.col("j.entity_change.fields").alias("fields"),
        "_file", "_bstart", "_mid",
        F.struct("_bstart", "_mid").alias("seq"),
    )


def _candidates(f: Field, originals: list[str]) -> list[str]:
    """Event field names arrive un-normalized (camelCase).  The reference
    normalizes then matches (entity.go:60-64); we match the schema's
    ORIGINAL spelling (authoritative — snake_case round-trips can't
    reconstruct acronym names like volumeUSD), the normalized form, any
    caller-supplied originals, and the common lowerCamel reconstruction."""
    cands = {f.name}
    if f.original:
        cands.add(f.original)
    cands.update(o for o in originals if normalize_field(o) == f.name)
    # common lowerCamel reconstruction: tx_count -> txCount
    parts = f.name.split("_")
    cands.add(parts[0] + "".join(p.title() for p in parts[1:]))
    return sorted(cands)


def _extract_field(f: Field, originals: list[str]) -> Column:
    """Projection extracting one declared field from the fields array,
    per the declared type's discriminant key (entity.go:66-121)."""
    key = TYPED_KEY[f.type]
    cands = F.array(*[F.lit(c) for c in _candidates(f, originals)])
    entry = F.try_element_at(
        F.filter("fields", lambda x: F.array_contains(cands, x["name"])), F.lit(1)
    )
    if f.array:
        arr = entry["new_value"]["Typed"]["Array"]
        elems = F.transform(arr["value"], lambda e: e["Typed"][key])
        if f.type == FieldType.BYTES:
            elems = F.transform(elems, F.unbase64)
        # absent "value" key on a present Array field -> empty array
        # (entity.go:98-101)
        value = F.when(arr.isNotNull(), F.coalesce(elems, F.array()))
    else:
        v = entry["new_value"]["Typed"][key]
        value = F.unbase64(v) if f.type == FieldType.BYTES else v
    return value.alias(f.name)


def typed_extract(
    changes: DataFrame,
    desc: EntityDesc,
    originals: list[str] | None = None,
) -> DataFrame:
    """Flatten raw change rows into one typed column per declared field.

    NULL column == field absent from the event (drives the SCD-2 overlay).
    """
    originals = originals or []
    fields = [f for f in desc.ordered_fields() if f.name != "id"]
    return changes.select(
        "block_num",
        "seq",
        "id",
        "operation",
        *[_extract_field(f, originals) for f in fields],
    )


def check_contiguity(filenames: list[str], stop_block: int) -> list[str]:
    """Contiguity check over the bundle *file listing* (empty bundle files
    count): each file must start at the previous file's end + 1; files
    starting at/after the stop block are cut off (ref csvprocessor/
    processor.go:109-152).  Returns the files to load, in block order.

    The listing must reach ``stop_block``: the reference errors out when
    the input falls short (processor.go:145-146 ``entities do not cover
    the full range``) — its end-of-log flush guard (processor.go:168) is
    therefore only ever reached with full coverage, so flush rows never
    materialize for a truncated input there.

    Driver-side on purpose — it's a metadata walk, exactly like the
    reference's ``inputStore.Walk``; O(#files), no data touched.
    """
    ranged = []
    for fn in filenames:
        m = re.search(r"(\d{10})-(\d{10})", os.path.basename(fn))
        if not m:
            raise ValueError(f"fail reading block range in {fn!r}")
        ranged.append((int(m.group(1)), int(m.group(2)), fn))
    ranged.sort()
    out, prev_end = [], None
    for start, end, fn in ranged:
        if start >= stop_block:
            break
        if prev_end is not None and start != prev_end + 1:
            raise ValueError(
                f"broken file contiguity at {fn!r} (previous range end was {prev_end})"
            )
        prev_end = end
        out.append(fn)
    covered_to = -1 if prev_end is None else prev_end
    if covered_to + 1 < stop_block:
        first = out[0] if out else "<none>"
        raise ValueError(
            f"entities do not cover the full range ({first!r} -> "
            f"{covered_to + 1}), stop block: {stop_block}"
        )
    return out
