"""Postgres-CSV rendering expressions (graph-node injection format).

Byte-parity with the reference's CSV writer (ref csvprocessor/writer.go:
142-311) — all built-in column expressions, no Python in the row path:

- bytes  -> ``\\x<lowercase hex>``  (writer.go:217-226; golden
  writer_test.go:10-21)
- arrays -> ``{a,b}`` Postgres literal, per-element ``\\``->``\\\\`` and
  ``,``->``\\,`` escaping (writer.go:188-203); byte arrays hex-rendered
  without escaping (writer.go:193-199)
- absent nullable -> literal ``NULL``; absent non-nullable -> ``""``/``0``/
  ``false`` per type (writer.go:228-311)
- NUL characters stripped from strings (writer.go:213-215)
- int4range -> ``[s,e)`` / ``[s,)`` (csvprocessor/entity.go:23-29)
- CSV quoting per Go encoding/csv minimal-quoting rules

Known reference bug NOT replicated: ``toInt32Array`` produces garbage for
``[Int]`` arrays (writer.go:205-211 indexes the slice with its own values);
we render int arrays correctly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema.entities import EntityDesc, Field, FieldType


def strip_nul(col: Column) -> Column:
    """Remove NUL characters (Postgres rejects them; writer.go:213-215)."""
    return F.regexp_replace(col, "\u0000", "")


def bytea_hex(col: Column) -> Column:
    """BinaryType -> Postgres hex bytea literal ``\\xdeadbeef``."""
    return F.concat(F.lit("\\x"), F.lower(F.hex(col)))


def _escape_array_elem(col: Column) -> Column:
    # \ -> \\ first, then , -> \,  (writer.go:195-197)
    return F.regexp_replace(
        F.regexp_replace(col, r"\\", r"\\\\"), ",", r"\\,"
    )


def pg_array(col: Column, elem_render, escape: bool = True) -> Column:
    """ArrayType -> ``{e1,e2}`` literal.  ``elem_render`` maps an element
    Column to its string form."""
    rendered = F.transform(col, elem_render)
    if escape:
        rendered = F.transform(rendered, _escape_array_elem)
    return F.concat(F.lit("{"), F.array_join(rendered, ","), F.lit("}"))


def pg_block_range(start: Column, end: Column) -> Column:
    """``[s,e)`` with NULL end rendering as the open range ``[s,)``."""
    return F.concat(
        F.lit("["),
        start.cast("string"),
        F.lit(","),
        F.coalesce(end.cast("string"), F.lit("")),
        F.lit(")"),
    )


# Go unicode.IsSpace == the Unicode White_Space runes; Java regex \s is
# ASCII-only, so the class is spelled out to match Go byte-for-byte
# (encoding/csv fieldNeedsQuotes quotes on a leading IsSpace rune).
_GO_WHITESPACE_CLASS = (
    "[\\t\\n\\x0B\\f\\r \\u0085\\u00A0\\u1680\\u2000-\\u200A"
    "\\u2028\\u2029\\u202F\\u205F\\u3000]"
)


def csv_quote(col: Column) -> Column:
    """Go encoding/csv minimal quoting: quote when the field contains
    ``"``, ``,``, CR or LF, starts with whitespace (Go ``unicode.IsSpace``
    — includes non-ASCII spaces like U+00A0), or equals ``\\.``;
    inner quotes doubled.  Empty fields stay unquoted."""
    needs = (
        (col == F.lit(r"\.") )
        | col.rlike('[",\n\r]')
        | col.rlike("^" + _GO_WHITESPACE_CLASS)
    )
    quoted = F.concat(F.lit('"'), F.regexp_replace(col, '"', '""'), F.lit('"'))
    return F.when(col == "", col).when(needs, quoted).otherwise(col)


def _null_default(f: Field) -> str | None:
    """Rendered value for an absent field (writer.go:228-311)."""
    if f.nullable:
        return "NULL"
    return {
        FieldType.ID: "",
        FieldType.STRING: "",
        FieldType.BYTES: "",
        FieldType.BIGINT: "0",
        FieldType.BIGDECIMAL: "0",
        FieldType.INT: "0",
        FieldType.BOOLEAN: "false",
    }[f.type]


def render_field(f: Field, col: Column) -> Column:
    """Render one typed column (engine carrier types) to its CSV string.
    ID, String, BigInt and BigDecimal are carried as strings."""
    t = f.type
    if f.array:
        if t == FieldType.BYTES:
            body = pg_array(col, bytea_hex, escape=False)
        elif t in (FieldType.INT, FieldType.BOOLEAN):
            body = pg_array(col, lambda e: e.cast("string"))
        else:
            body = pg_array(col, strip_nul)
    elif t == FieldType.BYTES:
        body = bytea_hex(col)
    elif t == FieldType.INT:
        body = col.cast("int").cast("string")
    elif t == FieldType.BOOLEAN:
        body = col.cast("string")  # Spark renders true/false like Go %t
    else:
        body = strip_nul(col)
    return F.coalesce(body, F.lit(_null_default(f)))


def render_entity_csv(df: DataFrame, desc: EntityDesc) -> DataFrame:
    """Project a typed versioned DataFrame to a single ``line`` string column
    in the exact graph-node CSV layout: ``id, block_range|block$, <fields
    alphabetical>`` (writer.go:142-156).

    Input columns: ``id`` plus ``block$`` (immutable) or
    ``block_range_start``/``block_range_end`` (mutable) plus typed fields.
    All rendering is JVM-side expressions -> stays in whole-stage codegen.

    A Float field raises here, before any job runs: the reference writer's
    Float case is commented out (writer.go:285-296), so a Float column hits
    its ``default: panic("invalid field type")`` (writer.go:308-310).
    """
    for f in desc.ordered_fields():
        if f.type == FieldType.FLOAT:
            raise ValueError(
                f"invalid field type: 'Float' (field {f.name!r} of entity "
                f"{desc.name!r}) — the reference CSV writer does not "
                "support Float (writer.go:285-296 commented out; "
                "panics at writer.go:308-310)"
            )
    cols: list[Column] = [csv_quote(strip_nul(F.col("id")))]
    if desc.immutable:
        cols.append(F.col("block$").cast("string"))
    else:
        cols.append(
            csv_quote(
                pg_block_range(F.col("block_range_start"), F.col("block_range_end"))
            )
        )
    for f in desc.ordered_fields():
        if f.name == "id":
            continue
        # a column missing from the DataFrame entirely == field never set
        src = (
            F.col(f.name)
            if f.name in df.columns
            else F.lit(None).cast(f.spark_type())
        )
        cols.append(csv_quote(render_field(f, src)))
    keep = [c for c in df.columns if c.startswith("_") or c in ("bundle_start", "emit_block")]
    return df.select(F.concat_ws(",", *cols).alias("line"), *keep)


def csv_header(desc: EntityDesc) -> str:
    return ",".join(desc.csv_columns())
