"""Postgres CSV rendering parity, incl. the reference's golden bytea vector
(ref csvprocessor/writer_test.go:10-21)."""

from pyspark.sql import functions as F

from substreams_sink_graph_load_spark.operators.pg_csv import (
    bytea_hex,
    csv_quote,
    pg_array,
    pg_block_range,
    render_entity_csv,
    csv_header,
)
from substreams_sink_graph_load_spark.schema import parse_schema

GOLDEN_B64 = "hFgqh8ZmyJrv2UhHF3t/r0l20y8PBf2mK+yFdQAAAAA="
GOLDEN_HEX = r"\x84582a87c666c89aefd94847177b7faf4976d32f0f05fda62bec857500000000"


def one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_bytea_golden(spark):
    got = one(spark, bytea_hex(F.unbase64(F.lit(GOLDEN_B64))))
    assert got == GOLDEN_HEX


def test_block_range(spark):
    assert one(spark, pg_block_range(F.lit(3), F.lit(7))) == "[3,7)"
    assert one(spark, pg_block_range(F.lit(3), F.lit(None).cast("long"))) == "[3,)"


def test_array_escaping(spark):
    col = pg_array(F.array(F.lit("a,b"), F.lit("c\\d"), F.lit("plain")), lambda e: e)
    assert one(spark, col) == r"{a\,b,c\\d,plain}"


def test_csv_quote(spark):
    assert one(spark, csv_quote(F.lit("a,b"))) == '"a,b"'
    assert one(spark, csv_quote(F.lit('say "hi"'))) == '"say ""hi"""'
    assert one(spark, csv_quote(F.lit("plain"))) == "plain"
    assert one(spark, csv_quote(F.lit(""))) == ""
    assert one(spark, csv_quote(F.lit(" lead"))) == '" lead"'


SDL = """
type Account @entity {
  id: ID!
  name: String!
  balance: BigInt!
  rate: BigDecimal
  active: Boolean!
  txCount: Int!
  payload: Bytes
  tags: [String!]
}
"""


def test_render_entity_csv(spark):
    desc = parse_schema(SDL)["account"]
    df = spark.createDataFrame(
        [
            ("a1", 5, 9, True, "100", "x", None, None, 7),
            ("a2", 3, None, False, None, "nul\x00str", b"\xde\xad", ["t,1", "t2"], None),
        ],
        "id string, block_range_start long, block_range_end long, active boolean,"
        "balance string, name string, payload binary, tags array<string>, tx_count int",
    )
    out = {r["line"] for r in render_entity_csv(df, desc).collect()}
    # columns: id, block_range, active, balance, name, payload, rate, tags, tx_count
    assert out == {
        # nullable absent -> NULL; non-nullable absent -> type default.
        # tags is [String!]: array nullability comes from the ELEMENT type
        # (entities.go:189-195), so absent renders "" not NULL.
        'a1,"[5,9)",true,100,x,NULL,NULL,,7',
        # NUL stripped from name; bytea hex; array with escaped comma;
        # non-nullable balance absent -> "0"; tx_count absent -> "0"
        r'a2,"[3,)",false,0,nulstr,\xdead,NULL,"{t\,1,t2}",0',
    }
    assert csv_header(desc) == "id,block_range,active,balance,name,payload,rate,tags,tx_count"


def test_csv_quote_unicode_whitespace(spark):
    """Go encoding/csv quotes on a leading unicode.IsSpace rune (not just
    ASCII \\s): NBSP / LINE SEPARATOR / IDEOGRAPHIC SPACE all quote."""
    for ch in (" ", " ", "　", " "):
        assert one(spark, csv_quote(F.lit(ch + "x"))) == '"' + ch + 'x"'
    # non-space leading unicode stays unquoted
    assert one(spark, csv_quote(F.lit("éx"))) == "éx"


def test_float_is_fatal(spark):
    """The reference CSV writer has no Float branch (writer.go:285-296
    commented out -> default panic at :308-310): rendering raises before
    any job runs."""
    import pytest

    sdl = "type F @entity { id: ID!\n ratio: Float! }"
    desc = parse_schema(sdl)["f"]
    df = spark.createDataFrame(
        [("f1", 5, None, 0.5)],
        "id string, block_range_start long, block_range_end long, ratio double",
    )
    with pytest.raises(ValueError, match="invalid field type: 'Float'"):
        render_entity_csv(df, desc)
