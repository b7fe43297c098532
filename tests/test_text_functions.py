"""Text-analysis expression semantics (functions/text.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from substreams_sink_graph_load_spark.functions.text import (
    quality_score_ppm,
    rolling_fingerprint,
    token_split,
    word_shingles,
)


@pytest.fixture(scope="module")
def one(spark):
    def run(text, expr):
        df = spark.createDataFrame([(text,)], "text string")
        return df.select(expr.alias("v")).collect()[0]["v"]

    return run


def test_word_shingles(one):
    assert sorted(one("a b c d", word_shingles(F.col("text"), 2))) == [
        "a b", "b c", "c d",
    ]
    # distinct: repeated grams collapse
    assert one("x y x y x y", word_shingles(F.col("text"), 2)) == ["x y", "y x"]
    # shorter than k: whole text is the single shingle
    assert one("solo", word_shingles(F.col("text"), 3)) == ["solo"]


def test_token_split(one):
    assert one("ab 12 c!d", token_split(F.col("text"))) == [
        "ab", "12", "c", "!", "d",
    ]


def test_rolling_fingerprint_order_sensitive(one):
    fp = lambda t: one(t, rolling_fingerprint(F.col("text")))
    assert fp("a b c") == fp("a b c")
    assert fp("a b c") != fp("c b a")  # order matters (vs MinHash)
    assert 0 <= fp("anything at all") < (1 << 31)


def test_quality_score_bounds(one):
    q = lambda t: one(t, quality_score_ppm(F.col("text"), ["data", "row"]))
    assert 0 <= q("data row data row") <= 1_000_000
    assert q("data row unique words here") > q("!!! ??? !!! ???")


def test_exploded_shingles_match_word_shingles(spark):
    """The codegen (posexplode+lead) shingle path must produce exactly the
    word_shingles() set per doc — including the whole-text fallback for
    docs shorter than k — and the no-fallback mode must drop them."""
    import random

    from pyspark.sql import functions as F

    from substreams_sink_graph_load_spark.functions.text import (
        exploded_shingles,
        word_shingles,
    )

    rng = random.Random(13)
    vocab = ["a", "bb", "ccc", "dd", "e"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 9))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k in (2, 3, 8):
        got = {
            (r["doc_id"], r["gram"])
            for r in exploded_shingles(df, "doc_id", "text", k)
            .distinct()
            .collect()
        }
        want = {
            (r["doc_id"], g)
            for r in df.select(
                "doc_id", word_shingles(F.col("text"), k).alias("sh")
            ).collect()
            for g in r["sh"]
        }
        assert got == want, k
    # no-fallback: docs with < k words vanish
    k = 4
    short_ids = {i for i, t in rows if len(t.split(" ")) < k}
    kept = {
        r["doc_id"]
        for r in exploded_shingles(
            df, "doc_id", "text", k, short_doc_fallback=False
        ).collect()
    }
    assert kept.isdisjoint(short_ids)
