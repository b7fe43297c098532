"""SCD-2 window composition vs hand-computed reference semantics
(ref csvprocessor/processor.go:237-307)."""

from pyspark.sql import functions as F

from substreams_sink_graph_load_spark.operators.scd2 import scd2_versions, immutable_rows

SCHEMA = "id string, block_num long, seq long, operation int, name string, balance string"

EVENTS = [
    # id a: create, two same-block updates (zero-width range), delete, re-create
    ("a", 1, 1, 1, "x", "1"),
    ("a", 5, 10, 2, None, "2"),
    ("a", 5, 11, 2, "y", None),
    ("a", 9, 20, 3, None, None),
    ("a", 12, 30, 1, "z", "9"),
    # id b: create then FINAL (fields of FINAL ignored, range stays open)
    ("b", 2, 2, 1, "p", "5"),
    ("b", 7, 15, 4, "IGNORED", "666"),
    # id c: create, end-of-log flush
    ("c", 3, 3, 1, "q", "7"),
]


def rows_set(df):
    return {
        (r["id"], r["block_range_start"], r["block_range_end"], r["name"], r["balance"])
        for r in df.collect()
    }


def test_scd2_versions(spark):
    changes = spark.createDataFrame(EVENTS, SCHEMA)
    out = scd2_versions(changes)
    assert rows_set(out) == {
        ("a", 1, 5, "x", "1"),     # closed by first update
        ("a", 5, 5, "x", "2"),     # zero-width [5,5): same-block second update
        ("a", 5, 9, "y", "2"),     # overlay: name from seq11, balance from seq10
        ("a", 12, None, "z", "9"),  # new lifetime after DELETE; open at end-of-log
        ("b", 2, None, "p", "5"),   # FINAL leaves range open, ignores own fields
        ("c", 3, None, "q", "7"),   # end-of-log flush
    }
    # DELETE and FINAL events emit no row of their own
    assert out.count() == 6


def test_scd2_no_leak_across_lifetimes(spark):
    # after DELETE, a re-created id must NOT inherit old field values
    events = [
        ("a", 1, 1, 1, "x", "1"),
        ("a", 2, 2, 3, None, None),           # delete
        ("a", 3, 3, 2, None, "42"),           # update-unseen == create; name unset
    ]
    changes = spark.createDataFrame(events, SCHEMA)
    out = scd2_versions(changes)
    assert rows_set(out) == {
        ("a", 1, 2, "x", "1"),
        ("a", 3, None, None, "42"),  # name must be NULL, not "x"
    }


def test_scd2_emit_block(spark):
    changes = spark.createDataFrame(EVENTS, SCHEMA)
    out = scd2_versions(changes)
    emit = {
        (r["id"], r["block_range_start"], r["emit_block"]) for r in out.collect()
    }
    # closed rows emit at the closing event's block; FINAL rows at the FINAL
    # block; end-of-log flush rows have NULL (caller routes to last bundle)
    assert ("a", 1, 5) in emit
    assert ("a", 5, 9) in emit
    assert ("b", 2, 7) in emit
    assert ("c", 3, None) in emit


def test_immutable_rows(spark):
    events = [
        ("t1", 100, 1, 1, "m", "1"),
        ("t2", 150, 2, 2, "n", "2"),   # tolerated UPDATE on immutable -> emit
        ("t3", 200, 3, 4, "o", "3"),   # FINAL ignored for immutable
    ]
    changes = spark.createDataFrame(events, SCHEMA)
    out = immutable_rows(changes)
    got = {(r["id"], r["block$"], r["name"]) for r in out.collect()}
    assert got == {("t1", 100, "m"), ("t2", 150, "n")}


def test_scd2_single_shuffle_plan(spark):
    """Scale guard: the whole operator must cost exactly ONE exchange."""
    changes = spark.createDataFrame(EVENTS, SCHEMA)
    plan = scd2_versions(changes)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_state_at_block_unique_per_id(spark):
    """Containment read: at most one version per id; values as-of block."""
    from substreams_sink_graph_load_spark.operators.scd2 import (
        scd2_versions,
        state_at_block,
    )

    events = [
        ("a", 1, 0, 1, "v1"), ("a", 5, 1, 2, "v2"), ("a", 9, 2, 3, None),
        ("b", 2, 3, 1, "w1"),
    ]
    df = spark.createDataFrame(
        events, "id string, block_num long, seq long, operation int, f string"
    )
    versions = scd2_versions(df, field_cols=["f"])
    at7 = {r["id"]: r for r in state_at_block(versions, 7).collect()}
    assert at7["a"]["f"] == "v2" and at7["b"]["f"] == "w1"
    at1 = {r["id"]: r for r in state_at_block(versions, 1).collect()}
    assert at1["a"]["f"] == "v1" and "b" not in at1
    # after a's delete at block 9: only b remains
    at9 = {r["id"]: r for r in state_at_block(versions, 9).collect()}
    assert set(at9) == {"b"}
    for b in (1, 7, 9):
        counts = (
            state_at_block(versions, b).groupBy("id").count().collect()
        )
        assert all(r["count"] == 1 for r in counts)


def test_validate_ops(spark):
    """Fatal-in-the-reference sequences surface as a report
    (processor.go:238-241, 288-293)."""
    from substreams_sink_graph_load_spark.operators.scd2 import validate_ops

    events = [
        ("a", 1, 0, 1),   # create
        ("a", 2, 1, 1),   # create on live -> violation
        ("a", 3, 2, 3),   # delete (live)
        ("a", 4, 3, 3),   # delete unseen -> violation
        ("a", 5, 4, 1),   # re-create after delete: fine
        ("b", 1, 5, 3),   # delete never-seen -> violation
        ("c", 1, 6, 2),   # update unseen: tolerated-as-create, no violation
        ("c", 2, 7, 1),   # create on live (via tolerated update) -> violation
    ]
    df = spark.createDataFrame(
        events, "id string, block_num long, seq long, operation int"
    )
    got = sorted(
        (r["id"], r["block_num"], r["issue"])
        for r in validate_ops(df).collect()
    )
    assert got == [
        ("a", 2, "create_on_live"),
        ("a", 4, "delete_unseen"),
        ("b", 1, "delete_unseen"),
        ("c", 2, "create_on_live"),
    ]
