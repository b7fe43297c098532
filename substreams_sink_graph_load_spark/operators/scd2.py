"""Change-log -> interval-versioned table (SCD Type 2).

This is the reference's core "query" (ref csvprocessor/processor.go:237-307):
an ordered fold over ``(block_num, op, fields)`` events keyed by ``id`` with
an in-memory state map.  Semantics reproduced here:

- CREATE (1): starts a version at its block.
- UPDATE (2): closes the previous version at its block (``[prev_start, b)``)
  and starts a new one with new fields overlaid on old ("last non-null value
  per field"); an UPDATE on an unseen id is tolerated as a CREATE
  (processor.go:267-275).
- DELETE (3): closes the previous version at its block, emits nothing of its
  own; the id may later be re-created (a new "lifetime").
- FINAL (4): emits the current state with an **open** range ``[start,)`` and
  evicts the id — the FINAL event's own fields are ignored (processor.go:
  298-306 writes ``prev`` without merging).
- End-of-log: every still-live id flushes with an open range
  (processor.go:168-177).

Zero-width ranges ``[n,n)`` from same-block CREATE->UPDATE are kept
(graph-node compatible, ref csvprocessor/entity.go:23-29).

The sequences the reference stops on (CREATE on a live id, DELETE on an
unseen id or on an immutable entity, a lifetime starter missing a
non-nullable field) are folded the tolerant way here; :func:`lifetimes`
annotates each change so that :func:`validate_ops` can report them and
tocsv can fail on them (:func:`raise_on`) in the same id window.

Spark-first design — ONE shuffle (hash by ``id``), no Python in the hot
path.  The naive formulation needs a second window partitioned by
``(id, lifetime)`` (and hence a second exchange) for the field overlay after
delete/re-create; we avoid it with a struct-max trick over the single
id-window:

    m_f = max( struct(lifetime, row_idx, value) if value set else NULL )
          over (partition by id order by block_num, seq rows unbounded
                preceding .. current)
    overlay_f = m_f.value if m_f.lifetime == lifetime else NULL

``max`` ignores NULLs and struct comparison is lexicographic, so ``m_f`` is
the most recent set value for the field — and carrying ``lifetime`` in the
struct lets us reject values that leaked from a previous lifetime of a
re-created id.  At 100 TB this matters: the plan is Scan -> Exchange(id) ->
Sort -> Window -> Filter, fully whole-stage-codegen'd.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

OP_CREATE = 1
OP_UPDATE = 2
OP_DELETE = 3
OP_FINAL = 4

META_COLS = ("id", "block_num", "seq", "operation", "_lifetime", "_live")


def _w() -> Window:
    return Window.partitionBy("id").orderBy("block_num", "seq")


def lifetimes(changes: DataFrame) -> DataFrame:
    """Annotate each change with its lifetime and liveness.

    ``_lifetime`` is the number of terminators (DELETE/FINAL) strictly
    before the change; it partitions an id's history into independent
    re-creations.  ``_live`` is true when a starter (CREATE/UPDATE) came
    earlier in the same lifetime, i.e. the reference's state map holds the
    id when the change arrives (processor.go:235).  One id window, the one
    :func:`fold_versions` runs on.
    """
    op = F.col("operation")
    w_prev = _w().rowsBetween(Window.unboundedPreceding, -1)
    lifetime = F.coalesce(
        F.sum(F.when(op.isin(OP_DELETE, OP_FINAL), F.lit(1))).over(w_prev),
        F.lit(0),
    )
    # live iff the latest starter or terminator before this row is a
    # starter; reads no other window result, so both share one operator
    last = F.last(
        F.when(op.between(OP_CREATE, OP_FINAL), op), ignorenulls=True
    ).over(w_prev)
    return changes.withColumn("_lifetime", lifetime).withColumn(
        "_live", F.coalesce(last.isin(OP_CREATE, OP_UPDATE), F.lit(False))
    )


def scd2_versions(
    changes: DataFrame, field_cols: Sequence[str] | None = None
) -> DataFrame:
    """Fold a change-log DataFrame into versioned rows.

    ``changes`` columns: id, block_num, seq (arrival order within/across
    blocks), operation (1..4), plus one column per entity field where NULL
    means "field absent from this event".

    Returns one row per emitted version with ``block_range_start`` /
    ``block_range_end`` (NULL end == open range ``[start,)``) and the
    overlaid field values.
    """
    return fold_versions(lifetimes(changes), field_cols)


def fold_versions(
    lived: DataFrame, field_cols: Sequence[str] | None = None
) -> DataFrame:
    """:func:`scd2_versions` over changes already annotated by
    :func:`lifetimes` (tocsv checks them in between)."""
    if field_cols is None:
        field_cols = [c for c in lived.columns if c not in META_COLS]

    op = F.col("operation")
    w = _w()
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    is_starter = op.isin(OP_CREATE, OP_UPDATE)
    df = (
        lived.withColumn("_idx", F.row_number().over(w))
        .withColumn("_next_op", F.lead("operation").over(w))
        .withColumn("_next_block", F.lead("block_num").over(w))
    )

    # Field overlay: most recent set value within the same lifetime.  FINAL
    # events never contribute values (the reference ignores their fields).
    overlays = []
    for f in field_cols:
        tagged = F.when(
            is_starter & F.col(f).isNotNull(),
            F.struct(
                F.col("_lifetime").alias("lt"),
                F.col("_idx").alias("idx"),
                F.col(f).alias("v"),
            ),
        )
        m = F.max(tagged).over(w_run)
        overlays.append(
            F.when(m["lt"] == F.col("_lifetime"), m["v"]).alias(f)
        )

    next_op = F.col("_next_op")
    return df.select(
        "id",
        F.col("block_num").alias("block_range_start"),
        # next starter or DELETE closes the version; next FINAL (or
        # nothing) leaves it open.  A next CREATE on the live id (fatal in
        # the reference, processor.go:238-241, and in tocsv) closes it
        # like UPDATE, matching the sequential reference_fold.
        F.when(
            next_op.isin(OP_CREATE, OP_UPDATE, OP_DELETE),
            F.col("_next_block"),
        ).alias("block_range_end"),
        # block whose processing emits this row (bundle routing): the closing
        # event's block for superseded rows, the FINAL block for finalized
        # rows, NULL for end-of-log flush rows.
        F.col("_next_block").alias("emit_block"),
        *overlays,
        op.alias("_op"),
    ).where(F.col("_op").isin(OP_CREATE, OP_UPDATE)).drop("_op")


def immutable_rows(
    changes: DataFrame, field_cols: Sequence[str] | None = None
) -> DataFrame:
    """Immutable-entity layout: every CREATE (and tolerated UPDATE) emits
    immediately with ``block$ = block_num``; FINAL is ignored, DELETE is
    fatal (:func:`immutable_fatal`; ref processor.go:247-252, 256-266,
    285-287, 299-301).

    Pure projection + filter — no shuffle at all.
    """
    if field_cols is None:
        field_cols = [c for c in changes.columns if c not in META_COLS]
    return changes.where(F.col("operation").isin(OP_CREATE, OP_UPDATE)).select(
        "id",
        F.col("block_num").alias("block$"),
        *[F.col(f) for f in field_cols],
    )


def op_issue() -> Column:
    """``create_on_live`` / ``delete_unseen`` on the operation sequences the
    reference treats as fatal (processor.go:238-241, :288-293), NULL on any
    other change.  Reads :func:`lifetimes`' ``_live``."""
    op, live = F.col("operation"), F.col("_live")
    return (
        F.when((op == OP_CREATE) & live, F.lit("create_on_live"))
        .when((op == OP_DELETE) & ~live, F.lit("delete_unseen"))
    )


def validate_ops(changes: DataFrame) -> DataFrame:
    """Report of the changes :func:`op_issue` flags, as (id, block_num,
    operation, issue) — empty means clean.  :func:`scd2_versions` folds such
    a log the tolerant way; tocsv fails on it (:func:`mutable_fatal`)."""
    return (
        lifetimes(changes)
        .withColumn("issue", op_issue())
        .where(F.col("issue").isNotNull())
        .select("id", "block_num", "operation", "issue")
    )


def _fatal(
    entity: str, issue: Column, starter: Column, not_null: Sequence[str]
) -> Column:
    at = F.concat(
        F.lit(f" for entity {entity} id "), F.col("id"),
        F.lit(" at block "), F.col("block_num").cast("string"),
    )
    msg = F.concat(issue, at)
    if not_null:
        missing = F.array_compact(
            F.array(*[F.when(F.col(f).isNull(), F.lit(f)) for f in not_null])
        )
        msg = F.coalesce(msg, F.when(
            starter & (F.size(missing) > 0),
            F.concat(F.lit("field ["), F.array_join(missing, ", "),
                     F.lit("] not found"), at),
        ))
    return msg


def mutable_fatal(entity: str, not_null: Sequence[str]) -> Column:
    """The reference's fatal verdict on one change of a mutable entity, as a
    message naming the entity, id and block, NULL when the change is valid:
    an :func:`op_issue`, or a lifetime starter (CREATE, or UPDATE on an
    unseen id) missing a ``not_null`` field (processor.go:243-245,
    :267-271).  An UPDATE on a live id is validated only as the merged
    state (:276-278), which a valid start already satisfies, so partial
    updates are legal.  Reads :func:`lifetimes`' ``_live``."""
    op = F.col("operation")
    starter = (op == OP_CREATE) | ((op == OP_UPDATE) & ~F.col("_live"))
    return _fatal(entity, op_issue(), starter, not_null)


def immutable_fatal(entity: str, not_null: Sequence[str]) -> Column:
    """Row-local fatal verdict for an immutable entity: a DELETE
    (processor.go:285-287), or a CREATE/UPDATE missing a ``not_null`` field
    (both validate the event, :243-245, :256-266).  No window: the
    reference keeps no state for immutable ids."""
    op = F.col("operation")
    issue = F.when(op == OP_DELETE, F.lit("delete_on_immutable"))
    return _fatal(entity, issue, op.isin(OP_CREATE, OP_UPDATE), not_null)


def raise_on(changes: DataFrame, fatal: Column) -> DataFrame:
    """``changes`` whose ``operation`` fails the job with ``fatal``'s
    message at any row where it is set.  Every later operator reads
    ``operation`` on every row (the version window, the emit filter), so
    the check runs inside the write job on DELETE rows too and no filter
    or short-circuit can skip it."""
    return changes.withColumn(
        "operation",
        F.when(fatal.isNull(), F.col("operation")).otherwise(F.raise_error(fatal)),
    )


def state_at_block(versions: DataFrame, block: int) -> DataFrame:
    """graph-node's primary read: entity state as-of a block —
    ``block_range @> B`` i.e. ``start <= B < end`` with NULL end open.
    On bundle-partitioned storage the start predicate prunes files; at most
    one version per id matches (the ranges partition each lifetime)."""
    end = F.col("block_range_end")
    return versions.where(
        (F.col("block_range_start") <= F.lit(block))
        & (end.isNull() | (end > F.lit(block)))
    )
