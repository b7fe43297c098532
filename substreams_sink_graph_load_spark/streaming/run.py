"""Streaming change-log sink: incremental SCD-2 over microbatches.

Reference role: ``graphload run`` (ref sinker/sinker.go:203-274) — consume an
ordered stream of entity-change events, maintain per-id open-version state,
emit closed versions as they are superseded, flush open versions at the stop
block.  The reference does this with an in-memory map in one process; here
each microbatch replays (open-state ⊎ new events) through the SAME window
composition the batch path uses (operators/scd2.py), so streaming and batch
are semantically one code path — the streaming layer only manages state
hand-off between batches.

State model (SURVEY §2.10 T4-T5):
- open versions live in a parquet dir per batch (``state_{n}``), pointer in
  ``STATE`` — the moral equivalent of a state-store commit; re-running a
  batch overwrites its own state dir (idempotent-by-rerun, like the
  reference's COPY-whole-files restart story, T6).
- closed/finalized versions append to ``emitted/`` (partition-committed
  parquet appends).
- the stream source is the bundled-JSONL directory itself; Spark's file
  source tracks consumed files in the checkpoint, giving resume-from-cursor
  (T5) without a custom source.

Ordering: bundle files are disjoint block ranges and a block never spans
files, so (block_num, within-file line no) is a total order even when a
microbatch carries several files; open-state rows re-enter as synthetic
CREATEs with seq=-1 so they sort before any real event of their block.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bundles import bundle_start_col
from ..operators.pg_csv import csv_header, render_entity_csv
from ..operators.scd2 import OP_CREATE, scd2_versions
from ..schema.entities import EntityDesc, parse_schema_file
from ..sources.jsonl import parse_change_lines, typed_extract


class StreamingSink:
    """Per-entity incremental SCD-2 state machine driven by foreachBatch."""

    def __init__(
        self,
        spark: SparkSession,
        desc: EntityDesc,
        workdir: str,
        stop_block: int,
    ):
        self.spark = spark
        self.desc = desc
        self.workdir = workdir
        self.stop_block = stop_block
        self.emitted_dir = os.path.join(workdir, "emitted")
        self._pointer = os.path.join(workdir, "STATE")
        self.field_cols = [
            f.name for f in desc.ordered_fields() if f.name != "id"
        ]
        os.makedirs(workdir, exist_ok=True)

    # -- state hand-off ----------------------------------------------------
    def _state_dir(self) -> str | None:
        if not os.path.exists(self._pointer):
            return None
        with open(self._pointer) as fh:
            return fh.read().strip() or None

    def _read_state(self) -> DataFrame | None:
        d = self._state_dir()
        if d is None:
            return None
        return self.spark.read.parquet(d)

    def _write_state(self, df: DataFrame, batch_id: int) -> None:
        d = os.path.join(self.workdir, f"state_{batch_id}")
        df.write.mode("overwrite").parquet(d)
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(d)
        os.replace(tmp, self._pointer)  # atomic pointer swap = state commit

    # -- the batch function ------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: replay state ⊎ batch through the batch SCD-2
        window, append emitted rows, commit the surviving open state.
        Immutable entities short-circuit: every CREATE emits immediately,
        no state at all (ref processor.go:247-252)."""
        parsed = parse_change_lines(batch_df).where(
            F.col("block_num") < self.stop_block
        )
        events = typed_extract(parsed, self.desc, originals=list(self.desc.fields))

        if self.desc.immutable:
            from ..operators.scd2 import immutable_rows

            immutable_rows(events, field_cols=self.field_cols).write.mode(
                "append"
            ).parquet(self.emitted_dir)
            return

        state = self._read_state()
        if state is not None:
            synthetic = state.select(
                F.col("id"),
                F.col("start_block").alias("block_num"),
                F.lit(-1).cast("long").alias("seq"),
                F.lit(OP_CREATE).alias("operation"),
                *[F.col(c) for c in self.field_cols],
            )
            events = synthetic.unionByName(events)

        versions = scd2_versions(events, field_cols=self.field_cols)
        # emit_block set => the version was closed (UPDATE/DELETE) or
        # finalized (FINAL) by a later event in this batch; NULL => still open
        closed = versions.where(F.col("emit_block").isNotNull())
        closed.write.mode("append").parquet(self.emitted_dir)
        new_state = versions.where(F.col("emit_block").isNull()).select(
            F.col("id"),
            F.col("block_range_start").alias("start_block"),
            *[F.col(c) for c in self.field_cols],
        )
        self._write_state(new_state, batch_id)

    # -- termination -------------------------------------------------------
    def flush(self) -> DataFrame:
        """End-of-stream: every still-open version emits with an open range
        (ref processor.go:168-177); returns all emitted version rows."""
        if self.desc.immutable:
            return self.spark.read.parquet(self.emitted_dir)
        cols = [
            "id",
            "block_range_start",
            "block_range_end",
            "emit_block",
            *self.field_cols,
        ]
        out = []
        if os.path.exists(self.emitted_dir):
            out.append(self.spark.read.parquet(self.emitted_dir).select(cols))
        state = self._read_state()
        if state is not None:
            out.append(
                state.select(
                    "id",
                    F.col("start_block").alias("block_range_start"),
                    F.lit(None).cast("long").alias("block_range_end"),
                    F.lit(None).cast("long").alias("emit_block"),
                    *[F.col(c) for c in self.field_cols],
                )
            )
        if not out:
            raise ValueError("nothing consumed: no emitted rows and no state")
        res = out[0]
        for df in out[1:]:
            res = res.unionByName(df)
        return res


def write_last_block(dest_dir: str, block: int, hash_: str = "") -> str:
    """``last_block.txt`` marker (ref sinker.go:167-180)."""
    path = os.path.join(dest_dir, "last_block.txt")
    with open(path, "w") as fh:
        fh.write(f"{block}:{hash_}\n")
    return path


def run_stream(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    entity: str,
    schema_file: str,
    stop_block: int,
    bundle_size: int = 1000,
    workdir: str | None = None,
    max_files_per_trigger: int = 1,
) -> list[str]:
    """Streaming equivalent of :func:`..tocsv.tocsv`: consume the entity's
    JSONL directory as a file stream (availableNow), maintain incremental
    SCD-2 state across microbatches, and write the same bundled CSV files.

    Each trigger runs :class:`StreamingSink`'s foreachBatch replay of
    (open state ⊎ batch) through the batch SCD-2 window, so the output is
    byte-identical to batch ``tocsv`` (pinned by tests/test_streaming.py).
    Immutable entities carry no state and emit every CREATE directly.

    On a live deployment the trigger would be ``processingTime`` and the
    source a custom DataSourceStreamReader over gRPC (SURVEY §2.1 S1); the
    file-stream shape, state hand-off, and output contract are identical.
    """
    descs = parse_schema_file(schema_file)
    if entity not in descs:
        raise ValueError(f"cannot find entity {entity!r} in {schema_file!r}")
    desc = descs[entity]
    workdir = workdir or os.path.join(dest_dir, f"_work_{entity}")

    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(os.path.join(src_dir, entity, "*.jsonl"))
        .select(
            F.col("value"),
            F.col("_metadata.file_path").alias("_file"),
            F.col("_metadata.file_block_start").alias("_bstart"),
        )
    )
    sink = StreamingSink(spark, desc, workdir, stop_block)
    query = (
        stream.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", os.path.join(workdir, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    versions = sink.flush()
    if desc.immutable:
        last_block = versions.agg(F.max("block$")).collect()[0][0] or 0
        routed = (
            versions.withColumn(
                "bundle_start", bundle_start_col(F.col("block$"), bundle_size)
            )
            .withColumn("_order_block", F.col("block$"))
            .withColumn("_order_seq", F.lit(0).cast("long"))
        )
    else:
        last_block = versions.agg(
            F.max(F.coalesce("emit_block", "block_range_start"))
        ).collect()[0][0] or 0
        emit = F.coalesce(F.col("emit_block"), F.lit(last_block))
        routed = (
            versions.withColumn("bundle_start", bundle_start_col(emit, bundle_size))
            .withColumn("_order_block", emit)
            .withColumn("_order_seq", F.col("block_range_start"))
            .drop("emit_block")
        )
    rendered = render_entity_csv(routed, desc)
    dest = os.path.join(dest_dir, entity)
    os.makedirs(dest, exist_ok=True)
    from ..operators.bundles import write_bundled_csv

    files = write_bundled_csv(
        spark,
        rendered,
        dest,
        header=csv_header(desc),
        first_block=0,
        stop_block=stop_block,
        bundle_size=bundle_size,
        order_cols=["_order_block", "_order_seq"],
    )
    write_last_block(dest_dir, last_block)
    return files
