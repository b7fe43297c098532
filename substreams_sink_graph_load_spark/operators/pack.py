"""Sequence packing: the concat-and-chunk step of a pretraining pipeline.

GPT-style training consumes fixed-length token sequences, not documents:
every document's token stream (plus one EOS marker) is concatenated in a
stable global order and the stream is cut into ``seq_len``-token chunks,
documents straddling chunk boundaries (Brown et al. 2020 §2.1; the
"packing" step every large-scale run performs between curation and the
trainer).  This operator materializes the CHUNK TABLE of that packing —
which documents land in which chunk, where sequence boundaries cut — as
exact integer arithmetic, so the layout is bit-reproducible across
engines and partitionings.

Why not one global window?  ``sum(n) over (order by doc_id)`` is correct
but plans as a single-partition window — one task scans every row, the
classic sequential bottleneck at 100 TB.  The fix is the classic
two-pass prefix scan, specialized to the integer-addition monoid:

1. group documents into fixed ``doc_id`` ranges (``gid = doc_id div G``
   — derived from the data, so the grouping is deterministic and
   independent of the physical partitioning);
2. one partial-agg shuffle reduces each group to its token TOTAL; the
   driver folds the (n_docs/G)-row totals into exclusive per-group
   offsets — the only collect, bounded (1B docs at the default G is
   10k rows);
3. a per-group window (partitionBy gid — parallel, unlike the global
   window) computes within-group running sums; broadcast-joining the
   offsets turns them into global stream positions.

Each document then fans out to the chunks it intersects
(``sequence(start div L, last div L)`` — linear: total fan-out rows =
total_tokens/L + n_docs) and one partial-agg shuffle keyed on chunk_id
builds the chunk table.

No counterpart in the reference (file-sink scope); training-data-
pipeline family (SURVEY §2.13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def pack_chunks(
    docs: DataFrame,
    seq_len: int = 512,
    docs_per_group: int = 100_000,
) -> DataFrame:
    """Chunk table of the concat-and-chunk packing of ``docs``.

    Token model: whitespace words + 1 EOS per document (the registry's
    pre-tokenizer family counts the same stream).  Documents concatenate
    in ``doc_id`` order.  Returns one row per ``seq_len``-token chunk:

    - ``chunk_id``     position of the chunk in the stream (0-based)
    - ``n_docs``       documents intersecting the chunk
    - ``n_starts``     documents whose first token lies in the chunk
    - ``head_doc_id``  the document covering the chunk's first token
    - ``n_tokens``     tokens in the chunk (== seq_len except the tail)

    All bigint; the layout is a pure function of (docs, seq_len) —
    ``docs_per_group`` tunes the scan granularity and CANNOT change the
    result (pinned by the partitioning-invariance test).
    """
    if seq_len <= 0 or docs_per_group <= 0:
        raise ValueError("seq_len and docs_per_group must be positive")
    spark = docs.sparkSession
    g = int(docs_per_group)
    d = docs.select(
        "doc_id",
        (F.size(F.split("text", " ")) + 1).cast("long").alias("n"),
        F.expr(f"doc_id div {g}").alias("gid"),
    )
    # Pass 1: group totals -> exclusive prefix offsets (the only collect,
    # n_docs/docs_per_group rows).
    totals = d.groupBy("gid").agg(F.sum("n").alias("tot")).collect()
    offsets, acc = [], 0
    for r in sorted(totals, key=lambda r: r["gid"]):
        offsets.append((int(r["gid"]), acc))
        acc += int(r["tot"])
    if not offsets:
        return spark.createDataFrame(
            [],
            "chunk_id long, n_docs long, n_starts long, "
            "head_doc_id long, n_tokens long",
        )
    off = spark.createDataFrame(offsets, "gid long, off long")
    # Pass 2: per-group running sum (parallel window) + broadcast offsets
    # -> global stream positions.
    w = (
        Window.partitionBy("gid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pos = (
        d.withColumn("cum_in", F.sum("n").over(w))
        .join(F.broadcast(off), "gid")
        .select(
            "doc_id",
            "n",
            (F.col("off") + F.col("cum_in") - F.col("n")).alias("start"),
        )
    )
    L = int(seq_len)
    spans = pos.select(
        "doc_id",
        "n",
        "start",
        F.explode(
            F.sequence(
                F.expr(f"start div {L}"), F.expr(f"(start + n - 1) div {L}")
            )
        ).alias("chunk_id"),
    )
    return spans.groupBy("chunk_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(
            F.when(F.expr(f"start div {L}") == F.col("chunk_id"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_starts"),
        F.min("doc_id").cast("long").alias("head_doc_id"),
        F.sum(
            F.least(
                (F.col("chunk_id") + 1) * L, F.col("start") + F.col("n")
            )
            - F.greatest(F.col("chunk_id") * L, F.col("start"))
        )
        .cast("long")
        .alias("n_tokens"),
    )
