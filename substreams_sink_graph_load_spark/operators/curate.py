"""End-to-end training-corpus curation pipeline (SURVEY §2.12 capstone).

The composition a pretraining data team actually runs, as ONE lazy
DataFrame DAG: PII scrub → quality gate → exact dedup → language-mixture
temperature resampling → deterministic shard assignment, plus a
per-shard manifest (:func:`manifest_of`).  Each stage is the
corresponding standalone registry operator (pii_scrub /
quality_gopher_rules / dedup_exact / mix_temperature / shard_manifest)
applied in sequence; this module owns the ORDER and the
hand-offs (dedup runs on the scrubbed text; mixture thresholds are
computed on the post-gate, post-dedup language counts, so upstream
filtering can never skew the target mixture).

Everything is built-ins — no Python in any row path — so a 100 TB run
is: one scan (scrub + gate + hash in the codegen stage, cached for the
dedup join's two consumers), one 16-byte-key dedup shuffle, one
materialization of the surviving docs (an eager localCheckpoint — the
mixture thresholds and every later consumer re-read survivors instead
of re-running the scrub pipeline), and a 5-row broadcast for the
thresholds.

Determinism: every decision keys on content hashes (md5) — reruns,
repartitionings, and input reordering produce byte-identical shards and
manifests, and appending new docs never flips an old doc's gate, dedup
winner (first-seen is lowest doc_id, not arrival order), mixture draw,
or shard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60
from ..functions.text import scrub_pii

# 2^20 buckets for the mixture draw: thresholds resolve to ~1e-6 rate
# granularity, and bucket values stay far below int64 limits.
MIX_BUCKETS = 1 << 20


def curate(
    df: DataFrame,
    *,
    min_words: int = 20,
    max_words: int = 2000,
    min_distinct_ppm: int = 300_000,
    n_shards: int = 64,
) -> DataFrame:
    """Curated corpus: one row per surviving doc with its shard.

    Input needs columns ``doc_id`` (unique int), ``lang``, ``source``,
    ``text``.  Output: ``doc_id, lang, source, text`` (scrubbed),
    ``n_words, shard``.

    Stages (order matters and is part of the contract):

    1. **Scrub** — emails/phones/IPv4 → typed placeholders
       (:func:`..functions.text.scrub_pii`), so every later signal (word
       counts, hashes) sees the text a trainer would.
    2. **Quality gate** — Gopher-style bounds on the scrubbed text:
       word count in ``[min_words, max_words]`` and distinct-word share
       ≥ ``min_distinct_ppm`` (exact integer ppm).
    3. **Exact dedup** — first-seen by content: winner per
       ``md5(scrubbed)`` is the LOWEST doc_id (a groupBy.min aggregation,
       never a window — a viral duplicate collapses map-side).
    4. **Mixture resample** — T=2 temperature over the post-dedup
       language counts: per-lang threshold ``floor(sqrt(n_min/n_l) *
       2^20)`` from a tiny broadcast aggregate; each doc keeps iff its
       salted md5 bucket falls below its language's threshold.
    5. **Shard** — ``h60('shard' || doc_id) % n_shards``; the knob that
       sizes output files (and bounds any downstream per-shard
       sequential work, see ``pack_sequences``).
    """
    # The scrub + gate pipeline is the CPU of the whole job (three regex
    # passes + split + array_distinct per doc), and it inherits the scan's
    # parallelism: a small-SF documents.parquet is 1-2 row groups, so at
    # sf1 the 15s-CPU scrub stage ran on 2 of 32 cores (r12 stage profile:
    # two 2-task 7.5s stages were 97% of the 9.3s wall).  Fan the scan out
    # before the heavy codegen — same size-gated, scale-adaptive helper as
    # the PQ/KMeans fits; at production scan widths the branch never fires,
    # and below the gate (sf0.1 is 0.6 MB) the exchange isn't worth it.
    # Round-robin placement is results-invariant here: every downstream
    # decision keys on content (md5/h60), never on partition or order.
    #
    # The repartition alone is NOT enough: the quality-gate filter below
    # is deterministic, so Catalyst pushes it back through the exchange
    # and the whole scrub+split+distinct re-evaluates on the narrow scan
    # side just to decide the gate (r12 re-profile: a 2-task 5.6s stage
    # reappeared under the 32-task one).  A lazy localCheckpoint pins the
    # fanned rows as an ExistingRDD — an absolute pushdown barrier — and
    # costs one local materialization of the raw docs, only on the
    # narrow-scan branch that production widths never take.
    from .ann import fan_out_narrow

    fanned = fan_out_narrow(df, min_bytes=2_000_000)
    if fanned is not df:
        df = fanned.localCheckpoint(eager=False)
    scrubbed = df.select(
        "doc_id",
        "lang",
        "source",
        scrub_pii(F.col("text")).alias("text"),
    ).withColumn("ws", F.split(F.col("text"), " "))

    n_words = F.size("ws").cast("long")
    distinct_ppm = F.floor(
        1000000.0 * F.size(F.array_distinct("ws")) / F.greatest(n_words, F.lit(1))
    ).cast("long")
    gated = (
        scrubbed.withColumn("n_words", n_words)
        .where(
            (F.col("n_words") >= min_words)
            & (F.col("n_words") <= max_words)
            & (distinct_ppm >= min_distinct_ppm)
        )
        .drop("ws")
        .withColumn("h", F.md5("text"))
    )

    # The scrub+gate subtree has FOUR downstream consumers (both dedup
    # join sides, the mixture counts, the final select) and Catalyst does
    # not share non-exchange subtrees across joins — unpersisted, the
    # regex scrub + split + array_distinct pipeline ran 4-5x per action
    # (measured 25s -> 9s at sf1 for the manifest).  Persist it for the
    # join's two consumers, then eagerly localCheckpoint the (much
    # smaller) survivor set so the mixture aggregates and every later
    # consumer read materialized rows; the checkpoint also truncates the
    # lineage, so the persist can be released HERE instead of leaking
    # for the caller's lifetime (the pagerank lesson — checkpoint blocks
    # are ContextCleaner-managed, an exposed persist is not).
    gated = gated.persist()
    winners = gated.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    deduped = (
        gated.join(winners, "h")
        .where(F.col("doc_id") == F.col("keep_id"))
        .drop("h", "keep_id")
        .localCheckpoint(eager=True)
    )
    gated.unpersist()

    counts = deduped.groupBy("lang").agg(F.count("*").cast("long").alias("n_l"))
    n_min = counts.agg(F.min("n_l").alias("n_min"))
    thr = counts.crossJoin(F.broadcast(n_min)).select(
        F.col("lang").alias("t_lang"),
        F.floor(
            F.sqrt(F.col("n_min") * F.lit(1.0) / F.col("n_l")) * MIX_BUCKETS
        ).cast("long").alias("thr"),
    )
    bucket = h60(F.concat(F.lit("mix"), F.col("doc_id").cast("string"))) % MIX_BUCKETS
    mixed = (
        deduped.withColumn("b", bucket)
        .join(F.broadcast(thr), F.col("lang") == F.col("t_lang"))
        .where(F.col("b") < F.col("thr"))
        .drop("b", "t_lang", "thr")
    )

    shard = (
        h60(F.concat(F.lit("shard"), F.col("doc_id").cast("string"))) % n_shards
    ).alias("shard")
    return mixed.select("doc_id", "lang", "source", "text", "n_words", shard)


def manifest_of(curated: DataFrame) -> DataFrame:
    """Per-shard manifest of a :func:`curate` result: doc count, word
    volume, and an order-insensitive ``bit_xor`` digest of the doc-id
    hashes — recomputable from shards written with
    ``partitionBy("shard")``, so a loader can verify an export without
    trusting the writer."""
    return curated.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("sum_words"),
        F.bit_xor(h60(F.col("doc_id").cast("string"))).alias("content_digest"),
    )

