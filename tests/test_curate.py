"""End-to-end curation pipeline (operators/curate.py): stage semantics on
a crafted corpus, determinism under repartitioning, and a materialized
shard export whose manifest re-derives from the written files."""

from __future__ import annotations

from pyspark.sql import functions as F

from substreams_sink_graph_load_spark.operators.curate import (
    curate,
    manifest_of,
)


def _corpus(spark):
    """Small corpus exercising every gate:

    - docs 1 and 2: identical text after scrubbing (different emails
      scrub to the same placeholder) -> exact-dup pair, lowest id wins
    - doc 3: too short (< 20 words) -> gated
    - doc 4: 30 words but one word repeated (distinct share < 30%) -> gated
    - docs 5..24: unique passing docs, langs split en (15) / fr (5)
    """
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliett " * 2
    # the dup pair is fr: the rarest language's threshold is 2^20, so the
    # dedup winner can never be lost to the mixture draw — which makes
    # "1 survives, 2 never does" deterministic
    rows = [
        (1, "fr", "src0", base + "mail me at bob@example.com now ok"),
        (2, "fr", "src0", base + "mail me at eve@other.net now ok"),
        (3, "en", "src0", "too short"),
        (4, "en", "src0", "spam " * 29 + "spam"),
    ]
    for i in range(5, 20):
        rows.append((i, "en", "src1", base + f"unique english tail {i} ok"))
    for i in range(20, 25):
        rows.append((i, "fr", "src2", base + f"unique french tail {i} ok"))
    return spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")


def test_stage_semantics(spark):
    out = curate(_corpus(spark), n_shards=8).collect()
    ids = {r["doc_id"] for r in out}
    # dup pair: only the lowest id survives
    assert 1 in ids and 2 not in ids
    # quality gates
    assert 3 not in ids and 4 not in ids
    # mixture: fr is the rarest lang -> threshold is 2^20, every fr doc kept
    assert set(range(20, 25)) <= ids
    # scrubbed text, not the raw email, is what ships
    kept1 = [r for r in out if r["doc_id"] == 1][0]
    assert "<EMAIL>" in kept1["text"] and "@" not in kept1["text"]
    # en kept-rate matches the sqrt(n_min/n_l) draw (subset, not all)
    en = [r for r in out if r["lang"] == "en"]
    assert 0 < len(en) <= 15


def test_deterministic_under_repartition(spark):
    df = _corpus(spark)
    a = sorted(curate(df, n_shards=8).collect())
    b = sorted(curate(df.repartition(7, "lang"), n_shards=8).collect())
    assert a == b


def test_curate_fan_out_is_result_invariant(spark, tmp_path):
    # r12: curate fans a narrow input out before the scrub (size-gated,
    # with a lazy localCheckpoint pushdown barrier so the quality-gate
    # filter cannot re-evaluate the scrub below the exchange).  The fan
    # path must be byte-identical regardless of incoming partitioning:
    # write a corpus whose parquet file clears the 2 MB gate as ONE
    # narrow scan (the production small-SF shape), run curate on the
    # scan vs a pre-widened copy, compare full outputs.
    from substreams_sink_graph_load_spark.operators.ann import (
        narrower_than_cores,
    )

    import hashlib

    base = "alpha bravo charlie delta echo foxtrot golf hotel india jul "

    def _tail(i: int) -> str:
        # incompressible distinct words so the parquet file clears the
        # size gate (repetitive text compresses below it)
        return " ".join(
            hashlib.md5(f"{i}:{j}".encode()).hexdigest() for j in range(4)
        )

    rows = [
        (i, "en" if i % 4 else "fr", f"s{i % 3}", base * 3 + _tail(i))
        for i in range(60_000)
    ]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    import os

    n_bytes = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    assert n_bytes > 2_000_000  # clears the gate
    assert narrower_than_cores(df)  # the branch under test actually fires
    a = sorted(curate(df, n_shards=8).collect())
    b = sorted(
        curate(
            df.repartition(spark.sparkContext.defaultParallelism),
            n_shards=8,
        ).collect()
    )
    assert a == b and len(a) > 0


def test_export_manifest_rederives_from_files(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "export")
    curated = curate(docs, n_shards=16)
    curated.write.partitionBy("shard").parquet(out)
    got = {r["shard"]: r for r in manifest_of(curated).collect()}
    assert got, "export produced no shards"

    # re-derive from what's on disk: same manifest, byte for byte
    written = spark.read.parquet(out)
    rederived = {r["shard"]: r for r in manifest_of(written).collect()}
    assert got == rederived

    # shard partitioning is physical (directory per shard)
    assert (tmp_path / "export" / "shard=0").exists() or any(
        p.name.startswith("shard=") for p in (tmp_path / "export").iterdir()
    )

    # the export is a subset of the input with scrubbed text only
    assert written.count() <= docs.count()
    n_pii = written.where(
        F.col("text").rlike("[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]")
    ).count()
    assert n_pii == 0


def test_append_never_flips_old_decisions(spark):
    """Content-hashed decisions: adding new docs must not change which of
    the ORIGINAL docs survive, their shards, or their text."""
    df = _corpus(spark)
    before = {r["doc_id"]: r for r in curate(df, n_shards=8).collect()}
    extra = spark.createDataFrame(
        [(100 + i, "de", "src9", f"brand new german document number {i} "
          + "wort " * 25) for i in range(10)],
        "doc_id long, lang string, source string, text string",
    )
    after = {r["doc_id"]: r for r in curate(df.union(extra), n_shards=8).collect()}
    # gate/dedup/shard are content-pure; the mixture thresholds depend
    # on language counts but n_min is unchanged here (fr stays rarest),
    # so every original decision must survive exactly.
    assert set(before) <= set(after)
    for did, row in before.items():
        assert after[did] == row
