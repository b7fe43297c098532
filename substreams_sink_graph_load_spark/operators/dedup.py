"""Deduplication operators for the LLM-pipeline surface (SURVEY §2.12).

Four families, each shuffle-bounded for 100 TB:

- **exact**   — hash group-by (in plans/queries.py: ``dedup_exact``).
- **MinHash+LSH** — shingle → signature → band → bucket self-join.  The
  self-join shuffles on *band keys* (16 bytes/row), never on text; candidate
  volume is bounded by bucket membership, not corpus².
- **SimHash** — 60-bit bit-majority hash; near-dups land in the same value
  or differ in few bits.  One projection, zero shuffle.
- **embedding cosine** — sign-LSH bucket (deterministic hyperplanes) +
  in-bucket cosine threshold; the bucket join replaces the O(n²) pair
  enumeration.

All hashes are md5-derived (functions/hashing.py) so a DuckDB oracle can
replay them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import PRIME31, h60, memoized_h60
from ..functions.text import word_shingles


def _persist_hot(df: DataFrame, level=None) -> DataFrame:
    """Persist a frame consumed by several downstream branches.

    LAZY: the first action fills the cache (OPTIMIZATION_r12.md A/B on an idle
    host: an eager fill lost on 13 of 15 LSH queries — the fill pass
    serializes a stage the lazy path overlaps with downstream work).
    ``level=None`` keeps DataFrame.persist()'s default storage level."""
    return df.persist() if level is None else df.persist(level)


def minhash_sketch(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    k: int = 2,
) -> DataFrame:
    """Per-doc MinHash signature + LSH band keys.

    Output: (id, sig array<long>, band_0..band_{bands-1} string md5 keys).

    Physical shape (r9 rewrite, the simhash_sketch pattern): ONE
    Arrow-batched ``mapInArrow`` pass over (id, text) — per doc, shingle,
    hash each DISTINCT gram once through a per-task memo (boilerplate-
    heavy corpora repeat grams across docs, so ~N occurrence md5s
    collapse toward ~V distinct-gram md5s), then all ``num_perm``
    universal-hash minima fall out of one numpy (n_grams × num_perm)
    modular matmul.  ZERO shuffle, zero explode.  Earlier formulations,
    both measured: explode -> md5 per occurrence -> hash-agg with
    ``num_perm`` min aggregates (the r8 shape this replaces) shipped
    every gram occurrence through the lead-window exchange; the
    array-expression variant (array_min over transform per permutation)
    was 25x slower still (interpreted lambdas, no CSE across them); a
    hash-distinct-vocab + broadcast-join variant lost to the explode
    shape outright (4.8s vs 1.4s at sf0.1).

    Oracle parity (bit-for-bit, driver hash-checked): tokenization is
    Java ``split(text, " ")`` == Python ``str.split(" ")`` (empty tokens
    kept); a doc with < k words contributes its whole text as its one
    gram (word_shingles fallback); NULL text yields no row (the explode
    dropped it — enforced by a JVM-side filter); ``h60`` is the same
    md5-prefix bytes in hashlib; band keys are md5 over the identical
    comma-joined decimal rendering both engines produce.
    """
    import pyarrow as pa

    from ..functions.hashing import perm_params

    rows = num_perm // bands
    params = perm_params(num_perm)
    id_type = dict(df.dtypes)[id_col]
    band_names = [f"band_{b}" for b in range(bands)]

    def sketch(batches):
        import hashlib

        import numpy as np

        A = np.array([a for a, _ in params], dtype=np.int64)
        B = np.array([b for _, b in params], dtype=np.int64)
        h = memoized_h60(mod=PRIME31)

        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            sigs = np.empty((len(texts), num_perm), dtype=np.int64)
            for i, t in enumerate(texts):
                toks = t.split(" ")
                if len(toks) < k:
                    grams: "set[str] | list[str]" = [t]
                else:
                    grams = {
                        " ".join(toks[j : j + k])
                        for j in range(len(toks) - k + 1)
                    }
                hs = np.fromiter(
                    (h(g) for g in grams), dtype=np.int64, count=len(grams)
                )
                # a < 2^31, h < 2^31 => products < 2^62: no int64 wrap
                sigs[i] = ((hs[:, None] * A + B) % PRIME31).min(axis=0)
            sig_strs = sigs.astype("U10")
            bands_out = [
                pa.array(
                    [
                        hashlib.md5(
                            ",".join(row).encode("ascii")
                        ).hexdigest()
                        for row in sig_strs[:, b * rows : (b + 1) * rows]
                    ],
                    type=pa.string(),
                )
                for b in range(bands)
            ]
            yield pa.record_batch(
                [
                    ids,
                    pa.array(list(sigs), type=pa.list_(pa.int64())),
                    *bands_out,
                ],
                names=[id_col, "sig", *band_names],
            )

    src = df.select(id_col, text_col).where(F.col(text_col).isNotNull())
    # inherit the scan's partitioning; fan out only when the small-SF
    # scan is narrower than the cluster (see simhash_sketch)
    from .ann import narrower_than_cores

    cores = df.sparkSession.sparkContext.defaultParallelism
    if narrower_than_cores(src):
        src = src.repartition(cores)
    schema = ", ".join(
        [f"{id_col} {id_type}", "sig array<long>"]
        + [f"{b} string" for b in band_names]
    )
    return src.mapInArrow(sketch, schema)


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    k: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing >= 1 band bucket, with the exact
    signature agreement count (estimated Jaccard = n_agree / num_perm).

    Scale: the join key is (band_idx, band_key) — a skewed bucket (e.g. a
    boilerplate page repeated millions of times) is the classic hazard;
    ``max_bucket`` drops buckets above the cap (those docs are by definition
    duplicates of each other — handle them with dedup_exact at a fraction of
    the cost).
    """
    sk = minhash_sketch(df, id_col, text_col, num_perm, bands, k)
    # keep the band index explicit so identical R-slices in different bands
    # don't cross-match
    sk2 = sk.select(
        F.col(id_col),
        "sig",
        F.posexplode(
            F.array(*[F.col(f"band_{b}") for b in range(bands)])
        ).alias("band_idx", "band_key"),
    )
    if max_bucket is not None:
        from pyspark.sql import Window

        cnt = Window.partitionBy("band_idx", "band_key")
        sk2 = sk2.withColumn("_n", F.count("*").over(cnt)).where(
            F.col("_n") <= max_bucket
        ).drop("_n")
    # persist before the self-join: both sides share this lineage, and
    # without a persist the sketch (shingle + md5 pipeline) computes twice.
    # ~200 B/doc (id + 16 longs + band keys) — cheap relative to recompute
    # at any scale; Spark evicts LRU under pressure.
    from pyspark import StorageLevel

    sk2 = _persist_hot(sk2, StorageLevel.MEMORY_AND_DISK)
    a = sk2.alias("a")
    b = sk2.alias("b")
    # The signature-agreement count evaluates IN the join's output
    # projection, before the per-pair aggregation (r12, measured): the
    # old shape carried both sig ARRAYS through the groupBy via
    # first(sig_a)/first(sig_b), and array-typed agg buffers force
    # SortAggregate — two full sorts of the collision stream plus both
    # arrays crossing the pair exchange.  A pair's sigs are identical in
    # every band it collides in, so agree is constant per (doc_a, doc_b)
    # and max(agree) == agree; counting it per collision row costs at
    # most bands-many extra zip_withs but turns the agg into a codegen
    # HashAggregate whose exchange carries one long per pair (guide
    # §2.3: shuffle fewer bytes).
    agree = F.size(
        F.filter(
            F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
            lambda e: e,
        )
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            agree.alias("_agree"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").cast("long").alias("n_shared_bands"),
            F.max("_agree").alias("n_sig_agree"),
        )
    )


def simhash_sketch(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """60-bit SimHash over frequency-weighted word hashes -> (id, simhash).

    bit j of the output is set when the majority of word occurrences have
    bit j set in their h60 hash (ties -> set, i.e. 2*cnt >= n).

    Physical shape (r8 rewrite): ONE Arrow-batched ``mapInArrow`` pass
    over (id, text) — per doc, tokenize, h60 each DISTINCT word once
    through a per-task vocabulary cache (word frequency is Zipfian, so
    ~N occurrence hashes collapse to ~V distinct-word hashes), then fold
    all 60 bit-majorities as one numpy (weights @ bits) matmul.  ZERO
    shuffle, zero explode.  The previous formulation (explode words ->
    md5 per occurrence -> hash-agg with 60 conditional-sum aggregates)
    shipped every word occurrence through an exchange and paid 60
    aggregate-buffer updates per occurrence — it was the dominant stage
    of the sf10 ``simhash_hamming_pairs`` wall (297.7s, r7 PLANS.md).

    Oracle parity (bit-for-bit, hash-checked by the driver):
    tokenization is Java ``split(text, " ")`` semantics — single-space
    delimiter, empty tokens KEPT, which Python ``str.split(" ")``
    matches exactly (incl. leading/trailing/consecutive spaces); NULL
    text yields no output row (the old explode dropped it), enforced by
    a JVM-side filter; ``h60(w) = int(md5(utf8(w))[:15], 16)`` is the
    same bytes in hashlib as in the JVM/DuckDB md5.
    """
    import pyarrow as pa

    id_type = dict(df.dtypes)[id_col]

    def fold(batches):
        from collections import Counter

        import numpy as np

        shifts = np.arange(60, dtype=np.uint64)
        h = memoized_h60()

        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            sims = np.empty(len(texts), dtype=np.uint64)
            for i, t in enumerate(texts):
                counts = Counter(t.split(" "))
                hs = np.fromiter(
                    (h(w) for w in counts), dtype=np.uint64, count=len(counts)
                )
                wts = np.fromiter(
                    counts.values(), dtype=np.int64, count=len(counts)
                )
                bits = ((hs[:, None] >> shifts) & np.uint64(1)).astype(
                    np.int64
                )
                c = wts @ bits
                n = int(wts.sum())
                sims[i] = (
                    (2 * c >= n).astype(np.uint64) << shifts
                ).sum()
            yield pa.record_batch(
                [ids, pa.array(sims.astype(np.int64))],
                names=[id_col, "simhash"],
            )

    src = df.select(id_col, text_col).where(F.col(text_col).isNotNull())
    # mapInArrow inherits the scan's partitioning; a small-SF parquet
    # scan can be narrower than the cluster (sf1 documents = 2 input
    # splits), which would cap the Python fold at 2 tasks.  Fan out only
    # in that case — at production scale the scan already yields far
    # more splits than cores and the repartition branch never fires, so
    # the operator stays zero-shuffle where it matters.
    from .ann import narrower_than_cores

    cores = df.sparkSession.sparkContext.defaultParallelism
    if narrower_than_cores(src):
        src = src.repartition(cores)
    return src.mapInArrow(fold, f"{id_col} {id_type}, simhash long")


def gram_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    carry_cols: tuple[str, ...] = (),
    hashed: bool = False,
) -> DataFrame:
    """Per-doc DISTINCT word k-gram sets, zero-shuffle:
    ``(id, *carry_cols, grams array<string|long>, n_grams)``.

    One Arrow-batched ``mapInArrow`` pass (the minhash_sketch r9 shape):
    shingling happens doc-locally in Python, so no gram OCCURRENCE ever
    crosses an exchange — the explode -> lead-window -> collect_set
    formulation this replaces shuffled every word of the corpus to
    group a doc's grams back together.  Semantics match
    ``word_shingles``: tokens are ``split(text, " ")`` with empty tokens
    kept, a doc with < k words contributes its whole text as its one
    gram, NULL text yields no row.  Array order is partition-local (use
    as a SET — array_intersect/size — never positionally).

    ``hashed=True`` emits each gram as its 60-bit md5-prefix int64
    (``h60``, memoized per task) instead of the string: a downstream
    pairwise intersection compares 8-byte longs instead of hashing and
    comparing variable-length strings, and the pair relation stops
    carrying the text entirely.  A 60-bit collision would merge two
    grams — at ~2^30 distinct grams the expected collision count is
    ~2^-1 per corpus — and because the DuckDB oracle applies the SAME
    md5-prefix transform, both engines merge identically: cross-engine
    hashes stay bit-equal unconditionally.
    """
    import pyarrow as pa

    dtypes = dict(df.dtypes)
    cols = [id_col, *carry_cols]

    def build(batches):
        h = memoized_h60()

        for batch in batches:
            texts = batch.column(len(cols)).to_pylist()
            grams_out, sizes = [], []
            for t in texts:
                toks = t.split(" ")
                if len(toks) < k:
                    g: "set[str]" = {t}
                else:
                    g = {
                        " ".join(toks[j : j + k])
                        for j in range(len(toks) - k + 1)
                    }
                out = list({h(x) for x in g}) if hashed else list(g)
                grams_out.append(out)
                sizes.append(len(out))
            yield pa.record_batch(
                [
                    *[batch.column(i) for i in range(len(cols))],
                    pa.array(
                        grams_out,
                        type=pa.list_(pa.int64() if hashed else pa.string()),
                    ),
                    pa.array(sizes, type=pa.int32()),
                ],
                names=[*cols, "grams", "n_grams"],
            )

    src = df.select(*cols, text_col).where(F.col(text_col).isNotNull())
    from .ann import narrower_than_cores

    cores = df.sparkSession.sparkContext.defaultParallelism
    if narrower_than_cores(src):
        src = src.repartition(cores)
    elem = "long" if hashed else "string"
    schema = ", ".join(
        [f"{c} {dtypes[c]}" for c in cols]
        + [f"grams array<{elem}>", "n_grams int"]
    )
    return src.mapInArrow(build, schema)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cols: tuple[str, ...] = ("source",),
    k: int = 2,
    min_jaccard_ppm: int = 200_000,
    max_bucket: int | None = None,
    length_band: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs inside blocking buckets.

    Blocking (``bucket_cols``) bounds the pair count: the self-join shuffles
    on the bucket key and only materializes in-bucket pairs.  Jaccard is
    exact set arithmetic reported in integer ppm.

    ``length_band=True`` adds a LOSSLESS gram-count band to the blocking
    key: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so with threshold t >= 0.1
    any qualifying pair has size ratio <= 1/t <= 10, and decimal DIGIT
    COUNT bands (integer-exact in every engine, no float log) differ by
    at most 1 — the asymmetric adjacent-band join (right side emits
    {band-1, band, band+1}, pairs match at the left doc's true band
    exactly once, same scheme as ``fuzzy_candidate_pairs``) prunes
    cross-magnitude pairs without dropping a single qualifying one.
    Requires ``min_jaccard_ppm >= 100_000``; below that a ratio-10 gap
    no longer implies sub-threshold and the band would lose pairs.

    Scale: a hot blocking bucket is O(bucket^2) with the gram arrays
    crossing the join — ``max_bucket`` drops (bucket[, band]) groups
    above the cap BEFORE the self-join (same guard as
    ``minhash_candidate_pairs``); route those documents through
    exact/MinHash dedup instead, where the per-pair cost doesn't carry
    the arrays.  Surfaced by the sf1 scale run: 50k docs over 20 sources
    is ~60M in-bucket pairs — uncapped exact Jaccard is the one operator
    here that MUST declare a bound, because no blocking makes all-pairs
    set intersection sub-quadratic inside a hot bucket.
    """
    if length_band and min_jaccard_ppm < 100_000:
        raise ValueError(
            "length_band requires min_jaccard_ppm >= 100000: digit-band "
            "adjacency only covers gram-count ratios <= 10"
        )
    # gram sets via the zero-shuffle mapInArrow builder (r9; see
    # gram_sets), HASHED: the pairwise intersection below is the
    # dominant stage (622k in-bucket pairs at sf0.1), and intersecting
    # int64s beats hashing/comparing variable-length strings per pair —
    # the oracle applies the identical md5-prefix transform, so results
    # stay bit-equal.  History of this stage, all measured: the
    # word_shingles array lambda evaluated on both join sides was 19.9s
    # vs 4.0s for the explode + lead + collect_set shape at sf1;
    # gram_sets removes that shape's full gram-occurrence exchange too.
    g = gram_sets(df, id_col, text_col, k, carry_cols=bucket_cols, hashed=True)
    if length_band:
        g = g.withColumn(
            "_band", F.length(F.size("grams").cast("string")).cast("long")
        )
    if max_bucket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(
            *[F.col(c) for c in bucket_cols],
            *([F.col("_band")] if length_band else []),
        )
        g = (
            g.withColumn("_n", F.count("*").over(w))
            .where(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    # Both join sides (and the cap window) consume the gram table; persist
    # it so the shingle build + collect_set runs once, not once per
    # consumer (the same pattern as the LSH sketch persist in
    # minhash_candidate_pairs — measured 19s -> ~7s at sf0.1 documents).
    # The cache is reclaimed by ContextCleaner once the returned plan is
    # unreachable — callers that keep many pair-plans alive should
    # collect and drop references rather than holding them.
    g = _persist_hot(g)
    if length_band:
        left = g.withColumn("_k", F.col("_band"))
        right = g.select(
            "*",
            F.explode(
                F.array(
                    F.col("_band") - 1, F.col("_band"), F.col("_band") + 1
                )
            ).alias("_k"),
        ).where(F.col("_k") >= 1)
    else:
        left = g.withColumn("_k", F.lit(0))
        right = g.withColumn("_k", F.lit(0))
    a, b = left.alias("a"), right.alias("b")
    cond = (F.col("a._k") == F.col("b._k")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    for c in bucket_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    # sets: |A u B| = |A| + |B| - |A n B| — one array pass per pair
    # instead of two (array_union re-walks both arrays; measured ~2x on
    # the pair stage at sf0.1)
    union = F.col("a.n_grams") + F.col("b.n_grams") - inter
    jac = F.floor(1000000.0 * inter / union).cast("long")
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            jac.alias("jaccard_ppm"),
        )
        .where(F.col("jaccard_ppm") >= min_jaccard_ppm)
    )


def fuzzy_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "head",
    bucket_cols: tuple[str, ...] = ("source",),
    max_dist: int = 10,
    max_bucket: int | None = None,
) -> DataFrame:
    """Blocked Levenshtein near-match pairs: (doc_a, doc_b, dist).

    Blocking key = ``bucket_cols`` + a **length band** of width ``max_dist``
    — edit distance >= |len(a) - len(b)|, so a pair within ``max_dist`` has
    band indices differing by at most 1.  The band join is ASYMMETRIC: the
    left side carries each doc once at its true band, the right side emits
    ``{band-1, band, band+1}``, so a qualifying pair matches at exactly one
    key (the left doc's band) with no dedup filter, and the per-bucket
    probe work is ``n(k) * (n(k-1)+n(k)+n(k+1))`` — on a corpus whose
    lengths collapse into one band this degrades to the plain blocked
    join's n^2, never above it (a symmetric both-sides-emit-twice scheme
    measured 2x worse exactly there), and on varied-length corpora the
    banding bounds blocks even when a ``bucket_cols`` value covers a huge
    corpus slice.

    ``max_bucket`` drops (bucket, band) groups above the cap BEFORE the
    emission and self-join (the same guard as ``minhash_candidate_pairs`` /
    ``ngram_jaccard_pairs``): docs are counted per *true* band, so a hot
    band is removed wholesale without poisoning its neighbors' overlap
    emissions.  A block that hot is boilerplate — route it through exact
    or MinHash dedup where per-pair cost is constant.

    Per-pair cost: the free |len gap| <= max_dist lower bound evaluates
    first, then a THRESHOLD Levenshtein (``levenshtein(a, b, max_dist)``,
    banded DP O(n*max_dist) with early exit, exact distance when within
    the threshold, -1 otherwise) — measured ~1.5x over the full DP even
    on 24-char strings.
    """
    band = F.floor(F.length(F.col(text_col)) / F.lit(max_dist)).cast("long")
    t = df.select(
        F.col(id_col),
        *[F.col(c) for c in bucket_cols],
        F.col(text_col),
        band.alias("_band"),
    )
    # Pin the (bucket, band) partitioning EXPLICITLY at the session's
    # shuffle-partition width (r12, measured): the cap window's implicit
    # exchange is AQE-coalesced by BYTES, which cannot see that the
    # probe side downstream explodes to O(bucket^2) Levenshtein pairs —
    # at sf0.1 the whole 620k-pair join ran as ONE task on a 113 KB
    # coalesced partition (6.6s of a 6.7s wall).  An explicit
    # numPartitions repartition is exempt from AQE coalescing, the cap
    # window reuses it (same keys: no second exchange), and at scale it
    # IS the exchange the plan paid anyway.
    t = t.repartition(
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        *[F.col(c) for c in bucket_cols],
        F.col("_band"),
    )
    if max_bucket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(
            *[F.col(c) for c in bucket_cols], F.col("_band")
        )
        t = (
            t.withColumn("_n", F.count("*").over(w))
            .where(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    left = t.withColumn("k", F.col("_band"))
    right = t.select(
        "*",
        F.explode(
            F.array(
                F.col("_band") - 1, F.col("_band"), F.col("_band") + 1
            )
        ).alias("k"),
    ).where(F.col("k") >= 0)
    a, b = left.alias("a"), right.alias("b")
    cond = (F.col("a.k") == F.col("b.k")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    for c in bucket_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    lev = F.levenshtein(
        F.col(f"a.{text_col}"), F.col(f"b.{text_col}"), max_dist
    )
    return (
        a.join(b, cond)
        .where(
            (
                F.abs(
                    F.length(F.col(f"a.{text_col}"))
                    - F.length(F.col(f"b.{text_col}"))
                )
                <= max_dist
            )
            & (lev >= 0)
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            lev.cast("int").alias("dist"),
        )
    )


def hyperplane_weights(dim: int, n_planes: int):
    """Deterministic hyperplane matrix (dim x n_planes): plane p, component
    i has integer weight ``((i*2654435761 + p*40503) % 2001) - 1000`` —
    Knuth multiplicative constants, fixed, engine-agnostic, no RNG."""
    import numpy as np

    return np.array(
        [
            [((i * 2654435761 + p * 40503) % 2001) - 1000 for p in range(n_planes)]
            for i in range(dim)
        ],
        dtype=np.float64,
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    n_bands: int = 4,
    planes_per_band: int = 4,
    min_cos_ppm: int = 400_000,
) -> DataFrame:
    """Embedding cosine near-duplicates via *banded* sign-LSH + exact
    in-bucket cosine threshold.

    A single wide sign bucket has vanishing recall (p^k for per-plane
    agreement p), so — exactly like MinHash LSH — the planes split into
    ``n_bands`` independent bands of ``planes_per_band`` bits: a pair is a
    candidate if it collides in ANY band (recall 1-(1-p^r)^b), then the
    exact cosine filters false positives.  Pair enumeration stays
    per-bucket; the band explode multiplies rows by n_bands (cheap: id +
    bucket int), never the corpus by itself.

    Physical shape: both the sign buckets (batch @ planes, one BLAS call
    per Arrow batch) and the per-pair cosine (row-wise einsum) run in
    numpy via mapInPandas — the expression-lambda formulation evaluated
    interpreted per element and was ~20x slower.
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    n_planes = n_bands * planes_per_band
    planes = hyperplane_weights(dim, n_planes)
    band_bits = (1 << np.arange(planes_per_band, dtype=np.int64))

    def bucketize(batches):
        import pyarrow as pa

        from .ann import vec_block

        for batch in batches:
            if not batch.num_rows:
                continue
            mat = vec_block(batch.column(1))  # B x D
            signs = (mat @ planes) >= 0  # B x n_planes
            for b in range(n_bands):
                sl = signs[:, b * planes_per_band : (b + 1) * planes_per_band]
                buckets = (sl * band_bits).sum(axis=1)
                yield pa.record_batch(
                    [
                        batch.column(0),
                        batch.column(1),
                        pa.array(np.full(batch.num_rows, b, dtype=np.int32)),
                        pa.array(buckets),
                    ],
                    names=["vec_id", "e", "band_idx", "bucket"],
                )

    def score_buckets(batches):
        """All-pairs cosine per (band, bucket) group: one G @ G.T BLAS call
        each; only above-threshold pairs leave the task.  Buckets
        accumulate per PARTITION (explicit repartition below) rather than
        via groupBy().applyInPandas — AQE coalesces a small-bytes shuffle
        to ~1 partition (its cost model can't see Python CPU), which would
        serialize every matmul; an explicit partition count is honored.
        Grouping is a numpy lexsort over the partition's batches (r12:
        the per-row Python dict fill this replaces was the pass's
        dominant cost)."""
        import pyarrow as pa

        from .ann import vec_block

        chunks = [b for b in batches if b.num_rows]
        if not chunks:
            return
        tbl = pa.Table.from_batches(chunks)
        ids = tbl.column("vec_id").to_numpy()
        band = tbl.column("band_idx").to_numpy()
        bucket = tbl.column("bucket").to_numpy()
        mat = vec_block(tbl.column("e").combine_chunks())
        order = np.lexsort((ids, bucket, band))
        b_s, k_s = band[order], bucket[order]
        id_s, m_s = ids[order], mat[order]
        change = (
            np.flatnonzero((np.diff(b_s) != 0) | (np.diff(k_s) != 0)) + 1
        )
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(b_s)]))
        out_a, out_b, out_p = [], [], []
        for s0, e0 in zip(starts, ends):
            if e0 - s0 < 2:
                continue
            gids, g = id_s[s0:e0], m_s[s0:e0]
            norms = np.linalg.norm(g, axis=1)
            cos = (g @ g.T) / np.outer(norms, norms)
            ia, ib = np.triu_indices(len(gids), k=1)
            ppm = np.floor(1_000_000.0 * cos[ia, ib]).astype(np.int64)
            keep = ppm >= min_cos_ppm
            if keep.any():
                out_a.append(gids[ia[keep]])
                out_b.append(gids[ib[keep]])
                out_p.append(ppm[keep])
        if out_a:
            yield pa.record_batch(
                [
                    pa.array(np.concatenate(out_a)),
                    pa.array(np.concatenate(out_b)),
                    pa.array(np.concatenate(out_p)),
                ],
                names=["vec_a", "vec_b", "cos_ppm"],
            )

    spark = df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    base = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(emb_col).cast("array<double>").alias("e"),
    )
    g = base.mapInArrow(
        bucketize, "vec_id long, e array<double>, band_idx int, bucket long"
    )
    scored = g.repartition(n_parts, "band_idx", "bucket").mapInArrow(
        score_buckets, "vec_a long, vec_b long, cos_ppm long"
    )
    # collapse multi-band collisions (same cos from any band)
    return scored.groupBy("vec_a", "vec_b").agg(
        F.first("cos_ppm").alias("cos_ppm")
    )


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    small_graph_rows: int = 5_000_000,
    max_rounds: int = 20,
) -> DataFrame:
    """Connected components over a candidate-pair edge list: returns
    ``(id, cluster_id)`` where ``cluster_id`` is the smallest member id of
    the component — the canonical representative a dedup pipeline keeps.

    Adaptive execution.  An LSH candidate graph is orders of magnitude
    smaller than the corpus that produced it, so after materializing the
    edge list its size is KNOWN (the count also warms the cache):

    - Driver-sized graphs (<= ``small_graph_rows`` pairs) fold with a
      local union-find over an Arrow-collected (src, dst) frame —
      O(E α(E)), no per-round job scheduling (measured ~2 s/round of pure
      overhead on a hundred-edge graph at sf0.1: the distributed loop is
      the wrong tool below millions of edges).
    - Larger graphs run alternating large-star / small-star rounds (the
      MapReduce-CC algorithm of Kiveris et al., "Connected Components in
      MapReduce and Beyond"): each round is two grouped minima + joins
      over the current edge list, the edge list monotonically contracts
      toward stars centered on component minima, and convergence takes
      O(log^2 n) rounds INDEPENDENT of component diameter — the regime
      where per-round label propagation (rounds = diameter) degenerates
      on chain-shaped components.
    """
    spark = pairs.sparkSession
    e = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist()
    # the small_graph_rows gate sizes the driver collect assuming 16 B/edge
    # (two longs) — a string-id edge list could be 10x that and silently
    # blow the driver, so non-integral ids are rejected loudly; callers
    # with string keys should dense-rank them to longs first (the LSH
    # producers in this module already emit long ids)
    for f in e.schema.fields:
        if f.dataType.typeName() not in ("long", "integer", "short", "byte"):
            raise TypeError(
                f"connected_components requires integral node ids; column "
                f"{f.name!r} is {f.dataType.simpleString()} — dense-rank "
                "string keys to longs before calling"
            )
    try:
        n_pairs = e.count()
        if n_pairs <= small_graph_rows:
            import numpy as np

            pdf = e.toPandas()
            ids = np.unique(
                np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()])
            )
            idx = {int(v): i for i, v in enumerate(ids)}
            parent = np.arange(len(ids))

            def find(i: int) -> int:
                while parent[i] != i:
                    parent[i] = parent[parent[i]]
                    i = parent[i]
                return i

            for a, b in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
                ra, rb = find(idx[int(a)]), find(idx[int(b)])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)  # root = smallest idx
            # ids sorted ascending => smallest idx == smallest id
            roots = np.array([find(i) for i in range(len(ids))])
            return spark.createDataFrame(
                [
                    (int(ids[i]), int(ids[roots[i]]))
                    for i in range(len(ids))
                ],
                "id long, cluster_id long",
            )

        return _cc_star(e, max_rounds)
    finally:
        e.unpersist()


def _cc_star(e: DataFrame, max_rounds: int) -> DataFrame:
    """Alternating large-star / small-star rounds over canonical (a < b)
    edges until the edge set reaches its star-graph fixpoint.

    large-star: every node connects its STRICTLY LARGER neighbors to the
    minimum of its closed neighborhood; small-star: every node connects
    its smaller-or-equal neighborhood (itself included) to that set's
    minimum.  Both steps preserve connectivity and only ever decrease the
    (sum of) endpoint labels, so the set converges to one star per
    component centered at the component minimum (Kiveris et al.).  Each
    round: two hash aggs + two joins, output O(V) edges; the fixpoint
    test compares a commutative (count, sum-of-hash) signature computed
    on the already-materialized frame.
    """
    # each round references the previous edge set several times, so an
    # un-truncated lineage grows ~8x per round (exponential plan size — a
    # 20-round run OOMs the driver just PRINTING the plan).  localCheckpoint
    # materializes each round's edges and cuts the lineage; on a real
    # cluster with executor churn, swap for reliable checkpoint(dir).
    cur = (
        e.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    if not cur.head(1):
        # no proper edges: every node is a self-loop singleton
        return (
            e.select(F.col("src").alias("id"))
            .union(e.select(F.col("dst").alias("id")))
            .distinct()
            .select("id", F.col("id").alias("cluster_id"))
        )
    prev_sig = None
    converged = False
    for _ in range(max_rounds):
        sym = cur.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            cur.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        # large-star: m(u) = min over the closed neighborhood; attach the
        # strictly larger neighbors to it (m <= u < v keeps pairs canonical)
        lmins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", F.col("u")).alias("m"))
        )
        large = (
            sym.join(lmins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star on the large-star output: per node b, the minimum of
        # its smaller neighbors (a < b always holds post-canonicalization)
        smins = large.groupBy("b").agg(F.min("a").alias("m"))
        small = (
            large.join(smins, "b")
            .select(F.col("m").alias("a"), F.col("a").alias("b"))
            .union(smins.select(F.col("m").alias("a"), F.col("b").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        sig_row = small.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        cur = small
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # Labels computed from a non-fixpoint edge set can silently split
        # one component into several cluster_ids — corrupt output, not a
        # degraded answer.  Fail loudly instead; star-contraction needs
        # O(log^2 n) rounds, so a bump of max_rounds is always cheap
        # relative to rerunning a poisoned dedup downstream.
        raise RuntimeError(
            "connected_components: star-contraction did not reach its "
            f"fixpoint within max_rounds={max_rounds}; labels would be "
            "unreliable. Increase max_rounds (rounds needed grow "
            "O(log^2 n), so a small increase covers a much larger graph)."
        )
    # fixpoint edges are stars (component-min a, member b); every node's
    # label is the min over its closed neighborhood in the final set
    sym = cur.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        cur.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(
            F.col("u").alias("id"),
            F.least("mv", F.col("u")).alias("cluster_id"),
        )
    )
    # nodes appearing ONLY in self-loops vanished with the self-loop
    # filter — reattach them as singleton clusters, matching the
    # union-find path (which labels every endpoint it sees)
    selfs = (
        e.where(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("id"))
        .distinct()
    )
    singles = selfs.join(labels, "id", "left_anti").select(
        "id", F.col("id").alias("cluster_id")
    )
    return labels.union(singles)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowed document fingerprints (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003) — the LOCAL similarity tier the global ones can't cover:
    MinHash estimates whole-document Jaccard and SimHash whole-document
    profiles, but neither detects a PASSAGE shared between otherwise
    different documents.  Winnowing guarantees it: hash every word
    ``k``-gram, slide a window of ``w`` consecutive hashes, select each
    window's minimum (rightmost on ties); any shared run of at least
    ``w + k - 1`` words then yields at least one shared fingerprint —
    the paper's local-guarantee — while expected density is only
    ``2/(w+1)`` of the grams.

    Output: ``(id_col, fp_pos, fp_hash)`` — the DISTINCT selected
    (position, hash) set per document, deterministic.

    Physical shape (r9): winnowing is a pure per-document function, so
    the whole selection runs in ONE zero-shuffle ``mapInArrow`` pass —
    per doc, hash each word k-gram (h60, memoized per task), slide the
    w-window with the rightmost-min rule, emit the distinct (pos, hash)
    set.  The relational formulation this replaces (posexplode +
    lead-window gram build + a window-min pass with the rightmost-min
    tie-break encoded as ``key = h*4 - pos``) shuffled every word of
    the corpus through the id-partition exchange to compute a doc-local
    fact; the mod-4 integer encoding lives on as the ORACLE's SQL
    spelling, which this pass reproduces bit-for-bit (``w <= 4`` keeps
    that oracle encoding valid).

    Docs with fewer than ``k + w - 1`` words still emit: window starts
    are clamped to ``max(m - w, 0)`` so a short gram sequence yields its
    single whole-sequence minimum (and a doc under ``k`` words
    contributes nothing, mirroring short_doc_fallback=False).
    """
    if w > 4 or w < 2:
        raise ValueError("winnow_fingerprints: 2 <= w <= 4 (mod-4 keys)")
    import pyarrow as pa

    id_type = dict(df.dtypes)[id_col]

    def winnow(batches):
        h = memoized_h60()

        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            o_id, o_pos, o_h = [], [], []
            for i, t in enumerate(texts):
                ws = t.split(" ")
                m = len(ws) - k + 1
                if m < 1:
                    continue
                hs = [h(" ".join(ws[p : p + k])) for p in range(m)]
                sel: "set[tuple[int, int]]" = set()
                for s in range(max(m - w, 0) + 1):
                    best = s
                    for p in range(s + 1, min(s + w, m)):
                        # min hash; rightmost wins ties
                        if hs[p] <= hs[best]:
                            best = p
                    sel.add((best, hs[best]))
                for p, v in sel:
                    o_id.append(ids[i])
                    o_pos.append(p)
                    o_h.append(v)
            yield pa.record_batch(
                [
                    pa.array(o_id, type=batch.schema.field(0).type),
                    pa.array(o_pos, type=pa.int32()),
                    pa.array(o_h, type=pa.int64()),
                ],
                names=[id_col, "fp_pos", "fp_hash"],
            )

    src = df.select(id_col, text_col).where(F.col(text_col).isNotNull())
    from .ann import narrower_than_cores

    cores = df.sparkSession.sparkContext.defaultParallelism
    if narrower_than_cores(src):
        src = src.repartition(cores)
    return src.mapInArrow(
        winnow, f"{id_col} {id_type}, fp_pos int, fp_hash long"
    )


def winnow_shared_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_value_docs: int | None = 1000,
) -> DataFrame:
    """Document pairs sharing winnowed fingerprints — passage-level
    near-dup / plagiarism candidates: ``(doc_a, doc_b, n_shared)`` with
    ``n_shared`` = count of DISTINCT fingerprint values both select,
    kept when >= ``min_shared``.

    Scale: the self-join shuffles (value, doc) rows — fingerprint
    density is ~2/(w+1) of grams, so the relation is a fraction of the
    corpus — and in-bucket pair volume is bounded per fingerprint
    VALUE.  A value selected by more than ``max_value_docs`` documents
    is dropped BEFORE the join (declared contract, mirrored in the
    oracle): such a value is mass-boilerplate — the heavy_hitters
    operator's territory, where pair enumeration is meaningless — and
    the cap turns the worst case from docs² into docs x cap.
    """
    fps = winnow_fingerprints(df, id_col, text_col, k, w).select(
        F.col(id_col), F.col("fp_hash")
    ).distinct()
    if max_value_docs is not None:
        from pyspark.sql import Window

        vw = Window.partitionBy("fp_hash")
        fps = (
            fps.withColumn("_nd", F.count("*").over(vw))
            .where(F.col("_nd") <= max_value_docs)
            .drop("_nd")
        )
    a = fps.select(F.col(id_col).alias("doc_a"), "fp_hash")
    b = fps.select(F.col(id_col).alias("doc_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def winnow_remove(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Shared-passage REMOVAL over winnowed fingerprints — the
    transformation counterpart of ``winnow_shared_pairs``, the way
    ``dedup_substring_remove`` completes ``dedup_substring_stats``
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better", over the Schleimer/Wilkerson/Aiken SIGMOD'03 selection):
    every fingerprint VALUE selected by >= 2 distinct documents marks a
    cross-document shared passage; each marking document cuts the
    ``k`` words its selected gram covers, and re-joins the survivors in
    order.  Output ``(id, n_words, n_removed, kept_md5)`` — the md5 of
    the reconstructed text pins the rewrite byte-for-byte.

    Winnowing's local guarantee bounds what this removes: any shared
    run of >= w+k-1 words yields a shared fingerprint in BOTH docs, so
    every long lifted passage loses at least one gram from every copy —
    a guaranteed de-boilerplating pass at ~2/(w+1) of the gram cost of
    the exact-substring tier.  (It is deliberately NOT a full-passage
    cut: winnowing samples the passage; the exact tier is the total
    rewrite.)

    Scale (r10 rewrite): no self-join anywhere — unlike the pairs query
    this needs no ``max_value_docs`` cap, because mass-boilerplate
    values cost one group row, not bucket² pairs.  The duplicated-value
    set is a partial-agg ``groupBy(fp_hash)`` with count>=2; the marks
    fold to ONE doc-keyed row per marked document
    (``collect_set(fp_pos)``), and the removal itself is a doc-local
    diff-array sweep in a single ``mapInArrow`` pass over
    (text, marked positions) — O(words + marks) per doc.  The
    word-level relation never exists: the posexplode + (id, pos) join +
    sliding-max window + collect_list reassembly this replaces shuffled
    every word of the corpus TWICE to compute a per-doc rewrite
    (count-probe walls hid it; the r10 forced-projection probe read
    30.1s at sf10 for the old shape).  The one remaining corpus-sized
    motion is the docs⋈marks doc-keyed join, SHUFFLE_HASH-pinned
    because the marks side derives from a Python relation whose planner
    stats are unreliable (the r9 broadcast-OOM lesson).
    """
    import pyarrow as pa

    # two consumers (dupv aggregate + the marks fold) and the winnower's
    # mapInArrow relation has no exchange for Catalyst to reuse —
    # persist or the Python selection runs twice per action; cache
    # reclaimed by ContextCleaner when the returned plan is unreachable
    from pyspark import StorageLevel

    fps = _persist_hot(
        winnow_fingerprints(df, id_col, text_col, k, w),
        StorageLevel.MEMORY_AND_DISK,
    )
    dupv = (
        fps.select(id_col, "fp_hash")
        .distinct()
        .groupBy("fp_hash")
        .agg(F.count("*").alias("_nd"))
        .where(F.col("_nd") >= 2)
        .select("fp_hash")
    )
    mdoc = (
        fps.join(dupv, "fp_hash")
        .groupBy(id_col)
        .agg(F.collect_set("fp_pos").alias("_mpos"))
    )
    src = (
        df.select(id_col, text_col)
        .where(F.col(text_col).isNotNull())
        .join(mdoc.hint("SHUFFLE_HASH"), id_col, "left")
    )
    id_type = dict(df.dtypes)[id_col]

    def sweep(batches):
        import hashlib

        import numpy as np

        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            mposs = batch.column(2).to_pylist()
            o_n, o_r, o_md5 = [], [], []
            for t, mp in zip(texts, mposs):
                ws = t.split(" ")
                n = len(ws)
                if not mp:
                    o_n.append(n)
                    o_r.append(0)
                    # split(" ") / " ".join round-trip exactly, so the
                    # unmarked doc's kept text IS the input text
                    o_md5.append(hashlib.md5(t.encode("utf-8")).hexdigest())
                    continue
                # fingerprint at gram position p covers words p..p+k-1
                # (p + k <= n by construction): classic diff-array, one
                # cumsum gives the coverage mask
                diff = np.zeros(n + 1, dtype=np.int64)
                for p in mp:
                    diff[p] += 1
                    diff[p + k] -= 1
                cov = np.cumsum(diff[:n]) > 0
                kept = [w_ for w_, c in zip(ws, cov) if not c]
                o_n.append(n)
                o_r.append(int(cov.sum()))
                o_md5.append(
                    hashlib.md5(" ".join(kept).encode("utf-8")).hexdigest()
                )
            yield pa.record_batch(
                [
                    ids,
                    pa.array(o_n, type=pa.int64()),
                    pa.array(o_r, type=pa.int64()),
                    pa.array(o_md5, type=pa.string()),
                ],
                names=[id_col, "n_words", "n_removed", "kept_md5"],
            )

    return src.mapInArrow(
        sweep,
        f"{id_col} {id_type}, n_words long, n_removed long, kept_md5 string",
    )
