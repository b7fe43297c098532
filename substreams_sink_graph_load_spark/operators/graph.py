"""Fixed-point PageRank over an edge relation (iterative join-agg).

The LLM-curation use: link-graph authority as a document-quality prior
(the CommonCrawl-style "rank the hosts, weight the pages" signal).  The
engine contract mirrors the rest of the registry: EXACT integer
arithmetic so any two engines — or any two partitionings of the same
engine — produce bit-identical ranks.

Design (Spark-first, not Pregel):

- Ranks are parts-per-million bigints (1_000_000 = 1.0).  Each
  iteration every node sends ``(rank * damping_pct) div (100 * degree)``
  along its out-edges and collects ``base + sum(contrib)``, where
  ``base = (100 - damping_pct) * 10_000``.  Integer div + integer sum
  are associative/commutative, so shuffle order and partial-aggregation
  order CANNOT change the result — the floating-point PageRank's
  summation-order nondeterminism is designed out rather than rounded
  away.
- Each iteration is one shuffled join (edges ⋈ ranks on src) + one
  partial-before-shuffle sum keyed on dst.  At cluster scale both sides
  hash-partition on the node key, and because every iteration keys the
  SAME way, the rank side's exchange is reusable; edges are the large
  stable side (cache() them across iterations).  AQE handles hub skew
  (a hot dst is a sum, mergeable map-side).
- Iteration 1's join is constant-folded: rank_0 is uniform, so the
  first round's contribution is a projection over the cached edges and
  one whole join never enters the plan.  (The complementary idea —
  replacing the per-round nodes LEFT JOIN with a static no-in-edge
  union — measured SLOWER under AQE and is deliberately NOT done; see
  the in-loop comment.)
- The iteration count is a fixed small constant (power iteration
  converges geometrically at rate ``damping``), so the lineage stays
  shallow; no checkpointing needed below ~20 rounds.

No counterpart in the reference (file-sink scope); this is part of the
training-data-pipeline family (SURVEY §2.13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PPM = 1_000_000


def pagerank_ppm(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    src: str = "src",
    dst: str = "dst",
    symmetric: bool = False,
    copartition: int | None = None,
) -> DataFrame:
    """Exact integer PageRank: ``(node, deg, rank_ppm)``.

    ``edges`` is a DIRECTED edge list (pass both directions for an
    undirected graph).  Dangling nodes (no out-edges) never appear as
    ``src`` and therefore contribute nothing — callers wanting the
    classic redistribute-dangling-mass variant should densify edges
    first.  Nodes with no in-edges converge to the base mass.

    ``symmetric=True`` (r12) declares that every node appears as BOTH a
    src and a dst (true for any both-directions undirected encoding, e.g.
    ``pagerank_edges``).  Then node set == src set == dst set, which
    deletes three whole relations from the plan (all integer arithmetic
    unchanged, so ranks are bit-identical):

    - the nodes union+distinct (src set suffices — derived from the deg
      window for free);
    - the per-iteration ``nodes LEFT JOIN contrib`` (contrib already
      covers every node: 5 joins + their scheduling rounds gone —
      profiled at 39 jobs / 84 stages for 5 iterations before);
    - the degree GROUP BY + edges-join (deg rides the edge relation as a
      window count over the SAME key the edges are partitioned on).

    ``copartition=N`` (symmetric mode only) pins the edge relation's
    partitioning to ``HashPartitioning(src, N)`` with an explicit
    repartition the AQE coalescer cannot fold away — every iteration's
    edges-side join and the final degree aggregation then ride the
    cached partitioning.  Pass None when the edges already arrive
    usefully partitioned, or for the general path.
    """
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (1, 99)")
    base = (100 - damping_pct) * (PPM // 100)

    if symmetric:
        return _pagerank_ppm_symmetric(
            edges, iterations, base, damping_pct, src, dst, copartition
        )

    deg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )
    # All nodes (either endpoint), so in-degree-0 nodes still get a row.
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    # Pre-divide each edge's share denominator once: contrib(u->v) only
    # needs rank_u at iteration time.
    e = edges.join(deg, edges[src] == deg["node"]).select(
        F.col(src).alias("e_src"), F.col(dst).alias("e_dst"), "deg"
    )
    # The edge relation is read by every iteration; without a persist the
    # final DAG re-derives it (scan + degree agg + join) once per round.
    e = e.persist()
    nodes = nodes.persist()
    ranks = nodes.withColumn("rank_ppm", F.lit(PPM).cast("long"))
    for i in range(iterations):
        if i == 0:
            # rank_0 is the uniform PPM: iteration 1's edges-joins-ranks
            # is a constant projection over the cached edges — one whole
            # join (scan + SMJ) deleted from the plan (sf1 A/B: -13%)
            pre = e.select(
                F.col("e_dst").alias("node"),
                F.expr(f"({PPM} * {damping_pct}) div (100 * deg)").alias("c"),
            )
        else:
            pre = e.join(ranks, e["e_src"] == ranks["node"]).select(
                F.col("e_dst").alias("node"),
                F.expr(f"(rank_ppm * {damping_pct}) div (100 * deg)").alias(
                    "c"
                ),
            )
        contrib = pre.groupBy("node").agg(
            F.sum("c").cast("long").alias("in_mass")
        )
        # The (nodes LEFT JOIN contrib) keeps in-degree-0 nodes alive AND
        # — measured, keep it — hands AQE an exactly-sized node-cardinality
        # relation it broadcasts into the next round's edge join; replacing
        # it with a union of a static no-in-edge frame was SLOWER at sf1
        # (21.7s vs 17.6s) because the union hides that runtime size.
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce(F.col("in_mass"), F.lit(0)))
                .cast("long")
                .alias("rank_ppm"),
            )
        )
    out = ranks.join(deg, "node", "left").select(
        "node",
        F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("deg"),
        "rank_ppm",
    )
    # Materialize the (small, node-cardinality) result once and truncate
    # its lineage, then RELEASE the cached edge/node blocks — returning a
    # lazy frame over persisted parents leaked both caches for the rest
    # of the session on every call.  localCheckpoint blocks are reclaimed
    # by the ContextCleaner when the returned frame is garbage-collected,
    # unlike an explicit persist which outlives the caller.
    out = out.localCheckpoint(eager=True)
    e.unpersist()
    nodes.unpersist()
    return out


def _pagerank_ppm_symmetric(
    edges: DataFrame,
    iterations: int,
    base: int,
    damping_pct: int,
    src: str,
    dst: str,
    copartition: int | None,
) -> DataFrame:
    """The ``symmetric=True`` body of :func:`pagerank_ppm` — identical
    integer arithmetic over a plan with no nodes relation and no
    per-iteration left join (see the caller's docstring)."""
    from pyspark.sql import Window

    e = edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
    if copartition:
        e = e.repartition(copartition, F.col("e_src"))
    # degree as a window count over the src-partitioning the edges
    # already have or were just pinned to — one exchange TOTAL for deg +
    # co-location, vs groupBy + join-back
    e = e.withColumn(
        "deg",
        F.count("*")
        .over(Window.partitionBy("e_src"))
        .cast("long"),
    )
    e = e.persist()
    ranks = None
    for i in range(iterations):
        if i == 0:
            # rank_0 is the uniform PPM: iteration 1's edges⋈ranks join
            # is a constant projection over the cached edges
            pre = e.select(
                F.col("e_dst").alias("node"),
                F.expr(f"({PPM} * {damping_pct}) div (100 * deg)").alias("c"),
            )
        else:
            pre = e.join(ranks, e["e_src"] == ranks["node"]).select(
                F.col("e_dst").alias("node"),
                F.expr(f"(rank_ppm * {damping_pct}) div (100 * deg)").alias(
                    "c"
                ),
            )
        # every node has an in-edge by declaration, so contrib covers the
        # full node set and base + in_mass IS the next rank vector
        ranks = pre.groupBy("node").agg(
            (F.lit(base) + F.sum("c")).cast("long").alias("rank_ppm")
        )
    # deg table from the cached src-partitioned edges: partial+final agg
    # with no additional exchange; inner join == left join here (both
    # sides carry exactly the node set)
    degs = e.groupBy(F.col("e_src").alias("node")).agg(
        F.first("deg").alias("deg")
    )
    out = ranks.join(degs, "node").select("node", "deg", "rank_ppm")
    out = out.localCheckpoint(eager=True)
    e.unpersist()
    return out

