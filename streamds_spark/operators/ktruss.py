"""k-truss: the maximal subgraph in which every edge closes at least k-2
triangles WITHIN the subgraph (Cohen 2008, "Trusses: cohesive subgraphs
for social network analysis") — the edge-level cohesion companion to the
node-level k-core (operators/kcore.py). Triangle support is a much
stronger tie signal than degree: a k-core can be a star-of-stars with no
triangles at all, while a k-truss is made of overlapping triangles.

Algorithm: iterative support peeling. Each round (1) enumerates triangles
over the CURRENT edge set with the degree-ordered wedge join
(queries/graph.triangle_count's shape — orientation caps the wedge side at
O(sqrt(m)) so no hub explodes one task), (2) counts per-edge support by
unioning each triangle's three edge roles, and (3) drops edges under
k-2. The fixpoint is the k-truss, which is UNIQUE and peel-order-
independent, so the result is hash-exact against a DuckDB recursive-CTE
replay that recounts with the naive a<b<c formulation.

Scale posture: each round is the triangle-census plan (two equi-shuffles
for the wedge join + the closing join) over a strictly shrinking edge set
— rounds are bounded by the cascade depth, and the first round dominates
because later rounds run on the survivors. The carry-forward edge set
enters the wedge join THREE times (cur^3), the worst compounding shape
for Catalyst's product-of-children size snapshots, so the per-round
truncation is stats-pinned (operators/iterate.py explains the pin; the
loop runs on its fixpoint driver).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamds_spark.operators.iterate import fixpoint


def _support(edges: DataFrame, width: "int | None" = None) -> DataFrame:
    """(u, v, s): triangle count through each edge of `edges(u < v)` —
    degree-ordered enumeration, each triangle credited to its 3 edges.

    `width`: explicit partition count for the wedge stages (the loop passes
    its self-sized value) — AQE coalesces the tiny input exchanges below
    the width the out-degree² explosion needs (see queries/graph.py
    wedge_width); the closing probe is a shuffled-hash join so the wedge
    stream is never sorted."""
    from streamds_spark.queries.graph import oriented_by_degree

    o = oriented_by_degree(edges).localCheckpoint(eager=False)
    lhs, rhs = o.toDF("a", "b"), o.toDF("b", "c")
    if width:
        lhs, rhs = lhs.repartition(width, "b"), rhs.repartition(width, "b")
    wedges = lhs.join(rhs, "b").select("a", "b", "c")
    if width:
        wedges = wedges.repartition(width, "a", "c")
    tri = wedges.join(o.toDF("a", "c").hint("shuffle_hash"), ["a", "c"])

    def norm(x: str, y: str):
        return [
            F.least(F.col(x), F.col(y)).alias("u"),
            F.greatest(F.col(x), F.col(y)).alias("v"),
        ]

    return (
        tri.select(*norm("a", "b"))
        .unionAll(tri.select(*norm("b", "c")))
        .unionAll(tri.select(*norm("a", "c")))
        .groupBy("u", "v")
        .agg(F.count("*").cast("bigint").alias("s"))
    )


def _auto_partitions(n_edges: int, session_default: int) -> int:
    """Self-sized shuffle-partition count for the wedge join: ~40k edges
    per partition (KTRUSS_EDGES_PER_TASK, measured provenance in
    operators/sizing.py — the x10 soak's OOM boundary is ~47k per task).
    Never LOWER granularity below the session default (a small graph keeps
    its fast wide plan); cap the blow-up at KTRUSS_MAX_PARTITIONS."""
    from streamds_spark.operators.sizing import (
        KTRUSS_EDGES_PER_TASK,
        KTRUSS_MAX_PARTITIONS,
    )

    return max(
        session_default,
        min(KTRUSS_MAX_PARTITIONS, -(-n_edges // KTRUSS_EDGES_PER_TASK)),
    )


def ktruss_edges(
    edges: DataFrame,
    k: int,
    max_iter: int = 50,
    shuffle_partitions: "int | None" = None,
) -> tuple[DataFrame, int]:
    """(k-truss edges DataFrame[u, v, s], rounds used) for the undirected
    simple graph `edges(u, v)` with u < v. `s` is each surviving edge's
    support WITHIN the truss (>= k-2 by construction). Empty result = no
    k-truss. Raises if max_iter rounds don't reach the fixpoint (each
    round strictly shrinks the edge set).

    `shuffle_partitions`: memory dial for big graphs — the wedge join's
    per-task sort/aggregate buffers scale with (join fan-out) / (shuffle
    partition count), and the boundary is PARTITION GRANULARITY, not
    heap: the edges ×10 soak OOMs the 8 GiB/32-thread box at the default
    32 partitions, completes in 354.8 s at 48 GiB heap + 32 partitions,
    and completes FASTER (248.8 s) at 8 GiB + 256 partitions. Left unset
    it SELF-SIZES from the operator's own edge count (already materialized
    for the fixpoint test): max(session default, edges / 40k) — 1.2M
    edges stays at a 32-slot session's 32 (measured fine, 20.9 s) and
    lands at 30 on a 4-slot one, 12M edges lands at ~300 (past the
    measured 256-partition completion point).
    The session default is restored on exit either way."""
    if k < 3:
        # k <= 2 makes sup_min <= 0 and the inner support join would WRONGLY
        # drop zero-triangle edges (the 2-truss is the whole graph); the
        # peel is only meaningful from k = 3
        raise ValueError(f"ktruss_edges: k must be >= 3, got {k}")
    sup_min = k - 2
    if shuffle_partitions is not None and int(shuffle_partitions) < 1:
        # the old falsy check treated 0 as "no override"; now that None is
        # the self-size sentinel, a 0/negative override would set an
        # invalid session conf — refuse loudly
        raise ValueError(
            f"ktruss_edges: shuffle_partitions must be >= 1 or None "
            f"(self-size), got {shuffle_partitions}"
        )
    spark = edges.sparkSession
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        cur = edges.select("u", "v").distinct().localCheckpoint(eager=True)
        n_cur = cur.count()
        if shuffle_partitions is None:
            shuffle_partitions = _auto_partitions(n_cur, int(saved))
        if int(shuffle_partitions) != int(saved):
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(int(shuffle_partitions))
            )
        width = int(shuffle_partitions)

        def step(carry, pin):
            cur, n_cur = carry
            keep = pin.checkpoint(
                cur.join(_support(cur, width=width), ["u", "v"]).where(
                    F.col("s") >= sup_min
                )
            )
            # the pin's count is the fixpoint test: nothing peeled, or
            # nothing left
            if pin.last_count in (n_cur, 0):
                return keep, True
            return (keep.select("u", "v"), pin.last_count), False

        run = fixpoint(step, (cur, n_cur), max_iter, "k-truss peeling")
        return run.value, run.rounds
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def ktruss_summary(edges: DataFrame, k: int, max_iter: int = 50) -> DataFrame:
    """1-row census: (k, n_truss_edges, n_truss_nodes, min_support,
    max_support) — supports measured WITHIN the truss; zeros/nulls->0 for
    an empty truss."""
    truss, _ = ktruss_edges(edges, k, max_iter)
    nodes = (
        truss.select(F.col("u").alias("n"))
        .unionAll(truss.select(F.col("v").alias("n")))
        .distinct()
    )
    n_nodes = nodes.count()
    return truss.agg(
        F.lit(k).cast("bigint").alias("k"),
        F.count("*").cast("bigint").alias("n_truss_edges"),
        F.lit(n_nodes).cast("bigint").alias("n_truss_nodes"),
        F.coalesce(F.min("s"), F.lit(0)).cast("bigint").alias("min_support"),
        F.coalesce(F.max("s"), F.lit(0)).cast("bigint").alias("max_support"),
    )
