"""Distributed BFS: minimum hop distances from a source set over an
undirected simple graph — the frontier-expansion pattern (Pregel/GraphX's
shortest-path primitive) as plain DataFrame ops, completing the iterative-
graph family next to the peel loop (kcore), the H-index decomposition, the
fixed-point PageRank, and the fixpoint connected components.

Each round is one equi-join of the CURRENT FRONTIER against the adjacency
plus an anti-join against the visited set — the frontier is the only
relation that moves, and it only ever shrinks after the expansion wave
passes its peak, so per-round cost tracks the wave, not the graph. Rounds
are bounded by the graph's eccentricity from the sources (the diameter in
the worst case), NOT its size; `max_iter` guards pathological chains and
the function raises rather than return a partial traversal. Lineage is
truncated per round (localCheckpoint) — without it the plan doubles per
hop. Distances are small integers, so the whole traversal is hash-exact
against a DuckDB recursive-CTE replay of the same wave (see
queries/graph.py copurchase_hops_from_hub).

At cluster scale the adjacency is the big relation: it shuffles on the
join key once per round, frontier-sized probes ride it, and nothing is
ever broadcast by hint (AQE is free to broadcast a genuinely small
frontier at runtime — the same discipline as the size-gated peel join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamds_spark.operators.iterate import (
    fixpoint,
    lineage_cut,
    lineage_cut_eager,
    undirected,
)


def _bfs_wave(
    adj: DataFrame, frontier: DataFrame, key: list[str], max_iter: int, what: str
) -> DataFrame:
    """DataFrame[*key, node, dist] — the BFS wave from `frontier(*key,
    node)` (the dist-0 rows) over the half-edge table `adj(u, v)`, one
    independent wave per key value (no key: one wave from the whole
    frontier). Each round expands the frontier one hop and anti-joins the
    visited (key, node) pairs; the eager frontier checkpoint is the round's
    driver job, and `isEmpty` on it is the stop test."""
    cols = [*key, "node"]
    dist = frontier.withColumn("dist", F.lit(0).cast("bigint"))

    def step(carry, pin):
        frontier, dist, d = carry
        nxt = (
            frontier.join(adj, frontier.node == adj.u)
            .select(*key, F.col("v").alias("node"))
            .distinct()
            .join(dist.select(*cols), cols, "left_anti")
            .transform(lineage_cut_eager)
        )
        if nxt.isEmpty():
            return dist, True
        # LAZY union checkpoint: the visited table is consumed inside the
        # NEXT hop's eager frontier job (or the caller's terminal action), so
        # the copy folds into that job — one driver job per hop, not two
        # (guide §1.3)
        dist = dist.unionByName(
            nxt.withColumn("dist", F.lit(d).cast("bigint"))
        ).transform(lineage_cut)
        return (nxt, dist, d + 1), False

    return fixpoint(step, (frontier, dist, 1), max_iter, what).value


def hop_distances(
    edges: DataFrame, sources: DataFrame, max_iter: int = 50
) -> DataFrame:
    """DataFrame[node, dist: bigint] — minimum hop count from any node in
    `sources(node)` over `edges(u, v)`. Unreached nodes are absent. The
    keyed wave with no key: all sources expand as one wave. (A constant
    key column would cost round 1 two extra exchanges: the frontier's
    node partitioning would no longer serve the visited-set anti-join.)"""
    adj = undirected(edges.select("u", "v"), distinct=False).transform(
        lineage_cut_eager
    )
    frontier = sources.select("node").distinct().transform(lineage_cut_eager)
    return _bfs_wave(adj, frontier, [], max_iter, "BFS hops")


def weighted_distances(
    edges: DataFrame, sources: DataFrame, max_iter: int = 100
) -> DataFrame:
    """DataFrame[node, dist: bigint] — minimum path COST from any node in
    `sources(node)` over the undirected weighted graph `edges(u, v, w)`
    (positive integer weights). Unreached nodes are absent.

    Frontier Bellman-Ford (min-plus relaxation): each round relaxes only
    edges leaving nodes whose distance IMPROVED last round — the weighted
    generalization of the BFS wave above (hop_distances is this operator
    with w = 1, where an improvement can never revisit a settled node).
    With positive integer weights every improvement strictly lowers a
    bounded integer, so the fixpoint is reached in at most
    (max path cost / min weight) rounds and equals the true single-source
    distances; integer costs keep the whole census hash-exact against a
    DuckDB recursive-CTE replay of the dense relaxation (same fixpoint,
    per-round states may differ — only the fixpoint is compared).

    Scale shape: per round one adjacency equi-join PROBED BY THE FRONTIER
    (the only relation that moves; it tracks the relaxation wave, not the
    graph), a groupBy-min over candidate updates, and one carry-forward
    left join against the n-row distance table. Nothing broadcasts by hint
    (AQE may broadcast a genuinely small frontier at runtime). `improved`
    and `dist` each descend from the other through outer joins, so
    `improved` is stats-pinned (operators/iterate.py); that keeps `dist`'s
    growth linear, so its own truncation is a plain lazy checkpoint whose
    copy folds into the next round's pin job: one driver job per round."""
    adj = undirected(
        edges.select("u", "v", F.col("w").cast("bigint").alias("w")),
        distinct=False,
    ).transform(lineage_cut_eager)
    dist = (
        sources.select("node")
        .distinct()
        .withColumn("dist", F.lit(0).cast("bigint"))
        .transform(lineage_cut_eager)
    )

    def step(carry, pin):
        frontier, dist = carry
        cand = (
            adj.join(frontier, adj.u == frontier.node)
            .select(F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("nd"))
            .groupBy("node")
            .agg(F.min("nd").alias("nd"))
        )
        improved = pin.checkpoint(
            cand.join(dist.withColumnRenamed("node", "dn"), cand.node == F.col("dn"), "left")
            .where(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
            .select("node", F.col("nd").cast("bigint").alias("dist"))
        )
        # the pin's own materialization count answers the fixpoint test —
        # no separate isEmpty job (guide §1.3)
        if pin.last_count == 0:
            return dist, True
        dist = (
            dist.join(
                improved.withColumnRenamed("dist", "nd"), "node", "left"
            )
            .select(
                "node",
                F.coalesce("nd", "dist").cast("bigint").alias("dist"),
            )
            .unionByName(
                improved.join(dist.select("node"), "node", "left_anti")
            )
            .transform(lineage_cut)
        )
        return (improved, dist), False

    return fixpoint(step, (dist, dist), max_iter, "weighted relaxation", lag=4).value


def keyed_distances(
    edges: DataFrame, sources: "DataFrame | None" = None, max_iter: int = 50
) -> DataFrame:
    """DataFrame[src, node, dist] — minimum hop count from EACH source to
    every node it reaches, swept together keyed by src (the stress
    operator's forward wave, distances only). sources(src) defaults to
    EVERY node — the exact all-pairs table behind the harmonic-centrality
    accuracy audit; state is sum over components of |c|^2, so this is for
    audit-scale graphs, not the 100 TB path (hop_distances /
    operators/anf.py are the single-source-set and sketched answers there).
    Unreached (src, node) pairs are absent; dist=0 rows are the sources."""
    adj = undirected(edges.select("u", "v"), distinct=True).transform(
        lineage_cut_eager
    )
    spark = edges.sparkSession
    if sources is None:
        sources = adj.select(F.col("u").alias("src")).distinct()
    else:
        sources = sources.select(F.col(sources.columns[0]).alias("src")).distinct()
    frontier = sources.select(
        "src", F.col("src").alias("node")
    ).transform(lineage_cut_eager)
    if frontier.isEmpty():
        return spark.createDataFrame([], "src bigint, node bigint, dist bigint")
    return _bfs_wave(adj, frontier, ["src"], max_iter, "keyed BFS hops")
