"""PageRank over an edge DataFrame — the second iterative-algorithm pattern
(next to kmeans): a bounded driver loop where each iteration is one
join + aggregation, and only convergence scalars reach the driver.

Scale: ranks and edges stay distributed; the per-iteration shuffle is on dst
(the same key every round, so at scale pre-partition/bucket edges by src and
ranks by id to make the join exchange-free). Dangling nodes (no out-edges)
redistribute their mass uniformly, keeping the rank sum ≈ N like the classic
formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamds_spark.operators.iterate import lineage_cut


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 3,
) -> DataFrame:
    """Returns (node, rank) with sum(rank) ≈ number of nodes.

    edges: directed (src, dst) pairs; duplicate edges count once.
    checkpoint_every: truncate the rank lineage every k iterations
    (localCheckpoint) — without it each iteration's plan nests the previous
    one and Catalyst analysis cost grows superlinearly with iteration count.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()  # scalar for the teleport term
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    ranks = nodes.withColumn("rank", F.lit(1.0))
    # lazy checkpoints (round 11, guide §1.3): materialization folds into
    # the first iteration's dangling-mass job instead of standalone jobs
    e = e.transform(lineage_cut)  # small, reused every iteration
    out_deg = out_deg.transform(lineage_cut)

    for it in range(max_iter):
        contribs = (
            e.join(ranks, e.src == ranks.node)
            .join(out_deg, "src")
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        # dangling mass: ranks of nodes with no out-edges, spread uniformly
        dangling = (
            ranks.join(out_deg, ranks.node == out_deg.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m"))
            .collect()[0]["m"]
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.lit(dangling / n_nodes))
                ).alias("rank"),
            )
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            # lazy: the next iteration's dangling collect materializes it
            ranks = ranks.transform(lineage_cut)
    return ranks


def pagerank_fixed_point(
    edges: DataFrame,
    damping_pct: int = 85,
    scale: int = 1_000_000_000,
    max_iter: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 3,
) -> DataFrame:
    """PageRank in FIXED-POINT INTEGER arithmetic: (node, rank) with ranks in
    `scale`-units (BIGINT), recurrence

        contrib(u->v) = rank(u) div deg(u)                 (truncated)
        rank'(v)      = ((100-d)*scale) div 100
                        + (d * inflow(v)) div 100          (d = damping_pct)

    Every operation is integer, so the result is independent of aggregation
    ORDER — the property float PageRank lacks (double sums are
    partial-agg-order sensitive) and the reason this variant can be
    hash-checked against a DuckDB recursive-CTE oracle replaying the same
    recurrence. Truncation drops < deg(u) units per node per round
    (relative error ~deg/scale ~ 1e-6), far below any ranking use.

    Designed for graphs where every node has an in-edge (e.g. undirected
    graphs fed as both edge directions): dangling-node mass is DROPPED, not
    redistributed — use `pagerank` (float, dangling-aware) for arbitrary
    directed graphs where mass conservation matters.

    Scale posture mirrors `pagerank`: the per-iteration shuffle hashes the
    same key every round, iterations are driver-bounded, and
    localCheckpoint truncates plan growth.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = e.select(F.col("src").alias("node")).distinct()
    base = ((100 - damping_pct) * scale) // 100
    ranks = nodes.withColumn("rank", F.lit(scale).cast("bigint"))
    # lazy checkpoints (round 11): with no per-iteration scalar to collect,
    # the WHOLE fixed-point loop now runs as one job at the first action —
    # each checkpoint still truncates lineage/plan growth at build time
    e = e.transform(lineage_cut)
    deg = deg.transform(lineage_cut)

    for it in range(max_iter):
        inflow = (
            e.join(ranks, e.src == ranks.node)
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank div deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = nodes.join(inflow, "node", "left").select(
            "node",
            F.expr(
                f"CAST({base} + ({damping_pct} * coalesce(inflow, 0L)) div 100"
                " AS BIGINT)"
            ).alias("rank"),
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            ranks = ranks.transform(lineage_cut)
    return ranks
