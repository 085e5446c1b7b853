"""Sampled stress centrality — the path-based centrality family, exactly.

Stress centrality (Shimbel 1953) counts the shortest paths THROUGH a node:
stress(v) = sum over s != v != t of sigma_st(v), where sigma_st(v) is the
number of shortest s-t paths containing v. It is the integer sibling of
betweenness (Brandes 2001 computes betweenness from the same per-source
quantities but divides by sigma_st — the rational deltas would break the
repo's hash-exact oracle discipline; stress keeps every intermediate an
exact BIGINT, which is why THIS is the path centrality the engine ships).

Pivot sampling (Brandes & Pich 2007, "Centrality estimation in large
networks"): summing over a deterministic pivot set S instead of all sources
scales the per-source cost by |S| while preserving the ranking signal.
Pivots here are the k nodes with the smallest (md5(node), node) — the
repo's standard deterministic draw, replayable in SQL — so the SAMPLED
stress is itself a pure function of the graph and hash-exact cross-engine
(the estimate's variance vs all-sources stress is the documented
approximation, the HLL-twin discipline).

Per pivot set (all pivots swept TOGETHER, keyed by src):

  forward   level-synchronous BFS accumulating path counts:
            sigma(s, v) = sum of sigma(s, u) over predecessors u on the
            shortest-path DAG — one frontier x adjacency join + one
            (src, node) partial-agg per level, rounds = eccentricity;
  backward  descendant-path counts down the same DAG:
            psi(s, v) = sum over DAG-successors w of (1 + psi(s, w))
            (each successor contributes its edge plus every shortest path
            continuing from it) — one level-sized join per level, walked
            from the deepest level up;
  combine   pivot s routes sigma(s, v) * psi(s, v) shortest paths through
            v (paths INTO v times shortest continuations OUT of v), so
            stress_S(v) = sum over s in S, s != v.

Scale shape: state is |S| x nodes rows (never nodes x nodes — the exact
all-pairs answer), every join is frontier- or level-sized against the fixed
adjacency, rounds are bounded by the diameter in each direction, and the
carry is linear (no stats-pin needed; lineage truncated per level).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamds_spark.operators.iterate import lineage_cut, lineage_cut_eager, undirected

STRESS_PIVOTS = 4


def _pivots(adj: DataFrame, k: "int | None") -> DataFrame:
    """The k deterministic pivot sources: smallest (md5(node), node).
    k=None selects EVERY node — the all-sources (exact) sweep, used by the
    estimator-accuracy audit. The md5 ordering makes pivot sets NESTED
    PREFIXES of each other: the first 4 of a 32-pivot draw are exactly the
    4-pivot draw, so one per-source sweep can grade several pivot counts."""
    srcs = adj.select(F.col("u").alias("src")).distinct()
    if k is None:
        return srcs
    return srcs.orderBy(F.md5(F.col("src").cast("string")), "src").limit(k)


def stress_per_source(
    edges: DataFrame, pivots: "int | None" = STRESS_PIVOTS, max_iter: int = 64
) -> DataFrame:
    """DataFrame[src, node, through] — for each pivot source s and node
    v != s, the exact number of shortest s-anywhere paths routed THROUGH v
    (sigma(s,v) * psi(s,v), BIGINT). pivots=None sweeps EVERY node as a
    source — the exact all-sources decomposition (state nodes x reachable,
    audit-scale graphs only); the top-k fold over any pivot PREFIX of the
    same sweep equals stress_centrality_topk at that pivot count."""
    adj = undirected(edges.select("u", "v"), distinct=True).transform(
        lineage_cut_eager
    )
    spark = edges.sparkSession
    if adj.isEmpty():
        return spark.createDataFrame([], "src bigint, node bigint, through bigint")
    src = _pivots(adj, pivots).transform(lineage_cut)

    # -- forward: (src, node, dist, sigma), level-synchronous ---------------
    reached = src.select(
        "src",
        F.col("src").alias("node"),
        F.lit(0).alias("dist"),
        F.lit(1).cast("bigint").alias("sigma"),
    ).transform(lineage_cut)

    def expand(frontier: DataFrame, seen: DataFrame, lvl: int) -> DataFrame:
        return (
            frontier.join(adj, frontier.node == adj.u)
            .select("src", F.col("v").alias("node"), "sigma")
            .join(seen.select("src", "node"), ["src", "node"], "left_anti")
            .groupBy("src", "node")
            .agg(F.sum("sigma").alias("sigma"))
            .select("src", "node", F.lit(lvl).alias("dist"), "sigma")
            .transform(lineage_cut)
        )

    frontier = reached
    depth = 0
    # LEVEL-BATCHED expansion (round 12, per VERDICT r11 item 7, guide
    # 1.3): TWO levels are chained lazily and materialized by ONE tagged
    # count job that yields both frontier sizes - versus the r11 loop's
    # eager-checkpoint + isEmpty pair per level, that is ~4x fewer driver
    # jobs on the same row-for-row expansion (each level's anti-join still
    # excludes exactly the unbatched `reached` set: level L+1 checks
    # reached UNION frontier_L, chained lazily). Exhaustion can only be
    # CONFIRMED by an empty expansion, so an eccentricity of exactly
    # max_iter still gets its probe level before being accepted (the
    # max_iter+1 boundary runs a single-level probe).
    lvl = 1
    while lvl <= max_iter + 1:
        nxt1 = expand(frontier, reached, lvl)
        reached1 = reached.unionByName(nxt1).transform(lineage_cut)
        probe2 = lvl + 1 <= max_iter + 1
        nxt2 = expand(nxt1, reached1, lvl + 1) if probe2 else None
        tagged = nxt1.select(F.lit(1).alias("_l"))
        if probe2:
            tagged = tagged.unionByName(nxt2.select(F.lit(2).alias("_l")))
        counts = {
            r["_l"]: r["cnt"]
            for r in tagged.groupBy("_l").agg(F.count("*").alias("cnt")).collect()
        }
        if counts.get(1, 0) == 0:
            break  # level lvl confirmed empty: exhausted at depth lvl - 1
        if lvl > max_iter:
            raise RuntimeError(
                f"stress BFS did not exhaust in {max_iter} levels"
            )
        depth = lvl
        reached, frontier = reached1, nxt1
        # probe2 is always True here: its only False case is lvl ==
        # max_iter + 1, which the raise above already rejected
        if counts.get(2, 0) == 0:
            break  # level lvl+1 confirmed empty: exhausted at depth lvl
        if lvl + 1 > max_iter:
            raise RuntimeError(
                f"stress BFS did not exhaust in {max_iter} levels"
            )
        depth = lvl + 1
        reached = reached1.unionByName(nxt2).transform(lineage_cut)
        frontier = nxt2
        lvl += 2

    # -- backward: psi by level, deepest first ------------------------------
    # nodes at the global deepest level have no successors anywhere: psi = 0;
    # shallower levels left-join their successor sums (no successors -> 0)
    psi = reached.where(F.col("dist") == depth).select(
        "src", "node", F.lit(0).cast("bigint").alias("psi")
    ).transform(lineage_cut)
    for lvl in range(depth - 1, -1, -1):
        at = reached.where(F.col("dist") == lvl).select("src", "node")
        below = reached.where(F.col("dist") == lvl + 1).select(
            "src", F.col("node").alias("w")
        )
        succ = (
            at.join(adj, at.node == adj.u)
            .select("src", "node", F.col("v").alias("w"))
            .join(below, ["src", "w"])  # DAG edge: dist(w) == dist(v) + 1
            .join(
                # contract-explicit rename (a positional toDF would
                # silently mis-bind if the psi union's column order moved)
                psi.withColumnsRenamed({"node": "w", "psi": "wpsi"}),
                ["src", "w"],
            )
            .groupBy("src", "node")
            .agg(F.sum(F.lit(1) + F.col("wpsi")).cast("bigint").alias("psi"))
        )
        lvl_psi = (
            at.join(succ, ["src", "node"], "left")
            .select(
                "src",
                "node",
                F.coalesce("psi", F.lit(0)).cast("bigint").alias("psi"),
            )
        )
        # LAZY: the backward pass runs ZERO driver jobs — every level's
        # union folds into the final combine action (lineage still truncated
        # per level, so the logical plan stays flat)
        psi = psi.unionByName(lvl_psi).transform(lineage_cut)

    # -- combine: pivot s routes sigma(s,v) * psi(s,v) paths through v ------
    return (
        reached.join(psi, ["src", "node"])
        .where(F.col("node") != F.col("src"))
        .select(
            "src",
            "node",
            (F.col("sigma") * F.col("psi")).cast("bigint").alias("through"),
        )
    )


def stress_centrality_topk(
    edges: DataFrame,
    k: int = 20,
    pivots: "int | None" = STRESS_PIVOTS,
    max_iter: int = 64,
) -> DataFrame:
    """DataFrame[node, stress] — top-k nodes by pivot-sampled stress
    centrality of the undirected simple graph `edges(u, v)`: the exact
    number of pivot-sourced shortest paths through each node (BIGINT),
    ties broken (stress DESC, node ASC). Pivot nodes themselves still
    appear (other pivots' paths may route through them); endpoints don't
    count their own paths (v != s, and psi counts only continuations).
    pivots=None folds the exact all-sources stress (audit-scale graphs)."""
    return (
        stress_per_source(edges, pivots=pivots, max_iter=max_iter)
        .groupBy("node")
        .agg(F.sum("through").cast("bigint").alias("stress"))
        .orderBy(F.desc("stress"), "node")
        .limit(k)
    )
