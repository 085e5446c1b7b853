"""Minimum spanning forest via distributed Boruvka — the graph family's
backbone extractor (max-affinity backbone = MSF on negated/ranked weights).

Boruvka is THE distributed MST algorithm: every round each component picks
its cheapest incident crossing edge (a per-component argmin — one shuffle),
the picked edges merge components (a connected-components pass over a
graph with ONE EDGE PER COMPONENT — component-count-sized, not data-sized),
and intra-component edges drop. Components at least halve per round, so
rounds <= log2(n); every per-round relation is either the surviving
crossing-edge set (strictly shrinking) or component-sized. Nothing
broadcasts the graph and nothing is collected — the textbook
rounds-bounded shape (same posture as the peel/H-index/BFS loops).

Correctness needs DISTINCT edge weights (ties would make "the" cheapest
edge ambiguous and the MSF non-unique): rank (weight, u, v)
lexicographically into a distinct integer key first — with distinct
weights the MSF is UNIQUE, so any correct MST algorithm (including a SQL
cycle-property replay: an edge is in the MSF iff its weight equals the
minimax-path weight between its endpoints) yields the identical edge set.
That uniqueness is what makes the operator oracle-verifiable exactly.

The component-relabel join references the previous round's carry on both
branches (the contraction mapping derives from the same edges it
relabels) — the compounding-stats shape — so each round's carry is
stats-pinned (operators/iterate.py explains the pin; the loop runs on its
fixpoint driver).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamds_spark.operators.concomp import connected_components
from streamds_spark.operators.iterate import fixpoint, lineage_cut


def minimum_spanning_forest(edges: DataFrame, max_rounds: int = 30) -> DataFrame:
    """DataFrame[u, v, w] — the unique minimum spanning forest of the
    undirected edge list `edges(u, v, w)`. `w` must be a DISTINCT total
    order (rank ties away first); self-loops are ignored; disconnected
    inputs yield one tree per component (a forest).

    max_rounds=30 covers 2^30 components; on overrun the partial forest
    is returned with a warning (the connected-components contract)."""
    cedges = (
        edges.filter(F.col("u") != F.col("v"))
        .select(
            F.col("u").alias("cu"),
            F.col("v").alias("cv"),
            "w",
            F.col("u").alias("ou"),
            F.col("v").alias("ov"),
        )
        .transform(lineage_cut)
    )
    # The distinct-total-order contract is load-bearing twice over: ties
    # make "the" cheapest edge ambiguous (non-unique MSF), and the
    # contraction identifies picked edges BY WEIGHT — a duplicated w would
    # semi-join unrelated edges into the contraction and silently corrupt
    # the forest. One cheap aggregate turns that into a loud error.
    wc = cedges.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count("w").alias("n"),
        F.count_distinct("w").alias("d"),
    ).collect()[0]
    # count(w)/count_distinct(w) both ignore NULLs, so a NULL-weight edge
    # would slip past the duplicate check yet can never be picked (min_by
    # skips NULL ordering keys) nor matched by the weight-keyed contraction
    # — it would spin as a phantom "crossing edge" for all max_rounds and
    # degrade the hard contract violation into a warning. Reject it loudly.
    if wc["rows"] != wc["n"]:
        raise ValueError(
            "minimum_spanning_forest: edge weights must be non-NULL "
            f"(got {wc['rows'] - wc['n']} NULL weight(s)) — a NULL weight "
            "violates the distinct-total-order contract"
        )
    if wc["n"] != wc["d"]:
        raise ValueError(
            "minimum_spanning_forest: edge weights must be a DISTINCT total "
            f"order (got {wc['n'] - wc['d']} duplicated weight(s)) — rank "
            "(w, u, v) lexicographically into a distinct key first"
        )
    picked_rounds: list[DataFrame] = []

    def step(cedges, pin):
        # per-component cheapest incident crossing edge (cut property:
        # every one of these is an MSF member). Adjacency = both edge
        # directions; min_by is safe because w is a distinct total order.
        adj = cedges.select(F.col("cu").alias("c"), "w", "ou", "ov").unionByName(
            cedges.select(F.col("cv").alias("c"), "w", "ou", "ov")
        )
        picked = (
            adj.groupBy("c")
            .agg(F.min_by(F.struct("w", "ou", "ov"), "w").alias("e"))
            .select("e.w", "e.ou", "e.ov")
            .distinct()  # both endpoints' components may pick the edge
            # LAZY: materializes inside the contraction's first job
            .transform(lineage_cut)
        )
        picked_rounds.append(picked)
        # contract: components of the picked-edge graph OVER COMPONENT
        # LABELS (component-count-sized input, one edge per component).
        # w is a distinct total order, so it alone identifies the edge.
        pick_labels = cedges.join(
            picked.select("w"), "w", "left_semi"
        ).select(F.col("cu").alias("u"), F.col("cv").alias("v"))
        mapping = connected_components(pick_labels).toDF("node", "newc")
        # relabel both endpoints; labels with no picked edge keep theirs
        cedges = pin.checkpoint(
            cedges.join(mapping.toDF("cu", "nu"), "cu", "left")
            .join(mapping.toDF("cv", "nv"), "cv", "left")
            .select(
                F.coalesce("nu", "cu").alias("cu"),
                F.coalesce("nv", "cv").alias("cv"),
                "w",
                "ou",
                "ov",
            )
            .filter(F.col("cu") != F.col("cv"))
        )
        # the pin's count is the crossing-edge count: none left, done
        if pin.last_count == 0:
            return None, True
        return cedges, False

    # the contract aggregate above already counted the crossing edges, and
    # each round's pin recounts them — no per-round isEmpty job (guide §1.3)
    if wc["rows"]:
        # exhausted: the partial forest is returned
        fixpoint(
            step,
            cedges,
            max_rounds,
            "minimum_spanning_forest",
            exhausted="warn",
        )
    spark = edges.sparkSession
    if not picked_rounds:
        return spark.createDataFrame([], edges.select("u", "v", "w").schema)
    out = picked_rounds[0]
    for p in picked_rounds[1:]:
        out = out.unionByName(p)
    return out.select(F.col("ou").alias("u"), F.col("ov").alias("v"), "w")
