"""Connected components as a first-class operator: (node, component) toward
the component's minimum node id over an undirected edge list.

This is the pointer-jumping label propagation that has lived inside the
dedup pipeline since round 2 (operators/dedup_pipeline.py resolve_groups —
duplicate clusters chain A~B, B~C without A~C, so cluster resolution IS
connected components), promoted to the graph family so the algorithm is
usable on any edge list and census-checkable on the co-purchase graph next
to triangles / k-core / k-truss / BFS / ANF. resolve_groups now delegates
here; its tests pin that the delegation changes nothing.

Algorithm (Kiveris et al. "Connected Components in MapReduce and Beyond",
SoCC'14 family): each round does (1) a neighbor-min propagation — every
node takes the min of its own label and its neighbors' labels — and (2) a
pointer jump (label <- label's label), so a node's distance-in-rounds to
its component minimum roughly HALVES per round: O(log diameter) rounds,
not O(diameter). Convergence is detected by the total label sum —
min-propagation is monotonically non-increasing per node, so an unchanged
sum is a fixpoint.

Scale shape: per round one adjacency equi-join (the adjacency shuffles on
its join key; label-sized probes ride it), one groupBy-min (partial
aggregation collapses the fan-in map-side), and one label⋈label pointer
jump. Nothing broadcasts by hint. The pointer jump joins two relations
that BOTH descend from the previous round's carry, so each round's
truncation is stats-pinned (operators/iterate.py explains the pin; the
loop runs on its fixpoint driver).

The reference (StreamDS, Go) has no graph surface; this extends the
engine's iterative family (SURVEY.md §2 'beyond-reference' operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamds_spark.operators.iterate import fixpoint, lineage_cut_eager, undirected


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """DataFrame[node, component] — component = min node id reachable from
    `node` over the undirected edge list `edges(u, v)`. Every node that
    appears in an edge gets a row; isolated nodes are absent (the edge list
    doesn't know them — union them in with component = node if needed).

    Warns (matching the dedup pipeline's long-standing contract) rather
    than raises on non-convergence: chains deeper than 2^max_iter rounds of
    halving may keep multiple labels per component.
    """
    from pyspark.sql.types import NumericType

    bidir = undirected(edges.select("u", "v"), distinct=False).transform(
        lineage_cut_eager
    )
    labels = (
        bidir.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .transform(lineage_cut_eager)
    )
    # Convergence detection: labels only ever DECREASE (min/least), so the
    # label vector changed iff some label strictly decreased. For numeric
    # node ids the decimal SUM is a monotone 1-row proxy (equal sum ⟺
    # unchanged). Non-numeric ids (brand strings from a contracted graph)
    # have no sum — fall back to an exact changed-row check (one node-sized
    # join per round; CC rounds are O(log diameter), so the cost is bounded).
    numeric_ids = isinstance(labels.schema["component"].dataType, NumericType)
    sums = [None]  # the previous round's label sum

    def step(labels, pin):
        neighbor_min = (
            bidir.join(labels, bidir.v == labels.node)
            .groupBy(F.col("u").alias("n2"))
            .agg(F.min("component").alias("nmin"))
        )
        stepped = labels.join(
            neighbor_min, labels.node == F.col("n2"), "left"
        ).select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
            ).alias("component"),
        )
        jump = stepped.select(
            F.col("node").alias("jnode"), F.col("component").alias("jcomp")
        )
        jumped = stepped.join(jump, stepped.component == jump.jnode, "left").select(
            "node",
            F.coalesce(F.col("jcomp"), F.col("component")).alias("component"),
        )
        if numeric_ids:
            # the label-sum convergence probe rides the pin's own
            # materialization scan — one driver job per round, not two
            nxt = pin.checkpoint(
                jumped,
                extra_aggs=[F.sum(F.col("component").cast("decimal(38,0)"))],
            )
            unchanged = pin.last_aggs[0] == sums[-1]
            sums.append(pin.last_aggs[0])
        else:
            nxt = pin.checkpoint(jumped)
            unchanged = (
                nxt.toDF("node", "newc")
                .join(labels.toDF("node", "oldc"), "node")
                .filter(F.col("newc") != F.col("oldc"))
                .isEmpty()
            )
        # unchanged labels: the entering table is the fixpoint
        return (labels, True) if unchanged else (nxt, False)

    # exhausted: chains deeper than 2^max_iter may keep multiple labels
    return fixpoint(
        step, labels, max_iter, "connected_components", exhausted="warn"
    ).value


def component_census(edges: DataFrame) -> DataFrame:
    """DataFrame[component_size, n_components] — the size histogram of the
    connected components of `edges(u, v)`, ordered by size. All-BIGINT
    (hash-exact against a recursive-CTE min-label replay: the Spark side
    pointer-jumps in O(log d) rounds, the oracle propagates in O(d) rounds —
    per-round states differ, the fixpoint is identical)."""
    comp = connected_components(edges)
    sizes = comp.groupBy("component").agg(F.count("*").alias("sz"))
    return (
        sizes.groupBy(F.col("sz").cast("bigint").alias("component_size"))
        .agg(F.count("*").cast("bigint").alias("n_components"))
        .orderBy("component_size")
    )
