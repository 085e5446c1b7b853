"""k-core decomposition: iteratively peel nodes of degree < k until the
remaining subgraph's minimum degree is ≥ k (the classic Matula/Beck
peeling, distributed as repeated degree-count + anti-join rounds).

No reference analog (the reference has no graph surface); companion to the
one-shot triangle census (queries/graph.py) and the fixpoint connected
components (operators/dedup_pipeline.py).

Scale posture: each round is one groupBy-degree shuffle plus an anti-join
against the peeled set. The peeled set is NOT always small — on a
heavy-tailed graph with a large k, the FIRST round's peel set (every node
with degree < k) is the majority of the graph, so a forced broadcast there
is a multi-GB OOM at cluster scale. The anti-join hint is therefore
size-gated: we already run one job per round to count the peel set (the
fixpoint test), so the same count decides broadcast (tiny peel set) vs a
plain shuffled anti-join where AQE is free to re-plan at runtime. Lineage
is truncated every round — without it the plan doubles per iteration and
the driver OOMs on plan size long before data size matters. Both loops run
on operators/iterate.fixpoint; why and where a round pins is explained in
that module. Rounds are bounded by the graph's degeneracy ordering depth,
~O(log n) on heavy-tailed graphs; `max_iter` caps pathological chains and
raising it is safe because each round strictly shrinks the node set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamds_spark.operators.iterate import (
    Round,
    fixpoint,
    lineage_cut,
    lineage_cut_eager,
    undirected,
)

# Broadcast the peel set only below this row count. At ~16 bytes per id row
# this stays well under the default 10 MB autoBroadcastJoinThreshold and far
# under executor memory at any scale; above it, the plain anti-join shuffles
# and AQE may still broadcast if runtime stats allow.
PEEL_BROADCAST_ROW_CAP = 100_000


def _peel_once(adj: DataFrame, low: DataFrame, n_low: int) -> DataFrame:
    """One peel round: drop every half-edge touching a peeled node.

    Returns the PRE-checkpoint plan so tests can pin the join strategy:
    broadcast hint only when the peel set is provably tiny (n_low ≤
    PEEL_BROADCAST_ROW_CAP); otherwise an unhinted anti-join that AQE
    sizes at runtime.
    """
    right = F.broadcast(low) if n_low <= PEEL_BROADCAST_ROW_CAP else low
    return adj.join(right, adj.u == low.n, "left_anti").join(
        right, adj.v == low.n, "left_anti"
    )


def kcore_nodes(edges: DataFrame, k: int, max_iter: int = 50) -> DataFrame:
    """Nodes of the k-core of the undirected simple graph `edges(u, v)`.

    Returns DataFrame[node: <id type>, degree: bigint] — the node's degree
    WITHIN the k-core (≥ k by construction). Empty result = no k-core.
    Raises RuntimeError if max_iter rounds don't reach the fixpoint (each
    round strictly shrinks the graph, so this only triggers on a peel chain
    deeper than max_iter — rerun with a higher cap).
    """
    adj = undirected(edges.select("u", "v"), distinct=False).transform(
        lineage_cut_eager
    )

    # Each truncation is a pin (persist + count + lazy checkpoint): the
    # materialization count doubles as the loop test, so a round runs TWO
    # driver jobs (low, peeled adj) instead of four (checkpoint + count,
    # checkpoint + isEmpty) — guide §1.3. (The peel's anti-join stats grow
    # linearly, so the pin here is job economics, not the stats repair.)
    def step(adj, pin):
        deg = adj.groupBy("u").agg(F.count("*").alias("degree"))
        nodes = deg.select(F.col("u").alias("node"), "degree")
        low = pin.checkpoint(
            deg.filter(F.col("degree") < k).select(F.col("u").alias("n"))
        )
        n_low = pin.last_count
        if n_low == 0:
            return nodes, True
        adj = pin.checkpoint(_peel_once(adj, low, n_low))
        if pin.last_count == 0:
            return nodes.filter(F.lit(False)), True
        return adj, False

    # 2 pins/round, keep 2 rounds
    return fixpoint(step, adj, max_iter, "k-core peeling", lag=4).value


def kcore_summary(edges: DataFrame, k: int, max_iter: int = 50) -> DataFrame:
    """1-row census of the k-core: (k, n_core_nodes, n_core_edges,
    min_core_degree)."""
    core = kcore_nodes(edges, k, max_iter)
    return core.agg(
        F.lit(k).alias("k"),
        F.count("*").cast("bigint").alias("n_core_nodes"),
        (F.coalesce(F.sum("degree"), F.lit(0)) / 2).cast("bigint").alias("n_core_edges"),
        F.min("degree").cast("bigint").alias("min_core_degree"),
    )


def core_numbers(edges: DataFrame, max_iter: int = 100) -> DataFrame:
    """Per-node core numbers (full k-core decomposition) of the undirected
    simple graph `edges(u, v)` — DataFrame[node, core: bigint].

    Algorithm: the H-index fixpoint (Lü, Zhou, Zhang & Stanley, "The
    H-index of a network node and its relation to degree and coreness",
    Nature Communications 2016): start every node's estimate at its degree
    and repeatedly replace it with the H-index of its neighbors' estimates
    (the largest h such that at least h neighbors currently hold >= h).
    Estimates decrease monotonically and the fixpoint is exactly coreness —
    so unlike the peel loop (one k per run, rounds = peel depth), ONE run
    yields every node's core number, and every quantity is a small integer:
    the result is hash-exact against a DuckDB recursive-CTE replay of the
    same iteration.

    Scale posture: each round recomputes the H-index ONLY for the ACTIVE
    SET — nodes with at least one neighbor whose estimate changed last
    round (a node's H input is exactly its neighbors' estimates, so an
    unchanged neighborhood cannot move it; the BFS frontier discipline
    applied to a fixpoint). Early rounds, where most of the graph is still
    moving, fall back to a full recompute (the semi-join pre-filters would
    only add shuffles while the frontier is the graph); once the changed
    fraction drops below ACTIVE_SET_FRACTION the per-round join input is
    edges incident to the frontier, not the whole adjacency — the estimates
    of everything else carry forward, and the frontier neighborhoods come
    from a once-built adjacency-LIST relation (nodes-sized) instead of
    per-round scans of the flat edge table. Each round is at most: two
    frontier-sized explodes off the list relation, one equi-join of that
    subset against the n-row estimate table, one groupBy collect + a
    per-node sorted-prefix H fold (bounded by degree — never global), and
    one carry-forward left join. Nothing ever broadcasts the graph; lineage
    is truncated per round. Round count is the graph's "convergence depth", typically O(10)
    on heavy-tailed graphs, and is IDENTICAL to the full-recompute
    iteration's (the active set is a superset of every node that could
    change, so per-round estimates are equal by induction — which also
    keeps the result hash-exact against the DuckDB recursive-CTE replay of
    the dense iteration); max_iter guards pathological chains and the
    function raises rather than return a non-fixpoint (correctness over
    partial answers).

    Returns nodes of the whole graph (isolated nodes cannot appear — edges
    define the node set) with core >= 1.
    """
    df, _ = _core_numbers_with_rounds(edges, max_iter)
    return df


# Below this changed-node fraction the per-round recompute narrows to the
# frontier's neighborhood; above it a full recompute is cheaper (the
# semi-join pre-filter would scan the adjacency anyway and add exchanges).
# Shared-dial home: operators/sizing.py (aliased so kcore callers keep
# reading the crossover from this module).
from streamds_spark.operators.sizing import (  # noqa: E402
    KCORE_ACTIVE_SET_FRACTION as ACTIVE_SET_FRACTION,
)


def _core_numbers_with_rounds(
    edges: DataFrame, max_iter: int = 100
) -> tuple[DataFrame, list[Round]]:
    """(core numbers, per-round trace) — the trace's
    `rows` is each round's changed-node count, which backs the convergence
    and active-set tests; callers wanting only the result use core_numbers.

    Each round counts the moved set, and the count is the fixpoint test.
    An active round pins the moved set: it and the carry-forward join both
    descend from the previous estimate table, the compounding-stats case of
    operators/iterate.py, and the pin keeps the carry's own truncation a
    plain lazy checkpoint. A full round's new estimates sit above an
    aggregate, whose size estimate is linear in its child, so it needs no
    pin."""
    adj = undirected(edges.select("u", "v"), distinct=False).transform(
        lineage_cut_eager
    )
    est = (
        adj.groupBy("u")
        .agg(F.count("*").cast("bigint").alias("e"))
        .select(F.col("u").alias("node"), "e")
        .transform(lineage_cut_eager)
    )
    n_nodes = est.count()

    def h_update(sub: DataFrame, cur: DataFrame) -> DataFrame:
        # H-index per node via the sorted-prefix identity (round 12):
        # H = #{i : e_(i) >= i} over the desc-sorted neighbor estimates
        # equals max_i min(i, e_(i)) — the r11 row_number-window form —
        # for every integer sequence, so the swap is value-identical
        # (verified row-for-row on the sf0.1 graph). One groupBy fold
        # replaces the window's partition sort + row_number + second
        # aggregate: measured 0.686 vs 0.736 s on the dense-round update
        # (same session, alternated min-of-4, noop sink).
        nbr = sub.join(cur, sub.v == cur.node).select(
            "u", F.col("e").alias("ne")
        )
        return (
            nbr.groupBy("u")
            .agg(F.collect_list("ne").alias("ls"))
            .select(
                F.col("u").alias("node"),
                F.expr(
                    "aggregate(zip_with(sort_array(ls, false),"
                    " sequence(1, size(ls)),"
                    " (e, i) -> IF(e >= CAST(i AS BIGINT), 1, 0)),"
                    " 0, (a, x) -> a + x)"
                ).cast("bigint").alias("e"),
            )
        )

    # Adjacency LISTS for the active branch (round 12, guide §1.2/§2.4):
    # the r11 active rounds derived the frontier neighborhood with TWO
    # left-semi joins against the FLAT 2-column adjacency — two full
    # |directed-edges| scans per round (sf0.1: 2 x 2.4M cached rows x 30
    # active rounds) just to select frontier-sized subsets. One
    # collect_list groupBy built ONCE gives a nodes-sized relation (sf0.1:
    # 20k rows) from which both derivations are frontier-sized explodes:
    # active u's = explode(lists OF the changed nodes) — undirected
    # symmetry makes neighbors-of-changed exactly the nodes with an edge
    # into the frontier — and the H-input edge set = explode(lists of the
    # active u's). Row sets are identical to the semi-join derivation, so
    # estimates are unchanged. Degree note: a node's whole neighborhood
    # becomes one list row (same class of bound as the graph's max degree;
    # built once, not per round).
    adj_lists = (
        adj.groupBy("u").agg(F.collect_list("v").alias("vs"))
    ).transform(lineage_cut)

    def step(carry, pin):
        est, changed, n_changed = carry
        if n_changed > n_nodes * ACTIVE_SET_FRACTION:
            # lazy checkpoints + ONE count: the count job materializes
            # moved AND (through its lineage) the new_est checkpoint —
            # 3 jobs/round collapsed into 1 (guide §1.3)
            new_est = h_update(adj, est).transform(lineage_cut)
            moved = (
                new_est.alias("n")
                .join(est.alias("o"), "node")
                .where("n.e <> o.e")
                .select("node")
                .transform(lineage_cut)
            )
            pin.count(moved)
        else:
            # frontier neighborhood off the LIST relation: u's with an edge
            # into a changed node (= neighbors of the frontier), then ALL of
            # those u's incident edges (the H-index needs the whole
            # neighborhood, not just the changed part)
            active = (
                adj_lists.join(
                    changed.withColumnRenamed("node", "u"), "u", "left_semi"
                )
                .select(F.explode("vs").alias("u"))
                .distinct()
            )
            sub = adj_lists.join(active, "u", "left_semi").select(
                "u", F.explode("vs").alias("v")
            )
            # recomputed nodes that actually moved; everyone else carries
            # forward untouched (estimates only ever decrease, so <> is <)
            moved_vals = pin.checkpoint(
                h_update(sub, est).alias("n")
                .join(est.alias("o"), "node")
                .where("n.e <> o.e")
                .select("node", F.col("n.e").alias("e_new"))
            )
            # the carry's truncation folds into the next round's pin job:
            # one driver job per active round
            new_est = (
                est.join(moved_vals, "node", "left")
                .select(
                    "node", F.coalesce("e_new", "e").cast("bigint").alias("e")
                )
                .transform(lineage_cut)
            )
            moved = moved_vals.select("node")
        # last_count IS the moved count; none moved: the entering
        # estimates are the fixpoint
        if pin.last_count == 0:
            return est, True
        return (new_est, moved, pin.last_count), False

    # round 1 recomputes everything: every estimate is fresh
    run = fixpoint(
        step,
        (est, est.select("node"), n_nodes),
        max_iter,
        "core-number H-index iteration",
    )
    return run.value.select("node", F.col("e").alias("core")), run.trace
