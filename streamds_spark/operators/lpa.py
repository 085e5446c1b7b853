"""Community detection via deterministic synchronous label propagation.

Raghavan, Albert & Kumara 2007 ("Near linear time algorithm to detect
community structures in large-scale networks"): every node adopts the label
most common among its neighbors; communities emerge as labels flood dense
regions faster than they cross sparse cuts. The classic formulation breaks
ties randomly and updates asynchronously — useless for an oracle-checked
engine. This variant is FULLY DETERMINISTIC:

  * synchronous rounds (every node updates from the same snapshot);
  * a total tie order — highest neighbor-label count, then SMALLEST label;
  * a FIXED round budget R (a parameter of the operator's definition, like
    fixed-iteration PageRank): synchronous LPA can oscillate between two
    labelings on bipartite-ish structure (documented in the paper; pinned
    by test_lpa.test_bipartite_oscillation on a 4-cycle), so convergence
    is not a usable stop rule; a fixed R makes the output a pure function
    of (graph, R) that a SQL replay reproduces bit-for-bit.

The default R=4 is evidence-backed by the copurchase_lpa_convergence
census (round 11; per-round labels-changed / communities-remaining on the
repeat co-purchase graph): at sf0.1 the community count walks 5052 ->
4839 -> 4796 -> 4784 -> 4783 over rounds 1-5 — round 4 buys 12 communities
of structure, round 5 buys ONE — and at sf0.001 the labeling fully
converges (labels_changed = 0) at round 5 with the community structure
stable from round 4. labels-changed itself plateaus high at the larger SFs
(~5919 of ~10k nodes at sf0.1) — the oscillation signature, which is why
the knee is read from n_communities, not from changes reaching zero.

Complements the existing graph family: modularity_census SCORES a given
labeling; this DETECTS one. The detected labels feed modularity_census
directly (the copurchase_lpa_modularity registry row).

Scale shape: per round, one adjacency equi-join (fan-out = directed edges,
collapsing into a (node, label) count whose partial aggregation is
map-side), then a node-PARTITIONED row_number over each node's candidate
labels (<= deg(v) rows per node — never a global window). The carry is only
ever joined against the FIXED adjacency, so Catalyst's size estimate grows
linearly per round (no stats-pin needed — see operators/iterate.py for the
compounding case); lineage is truncated per round. R rounds = R shuffle
stages, independent of data size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from streamds_spark.operators.iterate import lineage_cut, lineage_cut_eager, undirected


def _sym_adj(edges: DataFrame) -> DataFrame:
    return undirected(edges.select("u", "v"), distinct=True).transform(
        lineage_cut_eager
    )


def _lpa_round(adj: DataFrame, labels: DataFrame) -> DataFrame:
    """ONE synchronous LPA round: every node adopts its neighbors' most
    common label, ties to the smallest label. The single definition of the
    round step — label_propagation and lpa_convergence_census both walk it,
    so the census is the measured trajectory of the SAME update rule by
    construction (also pinned by test_lpa)."""
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    cand = adj.join(labels.toDF("v", "label"), "v").select(
        F.col("u").alias("node"), "label"
    )
    return (
        cand.groupBy("node", "label")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("node", "label")
        # LAZY truncation: the round result is consumed by the next round's
        # join (or the caller's terminal action / census aggregate), so the
        # checkpoint copy folds into that job — R rounds cost the fixed-R
        # stage chain, not R extra driver jobs (guide §1.3); the logical
        # plan still truncates per round
        .transform(lineage_cut)
    )


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """DataFrame[node, label] — the deterministic synchronous LPA labeling
    of the undirected simple graph `edges(u, v)` after exactly `rounds`
    rounds from the identity labeling (every node starts as its own
    label). Nodes with no edges don't appear (they'd be singleton
    communities of themselves)."""
    if rounds < 1:
        raise ValueError(f"label_propagation: rounds must be >= 1, got {rounds}")
    adj = _sym_adj(edges)
    labels = adj.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        labels = _lpa_round(adj, labels)
    return labels


def community_sizes(edges: DataFrame, rounds: int = 4, k: int = 20) -> DataFrame:
    """DataFrame[community, n_nodes] — the k largest detected communities,
    ties broken (n_nodes DESC, community ASC) so the top-k is
    deterministic."""
    return (
        label_propagation(edges, rounds)
        .groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), "community")
        .limit(k)
    )


def lpa_convergence_census(edges: DataFrame, max_rounds: int = 8) -> DataFrame:
    """DataFrame[round, labels_changed, n_communities] for round = 1 ..
    max_rounds: how many nodes changed label in that synchronous round and
    how many distinct labels remain after it — the evidence table behind a
    fixed round budget (the anf_census pattern: exact BIGINTs, so the whole
    census is hash-exact against a SQL replay of the identical rounds).

    Reading it: labels_changed collapsing toward a small steady value is
    the knee where extra rounds stop buying structure; it does NOT
    necessarily reach 0 — synchronous LPA can oscillate with period 2 on
    bipartite-ish structure (Raghavan et al. 2007; pinned by
    test_lpa.test_bipartite_oscillation), which is exactly why the
    operator takes a FIXED budget rather than a convergence stop rule.
    Cost: one extra 1-row aggregate per round on top of label_propagation
    at the same round count."""
    if max_rounds < 1:
        raise ValueError(
            f"lpa_convergence_census: max_rounds must be >= 1, got {max_rounds}"
        )
    adj = _sym_adj(edges)
    spark = edges.sparkSession
    schema = "round bigint, labels_changed bigint, n_communities bigint"
    if adj.isEmpty():
        # an edge-free graph has no labeling trajectory: zero census rows,
        # matching the SQL replay (whose per-iteration join is empty)
        return spark.createDataFrame([], schema)
    labels = adj.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    rows = []
    for r in range(1, max_rounds + 1):
        nxt = _lpa_round(adj, labels)
        # 1-row loop-control aggregate (the graph-family discipline)
        stat = (
            nxt.join(labels.toDF("node", "plabel"), "node")
            .agg(
                F.coalesce(
                    F.sum((F.col("label") != F.col("plabel")).cast("bigint")),
                    F.lit(0),
                ).alias("ch"),
                F.countDistinct("label").alias("nc"),
            )
            .collect()[0]
        )
        rows.append((r, int(stat["ch"]), int(stat["nc"])))
        labels = nxt
    return spark.createDataFrame(rows, schema)
