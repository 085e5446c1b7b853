"""k-core peeling vs a pure-Python reference: crafted graphs with known cores
plus randomized fuzz over small graphs."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from streamds_spark.operators.kcore import kcore_nodes, kcore_summary
import pytest


def _ref_kcore(edges: list[tuple[int, int]], k: int) -> dict[int, int]:
    """Reference peeling: returns {node: core_degree} of the k-core."""
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
                changed = True
    return {n: len(ns) for n, ns in adj.items()}


def _spark_kcore(spark, edges, k):
    df = spark.createDataFrame(edges, ["u", "v"])
    return {r["node"]: r["degree"] for r in kcore_nodes(df, k).collect()}


def test_kcore_triangle_plus_tail(spark):
    # triangle {1,2,3} is the 2-core; the tail 3-4-5 peels away
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    assert _spark_kcore(spark, edges, 2) == {1: 2, 2: 2, 3: 2}
    # no 3-core at all
    assert _spark_kcore(spark, edges, 3) == {}


def test_kcore_clique_survives_whole(spark):
    # K5 is its own 4-core; adding pendant nodes must not change it
    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    pendants = [(0, 10), (10, 11), (2, 12)]
    got = _spark_kcore(spark, k5 + pendants, 4)
    assert got == {n: 4 for n in range(5)}


def test_kcore_chain_peels_iteratively(spark):
    # a path needs one peel round per endpoint layer — exercises multi-round
    path = [(i, i + 1) for i in range(10)]
    assert _spark_kcore(spark, path, 2) == {}


@pytest.mark.slow
def test_kcore_fuzz_vs_reference(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 18
        edges = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randrange(n), rng.randrange(n)) for _ in range(45)
                )
                if a != b
            }
        )
        for k in (2, 3):
            assert _spark_kcore(spark, edges, k) == _ref_kcore(edges, k), (
                trial,
                k,
            )


def test_peel_join_strategy_size_gated(spark):
    """The peel anti-join broadcast hint is size-gated: tiny peel sets get
    the hint, large ones are left unhinted for AQE to size at runtime.
    autoBroadcastJoinThreshold=-1 so any BroadcastExchange is hint-driven."""
    from streamds_spark.operators.kcore import PEEL_BROADCAST_ROW_CAP, _peel_once

    adj = spark.createDataFrame([(i, i + 1) for i in range(100)], ["u", "v"])
    low = spark.createDataFrame([(i,) for i in range(50)], ["n"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small = (
            _peel_once(adj, low, 50)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        large = (
            _peel_once(adj, low, PEEL_BROADCAST_ROW_CAP + 1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastExchange" in small, small[:2000]
    assert "BroadcastExchange" not in large, large[:2000]


def test_kcore_unhinted_path_correct(spark, monkeypatch):
    """Force every peel round down the no-broadcast branch (cap=0) on a graph
    whose round-1 peel is >50% of nodes (a star's leaves): the shuffled
    anti-join path must produce the same core as the reference."""
    from streamds_spark.operators import kcore as kc

    monkeypatch.setattr(kc, "PEEL_BROADCAST_ROW_CAP", 0)
    # K4 clique core + 20 star leaves hanging off node 0: round-1 peel = 20
    # leaves out of 24 nodes (>80%).
    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    leaves = [(0, 100 + i) for i in range(20)]
    edges = clique + leaves
    got = {
        r["node"]: r["degree"]
        for r in kc.kcore_nodes(
            spark.createDataFrame(edges, ["u", "v"]), 3
        ).collect()
    }
    assert got == _ref_kcore(edges, 3)


def test_kcore_summary_shape(spark):
    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    row = kcore_summary(spark.createDataFrame(k5, ["u", "v"]), 4).collect()[0]
    assert (
        row["k"],
        row["n_core_nodes"],
        row["n_core_edges"],
        row["min_core_degree"],
    ) == (4, 5, 10, 4)


# ------------------------------------------------------- core decomposition


def _ref_core_numbers(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference full decomposition by direct peeling: core(v) = largest k
    with v in the k-core."""
    nodes = {n for e in edges for n in e}
    core = {n: 0 for n in nodes}
    k = 1
    while True:
        kc = _ref_kcore(edges, k)
        if not kc:
            return core
        for n in kc:
            core[n] = k
        k += 1


def test_core_numbers_crafted(spark):
    """K5 clique (core 4) + a triangle chained off it (core 2) + a pendant
    path (core 1)."""
    from streamds_spark.operators.kcore import core_numbers

    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    tri = [(4, 10), (10, 11), (11, 4)]
    path = [(11, 20), (20, 21)]
    edges = k5 + tri + path
    got = {
        r["node"]: r["core"]
        for r in core_numbers(spark.createDataFrame(edges, ["u", "v"])).collect()
    }
    assert got == _ref_core_numbers(edges)
    assert got[0] == 4 and got[10] == 2 and got[21] == 1


@pytest.mark.slow
def test_core_numbers_fuzz_vs_reference(spark):
    from streamds_spark.operators.kcore import core_numbers

    rng = random.Random(29)
    for trial in range(4):
        n = rng.randint(6, 18)
        m = rng.randint(n, 3 * n)
        edges = list(
            {
                (a, b)
                for a, b in (
                    sorted(rng.sample(range(n), 2)) for _ in range(m)
                )
            }
        )
        got = {
            r["node"]: r["core"]
            for r in core_numbers(
                spark.createDataFrame(edges, ["u", "v"])
            ).collect()
        }
        assert got == _ref_core_numbers(edges), (trial, edges)


def test_core_numbers_round_bound_and_consistency_with_kcore(spark):
    """The H-index iteration must converge within a small round budget on a
    layered graph, estimates only ever decrease (spot-checked via the round
    count), and the decomposition must agree with the fixed-k peel: the
    k-core's node set == {v : core(v) >= k}."""
    from streamds_spark.operators.kcore import _core_numbers_with_rounds

    # two cliques bridged by a path: K6 and K4, path of 5
    k6 = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    k4 = [(100 + a, 100 + b) for a in range(4) for b in range(a + 1, 4)]
    bridge = [(5, 50), (50, 51), (51, 52), (52, 100)]
    edges = k6 + k4 + bridge
    df = spark.createDataFrame(edges, ["u", "v"])
    decomp, trace = _core_numbers_with_rounds(df)
    got = {r["node"]: r["core"] for r in decomp.collect()}
    assert got == _ref_core_numbers(edges)
    # the convergence depth tracks the propagation chain, not the node count
    assert len(trace) <= 6, trace
    for k in (2, 3, 4, 5):
        want = set(_ref_kcore(edges, k))
        assert {n for n, c in got.items() if c >= k} == want, k


@pytest.mark.slow
def test_core_numbers_active_set_shrinks_and_matches_dense(spark):
    """Round-9 active-set optimization: once the changed fraction drops, the
    iteration must (a) switch to frontier-only recompute, (b) feed strictly
    fewer changed nodes into later rounds than round 1's full graph, and
    (c) produce the same fixpoint in the same number of rounds as the dense
    reference iteration (per-round estimates are equal by induction)."""
    import random

    from streamds_spark.operators.kcore import (
        ACTIVE_SET_FRACTION,
        _core_numbers_with_rounds,
    )

    rng = random.Random(9)
    # dense core (converges immediately) + a long pendant chain (the change
    # frontier walks down it one round at a time -> many active rounds)
    k8 = [(a, b) for a in range(8) for b in range(a + 1, 8)]
    chain = [(7, 200)] + [(200 + i, 201 + i) for i in range(12)]
    extra = [
        (rng.randrange(8), 300 + i) for i in range(20)
    ]  # pendant leaves on the core
    edges = k8 + chain + extra
    df = spark.createDataFrame(edges, ["u", "v"])

    decomp, trace = _core_numbers_with_rounds(df)
    rounds = len(trace)
    got = {r["node"]: r["core"] for r in decomp.collect()}
    assert got == _ref_core_numbers(edges)

    # the trace's rows are the per-round changed counts; a round runs in
    # full mode iff the previous round changed more than the active-set
    # fraction of the nodes (round 1: every estimate is fresh)
    changed = [r.rows for r in trace]
    n_nodes = len({n for e in edges for n in e})
    modes = [
        "full" if prev > n_nodes * ACTIVE_SET_FRACTION else "active"
        for prev in [n_nodes] + changed[:-1]
    ]
    # round 1 always recomputes the whole graph; after that the changed
    # frontier collapses to the chain walk and the iteration must be
    # running frontier-only
    assert modes[0] == "full", trace
    assert set(modes[1:]) == {"active"}, trace
    assert all(c <= 3 for c in changed[1:]), trace
    assert changed[-1] == 0  # the confirming round
    assert changed[0] >= max(changed[1:])

    # round-count parity with a dense pure-python replay of the iteration
    nbrs: dict[int, list[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    est = {n: len(v) for n, v in nbrs.items()}
    dense_rounds = 0
    while True:
        dense_rounds += 1
        new = {}
        for n, vs in nbrs.items():
            xs = sorted((est[v] for v in vs), reverse=True)
            new[n] = max(min(r, x) for r, x in enumerate(xs, 1))
        moved = new != est
        est = new
        if not moved:
            break
    assert rounds == dense_rounds, (rounds, dense_rounds)
