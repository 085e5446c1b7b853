"""Pivot-sampled stress centrality (operators/stress.py): crafted path and
star shapes, brute-force all-shortest-paths fuzz, determinism, empty graph."""

from __future__ import annotations

import collections
import random

from streamds_spark.operators.stress import _pivots, stress_centrality_topk
import pytest


def _brute(edge_list, pivots):
    """Reference: enumerate EVERY shortest path from each pivot and count
    interior-node occurrences — independent of the operator's sigma/psi
    factorization."""
    adj = collections.defaultdict(set)
    for u, v in edge_list:
        adj[u].add(v)
        adj[v].add(u)
    stress: collections.Counter = collections.Counter()
    for s in pivots:
        dist = {s: 0}
        preds = collections.defaultdict(list)
        q = [s]
        while q:
            nq = []
            for u in q:
                for w in adj[u]:
                    if w not in dist:
                        dist[w] = dist[u] + 1
                        nq.append(w)
                    if dist.get(w) == dist[u] + 1:
                        preds[w].append(u)
            q = nq

        def paths(t):
            if t == s:
                return [[s]]
            return [pp + [t] for p in preds[t] for pp in paths(p)]

        for t in dist:
            if t == s:
                continue
            for p in paths(t):
                for v in p[1:-1]:
                    stress[v] += 1
    return stress


def _got(spark, edge_list, pivots=4, k=100):
    df = spark.createDataFrame(edge_list, "u bigint, v bigint")
    return {
        r["node"]: r["stress"]
        for r in stress_centrality_topk(df, k=k, pivots=pivots).collect()
    }


@pytest.mark.slow
def test_path_and_star_shapes(spark):
    """On a path every interior node relays the endpoint pivots' paths; on a
    star every leaf-to-leaf shortest path routes through the center."""
    path = [(i, i + 1) for i in range(5)]
    got = _got(spark, path)
    df = spark.createDataFrame(path, "u bigint, v bigint")
    adj = df.union(df.selectExpr("v as u", "u as v"))
    piv = [r["src"] for r in _pivots(adj, 4).collect()]
    want = _brute(path, piv)
    assert got == {n: want.get(n, 0) for n in got}
    star = [(0, i) for i in range(1, 7)]
    got = _got(spark, star)
    assert got[0] == max(got.values())  # the hub relays everything
    assert all(got[i] == 0 for i in range(1, 7) if i in got)


@pytest.mark.slow
def test_fuzz_matches_path_enumeration(spark):
    rng = random.Random(17)
    for trial in range(3):
        nodes = list(range(1, 16))
        es = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.choice(nodes), rng.choice(nodes)) for _ in range(26)
                )
                if a != b
            }
        )
        df = spark.createDataFrame(es, "u bigint, v bigint")
        adj = df.union(df.selectExpr("v as u", "u as v")).distinct()
        piv = [r["src"] for r in _pivots(adj, 4).collect()]
        want = _brute(es, piv)
        got = _got(spark, es)
        assert got == {n: want.get(n, 0) for n in got}, (trial, piv)


@pytest.mark.slow
def test_determinism_ordering_and_empty(spark):
    es = [(1, 2), (2, 3), (3, 4), (2, 4), (4, 5)]
    a = [tuple(r) for r in stress_centrality_topk(
        spark.createDataFrame(es, "u bigint, v bigint"), k=10
    ).collect()]
    b = [tuple(r) for r in stress_centrality_topk(
        spark.createDataFrame(es, "u bigint, v bigint"), k=10
    ).collect()]
    assert a == b
    key = [(-s, n) for n, s in a]
    assert key == sorted(key)  # stress desc, node asc
    empty = spark.createDataFrame([], "u bigint, v bigint")
    assert stress_centrality_topk(empty, k=5).count() == 0


def test_eccentricity_exactly_max_iter_accepted(spark):
    """Exhaustion is confirmed by one empty expansion: an eccentricity of
    exactly max_iter must be accepted (extra probe iteration), one beyond
    must raise."""
    import pytest

    path = [(i, i + 1) for i in range(6)]  # nodes 0..6
    df = spark.createDataFrame(path, "u bigint, v bigint")
    adj = df.union(df.selectExpr("v as u", "u as v")).distinct()
    piv = [r["src"] for r in _pivots(adj, 4).collect()]
    dist = {}
    for s in piv:
        d = {s: 0}
        q = [s]
        while q:
            nq = []
            for u in q:
                for w in (u - 1, u + 1):
                    if 0 <= w <= 6 and w not in d:
                        d[w] = d[u] + 1
                        nq.append(w)
            q = nq
        dist[s] = max(d.values())
    ecc = max(dist.values())
    ok = stress_centrality_topk(df, k=10, max_iter=ecc).collect()
    assert len(ok) > 0
    with pytest.raises(RuntimeError, match="did not exhaust"):
        stress_centrality_topk(df, k=10, max_iter=ecc - 1)
