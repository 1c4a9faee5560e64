"""Differential tests for the graph operators: triangle counting
(degree-ordered orientation) and fixed-point PageRank are checked
against brute-force pure-Python references on randomized graphs —
the operator must agree exactly (integer outputs) for every seed —
and the driver-side BFS and shortest-path traversals against
pure-Python BFS and Dijkstra on hand-built graphs."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import types as T

from distributed_mapreduce_p2p_spark.operators import graph as GR

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType()),
        T.StructField("dst", T.LongType()),
    ]
)


def _random_edges(seed: int, n_nodes: int, n_edges: int):
    rnd = random.Random(seed)
    return [
        (rnd.randrange(n_nodes), rnd.randrange(n_nodes))
        for _ in range(n_edges)
    ]


def _brute_triangles(edges):
    adj: dict[int, set[int]] = {}
    eset = set()
    for u, v in edges:
        if u == v:
            continue
        a, b = min(u, v), max(u, v)
        if (a, b) in eset:
            continue
        eset.add((a, b))
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    tri = 0
    for x, y, z in itertools.combinations(nodes, 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            tri += 1
    return len(nodes), len(eset), tri


def test_triangle_count_matches_brute_force(spark):
    for seed, n, m in [(1, 12, 30), (2, 20, 80), (3, 8, 28), (4, 30, 60)]:
        edges = _random_edges(seed, n, m)
        df = spark.createDataFrame(edges, EDGE_SCHEMA)
        got = GR.triangle_count(df, "src", "dst").collect()[0]
        want = _brute_triangles(edges)
        assert (got.n_nodes, got.n_edges, got.n_triangles) == want, (
            seed,
            want,
            got,
        )


def test_triangle_count_counts_each_triangle_once(spark):
    # K4: 4 triangles; plus a pendant edge that adds none.
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)] + [(3, 9)]
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    got = GR.triangle_count(df, "src", "dst").collect()[0]
    assert (got.n_nodes, got.n_edges, got.n_triangles) == (5, 7, 4)


def _brute_pagerank_fp(edges, iters):
    e = sorted({(u, v) for u, v in edges if u != v})
    nodes = sorted({u for u, _ in e} | {v for _, v in e})
    outd: dict[int, int] = {}
    for u, _ in e:
        outd[u] = outd.get(u, 0) + 1
    n = len(nodes)
    r0 = GR.SCALE // n
    base = (15 * r0) // 100
    ranks = {v: r0 for v in nodes}
    for _ in range(iters):
        s = {v: 0 for v in nodes}
        for u, v in e:
            s[v] += ranks[u] // outd[u]
        ranks = {v: base + (85 * s[v]) // 100 for v in nodes}
    return ranks


def test_pagerank_fixedpoint_matches_reference(spark):
    for seed, n, m, iters in [(7, 10, 40, 2), (8, 25, 120, 3), (9, 6, 14, 6)]:
        edges = _random_edges(seed, n, m)
        edges = [(u, v) for u, v in edges if u != v]
        if not edges:
            continue
        df = spark.createDataFrame(edges, EDGE_SCHEMA)
        got = {
            r.node: r.rank_fp
            for r in GR.pagerank_fixedpoint(df, iters=iters).collect()
        }
        want = _brute_pagerank_fp(edges, iters)
        assert got == want, (seed, iters)


def test_pagerank_mass_is_conserved_upper_bound(spark):
    # Fixed-point ranks never exceed SCALE in total (integer DIV only
    # truncates mass away; dangling mass is dropped by design).
    edges = _random_edges(11, 15, 60)
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    total = sum(
        r.rank_fp for r in GR.pagerank_fixedpoint(df, iters=4).collect()
    )
    assert 0 < total <= GR.SCALE


def test_bfs_levels_match_networkless_bruteforce(spark):
    """BFS levels vs a pure-Python BFS on a hand-built graph with a
    disconnected component (the unreached-node path), a self-loop and
    a reversed duplicate edge; and from an isolated start node."""
    from collections import deque

    from distributed_mapreduce_p2p_spark.operators.graph import bfs_levels

    edges = [(1, 2), (2, 3), (3, 4), (1, 4), (5, 6), (3, 3), (2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    for start in (1, 9):
        got = {r.node: r.level for r in bfs_levels(df, start).collect()}
        expect = {start: 0}
        q = deque([start])
        while q:
            u = q.popleft()
            for v in adj.get(u, ()):
                if v not in expect:
                    expect[v] = expect[u] + 1
                    q.append(v)
        assert got == expect, start    # only reached nodes
        assert 5 not in got and 6 not in got
    assert got == {9: 0}


def test_sssp_costs_match_python_dijkstra_on_hand_built_graph(spark):
    """sssp_costs vs a pure-Python Dijkstra on a graph with parallel
    edges of different weights (both directions), a self-loop and an
    unreachable component: parallel edges count at their minimum
    weight and only reached nodes are returned. A negative weight is
    refused."""
    import heapq

    edges = [
        (1, 2, 9), (2, 1, 4), (1, 2, 6),    # parallel: min weight 4
        (2, 3, 1), (1, 3, 7), (3, 3, 0),    # self-loop ignored
        (3, 4, 2), (4, 1, 10),
        (5, 6, 1),                          # unreachable from 1
    ]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {r.node: r.cost for r in GR.sssp_costs(df, 1).collect()}
    adj: dict[int, dict[int, int]] = {}
    for u, v, w in edges:
        if u != v:
            for x, y in ((u, v), (v, u)):
                nbrs = adj.setdefault(x, {})
                nbrs[y] = min(w, nbrs.get(y, w))
    expect = {1: 0}
    pq = [(0, 1)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > expect[u]:
            continue
        for v, w in adj[u].items():
            if d + w < expect.get(v, 1 << 60):
                expect[v] = d + w
                heapq.heappush(pq, (d + w, v))
    assert got == expect
    assert got == {1: 0, 2: 4, 3: 5, 4: 7}
    negative = spark.createDataFrame([(1, 2, -1)], "src long, dst long, w long")
    with pytest.raises(ValueError, match="non-negative"):
        GR.sssp_costs(negative, 1)


def test_traversals_refuse_edge_lists_past_the_cap(spark, monkeypatch):
    """Both driver-side traversals collect at most _EDGE_CAP edges:
    one more raises ValueError instead of materializing the list."""
    edges = [(1, 2, 1), (2, 3, 1), (3, 4, 1)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    monkeypatch.setattr(GR, "_EDGE_CAP", len(edges))
    assert GR.bfs_levels(df, 1).count() == 4
    assert GR.sssp_costs(df, 1).count() == 4
    monkeypatch.setattr(GR, "_EDGE_CAP", len(edges) - 1)
    with pytest.raises(ValueError, match="edge list"):
        GR.bfs_levels(df, 1)
    with pytest.raises(ValueError, match="edge list"):
        GR.sssp_costs(df, 1)


def test_nation_graph_traversals_build_in_two_jobs(spark, count_jobs):
    """After a warm call (memoized trade edges), building each
    nation-graph traversal query runs at most 2 Spark jobs (the seed
    pick and the edge-list collect), and its plan reads the result
    from a local relation, not a checkpointed RDD."""
    from distributed_mapreduce_p2p_spark import registry
    from distributed_mapreduce_p2p_spark.plans.explain import explain_str
    from tests.conftest import SF_SMALL

    for name in ("trade_graph_bfs_levels", "trade_graph_shortest_cost"):
        q = registry.QUERIES[name]
        q(spark, SF_SMALL)
        with count_jobs() as n:
            df = q(spark, SF_SMALL)
        assert n[0] <= 2, (name, n[0])
        plan = explain_str(df)
        assert "LocalTableScan" in plan, (name, plan)
        assert "ExistingRDD" not in plan, (name, plan)
