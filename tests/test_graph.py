"""Differential tests for the graph operators: triangle counting
(degree-ordered orientation) and fixed-point PageRank are checked
against brute-force pure-Python references on randomized graphs —
the operator must agree exactly (integer outputs) for every seed —
and the driver-side traversals against pure-Python BFS, Dijkstra,
sequential k-core peeling, label-propagation replay, Floyd-Warshall
and triangle enumeration on hand-built graphs."""

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
    """Every driver-side traversal collects at most _EDGE_CAP edges:
    one more raises ValueError instead of materializing the list."""
    edges = [(1, 2, 1), (2, 3, 1), (3, 4, 1)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    traversals = [
        lambda: GR.bfs_levels(df, 1),
        lambda: GR.sssp_costs(df, 1),
        lambda: GR.kcore_numbers(df),
        lambda: GR.label_propagation(df, 8),
        lambda: GR.harmonic_closeness(df, 32),
        lambda: GR.truss_peel(df, 3),
    ]
    monkeypatch.setattr(GR, "_EDGE_CAP", len(edges))
    assert [t().count() for t in traversals] == [4, 4, 4, 4, 4, 0]
    monkeypatch.setattr(GR, "_EDGE_CAP", len(edges) - 1)
    for t in traversals:
        with pytest.raises(ValueError, match="edge list"):
            t()


def test_nation_graph_traversals_build_in_two_jobs(spark, count_jobs):
    """After a warm call (memoized trade edges), building each
    nation-graph traversal query runs at most 2 Spark jobs (the
    edge-list collect, plus the seed pick for BFS and shortest path),
    and its plan reads the result from a local relation, not a
    checkpointed RDD."""
    from distributed_mapreduce_p2p_spark import registry
    from distributed_mapreduce_p2p_spark.plans.explain import explain_str
    from tests.conftest import SF_SMALL

    for name in (
        "trade_graph_bfs_levels",
        "trade_graph_shortest_cost",
        "kcore_decomposition",
        "label_propagation_communities",
        "closeness_centrality",
        "truss_peel_rounds",
    ):
        q = registry.QUERIES[name]
        q(spark, SF_SMALL)
        with count_jobs() as n:
            df = q(spark, SF_SMALL)
        assert n[0] <= 2, (name, n[0])
        plan = explain_str(df)
        assert "LocalTableScan" in plan, (name, plan)
        assert "ExistingRDD" not in plan, (name, plan)


#: One hand-built graph for the four bounded-round operators: a K4 on
#: 1-4 with a pendant vertex 5 and a reversed duplicate (2, 1); node 8
#: closes one more triangle on the K4 edge (3, 4), so its two edges
#: have support 1; node 6 has only a self-loop and node 7 only an edge
#: with a null endpoint, so both are isolated; on the path 10-11-12
#: node 11 sees a 1:1 label vote; and the path 100-...-140 (40 hops)
#: is longer than the 32-hop closeness horizon.
HAND_EDGES = (
    [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    + [(4, 5), (2, 1), (3, 8), (4, 8), (6, 6), (7, None)]
    + [(10, 11), (11, 12)]
    + [(v, v + 1) for v in range(100, 140)]
)


def _hand_graph(spark):
    """The hand-built graph as a DataFrame, and its adjacency sets."""
    adj: dict[int, set[int]] = {}
    for u, v in HAND_EDGES:
        if u is not None and v is not None and u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    return spark.createDataFrame(HAND_EDGES, "src long, dst long"), adj


def test_kcore_numbers_match_sequential_peeling(spark):
    """The h-index fixpoint equals textbook peeling (remove nodes of
    degree < k until none is left, k ascending); isolated nodes are
    not listed."""
    df, adj = _hand_graph(spark)
    alive = {v: set(ns) for v, ns in adj.items()}
    expect, k = {}, 1
    while alive:
        low = [v for v, ns in alive.items() if len(ns) < k]
        if not low:
            k += 1
            continue
        for v in low:
            expect[v] = k - 1
            for u in alive.pop(v):
                alive[u].discard(v)
    got = {r.node: r.coreness for r in GR.kcore_numbers(df).collect()}
    assert got == expect
    assert [got[v] for v in (1, 4, 5, 8, 11, 120)] == [3, 3, 1, 2, 1, 1]
    assert 6 not in got and 7 not in got


def test_label_propagation_matches_python_replay(spark):
    """Synchronous rounds replayed in Python, ties broken by the higher
    vote count and then the lower label; one round pins the tie."""
    df, adj = _hand_graph(spark)

    def replay(rounds):
        lab = {v: v for v in adj}
        for _ in range(rounds):
            new = {}
            for v, ns in adj.items():
                votes: dict[int, int] = {}
                for u in ns:
                    votes[lab[u]] = votes.get(lab[u], 0) + 1
                new[v] = sorted(votes, key=lambda x: (-votes[x], x))[0]
            lab = new
        return lab

    for rounds in (1, 8):
        got = {
            r.node: r.label
            for r in GR.label_propagation(df, rounds).collect()
        }
        assert got == replay(rounds), rounds
    one = {r.node: r.label for r in GR.label_propagation(df, 1).collect()}
    assert one[11] == 10 and one[10] == 11 and one[12] == 11
    assert 6 not in one and 7 not in one


def test_harmonic_closeness_matches_floyd_warshall(spark):
    """Hop distances from Floyd-Warshall, cut to the 32-hop horizon:
    on the 40-hop path an end node reaches only 32 others."""
    df, adj = _hand_graph(spark)
    inf = float("inf")
    nodes = sorted(adj)
    dist = {
        (i, j): 0 if i == j else (1 if j in adj[i] else inf)
        for i in nodes
        for j in nodes
    }
    for m in nodes:
        for i in nodes:
            for j in nodes:
                if dist[i, m] + dist[m, j] < dist[i, j]:
                    dist[i, j] = dist[i, m] + dist[m, j]
    expect = {}
    for i in nodes:
        hops = [int(dist[i, j]) for j in nodes if 0 < dist[i, j] <= 32]
        expect[i] = (len(hops), sum(1_000_000 // d for d in hops))
    got = {
        r.node: (r.n_reachable, r.harmonic_ppm)
        for r in GR.harmonic_closeness(df, 32).collect()
    }
    assert got == expect
    assert got[100][0] == 32 and got[120][0] == 40 and got[1][0] == 5


def test_truss_peel_matches_triangle_enumeration(spark):
    """Three peel rounds over brute-force triangle enumeration: only
    the K4 survives, each edge in 2 triangles (the round-3 support;
    (3, 4) had 3 in round 1)."""
    import itertools

    df, adj = _hand_graph(spark)
    alive = {(a, b) for a in adj for b in adj[a] if a < b}
    for _ in range(3):
        ends = sorted({v for e in alive for v in e})
        sup = dict.fromkeys(alive, 0)
        for x, y, z in itertools.combinations(ends, 3):
            if {(x, y), (y, z), (x, z)} <= alive:
                for e in ((x, y), (y, z), (x, z)):
                    sup[e] += 1
        sup = {e: n for e, n in sup.items() if n >= 2}
        alive = set(sup)
    got = {(r.a, r.b): r.sup for r in GR.truss_peel(df, 3).collect()}
    assert got == sup
    assert got == {(a, b): 2 for a in range(1, 5) for b in range(a + 1, 5)}
