"""Graph operators: triangle counting, PageRank, and driver-side
traversals (BFS levels, shortest-path costs, k-core numbers, label
propagation, harmonic closeness, truss peeling).

The reference's graph-shaped work is its P2P overlay bookkeeping
(gossip membership, `p2p/gossip.go`), which SURVEY.md §2.10 declares
runtime-subsumed; these operators instead cover the *analytics*
graph workloads a data-curation pipeline runs on derived relation
graphs (co-occurrence graphs, transition graphs, similarity graphs
from the dedup family).

Scale design:

- ``triangle_count`` uses the degree-ordered orientation (Cohen's
  MapReduce triangle algorithm; also Suri & Vassilvitskii WWW'11):
  orient every undirected edge from its lower-(degree, id) endpoint
  to the higher one. Every out-degree is then O(sqrt(m)), so the
  wedge join produces at most O(m^{3/2}) candidate rows regardless
  of skew — a star node with degree 10^6 contributes ZERO wedges
  instead of 10^12. Three hash joins, no collect, no cartesian.
- ``pagerank_fixedpoint`` is PageRank in *fixed-point integer
  arithmetic* (rank mass scaled by 10^12 and divided with integer
  DIV). Floating-point PageRank is order-of-addition dependent, so
  two runs (or two engines) disagree in the last ulps; the integer
  formulation makes every iteration exactly reproducible on any
  partitioning/engine — the property that matters for an
  oracle-checked, resumable 100 TB job. Contribution flow:
  contrib(u->v) = r(u) DIV outdeg(u); r'(v) = (15*(SCALE DIV N))
  DIV 100 + (85 * sum(contrib)) DIV 100. Dangling-node mass is
  dropped (the classic MapReduce formulation), documented, and
  identical in the oracle.
- ``bfs_levels``, ``sssp_costs``, ``kcore_numbers``,
  ``label_propagation``, ``harmonic_closeness`` and ``truss_peel`` are
  driver-bounded: their graphs are small by construction (the nation
  trade graph, at most 625 edges), so each collects its edge list
  once under an ``_EDGE_CAP`` guard, loops in Python, and returns a
  local relation. Per-round distributed state would cost Spark jobs
  per round for no parallelism on a graph that size. All of them
  keep integer state, so results are exact.
"""

from __future__ import annotations

import heapq
from collections import Counter

from pyspark.sql import DataFrame, functions as F

SCALE = 10**12  # fixed-point rank scale; 85*SCALE < 2^63 with margin

#: Most edges a driver-side traversal collects.
_EDGE_CAP = 100_000


def canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge set, canonicalized: (a < b), self-loops
    dropped, duplicates removed. One shuffle (the distinct)."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle count via degree-ordered orientation.

    Returns a 1-row DataFrame ``(n_nodes, n_edges, n_triangles)``
    (all BIGINT). Each triangle {x,y,z} is counted exactly once: the
    orientation is a total order (degree, then id), so the triangle
    has exactly one source-of-two-out-edges under it.
    """
    # The (often expensively derived) edge relation is referenced by
    # the degree, orientation, wedge, and closing-edge subplans;
    # materialize it once instead of recomputing the upstream
    # pipeline per reference (the multi-pass analog of caching the
    # loop-invariant relation in iterative algorithms).
    e = canonical_edges(edges, src, dst).localCheckpoint(eager=True)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Orient a--b toward the higher (deg, id): out-degree <= O(sqrt m).
    da, db = deg.alias("da"), deg.alias("db")
    oriented = (
        e.join(da, e.a == F.col("da.node"))
        .join(db, e.b == F.col("db.node"))
        .select(
            F.when(
                (F.col("da.deg") < F.col("db.deg"))
                | ((F.col("da.deg") == F.col("db.deg")) & (e.a < e.b)),
                F.struct(e.a.alias("u"), e.b.alias("v")),
            )
            .otherwise(F.struct(e.b.alias("u"), e.a.alias("v")))
            .alias("edge")
        )
        .select("edge.u", "edge.v")
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    wedges = e1.join(e2, F.col("e1.v") == F.col("e2.u")).select(
        F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z")
    )
    tri = wedges.join(
        e3, (F.col("x") == F.col("e3.u")) & (F.col("z") == F.col("e3.v"))
    )
    counts = (
        e.agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
        )
        .crossJoin(deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes")))
        .crossJoin(tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles")))
    )
    return counts.select("n_nodes", "n_edges", "n_triangles")


def pagerank_fixedpoint(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Fixed-point integer PageRank over a directed edge list.

    Returns ``(node, rank_fp)`` with rank_fp = rank * 10^12 as
    BIGINT — bit-exact on any engine/partitioning (see module doc).
    The iteration loop truncates lineage with ``localCheckpoint``
    every ``checkpoint_every`` rounds so a 50-iteration run doesn't
    accumulate a 150-join plan (same pattern as
    dedup.py::dedup_clusters).
    """
    # Materialize the loop-invariant edge relation once: every
    # iteration (plus nodes/outdeg) re-references it, and without
    # this the upstream edge derivation re-executes per reference.
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    outd = e.groupBy(F.col("u")).agg(
        F.count(F.lit(1)).alias("od")
    ).localCheckpoint(eager=True)
    # N is one tiny scalar: computed once, embedded as a literal so
    # every iteration's expression is a constant (no scalar-subquery
    # re-evaluation per round).
    n_nodes = nodes.count()
    r0 = SCALE // n_nodes
    base = (15 * r0) // 100
    ranks = nodes.select("node", F.lit(r0).cast("long").alias("r"))
    for it in range(iters):
        contrib = (
            e.join(ranks, e.u == ranks.node)
            .join(outd, "u")
            .select(F.col("v"), F.expr("r DIV od").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.v, "left")
            .select(
                "node",
                (
                    F.lit(base) + F.expr("(85 * coalesce(s, 0)) DIV 100")
                )
                .cast("long")
                .alias("r"),
            )
        )
        if (it + 1) % checkpoint_every == 0 and it + 1 < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", F.col("r").alias("rank_fp"))


def _collect_edges(edges: DataFrame, *cols) -> list:
    """The edge list's rows on the driver, refused past ``_EDGE_CAP``:
    ``limit(cap+1)`` bounds the collect and detects overflow in the
    same single job (the similarity.neardup_pairs guard)."""
    rows = edges.select(*cols).limit(_EDGE_CAP + 1).collect()
    if len(rows) > _EDGE_CAP:
        raise ValueError(
            f"graph traversal collects its edge list on the driver "
            f"(>{_EDGE_CAP} rows)"
        )
    return rows


def _adjacency(rows) -> dict:
    """Undirected adjacency ``{u: {v: w}}`` from ``(u, v[, w])`` rows:
    self-loops and null endpoints dropped, parallel edges (either
    direction) merged to their minimum weight."""
    adj: dict[int, dict[int, int]] = {}
    for u, v, *w in rows:
        if u is None or v is None or u == v:
            continue
        w = w[0] if w else 1
        if w is None:
            continue
        for x, y in ((u, v), (v, u)):
            nbrs = adj.setdefault(x, {})
            if w < nbrs.get(y, w + 1):
                nbrs[y] = w
    return adj


def _local_adjacency(edges: DataFrame, src: str, dst: str) -> dict:
    """``_adjacency`` of the guarded collect of ``(src, dst)`` as BIGINT."""
    return _adjacency(
        _collect_edges(edges, F.col(src).cast("long"), F.col(dst).cast("long"))
    )


def _local_result(spark, rows, *names: str) -> DataFrame:
    """Integer ``rows`` as a JVM local relation of BIGINT columns
    ``names`` (``LocalTableScan``, sized for the planner), in sorted
    row order. A list of rows would plan as ``Scan ExistingRDD``, with
    no size estimate."""
    import pyarrow as pa

    cols = list(zip(*sorted(rows))) or [()] * len(names)
    table = pa.table(
        {n: pa.array(c, pa.int64()) for n, c in zip(names, cols)}
    )
    return spark.createDataFrame(
        table, ", ".join(f"{n}: long" for n in names)
    )


def _bfs(adj: dict, start: int, max_hops: int | None = None) -> dict:
    """Hop counts ``{node: d}`` from ``start`` (itself at 0), stopping
    after ``max_hops`` levels when given."""
    levels = {start: 0}
    frontier = [start]
    depth = 0
    while frontier and depth != max_hops:
        depth += 1
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in levels:
                    levels[v] = depth
                    nxt.append(v)
        frontier = nxt
    return levels


def bfs_levels(
    edges: DataFrame, src_node: int, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Breadth-first levels (unweighted shortest hop counts) from
    ``src_node`` over an undirected edge list: ``(node, level)`` for
    every REACHED node (``src_node`` itself at level 0, even when it
    has no edge). Self-loops, duplicate edges and edges with a null
    endpoint are ignored.

    Driver-bounded: the edge list is collected once (one Spark job)
    and the frontier loop runs in Python on the driver, so the graph
    must fit there; past ``_EDGE_CAP`` edges it raises ``ValueError``.
    The registered callers feed the above-mean nation trade graph,
    at most |nations|² = 625 edges at every SF. The result comes back
    as a local relation."""
    levels = _bfs(_local_adjacency(edges, src, dst), int(src_node))
    return _local_result(edges.sparkSession, levels.items(), "node", "level")


def sssp_costs(
    edges: DataFrame,
    src_node: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Single-source shortest-path COSTS over an undirected weighted
    edge list: ``(node, cost)`` for every reached node. Weights are
    cast to BIGINT, parallel edges take their minimum weight, and
    self-loops and edges with a null endpoint or weight are ignored;
    a negative weight raises ``ValueError``.

    Integer weights keep the result exactly reproducible: sums and
    min() of Python ints have no accumulation-order sensitivity, so
    an oracle can replay it with a recursive CTE bit-for-bit.

    Driver-bounded like ``bfs_levels``: one guarded edge-list collect
    (``ValueError`` past ``_EDGE_CAP``), Dijkstra in Python, and the
    result handed back as a local relation. The registered caller
    feeds the bilateral nation trade graph, at most 625 edges."""
    rows = _collect_edges(
        edges,
        F.col(src).cast("long"),
        F.col(dst).cast("long"),
        F.col(weight).cast("long"),
    )
    if any(r[2] is not None and r[2] < 0 for r in rows):
        raise ValueError("sssp_costs needs non-negative edge weights")
    adj = _adjacency(rows)
    dist = {int(src_node): 0}
    heap = [(0, int(src_node))]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist[u]:
            continue
        for v, w in adj.get(u, {}).items():
            if d + w < dist.get(v, d + w + 1):
                dist[v] = d + w
                heapq.heappush(heap, (d + w, v))
    return _local_result(edges.sparkSession, dist.items(), "node", "cost")


def kcore_numbers(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Coreness ``(node, coreness)`` of every node with an edge, by the
    H-INDEX FIXPOINT (Lü et al., Nature Communications 2016): each node
    starts at its degree, then every round sets label(v) = the largest
    h with >= h neighbours labelled >= h, until no label changes; the
    fixpoint is the k-core number. A node with no edge has coreness 0
    and is not listed. Edges are undirected; self-loops, duplicates and
    null endpoints are ignored. A 100-round guard raises
    ``RuntimeError`` rather than spinning.

    Driver-bounded like ``bfs_levels`` (one guarded collect, the
    rounds in Python, a local relation back)."""
    adj = _local_adjacency(edges, src, dst)
    label = {v: len(nbrs) for v, nbrs in adj.items()}
    for _ in range(100):
        new = {}
        for v, nbrs in adj.items():
            ranked = sorted((label[u] for u in nbrs), reverse=True)
            new[v] = max(min(r, x) for r, x in enumerate(ranked, 1))
        if new == label:
            break
        label = new
    else:
        raise RuntimeError("kcore h-index fixpoint did not converge")
    return _local_result(
        edges.sparkSession, label.items(), "node", "coreness"
    )


def label_propagation(
    edges: DataFrame, rounds: int, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Communities ``(node, label)`` by SYNCHRONOUS label propagation
    (Raghavan et al. PRE'07) over an undirected edge list: every node
    with an edge starts labelled with itself, and each of ``rounds``
    rounds gives every node its neighbours' most frequent label. Ties
    go to the higher vote count, then the lower label, so the result
    is deterministic. Self-loops, duplicates and null endpoints are
    ignored.

    Driver-bounded like ``bfs_levels``."""
    adj = _local_adjacency(edges, src, dst)
    label = {v: v for v in adj}
    for _ in range(rounds):
        new = {}
        for v, nbrs in adj.items():
            votes = Counter(label[u] for u in nbrs)
            new[v] = min(votes, key=lambda x: (-votes[x], x))
        label = new
    return _local_result(edges.sparkSession, label.items(), "node", "label")


def harmonic_closeness(
    edges: DataFrame, max_hops: int, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Harmonic closeness ``(node, n_reachable, harmonic_ppm)`` of every
    node with an edge over an undirected edge list: a BFS from each
    node, cut off at ``max_hops`` hops, counts the other nodes it
    reaches and sums ``1000000 // d`` over their hop distances d.
    Integer terms, so the sum is exact. Self-loops, duplicates and null
    endpoints are ignored.

    Driver-bounded like ``bfs_levels``."""
    adj = _local_adjacency(edges, src, dst)
    rows = []
    for v in adj:
        hops = [d for d in _bfs(adj, v, max_hops).values() if d > 0]
        rows.append((v, len(hops), sum(1_000_000 // d for d in hops)))
    return _local_result(
        edges.sparkSession, rows, "node", "n_reachable", "harmonic_ppm"
    )


def truss_peel(
    edges: DataFrame, rounds: int, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Bounded-round 4-truss peel ``(a, b, sup)`` (a < b) over an
    undirected edge list: each of ``rounds`` rounds counts every
    surviving edge's triangles (its support) on the surviving edge set
    and keeps the edges with support >= 2. The result is the last
    round's survivors with that round's support. Self-loops,
    duplicates and null endpoints are ignored.

    Driver-bounded like ``bfs_levels``."""
    adj = _local_adjacency(edges, src, dst)
    sup = {(a, b): 0 for a, nbrs in adj.items() for b in nbrs if a < b}
    for _ in range(rounds):
        nbrs: dict[int, set[int]] = {}
        for a, b in sup:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        sup = {(a, b): len(nbrs[a] & nbrs[b]) for a, b in sup}
        sup = {e: n for e, n in sup.items() if n >= 2}
    return _local_result(
        edges.sparkSession,
        ((a, b, n) for (a, b), n in sup.items()),
        "a",
        "b",
        "sup",
    )
