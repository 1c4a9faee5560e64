"""Similarity search over embedding columns (north-star ops,
BASELINE.json): brute-force cosine top-k as the oracle-checkable
baseline, and a random-hyperplane-LSH bucketed variant as the scale
path.

Numeric portability: dot products fold left-to-right in DOUBLE —
Spark's ``aggregate`` over ``zip_with`` and DuckDB's ``list_reduce``
over ``list_transform(list_zip(...))`` both evaluate the identical
IEEE-754 sequence, so results are bit-for-bit equal with zero
overhead (stays in whole-stage codegen; no decimal, no UDF).

Scale design:
- brute-force is O(n_queries x n_candidates x dim) — correct
  baseline, viable when the query set broadcasts.
- the LSH variant computes a P-plane sign bucket per vector as a pure
  projection (plane components are md5-derived constants folded into
  the expression — no plane table, no shuffle), joins on bucket
  equality, and ranks only within buckets: candidates drop from n to
  ~n/2^P per query. Recall vs brute force is measured in tests
  (approximate by design).
- at 100 TB the same plan holds: the signature pass is embarrassingly
  parallel; the bucket join is an equi-join AQE handles; exact
  re-ranking touches only candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

EMB_DIM = 64

#: Left fold of sum(x*y) over two float arrays, all in DOUBLE.
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) ->"
    " cast(x as double) * cast(y as double)),"
    " cast(0 as double), (acc, v) -> acc + v)"
)
_NORM2 = _DOT.format(a="{a}", b="{a}")

#: The cosine expression — written once so Spark and the oracle share
#: the exact operation sequence: dot / (sqrt(n2a) * sqrt(n2b)).
_COSINE = f"({_DOT}) / (sqrt({{n2a}}) * sqrt({{n2b}}))"


def with_norm2(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    return df.withColumn("norm2", F.expr(_NORM2.format(a=emb_col)))


def _sim_col() -> F.Column:
    return F.expr(
        _COSINE.format(a="q_emb", b="c_emb", n2a="q_n2", n2b="c_n2")
    ).alias("sim")


def cosine_topk(emb: DataFrame, n_queries: int = 8, k: int = 10) -> DataFrame:
    """Brute-force cosine top-k: vec_id < n_queries as the query set
    (broadcast), ranked against all candidates. Output
    (qid, cid, rank, sim); self-matches included (rank-1 anchor)."""
    base = with_norm2(emb)
    q = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("norm2").alias("q_n2"),
    )
    c = base.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c_emb"),
        F.col("norm2").alias("c_n2"),
    )
    sims = broadcast(q).crossJoin(c).select("qid", "cid", _sim_col())
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid"))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "cid", "rank", "sim")
    )


def neardup_pairs(emb: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b,
    cosine >= threshold).

    Two-stage candidate/verify plan:
    1. *Vectorized candidate generation*: Arrow batches of vectors are
       matmul'd (numpy, float64) against a broadcast of the full
       matrix — each executor scans its partition against the
       broadcast side, like a broadcast join. Pairs above
       ``threshold - 1e-6`` survive (the slack covers the ~1e-15
       summation-order difference vs the exact fold).
    2. *Exact verification*: survivors (a tiny set) get the canonical
       left-to-right double fold — so emitted ``sim`` values are
       bit-identical to the declarative baseline / DuckDB oracle.

    Scale note: a broadcastable candidate side caps this at ~1M
    vectors; beyond that, swap stage 1 for the LSH bucket join
    (ann_lsh_topk) or a block-partitioned matmul. Verification stage
    is unchanged either way.
    """
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    # Driver-collect guard: this baseline materializes the full matrix
    # on the driver. Refuse beyond ~1M vectors — use
    # neardup_pairs_blocked (the registered `embedding_neardup` path)
    # there instead. limit(cap+1) bounds the collect AND detects
    # overflow in the same single scan (no separate count() action).
    _CAP = 1_000_000
    mat_rows = emb.select("vec_id", "embedding").limit(_CAP + 1).collect()
    if len(mat_rows) > _CAP:
        raise ValueError(
            f"neardup_pairs collects the embedding table on the driver "
            f"(>{_CAP} rows); use neardup_pairs_blocked"
        )
    ids = np.array([r.vec_id for r in mat_rows], dtype=np.int64)
    m = np.array([r.embedding for r in mat_rows], dtype=np.float64)
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((ids, mn))
    eps = 1e-6

    def _candidates(batches):
        b_ids, b_mn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.array(list(pdf["embedding"]), dtype=np.float64)
            q = q / np.linalg.norm(q, axis=1, keepdims=True)
            sims = q @ b_mn.T
            qa = pdf["vec_id"].to_numpy()
            qi, ci = np.nonzero(sims >= threshold - eps)
            va, vb = qa[qi], b_ids[ci]
            keep = va < vb
            yield pd.DataFrame({"vec_a": va[keep], "vec_b": vb[keep]})

    cand = emb.mapInPandas(_candidates, "vec_a long, vec_b long")
    base = with_norm2(emb)
    a = base.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("q_emb"),
        F.col("norm2").alias("q_n2"),
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("c_emb"),
        F.col("norm2").alias("c_n2"),
    )
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", _sim_col())
        .where(F.col("sim") >= threshold)
    )


# ------------------------------------------------------- LSH bucketing

N_PLANES = 6  # 64 buckets


def _plane_hash(dialect: str, p: str, d: str) -> str:
    if dialect == "spark":
        return (
            f"cast(conv(substring(md5(concat(cast({p} as string), ':',"
            f" cast({d} as string))), 1, 12), 16, 10) as bigint)"
        )
    return f"('0x' || substr(md5({p}::VARCHAR || ':' || {d}::VARCHAR), 1, 12))::BIGINT"


def _plane_component(p: int, d: int) -> float:
    """r(p, d) = ((int(md5(\"p:d\")[:12], 16) % 2001) - 1000) / 1000.0
    — the same value the DuckDB oracle derives with its md5; every
    intermediate is exact (48-bit hash, small ints) and the final
    division is correctly rounded in both engines, so inlining the
    Python-computed value as a literal is bit-identical to computing
    it in SQL."""
    import hashlib

    h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:12], 16)
    return ((h % 2001) - 1000) / 1000.0


def bucket_expr(dialect: str, emb: str = "embedding", n_planes: int = N_PLANES) -> str:
    """Bit-packed sign bucket over n_planes md5-derived hyperplanes,
    as a single projection expression (no plane table, no shuffle).

    Plane component r(p,d) = ((md5hash(p:d) % 2001) - 1000) / 1000.0;
    sign_p = fold(emb[d] * r(p,d)) > 0; bucket = sum 2^p * sign_p.

    The Spark side inlines the components as LITERAL arrays
    (precomputed by ``_plane_component`` — md5 of two small literal
    ints is a constant, but inside a higher-order-function lambda
    Catalyst cannot fold it, which measured as ~n_planes*dim md5
    evaluations PER ROW). The fold order and values are unchanged, so
    results stay bit-identical to the DuckDB form, which keeps
    computing its components in SQL.
    """
    terms = []
    for p in range(n_planes):
        if dialect == "spark":
            lits = ", ".join(
                repr(_plane_component(p, d)) for d in range(EMB_DIM)
            )
            dot = (
                f"aggregate(zip_with({emb}, array({lits}),"
                " (x, y) -> cast(x as double) * y),"
                " cast(0 as double), (acc, v) -> acc + v)"
            )
        else:
            r = f"(({_plane_hash('duckdb', str(p), 'd')} % 2001) - 1000) / 1000.0"
            dot = (
                f"list_reduce(list_transform(list_zip({emb},"
                f" list_transform(generate_series(0, {EMB_DIM - 1}), d -> {r})),"
                " q -> CAST(q[1] AS DOUBLE) * q[2]), (x, y) -> x + y)"
            )
        terms.append(
            f"(CASE WHEN ({dot}) > 0 THEN CAST({2**p} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END)"
        )
    return " + ".join(terms)


def ann_lsh_topk(emb: DataFrame, n_queries: int = 8, k: int = 5) -> DataFrame:
    """Approximate top-k: exact cosine ranking restricted to
    candidates sharing the query's LSH bucket."""
    base = with_norm2(emb).withColumn(
        "bucket", F.expr(bucket_expr("spark", "embedding"))
    )
    q = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("norm2").alias("q_n2"),
        "bucket",
    )
    c = base.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c_emb"),
        F.col("norm2").alias("c_n2"),
        "bucket",
    )
    sims = broadcast(q).join(c, "bucket").select("qid", "cid", _sim_col())
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid"))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "cid", "rank", "sim")
    )


# ------------------------------------------------------ IVF (coarse
# quantizer + inverted cells) — the second scale path beside LSH.

IVF_CELLS = 16
IVF_NPROBE = 2


def semdedup_cells(n: int) -> int:
    """The SemDeDup cell-count rule, MEASURED not asserted
    (SCALE_REHEARSAL.md "SemDeDup nominal scaling", r8): growing
    n_cells linearly with the corpus keeps cells flat but sends the
    O(n x n_cells) assignment pass quadratic (measured 100x exponent
    0.93); n_cells ~ sqrt(n) (the FAISS coarse-quantizer heuristic)
    balances assignment against within-cell pairs at O(n^1.5) each
    (measured 0.77). Floored at IVF_CELLS so tiny corpora keep a
    non-degenerate cell structure. ``math.isqrt`` is exact-integer;
    the DuckDB oracle mirrors it as FLOOR(SQRT(n)) — identical for
    every n below 2^52 (IEEE sqrt is correctly rounded and the
    fixture counts are nowhere near a perfect-square boundary where
    double rounding could differ from isqrt)."""
    import math

    return max(IVF_CELLS, math.isqrt(n))


def _centroids(base: DataFrame, n_cells: int) -> DataFrame:
    """The deterministic centroid set shared by ``ivf_topk``,
    ``ivf_recall_curve`` and ``semdedup_prune``: the first
    ``n_cells`` vectors by id — the trained-quantizer stand-in (a
    real pipeline swaps in k-means centroids with the identical plan
    shape). One definition across the three ops, so a centroid-rule
    change cannot desynchronize them (their oracles share the same
    rule). ``base`` must carry ``norm2`` (``with_norm2``)."""
    return base.where(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm2").alias("c_n2"),
    )


def _rank_cells(vectors: DataFrame, cent: DataFrame) -> DataFrame:
    """Rank ``vectors`` (projected like ``base``) by similarity
    against the broadcast centroid table: returns (vec_id, cent_id,
    sim, rnk) with rnk 1 = nearest cell. A vector's ranking depends
    only on itself and the centroids, so callers may pre-filter
    ``vectors`` to the slice they need (e.g. the query set for probe
    lists) without changing any row that survives — that is what
    keeps the corpus-scale assignment pass SINGLE even when probes
    and cells are both derived."""
    asg = (
        vectors.select(
            "vec_id",
            F.col("embedding").alias("q_emb"),
            F.col("norm2").alias("q_n2"),
        )
        .crossJoin(broadcast(cent))
        .select("vec_id", "cent_id", _sim_col())
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "cent_id")
    return asg.withColumn("rnk", F.row_number().over(w))


def _cell_ranked(base: DataFrame, n_cells: int) -> DataFrame:
    """Corpus-wide nearest-centroid assignment:
    ``_rank_cells(base, _centroids(base, n_cells))``."""
    return _rank_cells(base, _centroids(base, n_cells))


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 10,
    n_cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF approximate top-k: assign every vector to its nearest
    coarse centroid (an inverted cell), probe only the query's
    ``nprobe`` nearest cells, exact-rank the candidates.

    The centroid set is the deterministic stand-in for a trained
    coarse quantizer: the first ``n_cells`` vectors by id (on a real
    pipeline: k-means over a sample, broadcast the centroid table —
    identical plan shape, the centroid table is just not a slice of
    the input).

    Scale design: the assignment pass is a broadcast-nested-loop
    against ``n_cells`` rows (embarrassingly parallel, one scan); the
    candidate join is an equi-join on cell id whose fan-in per query
    is ~n*nprobe/n_cells rather than n; exact ranking touches only
    candidates. The query-vector attach broadcasts the FILTERED
    ``vec_id < n_queries`` slice (|Q| rows at any corpus size), never
    the full table. All sims use the shared left-to-right double
    fold, so results are bit-comparable with the DuckDB oracle.
    """
    base = with_norm2(emb)
    cent = _centroids(base, n_cells)
    cells = _rank_cells(base, cent).where(F.col("rnk") == 1).select(
        "vec_id", F.col("cent_id").alias("cell")
    )
    # probe ranking touches only the |Q| query vectors (a vector's
    # cell ranking is independent of other vectors), so the
    # corpus-scale assignment BNLJ runs exactly once (cells)
    probes = _rank_cells(
        base.where(F.col("vec_id") < n_queries), cent
    ).where(F.col("rnk") <= nprobe).select(
        F.col("vec_id").alias("qid"), F.col("cent_id").alias("cell")
    )
    cand = broadcast(probes).join(cells, "cell").select(
        "qid", F.col("vec_id").alias("cid")
    )
    q = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("norm2").alias("q_n2"),
    )
    c = base.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c_emb"),
        F.col("norm2").alias("c_n2"),
    )
    sims = cand.join(broadcast(q), "qid").join(c, "cid").select(
        "qid", "cid", _sim_col()
    )
    wk = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid"))
    return (
        sims.withColumn("rank", F.row_number().over(wk).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "cid", "rank", "sim")
    )


def ivf_recall_curve(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 10,
    n_cells: int = IVF_CELLS,
    nprobes: tuple[int, ...] = (1, 2, 4),
    materialize: bool = True,
) -> DataFrame:
    """Recall@k vs candidate cost for IVF at several ``nprobe``
    settings — the evaluation twin of ``ivf_topk`` (the
    ``dedup_threshold_curve`` precedent applied to ANN): before
    committing an nprobe at 100 TB you measure the recall/cost curve
    on a bounded query sample, and this query IS that measurement.

    One pass pays for the whole curve — structurally enforced: the
    centroid assignment and the candidate join run ONCE at
    max(nprobes) and the scored candidate table is
    ``localCheckpoint(eager=False)``-materialized (the semdedup_prune
    home convention) before the per-nprobe loop, so the six aggregates
    read the one materialized RDD instead of re-running the
    corpus-wide assignment subplan (exchange reuse cannot bridge its
    broadcast vs shuffle forms — measured r8). Each candidate carries
    ``probe_rank`` (the rank of its cell in the query's cell
    ordering), so the nprobe=p candidate set is just the
    ``probe_rank <= p`` filter of the max-nprobe set — smaller
    nprobes are free, and the per-nprobe candidate COUNT (the cost
    axis) is the same filter aggregated. Ground truth is the
    brute-force top-k over the same bounded query set (O(|Q| x n),
    the standard eval cost; the broadcast side is the FILTERED
    ``vec_id < n_queries`` slice — |Q| rows at any corpus size).
    Output is |nprobes| rows: hits, exact recall in ppm (one pinned
    DIV), and the candidate count actually scanned.

    All similarities use the shared left-to-right double fold, so the
    curve is bit-comparable with the DuckDB oracle.
    """
    base = with_norm2(emb)
    cent = _centroids(base, n_cells)
    cells = _rank_cells(base, cent).where(F.col("rnk") == 1).select(
        "vec_id", F.col("cent_id").alias("cell")
    )
    max_np = max(nprobes)
    # probe ranking touches only the |Q| query vectors — the
    # corpus-scale assignment BNLJ runs exactly once (cells)
    probes = _rank_cells(
        base.where(F.col("vec_id") < n_queries), cent
    ).where(F.col("rnk") <= max_np).select(
        F.col("vec_id").alias("qid"),
        F.col("cent_id").alias("cell"),
        F.col("rnk").alias("probe_rank"),
    )
    # every vector lives in exactly one cell (rnk == 1), so (qid, cid)
    # appears at most once and probe_rank is well-defined per pair
    cand = broadcast(probes).join(cells, "cell").select(
        "qid", F.col("vec_id").alias("cid"), "probe_rank"
    )
    q = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("norm2").alias("q_n2"),
    )
    c = base.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c_emb"),
        F.col("norm2").alias("c_n2"),
    )
    # 4 narrow columns, |cand| rows (~n * max_np / n_cells) — linear
    # storage; referenced 2x per nprobe point below.
    # materialize=False (tests only) keeps the subplans visible so
    # plan pins can assert the broadcast sides are |Q|-filtered —
    # checkpointing hides them behind Scan ExistingRDD.
    sims = (
        cand.join(broadcast(q), "qid")
        .join(c, "cid")
        .select("qid", "cid", "probe_rank", _sim_col())
    )
    # |Q| x k rows, referenced by every nprobe point's hits join —
    # materialized once for the same reason as sims
    exact = cosine_topk(emb, n_queries, k).select("qid", "cid")
    if materialize:
        sims = sims.localCheckpoint(eager=False)
        exact = exact.localCheckpoint(eager=False)
    denom = n_queries * k
    out = None
    for np_ in nprobes:
        wk = Window.partitionBy("qid").orderBy(
            F.col("sim").desc(), F.col("cid")
        )
        topk = (
            sims.where(F.col("probe_rank") <= np_)
            .withColumn("rank", F.row_number().over(wk))
            .where(F.col("rank") <= k)
            .select("qid", "cid")
        )
        hits = topk.join(exact, ["qid", "cid"]).agg(
            F.count(F.lit(1)).cast("long").alias("hits")
        )
        # sims is 1:1 with cand (both joins are key-preserving while
        # embeddings vec_id is unique — the module-wide assumption,
        # pinned by tests/test_r9_pipeline.py::
        # test_ivf_recall_curve_sims_cand_key_preserving, which
        # compares the two counts on real data), so the cost axis
        # reads the same checkpointed table
        ncand = sims.where(F.col("probe_rank") <= np_).agg(
            F.count(F.lit(1)).cast("long").alias("candidates")
        )
        row = hits.crossJoin(broadcast(ncand)).select(
            F.lit(np_).cast("long").alias("nprobe"),
            F.lit(n_queries).cast("long").alias("n_queries"),
            "hits",
            F.expr(f"CAST(hits * 1000000 DIV {denom} AS BIGINT)").alias(
                "recall_ppm"
            ),
            "candidates",
        )
        out = row if out is None else out.unionByName(row)
    return out


def semdedup_prune(
    emb: DataFrame,
    n_cells: int | None = None,
    tau: float = 0.4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): semantic deduplication
    inside coarse embedding clusters — assign every vector to its
    nearest centroid cell, compare pairs ONLY within a cell, and for
    every pair above the cosine threshold keep the member with the
    LOWER similarity to its centroid (the paper's keep-the-edge-
    example rule; ties break on vec_id). Returns the per-cell prune
    census: population, dropped count, kept ppm.

    Scale design: the cell equi-join is the only fact-scale shuffle;
    the within-cell comparison is quadratic ONLY in cell population —
    exactly the paper's reason for clustering first. n_cells is the
    knob, and since r9 the measured rule IS the default: when
    ``n_cells`` is None it derives as ``semdedup_cells(count)`` =
    max(IVF_CELLS, isqrt(n)) — the sqrt rule the r8 nominal rehearsal
    (SCALE_REHEARSAL.md "SemDeDup nominal scaling") proved out after
    it CORRECTED the docstring's original linear prescription
    (assignment goes quadratic under linear growth, 100x exponent
    0.93 vs 0.77). The derivation costs one metadata-cheap count of
    the embedding table at plan-build time. Past ~1e9 vectors,
    assignment itself goes through ``semdedup_prune_ann`` (r10): the
    registered twin routes vectors through a second-level coarse
    quantizer (~n^1.25 sims instead of this path's n^1.5; measured
    crossover between 10x and 100x of sf0.1 — SCALE_REHEARSAL.md
    "SemDeDup ANN assignment scaling"), so this exact path stays the
    default below the crossover. A hot cell is an AQE skew-join split,
    not a plan change. The keep rule is purely local (pair → loser),
    so no connected-components iteration is needed — one distinct
    over losers replaces it, which is what makes SemDeDup cheaper
    than MinHash-cluster dedup at the same scale.

    The centroid rule is the shared ``_cell_ranked`` stand-in (first
    n_cells vectors — one definition across ivf_topk /
    ivf_recall_curve / semdedup_prune); all similarities use the
    shared left-to-right double fold, so the census is bit-comparable
    with the DuckDB oracle.
    """
    base = with_norm2(emb)
    if n_cells is None:
        n_cells = semdedup_cells(emb.count())
    # home is referenced three times (both pair sides + the census);
    # localCheckpoint materializes the assignment pass ONCE (the
    # pca_power_iteration lesson) — 3 narrow columns, linear storage
    home = (
        _cell_ranked(base, n_cells)
        .where(F.col("rnk") == 1)
        .select("vec_id", F.col("cent_id").alias("cell"), F.col("sim").alias("csim"))
        .localCheckpoint(eager=False)
    )
    return _semdedup_census(base, home, tau)


def _semdedup_census(
    base: DataFrame, home: DataFrame, tau: float
) -> DataFrame:
    """The SemDeDup downstream shared by ``semdedup_prune`` (exact
    nearest-centroid assignment) and ``semdedup_prune_ann``
    (two-level ANN assignment): within-cell pairs above ``tau`` drop
    the member MORE similar to its centroid (vec_id tie-break), one
    distinct over losers, per-cell census. ``home`` must be the
    materialized (vec_id, cell, csim) assignment; ``base`` the
    ``with_norm2`` projection. Extracted r10 so the two assignment
    strategies cannot drift in prune semantics — the census is the
    same DataFrame composition either way (semdedup_prune's plan is
    unchanged by the refactor; tools/plan_identity.py verified)."""
    assigned = home.join(base.select("vec_id", "embedding", "norm2"), "vec_id")
    a = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("va"),
        F.col("csim").alias("ca"),
        F.col("embedding").alias("q_emb"),
        F.col("norm2").alias("q_n2"),
    )
    b = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("vb"),
        F.col("csim").alias("cb"),
        F.col("embedding").alias("c_emb"),
        F.col("norm2").alias("c_n2"),
    )
    pairs = (
        a.join(b, "cell")
        .where(F.col("va") < F.col("vb"))
        .select("cell", "va", "vb", "ca", "cb", _sim_col())
        .where(F.col("sim") > tau)
    )
    losers = pairs.select(
        "cell",
        F.expr(
            "CASE WHEN ca > cb OR (ca = cb AND va > vb)"
            " THEN va ELSE vb END"
        ).alias("dropped_id"),
    ).distinct()
    pop = home.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    drp = losers.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_dropped")
    )
    return (
        pop.join(drp, "cell", "left")
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_vecs",
            F.coalesce(F.col("n_dropped"), F.lit(0))
            .cast("long")
            .alias("n_dropped"),
        )
        .withColumn(
            "kept_ppm",
            F.expr(
                "CAST((n_vecs - n_dropped) * 1000000 DIV n_vecs"
                " AS BIGINT)"
            ),
        )
    )


SEMDEDUP_SUPER_FLOOR = 4
SEMDEDUP_ANN_NPROBE = 2


def semdedup_super_cells(n_cells: int) -> int:
    """Super-cell count for the two-level SemDeDup assignment: the
    sqrt rule applied once more (n_super = max(4, isqrt(n_cells)) =
    ~n^(1/4)), floored low enough that tiny fixtures still exercise
    a real two-level routing (4 supers over 16+ cells). The oracle
    mirrors it as GREATEST(4, FLOOR(SQRT(k))) — exact for every
    n_cells below 2^52, same argument as ``semdedup_cells``."""
    import math

    return max(SEMDEDUP_SUPER_FLOOR, math.isqrt(n_cells))


def semdedup_prune_ann(
    emb: DataFrame,
    n_cells: int | None = None,
    tau: float = 0.4,
    nprobe: int = SEMDEDUP_ANN_NPROBE,
) -> DataFrame:
    """SemDeDup census with ANN-over-centroids assignment — the scale
    form ``semdedup_prune``'s docstring prescribes past ~1e9 vectors
    (r9 verdict's last named scale-killer, implemented r10).

    The exact path ranks every vector against ALL n_cells = isqrt(n)
    centroids: an O(n·√n) broadcast-nested-loop — at n = 1e11 that is
    ~3e16 sims, the one remaining fact-scale term that does not
    survive the 100 TB north star. This twin routes the assignment
    through a second-level coarse quantizer (the standard IVF-over-
    IVF / FAISS coarse-probe shape, applied to the centroid table
    itself):

    1. n_super = max(4, isqrt(n_cells)) ~ n^(1/4) SUPER-centroids
       (the shared first-k stand-in rule, one more level down).
    2. centroid -> super home: rank the n_cells centroids against
       the supers (O(√n · n^(1/4)) sims — off the fact scale).
    3. vector -> super probes: rank every vector against the SUPERS
       only (O(n · n^(1/4)) sims, vs O(n · √n) exact), keep the top
       ``nprobe`` super-cells.
    4. candidate centroids = the probed supers' member centroids
       (broadcast ``cent_home``: n_cells rows × 2 longs — ~5 MB at
       n = 1e11); exact-rank each vector against only those
       (~nprobe · n_cells / n_super = O(n^(1/4)) candidates each).

    Total assignment sims drop from n·√n to ~n·(1 + nprobe)·n^(1/4)
    — at n = 1e11, ~180x fewer — while steps 2-4 stay equi-joins /
    bounded broadcasts (the only BNLJ left is against the n^(1/4)-row
    super table). Assignment is APPROXIMATE (a vector's true nearest
    centroid may live outside its probed supers), so this is a
    registered twin with its own oracle, not a silent swap: the
    DuckDB oracle mirrors the same deterministic two-level routing
    bit-for-bit (shared left-to-right fold), and
    ``semdedup_ann_assignment_recall`` measures the agreement with
    the exact assignment on the same corpus. Downstream prune
    semantics are byte-shared with the exact path
    (``_semdedup_census``).
    """
    base = with_norm2(emb)
    if n_cells is None:
        n_cells = semdedup_cells(emb.count())
    n_super = semdedup_super_cells(n_cells)
    sup = _centroids(base, n_super)
    cent = _centroids(base, n_cells)
    # centroid -> super routing table: n_cells rows of 2 longs,
    # broadcast-bounded at any corpus size (isqrt growth)
    cent_home = (
        _rank_cells(base.where(F.col("vec_id") < n_cells), sup)
        .where(F.col("rnk") == 1)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("cent_id").alias("sup"),
        )
    )
    # the ONLY fact-scale pass: rank vectors against n^(1/4) supers
    probes = (
        _rank_cells(base, sup)
        .where(F.col("rnk") <= nprobe)
        .select("vec_id", F.col("cent_id").alias("sup"))
    )
    cand = broadcast(cent_home).join(probes, "sup").select(
        "vec_id", "cent_id"
    )
    # exact-rank candidates: equi-joins only — the vector re-attach
    # shuffles on vec_id (reused by the window right after), the
    # centroid side is size-estimable UNHINTED (broadcast at fixture
    # SFs, shuffle fallback at scale — the r9 de-hint policy)
    q = base.select(
        "vec_id",
        F.col("embedding").alias("q_emb"),
        F.col("norm2").alias("q_n2"),
    )
    c = cent.select(
        "cent_id",
        F.col("c_emb"),
        F.col("c_n2"),
    )
    scored = cand.join(q, "vec_id").join(c, "cent_id").select(
        "vec_id", "cent_id", _sim_col()
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "cent_id")
    home = (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select(
            "vec_id",
            F.col("cent_id").alias("cell"),
            F.col("sim").alias("csim"),
        )
        .localCheckpoint(eager=False)
    )
    return _semdedup_census(base, home, tau)


SEMDEDUP_EVAL_SAMPLE = 4096


def semdedup_ann_assignment_recall(
    emb: DataFrame,
    n_cells: int | None = None,
    nprobe: int = SEMDEDUP_ANN_NPROBE,
    n_eval: int = SEMDEDUP_EVAL_SAMPLE,
) -> DataFrame:
    """Agreement between the ANN two-level assignment and the exact
    nearest-centroid assignment, with the measured cost axis — the
    evaluation that justifies shipping ``semdedup_prune_ann`` at a
    given nprobe (the ``ivf_recall_curve`` precedent applied to the
    assignment stage): one row per probe depth 1..nprobe with the
    number of evaluated vectors whose ANN home cell equals the exact
    home cell, agreement in exact integer ppm, and the
    candidate-centroid count actually scored (vs the exact path's
    n_eval · n_cells).

    BOUNDED-SAMPLE evaluation (r10, after the first 10x rehearsal
    measured exponent 1.10 on the full-corpus form): the ground
    truth is the exact O(n · isqrt(n)) assignment — the very term
    the ANN twin exists to avoid — so evaluating every vector makes
    the evaluation itself the scale-killer. A vector's assignment
    (exact or ANN) depends only on itself and the centroid slices,
    so agreement measured on the first ``n_eval`` vec_ids is an
    unbiased per-vector census over a deterministic sample, and the
    whole query drops to O(n_eval · isqrt(n)): no fact-scale term
    at all (the centroid/super tables are bounded slice scans).
    n_eval = 4096 covers every fixture SF completely (500/500/2000
    vectors — identical results to the full-corpus form there) and
    caps the eval at any corpus size — the same bounded-query-set
    discipline as ``ivf_recall_curve``'s 8-query sample.

    One sample-scale probe ranking pays for the whole curve: the
    depth-p assignment is the ``probe_rank <= p`` filter of the
    depth-max candidate set (localCheckpoint-materialized, the
    recall-curve convention), so smaller depths are free."""
    base = with_norm2(emb)
    if n_cells is None:
        n_cells = semdedup_cells(emb.count())
    n_super = semdedup_super_cells(n_cells)
    sup = _centroids(base, n_super)
    cent = _centroids(base, n_cells)
    ev = base.where(F.col("vec_id") < n_eval)
    cent_home = (
        _rank_cells(base.where(F.col("vec_id") < n_cells), sup)
        .where(F.col("rnk") == 1)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("cent_id").alias("sup"),
        )
    )
    probes = (
        _rank_cells(ev, sup)
        .where(F.col("rnk") <= nprobe)
        .select(
            "vec_id",
            F.col("cent_id").alias("sup"),
            F.col("rnk").alias("probe_rank"),
        )
    )
    cand = broadcast(cent_home).join(probes, "sup").select(
        "vec_id", "cent_id", "probe_rank"
    )
    q = ev.select(
        "vec_id",
        F.col("embedding").alias("q_emb"),
        F.col("norm2").alias("q_n2"),
    )
    scored = (
        cand.join(q, "vec_id")
        .join(cent, "cent_id")
        .select("vec_id", "cent_id", "probe_rank", _sim_col())
        .localCheckpoint(eager=False)
    )
    exact = (
        _rank_cells(ev, cent)
        .where(F.col("rnk") == 1)
        .select("vec_id", F.col("cent_id").alias("exact_cell"))
    )
    n_total = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    out = None
    for p in range(1, nprobe + 1):
        wp = Window.partitionBy("vec_id").orderBy(
            F.col("sim").desc(), "cent_id"
        )
        ann = (
            scored.where(F.col("probe_rank") <= p)
            .withColumn("rnk", F.row_number().over(wp))
            .where(F.col("rnk") == 1)
            .select("vec_id", F.col("cent_id").alias("ann_cell"))
        )
        agree = ann.join(exact, "vec_id").agg(
            F.sum(
                F.when(
                    F.col("ann_cell") == F.col("exact_cell"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_agree")
        )
        ncand = scored.where(F.col("probe_rank") <= p).agg(
            F.count(F.lit(1)).cast("long").alias("candidates")
        )
        row = (
            agree.crossJoin(broadcast(n_total))
            .crossJoin(broadcast(ncand))
            .select(
                F.lit(p).cast("long").alias("nprobe"),
                "n_vecs",
                "n_agree",
                F.expr(
                    "CAST(n_agree * 1000000 DIV n_vecs AS BIGINT)"
                ).alias("agree_ppm"),
                "candidates",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ------------------------------------------------- blocked all-pairs

def neardup_pairs_blocked(
    emb: DataFrame, threshold: float = 0.4, block_size: int = 256
) -> DataFrame:
    """Near-dup pairs via BLOCK-PARTITIONED matmul — the 100 TB form
    of ``neardup_pairs``, with no driver ``collect()`` and no
    broadcast of the full matrix.

    Vectors are tiled into blocks of ``block_size``; the (tiny)
    block-pair index (b1 <= b2) fans each block out to its pair
    tasks; a cogrouped ``applyInPandas`` computes the numpy matmul
    per block pair on executors. Shuffle volume is n_vectors x
    n_blocks rows — the classic O(n * n/B) all-pairs tiling, each
    task bounded at block_size^2 work and 2 x block_size x dim
    memory. Survivors (``threshold - 1e-6`` slack for summation
    order) get the exact left-to-right fold, so the final output is
    bit-identical to the broadcast variant and the DuckDB oracle.
    """
    import numpy as np
    import pandas as pd

    eps = 1e-6
    tagged = emb.select(
        "vec_id",
        "embedding",
        (F.col("vec_id") / block_size).cast("long").alias("blk"),
    )
    blocks = tagged.select("blk").distinct()
    b1 = blocks.select(F.col("blk").alias("b1"))
    b2 = blocks.select(F.col("blk").alias("b2"))
    pairs = b1.crossJoin(b2).where(F.col("b1") <= F.col("b2"))

    def _fan(side: str) -> DataFrame:
        t, p = tagged.alias("t"), pairs.alias("p")
        return t.join(
            broadcast(p), F.col("t.blk") == F.col(f"p.{side}")
        ).select(
            F.col("p.b1").alias("b1"),
            F.col("p.b2").alias("b2"),
            F.col("t.vec_id").alias("vec_id"),
            F.col("t.embedding").alias("embedding"),
        )

    left, right = _fan("b1"), _fan("b2")

    def _block_pair(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf) or not len(rpdf):
            return pd.DataFrame({"vec_a": [], "vec_b": []}).astype("int64")
        a = np.array(list(lpdf["embedding"]), dtype=np.float64)
        b = np.array(list(rpdf["embedding"]), dtype=np.float64)
        a /= np.linalg.norm(a, axis=1, keepdims=True)
        b /= np.linalg.norm(b, axis=1, keepdims=True)
        sims = a @ b.T
        ai = lpdf["vec_id"].to_numpy()
        bi = rpdf["vec_id"].to_numpy()
        ii, jj = np.nonzero(sims >= threshold - eps)
        va, vb = ai[ii], bi[jj]
        keep = va < vb
        return pd.DataFrame({"vec_a": va[keep], "vec_b": vb[keep]})

    cand = (
        left.groupBy("b1", "b2")
        .cogroup(right.groupBy("b1", "b2"))
        .applyInPandas(_block_pair, "vec_a long, vec_b long")
    )
    base = with_norm2(emb)
    a = base.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("q_emb"),
        F.col("norm2").alias("q_n2"),
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("c_emb"),
        F.col("norm2").alias("c_n2"),
    )
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", _sim_col())
        .where(F.col("sim") >= threshold)
    )
