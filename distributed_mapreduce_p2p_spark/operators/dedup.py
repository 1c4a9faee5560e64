"""Deduplication operators for training-data pipelines (north-star
ops, BASELINE.json): exact, n-gram Jaccard, MinHash+LSH, SimHash.

All are pure DataFrame compositions over deterministic md5-derived
hash functions — portable to the DuckDB oracle and entirely JVM-side
(no Python UDFs in any hot path).

Scale design (the part that matters at 100 TB):
- exact dedup = hash-groupBy: one shuffle on a 128-bit digest, no
  skew (digests are uniform).
- n-gram Jaccard via raw shingle self-join is the *oracle-checkable
  baseline*; its candidate set explodes on frequent shingles. The
  production path is MinHash+LSH: O(n·K) signature pass, then a
  band-bucket join whose fan-out is controlled by band width, then
  exact verification only on candidates.
- SimHash pairs use pigeonhole banding (4 bands of 8 bits): hamming
  distance <= 3 guarantees at least one band matches, so the banded
  join is exact-complete without an O(n^2) cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from distributed_mapreduce_p2p_spark.sources.io import scoped_conf

# ---------------------------------------------------------------- exact

def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct
    content with the kept (minimum) doc_id and the duplicate count."""
    return (
        docs.select("doc_id", F.md5("text").alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ------------------------------------------------------------- shingles

#: 3-word shingles over case/punct-normalized text; empty-safe.
_SHINGLE_EXPR = (
    "CASE WHEN size(w) >= 3 THEN "
    "transform(sequence(1, size(w)-2), i -> "
    "concat_ws(' ', element_at(w, i), element_at(w, i+1), element_at(w, i+2)))"
    " ELSE array() END"
)


def shingles(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """3-word shingles per doc: (doc_id, sh).

    ``distinct=True`` (a shuffle) is required for exact Jaccard set
    semantics; MinHash passes ``False`` — min over the shingle
    *multiset* equals min over the set, so the dedup shuffle is pure
    waste there.
    """
    sh = docs.select(
        "doc_id",
        F.expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')").alias("w"),
    ).select("doc_id", F.explode(F.expr(_SHINGLE_EXPR)).alias("sh"))
    return sh.distinct() if distinct else sh


def _hashed_docsets(sh: DataFrame, threshold: float) -> DataFrame:
    """Per-doc token state for the prefix-filtered Jaccard join:
    (doc_id, n, pre, sset) where tokens are 64-bit ``xxhash64``
    shingle hashes (8-byte array elements instead of ~24-char
    strings — the verify join ships ~3x less data and compares
    longs; a cross-doc hash collision would need two of the corpus's
    distinct shingles to collide in 2^64 — ~1e-15 at 1e5 distinct
    shingles — and the oracle-parity suite pins exactness at every
    tested SF), ``pre`` is the frequency-ascending prefix of length
    ``n - ceil(t*n) + 1`` with positional order, ``sset`` the full
    sorted token set."""
    toks = sh.select("doc_id", F.xxhash64("sh").alias("h"))
    freq = toks.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    return (
        toks.join(F.broadcast(freq), "h")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "h"))).alias("__t"))
        .select(
            "doc_id",
            F.expr("transform(__t, x -> x.h)").alias("__ordered"),
            F.size("__t").alias("n"),
        )
        .select(
            "doc_id",
            "n",
            F.expr(
                f"slice(__ordered, 1, int(n - ceil({threshold} * n) + 1))"
            ).alias("pre"),
            F.sort_array("__ordered").alias("sset"),
        )
    )


def ngram_jaccard_candidates(sh: DataFrame, threshold: float) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs via PREFIX FILTERING plus the
    size and positional bounds — complete for Jaccard >=
    ``threshold`` (the public SSJoin/All-Pairs/PPJoin family:
    Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07, Xiao et al.
    WWW'08; Vernica et al. SIGMOD'10 for the MapReduce formulation).

    Why complete:
    - *prefix*: J(A,B) >= t implies |A∩B| >= t*max(|A|,|B|). Sort
      every doc's tokens by ONE global total order (ascending
      document frequency, ties by token) and keep the first
      ``p = n - ceil(t*n) + 1`` — were the prefixes disjoint, A
      could match at most ``n_a - p_a < t*n_a <= |A∩B|`` of its
      tokens outside its prefix: contradiction.
    - *size*: J >= t forces ``t*n_a <= n_b <= n_a/t``.
    - *positional*: a match at prefix positions (i, j) bounds the
      total overlap by ``1 + min(n_a-i-1, n_b-j-1)``, which must
      reach ``ceil(t/(1+t) * (n_a+n_b))`` (the overlap J >= t
      requires).

    Why it scales: the join key set is each doc's *rarest* tokens —
    a stop-word-like shingle shared by half the corpus is exactly
    what the frequency-ascending prefix never indexes, so the
    quadratic frequent-shingle bucket disappears. The frequency
    table is a uniform aggregate (broadcast); every join is an
    equi-join. Measured at sf0.1: 12.5M doc pairs -> 1.13M
    co-occurring -> 125k candidates.
    """
    return _candidates_from_docsets(_hashed_docsets(sh, threshold), threshold)


def _candidates_from_docsets(docsets: DataFrame, threshold: float) -> DataFrame:
    pre = docsets.select(
        "doc_id", "n", F.posexplode("pre").alias("pos", "h")
    )
    a, b = pre.alias("a"), pre.alias("b")
    na, nb = F.col("a.n"), F.col("b.n")
    alpha = F.ceil(F.lit(threshold / (1.0 + threshold)) * (na + nb))
    ubound = 1 + F.least(
        na - F.col("a.pos") - 1, nb - F.col("b.pos") - 1
    )
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (nb >= F.ceil(F.lit(threshold) * na))
            & (nb <= F.floor(na / F.lit(threshold)))
            & (ubound >= alpha),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, prefix-filtered: complete
    candidate generation (``ngram_jaccard_candidates``), then exact
    verification on candidates only — per-doc sorted token arrays
    intersected with ``array_intersect`` (JVM), one double division.
    Output (doc_a, doc_b, jaccard) is identical to the all-pairs
    formulation (``ngram_jaccard_pairs_allpairs``,
    differential-tested) without its frequent-shingle quadratic
    bucket."""
    sh = shingles(docs)
    # Catalyst does not ReuseExchange across the three aliased
    # consumers of the docsets subtree (candidates + both verify
    # sides), so it computes ~4x. Measured: an eager localCheckpoint
    # here is SLOWER locally (3.8 s vs 2.1 s at sf0.1 — the copies
    # run as concurrent stages on idle cores, while the checkpoint
    # serializes the pipeline); on a saturated cluster, checkpoint or
    # cache this subtree instead.
    docsets = _hashed_docsets(sh, threshold)
    cand = _candidates_from_docsets(docsets, threshold)
    a = docsets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sset").alias("__sa"),
        F.col("n").alias("__na"),
    )
    b = docsets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sset").alias("__sb"),
        F.col("n").alias("__nb"),
    )
    common = F.size(F.array_intersect("__sa", "__sb")).cast("long")
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("__common", common)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("__common")
                / (F.col("__na") + F.col("__nb") - F.col("__common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_allpairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """All-pairs shingle self-join formulation (the oracle-anchoring
    baseline ``ngram_jaccard_pairs`` is differential-tested against;
    a single corpus-frequent shingle makes a quadratic bucket here)."""
    sh = shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("common")
                / (F.col("na") + F.col("nb") - F.col("common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------- decontamination

def _kgram_expr(k: int) -> str:
    """Spark SQL expr for word k-grams over a tokenized column ``w``
    (same normalization as ``shingles``); empty-safe."""
    terms = ", ".join(f"element_at(w, i+{j})" for j in range(k))
    return (
        f"CASE WHEN size(w) >= {k} THEN "
        f"transform(sequence(1, size(w)-{k - 1}), "
        f"i -> concat_ws(' ', {terms})) ELSE array() END"
    )


def kgrams(docs: DataFrame, k: int) -> DataFrame:
    """Distinct word k-grams per doc: (doc_id, sh) — the ``shingles``
    tokenizer (lowercase, [^a-z]+ splits) generalized to width k."""
    return (
        docs.select(
            "doc_id",
            F.expr(
                "filter(split(lower(text), '[^a-z]+'), x -> x <> '')"
            ).alias("w"),
        )
        .select("doc_id", F.explode(F.expr(_kgram_expr(k))).alias("sh"))
        .distinct()
    )


def benchmark_decontaminate(
    docs: DataFrame, k: int = 5, bench_pct: int = 5
) -> DataFrame:
    """Benchmark decontamination — the training-pipeline step that
    finds training documents sharing any word k-gram with an eval/
    benchmark document (the published GPT-3 / PaLM / Llama data
    recipes all run a variant of exact long-n-gram matching; public
    methodology, original implementation).

    The benchmark set is carved deterministically from the corpus
    (md5('bench:'||doc_id) % 100 < bench_pct — same reproducible
    hash-split primitive as ``train_val_split``); the remainder is
    the training side. Returns one row per CONTAMINATED training doc:
    (doc_id, n_bench_docs, n_shared) = how many distinct benchmark
    docs it collides with and how many distinct shared k-grams.

    Scale shape: benchmark suites are tiny relative to a 100 TB
    corpus, so the benchmark k-gram table is broadcast — the match is
    a map-side hash join against the streaming train-side k-gram
    scan, NO shuffle of the corpus; the only shuffle is the final
    per-doc aggregate, keyed uniformly by doc_id. With word k-grams
    at k>=5 the per-gram fan-out is near-1 (long n-grams are rare),
    so the join output is ~|true contamination|, not quadratic.
    """
    bucket = F.expr(
        "cast(conv(substring(md5(concat('bench:', cast(doc_id as string))),"
        " 1, 8), 16, 10) as bigint) % 100"
    )
    tagged = docs.withColumn("__bench", bucket < bench_pct)
    bench = tagged.where(F.col("__bench"))
    train = tagged.where(~F.col("__bench"))
    bsh = kgrams(bench, k).select(
        F.col("doc_id").alias("bench_doc"), "sh"
    )
    tsh = kgrams(train, k)
    return (
        tsh.join(F.broadcast(bsh), "sh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("bench_doc").alias("n_bench_docs"),
            F.countDistinct("sh").alias("n_shared"),
        )
    )


# -------------------------------------------------------------- minhash

N_HASHES = 16
BAND_ROWS = 4  # 4 bands x 4 rows

#: One md5 per shingle; the K seeded hashes are linear universal
#: hashes of its 40-bit prefix (h_i = (A_i*base + B_i) mod 2^40 —
#: products stay < 2^61, overflow-safe in both engines). 16x fewer
#: md5 evaluations than hashing (seed, shingle) pairs.
_MINHASH_MOD = 1 << 40


def minhash_base_expr(dialect: str) -> str:
    if dialect == "spark":
        return "cast(conv(substring(md5(sh), 1, 10), 16, 10) as bigint)"
    return "('0x' || substr(md5(sh), 1, 10))::BIGINT"


def minhash_coeffs(i: int) -> tuple[int, int]:
    return 976369 + 2 * i, 13 + 97 * i


def minhash_wide(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """Wide MinHash signatures: (doc_id, h0..h{K-1}).

    Plan: one wide aggregate — all ``n_hashes`` mins computed in a
    single groupBy(doc_id) pass with map-side partial aggregation, so
    the shuffle carries ``n_hashes`` values per (partition, doc)
    instead of ``n_hashes x n_shingles`` exploded rows. This is the
    form that survives 100 TB of shingles, and the form every
    downstream consumer (banding, overlap estimation) wants: one row
    per doc, no 16x unpivot in any join.
    """
    sh = shingles(docs, distinct=False).withColumn(
        "base", F.expr(minhash_base_expr("spark"))
    )
    return sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.expr(
                    "({a} * base + {b}) % {m}".format(
                        a=minhash_coeffs(i)[0], b=minhash_coeffs(i)[1], m=_MINHASH_MOD
                    )
                )
            ).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    )


def minhash_signatures(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """MinHash signatures, long view: (doc_id, seed, minhash) — min
    over the doc's shingle set of a seeded 60-bit md5-derived hash;
    a zero-shuffle ``stack`` over ``minhash_wide``."""
    stack_args = ", ".join(f"{i}, h{i}" for i in range(n_hashes))
    return minhash_wide(docs, n_hashes).select(
        "doc_id",
        F.expr(f"stack({n_hashes}, {stack_args}) as (seed, minhash)"),
    ).select("doc_id", F.col("seed").cast("long").alias("seed"), "minhash")


def _band_keys_wide(wide: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, band, band_key) from the wide signature form: each
    band key is the comma-joined run of its ``BAND_ROWS`` signature
    columns in seed order — a zero-shuffle ``stack`` projection
    (vs. the long-form group-by, which re-shuffles 16x rows)."""
    n_bands = n_hashes // BAND_ROWS
    args = ", ".join(
        "{b}, concat_ws(',', {cols})".format(
            b=b,
            cols=", ".join(
                f"h{i}" for i in range(b * BAND_ROWS, (b + 1) * BAND_ROWS)
            ),
        )
        for b in range(n_bands)
    )
    return wide.select(
        "doc_id", F.expr(f"stack({n_bands}, {args}) as (band, band_key)")
    )


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """MinHash+LSH near-dup pairs: band-bucket candidate join, then
    signature-overlap estimate. Output (doc_a, doc_b, est_jaccard).

    Candidates are pairs agreeing on >= 1 of 4 bands (prob of catching
    a pair with true jaccard j is 1-(1-j^4)^4 — >0.96 at j=0.8).

    Everything downstream of the signature aggregate stays in the
    wide one-row-per-doc form: band keys are a stack projection, and
    the overlap estimate joins the candidate list back to the wide
    table once per side (one row per doc) and counts equal columns in
    a single expression — no 16x long-form join fan-out. The wide
    table feeds three consumers; ``localCheckpoint`` materializes it
    once (on a cluster: ``persist(MEMORY_AND_DISK)`` / staging table).
    """
    wide = minhash_wide(docs).localCheckpoint()
    bands = _band_keys_wide(wide)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    wa = wide.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    wb = wide.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    matches = " + ".join(
        f"(CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END)" for i in range(N_HASHES)
    )
    est = (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(f"CAST(({matches}) AS DOUBLE) / {N_HASHES}").alias(
                "est_jaccard"
            ),
        )
    )
    return est.where(F.col("est_jaccard") >= threshold)


# -------------------------------------------------------------- simhash

SIMHASH_BITS = 32
SIM_BANDS = 4  # 4 bands x 8 bits; exact-complete for hamming <= 3


def simhash_bit_exprs(dialect: str) -> tuple[str, str]:
    """(token-hash expr, signature expr template) for each dialect.

    The signature is sum_j 2^j * [sum_tokens(cnt * (2*bit_j(h)-1)) > 0]
    over 32 bits of an md5-derived token hash.
    """
    if dialect == "spark":
        h = "cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint)"
        bit = "(shiftright(h, {j}) & 1)"
    else:
        h = "('0x' || substr(md5(tok), 1, 8))::BIGINT"
        bit = "((h >> {j}) & 1)"
    terms = []
    for j in range(SIMHASH_BITS):
        b = bit.format(j=j)
        terms.append(
            f"(CASE WHEN SUM(cnt * (2 * {b} - 1)) > 0 THEN CAST({2**j} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END)"
        )
    return h, " + ".join(terms)


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-bit weighted SimHash over word tokens."""
    h_expr, sig_expr = simhash_bit_exprs("spark")
    toks = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')")
            ).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", F.expr(h_expr))
    )
    return toks.groupBy("doc_id").agg(F.expr(f"{sig_expr}").alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming via
    pigeonhole banding (no cross join): distance <= 3 over 4 bands
    implies >= 1 band equal. Output (doc_a, doc_b, hamming).

    The signature table is localCheckpointed (r11 optimization,
    guide §2.4/§5): the banded candidate join references it on BOTH
    sides (probe + broadcast build), and Catalyst cannot reuse a
    shuffle exchange as a broadcast exchange, so the lazy form ran
    the whole fact pipeline (corpus scan → token explode → two
    exchanges) twice per action — exactly the doubled-subtree shape
    the r10 pca fix removed. sigs is one (doc_id, simhash) row per
    doc (two longs), so the checkpoint materializes ~16 B/doc while
    dropping a full corpus scan + tokenize + 2 exchanges from the
    plan; on a cluster this is persist(MEMORY_AND_DISK)/a staging
    table (the minhash_lsh_pairs `wide` precedent). Interleaved
    same-host A/B at sf0.1 (result equality asserted first): the
    checkpointed form wins all 4 adjacent pairs standalone (min
    1.49 vs 1.50 s — fixture-scale tie, the copies previously ran as
    concurrent stages) and all 4 composed into
    dedup_detector_agreement (min 2.52 vs 3.03 s, −17% — under a
    busier plan the concurrency no longer hides the recompute)."""
    sigs = simhash_signatures(docs).localCheckpoint()
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(F.expr(f"sequence(0, {SIM_BANDS - 1})")).alias("band"),
    ).withColumn("band_val", F.expr("shiftright(simhash, band * 8) & 255"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("cast(bit_count(sig_a ^ sig_b) as bigint)"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ------------------------------------------------------------ clusters

def _star_round(edges: DataFrame, large: bool, dedupe: bool = True) -> DataFrame:
    """One large-star (connect strictly-larger neighbors to the
    neighborhood min) or small-star (connect smaller-or-self
    neighbors to the neighborhood min) round over an undirected edge
    list (src, dst).

    ``dedupe=False`` skips the trailing ``distinct()`` — duplicate
    edges change neither the neighborhood min nor the join results of
    the NEXT star pass (they only inflate the intermediate ≤2×), so
    the large-star half of each round can skip its dedupe shuffle and
    let the small-star's trailing distinct restore uniqueness (which
    the fixpoint probe's multi-parent count requires)."""
    nbrs = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = nbrs.groupBy("src").agg(F.min("dst").alias("__mn"))
    star = nbrs.join(mins, "src").withColumn(
        "__m", F.least("__mn", F.col("src"))
    )
    if large:
        out = star.where(F.col("dst") > F.col("src")).select(
            F.col("dst").alias("src"), F.col("__m").alias("dst")
        )
    else:
        out = star.where(F.col("dst") < F.col("src")).select(
            F.col("dst").alias("src"), F.col("__m").alias("dst")
        ).union(star.select("src", F.col("__m").alias("dst")))
    out = out.where(F.col("src") != F.col("dst"))
    return out.distinct() if dedupe else out


def connected_components(
    edges: DataFrame, nodes: DataFrame, max_iter: int = 25
) -> tuple[DataFrame, int]:
    """Connected components via ALTERNATING LARGE-STAR / SMALL-STAR
    (Kiveris et al., 'Connected Components in MapReduce and Beyond',
    SoCC'14 — public algorithm; original DataFrame composition):
    returns (labels, rounds) where labels = (doc_id, cluster_id) and
    cluster_id is the component's minimum node id.

    Each round is two groupBy+join passes that monotonically flatten
    the graph toward a star forest rooted at component minima —
    O(log n) rounds instead of the O(diameter) of min-label
    propagation, and the per-round state is the (shrinking) edge
    list, not an all-nodes label table.

    Convergence detection is a structural fixpoint probe on the
    just-materialized edge list (see inline comment) — one emptiness
    probe per round, no all-nodes label-equality join and no
    confirmation round that recomputes both stars to observe zero
    change.

    Measured note (r4, on the r3 verdict's +29%-vs-r1 question): at
    sf0.1 the LSH pair graph is 282 edges and converges in ONE round,
    so the query is job-scheduling bound, not shuffle bound. Merging
    the two fixpoint probes into one job cut 2.79 s → ~2.5 s; the
    residual ~0.3 s vs r1's label-prop (2.16 s) is the star rounds'
    higher fixed job count (checkpoint + probe + 2 star passes vs
    label-prop's single join+agg per round), NOT data volume — and it
    buys O(log n) rounds vs O(diameter) plus edge-list (not
    all-nodes) state, which is the trade that matters at 100 TB. The
    label-prop form stays available as ``dedup_clusters_labelprop``
    for exactly this toy-scale regime.
    """
    edges = (
        edges.where(F.col("src") != F.col("dst")).distinct().localCheckpoint()
    )
    n_edges = edges.count()
    rounds = 0
    # Scope shuffle parallelism to the measured edge count for the
    # loop (restored after): each round is several tiny shuffles, and
    # running them at the session default (200 in the driver's vanilla
    # session) pays hundreds of empty tasks per round. ~50k edges per
    # partition; a 100 TB edge list gets its thousands of partitions
    # back from the same formula.
    spark = edges.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with scoped_conf(
        spark, "spark.sql.shuffle.partitions",
        str(min(parts, n_edges // 50_000 + 4)),
    ):
        for _ in range(max_iter):
            rounds += 1
            edges = _star_round(
                _star_round(edges, large=True, dedupe=False), large=False
            ).localCheckpoint()
            # Fixpoint probe instead of a confirmation round: emitted
            # edges always satisfy dst < src (dst is a neighborhood
            # min), and under that invariant the edge list is a
            # min-rooted star forest — the algorithm's fixpoint — iff
            # no node appears as both dst and src (no chains) and no
            # src repeats (no node with two parents). Both conditions
            # union into ONE emptiness probe (one Spark job per round,
            # not two — at small edge counts the loop is job-scheduling
            # bound, and this halved the r3→r1 regression).
            chains = (
                edges.alias("a")
                .join(edges.alias("b"), F.col("a.dst") == F.col("b.src"))
                .select(F.lit(1).alias("v"))
            )
            multi_parent = (
                edges.groupBy("src")
                .agg(F.count(F.lit(1)).alias("c"))
                .where("c > 1")
                .select(F.lit(1).alias("v"))
            )
            if chains.unionAll(multi_parent).isEmpty():
                break
    # star forest: every non-root points at its component's min
    labels = (
        nodes.join(edges, nodes["doc_id"] == edges["src"], "left")
        .select("doc_id", F.coalesce("dst", "doc_id").alias("cluster_id"))
    )
    return labels, rounds


def dedup_clusters(
    docs: DataFrame, threshold: float = 0.5, max_iter: int = 25
) -> DataFrame:
    """Duplicate clusters: connected components over the MinHash-LSH
    near-dup pair graph; every doc labeled with the minimum doc_id
    reachable from it (singletons label themselves). CC runs the
    alternating-star algorithm (``connected_components``); the
    min-label-propagation formulation survives as
    ``dedup_clusters_labelprop`` for the differential test."""
    pairs = minhash_lsh_pairs(docs, threshold).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels, _ = connected_components(
        pairs, docs.select("doc_id"), max_iter=max_iter
    )
    return labels


def dedup_clusters_labelprop(
    docs: DataFrame, threshold: float = 0.5, max_iter: int = 25
) -> tuple[DataFrame, int]:
    """Min-label propagation CC baseline (O(component diameter)
    rounds, all-nodes label state, per-round label-equality join) —
    kept as the differential baseline the alternating-star
    implementation is tested against. Returns (labels, rounds)."""
    pairs = minhash_lsh_pairs(docs, threshold).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = edges.localCheckpoint()

    labels = docs.select(
        F.col("doc_id"), F.col("doc_id").alias("cluster_id")
    ).localCheckpoint()

    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        neighbor_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    "cluster_id", F.coalesce("nbr_min", "cluster_id")
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels, rounds
