"""Operator-level unit tests: dedup recall, ANN recall, multimodal
plumbing, UDF surface, range splitting."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


def test_split_range_matches_reference_semantics():
    """H2 (AssignData, replication/replication.go:100-150): <= n
    contiguous sub-ranges covering [start, end], remainder spread."""
    from distributed_mapreduce_p2p_spark.operators.relational import split_range

    assert split_range(1, 10, 3) == [(1, 4), (5, 7), (8, 10)]
    assert split_range(1, 2, 6) == [(1, 1), (2, 2)]
    assert split_range(5, 4, 3) == []
    covered = [i for s, e in split_range(1, 100, 7) for i in range(s, e + 1)]
    assert covered == list(range(1, 101))


def test_minhash_lsh_recall_vs_exact(spark):
    """LSH candidates must recover the high-jaccard pairs the exact
    O(n^2) baseline finds (reference-style differential check)."""
    from distributed_mapreduce_p2p_spark.operators import dedup as DD
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    docs = read_table(spark, SF_SMALL, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in DD.ngram_jaccard_pairs(docs, 0.7).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in DD.minhash_lsh_pairs(docs, 0.5).collect()
    }
    assert exact, "fixture should contain planted near-dup pairs"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"LSH recall too low: {recall} ({exact - lsh})"


def test_simhash_finds_planted_neardups(spark):
    from distributed_mapreduce_p2p_spark.operators import dedup as DD
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    docs = read_table(spark, SF_SMALL, "documents")
    pairs = DD.simhash_pairs(docs, 3).collect()
    exact = {
        (r.doc_a, r.doc_b)
        for r in DD.ngram_jaccard_pairs(docs, 0.9).collect()
    }
    found = {(r.doc_a, r.doc_b) for r in pairs}
    # hamming<=3 over 32-bit simhash should catch the near-identical pairs
    assert exact & found == exact or len(exact - found) <= max(1, len(exact) // 5)


def test_ann_lsh_recall_vs_brute_force(spark):
    """Bucketed ANN must place the true top-1 neighbor (self) and
    recover a reasonable share of brute-force top-5."""
    from distributed_mapreduce_p2p_spark.operators import similarity as SIM
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    emb = read_table(spark, SF_SMALL, "embeddings")
    brute = SIM.cosine_topk(emb, 8, 5).collect()
    ann = SIM.ann_lsh_topk(emb, 8, 5).collect()
    # self-match must rank first in both
    for rows in (brute, ann):
        firsts = {r.qid: r.cid for r in rows if r.rank == 1}
        assert all(q == c for q, c in firsts.items())
    brute_set = {(r.qid, r.cid) for r in brute}
    ann_set = {(r.qid, r.cid) for r in ann}
    # approximate: all ANN results must be real vectors; overlap>0
    assert ann_set & brute_set


def test_multimodal_decode_plumbing(spark):
    from distributed_mapreduce_p2p_spark.operators import multimodal as MM
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    docs = read_table(spark, SF_SMALL, "documents")
    assets = MM.assets_from_documents(docs)
    decoded = MM.decode_assets(assets)
    assert decoded.schema == MM.DECODED_SCHEMA
    n = assets.count()
    assert decoded.count() == n
    resized = MM.resize_stub(decoded, 128)
    bad = resized.where("out_width > 128 OR out_height > 128").count()
    assert bad == 0
    frames = MM.frame_sample(decoded, 5)
    assert frames.where("frame_idx % 5 != 0").count() == 0

    # decode_real is a REAL parser now: junk bytes must be rejected,
    # not silently faked
    with pytest.raises(Exception):
        MM.decode_real(b"bytes", "image")


def test_udf_surface_matches_builtin(spark):
    """U1+U2 path must agree with the declarative word count — and
    the app registry (U3) resolves both."""
    from distributed_mapreduce_p2p_spark.functions import udfs as U
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    docs = read_table(spark, SF_SMALL, "documents")
    builtin = {(r.word, r.cnt) for r in U.get_app("wordcount")(docs).collect()}
    udf = {(r.word, r.cnt) for r in U.get_app("wordcount_udf")(docs).collect()}
    assert builtin == udf
    assert "wordcount" in U.list_apps()


def test_membership_merge_semantics(spark):
    """J2: higher counter wins; one-sided keys survive (gossip
    MergeLeft, gossip/gossip.go:87-108)."""
    from distributed_mapreduce_p2p_spark.operators.relational import membership_merge

    left = spark.createDataFrame(
        [(1, 5.0), (2, 9.0)], ["node_id", "hb"]
    )
    right = spark.createDataFrame(
        [(2, 3.0), (3, 7.0)], ["node_id", "hb"]
    )
    out = {
        r.node_id: r.hb
        for r in membership_merge(left, right, "node_id", "hb").collect()
    }
    assert out == {1: 5.0, 2: 9.0, 3: 7.0}


def test_fm_sketch_accuracy(spark):
    """The FM estimate must land within a small factor of the exact
    distinct count. Uses sf0.1 (1500 users): classic FM without
    corrections over-estimates when n/buckets < ~5, which the smaller
    fixtures hit (15 and 150 users over 64 buckets)."""
    from distributed_mapreduce_p2p_spark import registry
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    sf = "/root/testdata/sf0.1"
    est = registry.QUERIES["fm_sketch_distinct"](spark, sf).collect()[0]
    exact = (
        read_table(spark, sf, "events").select("user_id").distinct().count()
    )
    assert 0.5 * exact <= est.est_distinct <= 2 * exact, (est.est_distinct, exact)


def test_asof_merge_matches_window_variant(spark):
    """The mapInPandas merge_asof path must agree with the window
    formulation (scale path vs baseline differential)."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_p2p_spark.operators.relational import asof_join_merge
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    ev = read_table(spark, SF_SMALL, "events").select("event_id", "user_id", "ts")
    o = read_table(spark, SF_SMALL, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    merged = asof_join_merge(
        ev, o, "user_id", "o_custkey", "ts", "o_orderdate", "o_orderkey"
    )
    # window-formulation baseline (same tie-break: latest date, then
    # highest key — merge_asof takes the LAST row among equal rt, so
    # sort right by (rt, rv) ascending gives the max rv per rt)
    joined = ev.join(
        o, (F.col("o_custkey") == F.col("user_id")) & (F.col("o_orderdate") <= F.col("ts"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_id").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    base = (
        joined.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("event_id", F.col("o_orderkey").alias("asof_val"))
    )
    got = {(r.event_id, r.asof_val) for r in merged.where("asof_val is not null").collect()}
    want = {(r.event_id, r.asof_val) for r in base.collect()}
    assert got == want
    # left rows with no match survive with null
    n_left = ev.count()
    assert merged.count() == n_left


def test_real_codecs_roundtrip_and_known_fixture():
    """Stdlib codecs: encode->decode round-trips, plus a hand-built
    1x1 BMP fixture parsed to known geometry (no Spark needed)."""
    import struct

    from distributed_mapreduce_p2p_spark.operators.multimodal import (
        decode_bmp,
        decode_real,
        decode_vseq,
        decode_wav,
        encode_bmp,
        encode_vseq,
        encode_wav,
    )

    assert decode_bmp(encode_bmp(7, 5, seed=42)) == (7, 5)
    assert decode_wav(encode_wav(11000, 2, 321, seed=9)) == (11000, 2, 321)
    assert decode_vseq(encode_vseq(6, 4, 3, seed=1)) == (6, 4, 3)

    # hand-built 1x1 24bpp BMP (bottom-up, one padded row)
    bmp = (
        b"BM" + struct.pack("<IHHI", 14 + 40 + 4, 0, 0, 54)
        + struct.pack("<IiiHH", 40, 1, 1, 1, 24)
        + struct.pack("<IIiiII", 0, 4, 2835, 2835, 0, 0)
        + b"\x00\x00\xff\x00"
    )
    assert decode_real(bmp, "image") == (1, 1, 1)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_bmp(b"XX" + bytes(60))


def test_real_decode_matches_generation_params(spark):
    """decode_real over executor-generated real payloads must parse
    back exactly the media_params each asset was encoded with."""
    from distributed_mapreduce_p2p_spark.operators.multimodal import (
        decode_assets,
        media_params,
        real_assets,
    )
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    ids = read_table(spark, SF_SMALL, "documents").select("doc_id").limit(90)
    decoded = decode_assets(real_assets(ids), use_real_codec=True)
    for r in decoded.collect():
        mod, p = media_params(r.asset_id)
        assert r.modality == mod
        if mod == "image":
            assert (r.width, r.height, r.n_frames) == (p[0], p[1], 1)
        else:
            assert (r.width, r.height, r.n_frames) == p


def test_alternating_star_cc_matches_labelprop_in_fewer_rounds(spark):
    """connected_components (large-star/small-star) must produce the
    exact labels of min-label propagation on the planted near-dup
    graph, in no more rounds."""
    from distributed_mapreduce_p2p_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_labelprop,
        minhash_lsh_pairs,
        connected_components,
    )
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from pyspark.sql import functions as F

    docs = read_table(spark, SF_SMALL, "documents")
    star = {(r.doc_id, r.cluster_id) for r in dedup_clusters(docs).collect()}
    lp_labels, lp_rounds = dedup_clusters_labelprop(docs)
    lp = {(r.doc_id, r.cluster_id) for r in lp_labels.collect()}
    assert star == lp
    assert any(d != c for d, c in star), "planted dups must cluster"

    pairs = minhash_lsh_pairs(docs, 0.5).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    _, star_rounds = connected_components(pairs, docs.select("doc_id"))
    assert star_rounds <= lp_rounds, (star_rounds, lp_rounds)


def test_ngram_prefix_filter_is_complete_and_prunes(spark):
    """Prefix-filtered exact Jaccard must equal the all-pairs
    formulation pair-for-pair AND generate strictly fewer candidate
    pairs than the raw shared-shingle join."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_p2p_spark.operators.dedup import (
        ngram_jaccard_candidates,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_allpairs,
        shingles,
    )
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    docs = read_table(spark, SF_SMALL, "documents")
    fast = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in ngram_jaccard_pairs(docs, 0.5).collect()
    }
    slow = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in ngram_jaccard_pairs_allpairs(docs, 0.5).collect()
    }
    assert fast == slow and len(fast) > 0

    sh = shingles(docs)
    n_cand = ngram_jaccard_candidates(sh, 0.5).count()
    a, b = sh.alias("a"), sh.alias("b")
    n_raw = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    assert n_cand < n_raw, (n_cand, n_raw)


def _quadratic_ed_pairs(spark, k=2):
    """Blocked quadratic baseline pair set at SF_SMALL."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_p2p_spark.sources.io import read_table

    c = read_table(spark, SF_SMALL, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    a, b = c.alias("a"), c.alias("b")
    d = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
    rows = (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey"))
            & (d <= k),
        )
        .select(
            F.col("a.c_nationkey").alias("n"),
            F.col("a.c_custkey").alias("ka"),
            F.col("b.c_custkey").alias("kb"),
            d.alias("dist"),
        )
        .collect()
    )
    return {(r.n, r.ka, r.kb, r.dist) for r in rows}, c


def test_qgram_prefix_edjoin_is_complete_and_exact(spark):
    """edit_distance_pairs (q-gram prefix filter) must emit EXACTLY
    the blocked quadratic join's pair set — the filter is complete
    (Gravano count bound + prefix pigeonhole), the banded verify
    exact."""
    from distributed_mapreduce_p2p_spark.operators.edjoin import (
        edit_distance_pairs,
    )

    want, c = _quadratic_ed_pairs(spark)
    fast = edit_distance_pairs(c, "c_custkey", "c_name", ["c_nationkey"], k=2)
    got = {(r.c_nationkey, r.key_a, r.key_b, r.dist) for r in fast.collect()}
    assert got == want and len(got) > 0


def test_passjoin_edjoin_is_complete_and_exact(spark):
    """edit_distance_pairs_passjoin (segment pigeonhole) must emit
    EXACTLY the blocked quadratic join's pair set."""
    from distributed_mapreduce_p2p_spark.operators.edjoin import (
        edit_distance_pairs_passjoin,
    )

    want, c = _quadratic_ed_pairs(spark)
    fast = edit_distance_pairs_passjoin(
        c, "c_custkey", "c_name", ["c_nationkey"], k=2
    )
    got = {(r.c_nationkey, r.key_a, r.key_b, r.dist) for r in fast.collect()}
    assert got == want and len(got) > 0


def test_asof_window_preserves_duplicate_left_rows(spark):
    """asof_join_window must emit one row per INPUT left row — fully
    identical left rows may not collapse (the keep-latest window
    partitions on a surrogate row id, not on the left values)."""
    from distributed_mapreduce_p2p_spark.operators.relational import (
        asof_join_window,
    )

    left = spark.createDataFrame(
        [(1, 10), (1, 10), (2, 5)], "k long, lt long"  # duplicated row
    )
    right = spark.createDataFrame(
        [(1, 8, 100), (1, 9, 200), (2, 99, 300)], "rk long, rt long, rv long"
    )
    out = asof_join_window(left, right, "k", "rk", "lt", "rt", "rv")
    rows = sorted((r.k, r.lt, r.rv) for r in out.collect())
    # both duplicates of (1, 10) survive, each matched to rt=9 -> 200;
    # (2, 5) has no right row at-or-before -> null value
    assert rows == [(1, 10, 200), (1, 10, 200), (2, 5, None)]


def test_salted_join_matches_plain_join(spark):
    from distributed_mapreduce_p2p_spark.operators.partitioning import salted_join
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    li = read_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    ).withColumnRenamed("l_orderkey", "k")
    o = read_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderpriority"
    ).withColumnRenamed("o_orderkey", "k")
    salted = salted_join(li, o, "k", 8)
    plain = li.join(o, "k")
    assert salted.count() == plain.count()
    a = {tuple(r) for r in salted.collect()}
    b = {tuple(r) for r in plain.collect()}
    assert a == b


def test_ann_ivf_recall_vs_brute_force(spark):
    """IVF must self-match at rank 1 (a query's own cell is always
    probed) and overlap substantially with brute-force top-5."""
    from distributed_mapreduce_p2p_spark.operators import similarity as SIM
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    emb = read_table(spark, SF_SMALL, "embeddings")
    brute = SIM.cosine_topk(emb, 8, 5).collect()
    ivf = SIM.ivf_topk(emb, 8, 5).collect()
    firsts = {r.qid: (r.cid, r.sim) for r in ivf if r.rank == 1}
    assert all(q == c for q, (c, _) in firsts.items())
    assert all(abs(s - 1.0) < 1e-12 for (_, s) in firsts.values())
    brute_set = {(r.qid, r.cid) for r in brute}
    ivf_set = {(r.qid, r.cid) for r in ivf}
    assert len(ivf_set & brute_set) >= len(brute_set) // 4


def test_blocked_neardup_equals_broadcast_variant(spark):
    """The block-partitioned matmul must emit exactly the broadcast
    variant's pairs and bit-identical sims."""
    from distributed_mapreduce_p2p_spark.operators import similarity as SIM
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    emb = read_table(spark, SF_SMALL, "embeddings")
    base = {(r.vec_a, r.vec_b, r.sim) for r in SIM.neardup_pairs(emb).collect()}
    blocked = {
        (r.vec_a, r.vec_b, r.sim)
        for r in SIM.neardup_pairs_blocked(emb).collect()
    }
    assert base and blocked == base


def test_observe_metrics_on_curation_scan(spark):
    """df.observe() — in-flight data-quality metrics collected DURING
    the query (no second scan): row count, null-text count, and short
    -doc count accumulate on the same pass that computes the result.
    The production pattern for 100 TB quality dashboards: metrics are
    a byproduct of the scan, never an extra job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    obs = Observation("quality")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias(
            "n_null_text"
        ),
        F.sum(F.when(F.length("text") < 50, 1).otherwise(0)).alias(
            "n_short"
        ),
    )
    kept = observed.where(F.length("text") >= 50).count()
    m = obs.get
    assert m["n_rows"] == docs.count()
    assert m["n_null_text"] == 0
    assert m["n_rows"] - m["n_short"] == kept


def test_generic_profile_counts_nulls_and_distincts(spark):
    """operators/profiling.py::profile over an arbitrary DataFrame
    with nulls — exact and approx variants share schema; exact values
    match hand counts."""
    from distributed_mapreduce_p2p_spark.operators.profiling import profile

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b"), (None, None)],
        "x long, s string",
    )
    got = {r.col: (r.n_nulls, r.n_distinct) for r in profile(df).collect()}
    assert got == {"x": (2, 3), "s": (2, 2)}
    approx = profile(df, approx=True)
    assert approx.columns == ["col", "n_nulls", "n_distinct"]
    ga = {r.col: r.n_nulls for r in approx.collect()}
    assert ga == {"x": 2, "s": 2}


def test_scale_rehearsal_merge_preserves_appended_sections():
    """Regression for the r6 round-close clobber: regenerating the
    rehearsal base report must carry over every appended `## ` section
    (skew rehearsals, targeted close waves) verbatim."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from scale_rehearsal import merge_preserving

    base = "# SCALE REHEARSAL\n\n| q | t |\n|---|---|\n| a | 1 |\n"
    existing = (
        "# SCALE REHEARSAL (old)\n\nold table\n\n"
        "## Zipf skew rehearsal\n\nzipf numbers\n\n"
        "## Hub-user skew rehearsal\n\nhub numbers\n"
    )
    merged = merge_preserving(base, existing)
    assert merged.startswith("# SCALE REHEARSAL\n")
    assert "old table" not in merged
    assert "## Zipf skew rehearsal" in merged
    assert "zipf numbers" in merged
    assert "## Hub-user skew rehearsal" in merged
    assert "hub numbers" in merged
    # no existing sections -> base unchanged
    assert merge_preserving(base, "# old\nnothing else\n") == base
    assert merge_preserving(base, "") == base


def test_audit_whitelists_reference_registered_queries_only():
    """Both audit whitelists (BNLJ scalar attaches and 1p-window
    bounded forms) must key REGISTERED query names — a renamed or
    dropped query must not leave a stale whitelist entry that could
    silently re-admit the anti-pattern under a new query of the same
    name's intent."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import audit_plans

    from distributed_mapreduce_p2p_spark import registry

    registered = set(registry.QUERIES)
    stale_bnlj = set(audit_plans.WHITELIST) - registered
    stale_win = set(audit_plans.WINDOW_WHITELIST) - registered
    assert not stale_bnlj, f"stale BNLJ whitelist keys: {stale_bnlj}"
    assert not stale_win, f"stale 1p-window whitelist keys: {stale_win}"


def test_upsert_section_preserves_later_sections():
    """Regression for the second clobber class: a tool re-writing ITS
    marker section must not truncate sections after it (the old
    text[:index(MARKER)] write path deleted them)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from md_sections import upsert_section

    doc = (
        "# base\n\nbase table\n\n"
        "## Alpha\n\nold alpha\n\n"
        "## Beta\n\nbeta stays\n\n"
        "## Gamma\n\ngamma stays\n"
    )
    new = "## Alpha\n\nNEW alpha"
    out = upsert_section(doc, "## Alpha", new)
    assert "NEW alpha" in out and "old alpha" not in out
    assert "beta stays" in out and "gamma stays" in out
    assert out.index("NEW alpha") < out.index("beta stays")
    # replacing the LAST section keeps everything before it
    out2 = upsert_section(doc, "## Gamma", "## Gamma\n\nNEW gamma")
    assert "NEW gamma" in out2 and "gamma stays" not in out2
    assert "old alpha" in out2 and "beta stays" in out2
    # absent marker appends
    out3 = upsert_section(doc, "## Delta", "## Delta\n\nfresh")
    assert out3.endswith("## Delta\n\nfresh\n")
    assert "gamma stays" in out3
    # section must start with its marker
    import pytest as _pytest

    with _pytest.raises(ValueError):
        upsert_section(doc, "## Alpha", "not the marker")


def test_rehearsal_tool_query_lists_reference_registered_queries():
    """Every query name a rehearsal tool measures must be a
    registered query — a rename/drop must fail here, not silently
    shrink the measured evidence."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import scale_rehearsal
    import skew_rehearsal
    import skew_rehearsal_doclen
    import skew_rehearsal_joins
    import skew_rehearsal_users

    from distributed_mapreduce_p2p_spark import registry

    registered = set(registry.QUERIES)
    for tool in (
        scale_rehearsal,
        skew_rehearsal,
        skew_rehearsal_doclen,
        skew_rehearsal_joins,
        skew_rehearsal_users,
    ):
        stale = set(tool.QUERIES) - registered
        assert not stale, f"{tool.__name__}: unregistered {stale}"


def test_semdedup_cells_sqrt_rule():
    """The r8 nominal rehearsal's finding, enforced: n_cells derives
    as max(IVF_CELLS, isqrt(n)) — linear growth measured quadratic
    in the assignment pass (SCALE_REHEARSAL.md "SemDeDup nominal
    scaling"), sqrt is the prescribed production rule. The fixture
    sizes pin that the rule actually engages at every driver SF
    (500 -> 22, 2000 -> 44), not just in prose."""
    from distributed_mapreduce_p2p_spark.operators.similarity import (
        IVF_CELLS,
        semdedup_cells,
    )

    assert semdedup_cells(0) == IVF_CELLS
    assert semdedup_cells(255) == IVF_CELLS  # isqrt(255)=15 < floor
    assert semdedup_cells(500) == 22   # sf0.001 / sf0.01 embeddings
    assert semdedup_cells(2000) == 44  # sf0.1 embeddings
    assert semdedup_cells(10**12) == 10**6


def test_plan_identity_normalize_and_equivalent():
    """The r9 plan-identity tool's pure functions, pinned: (1)
    normalize strips exprIds / plan ids / codegen stage ids /
    ExistingRDD attr lists / tmp paths but NEVER operator names or
    join strategies; (2) equivalent() accepts a pure gid-permutation
    diff and rejects a join-strategy change, an added exchange, and
    any diff touching a gid-free line."""
    import sys
    from pathlib import Path

    sys.path.insert(
        0, str(Path(__file__).resolve().parent.parent / "tools")
    )
    from plan_identity import equivalent, normalize

    a = (
        "*(2) Project [a#123L]\n"
        "+- BroadcastHashJoin [k#12], [k#45], Inner, BuildRight, false\n"
        "   +- Exchange hashpartitioning(k#12, 8), [plan_id=77]\n"
        "      +- Scan ExistingRDD[a#123L,k#12]\n"
        "         +- FileScan parquet Location: [/tmp/abc_x1/out]"
    )
    b = (
        "*(7) Project [a#9L]\n"
        "+- BroadcastHashJoin [k#1], [k#2], Inner, BuildRight, false\n"
        "   +- Exchange hashpartitioning(k#1, 8), [plan_id=3]\n"
        "      +- Scan ExistingRDD[a#9L,k#1]\n"
        "         +- FileScan parquet Location: [/tmp/abc_z9/out]"
    )
    assert normalize(a) == normalize(b)
    smj = normalize(a).replace("BroadcastHashJoin", "SortMergeJoin")
    assert normalize(a) != smj and not equivalent(normalize(a), smj)

    g1 = (
        "HashAggregate(keys=[k#], functions=[count(x#) FILTER "
        "(WHERE (gid# = 1)), count(y#) FILTER (WHERE (gid# = 2))])\n"
        "+- Expand [[k#, x#, null, 1], [k#, null, y#, 2]], "
        "[k#, x#, y#, gid#]"
    )
    g2 = (
        "HashAggregate(keys=[k#], functions=[count(x#) FILTER "
        "(WHERE (gid# = 2)), count(y#) FILTER (WHERE (gid# = 1))])\n"
        "+- Expand [[k#, x#, null, 2], [k#, null, y#, 1]], "
        "[k#, x#, y#, gid#]"
    )
    assert equivalent(g1, g2)  # pure gid renumbering
    # a gid-free differing line blocks equivalence even when gid
    # lines also differ
    g3 = g2.replace("HashAggregate(keys=[k#]", "HashAggregate(keys=[j#]")
    g3 = g3.replace("gid#]", "gid#]\n+- Exchange rangepartitioning(k#)")
    assert not equivalent(g1, g3)


def test_plan_identity_judge_and_compare_modes(tmp_path):
    """r10 ADVICE pins on the tool's MODE semantics, not just the
    pure functions: (1) judge reports a query present in BEFORE but
    missing from the AFTER snapshots as GONE and exits nonzero —
    a deleted/renamed query can no longer silently escape the
    identity check; (2) compare re-normalizes the snapshot via
    _load and accepts gid-permuted plans via equivalent(), so the
    two modes share one equivalence definition (previously compare
    used raw json + exact equality)."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo / "tools"))
    from plan_identity import _load, equivalent  # noqa: F401

    g1 = (
        "HashAggregate(functions=[count(x#123) FILTER "
        "(WHERE (gid#7 = 1))])"
    )
    g2 = (
        "HashAggregate(functions=[count(x#9) FILTER "
        "(WHERE (gid#2 = 1))])"
    )
    before = tmp_path / "before.json"
    after = tmp_path / "after.json"
    before.write_text(json.dumps({"q_a": g1, "q_b": g1}))
    after.write_text(json.dumps({"q_a": g2}))
    r = subprocess.run(
        [sys.executable, str(repo / "tools" / "plan_identity.py"),
         "judge", str(before), str(after), str(after)],
        capture_output=True, text=True,
    )
    assert r.returncode == 1, r.stdout + r.stderr
    assert "GONE (in before, missing from after): q_b" in r.stdout
    assert "CHANGED" not in r.stdout  # q_a: raw-text differs only in
    # exprIds — _load's re-normalization must make it identical
    # compare-mode equivalence: loader must renormalize raw snapshots
    assert _load(before)["q_a"] == _load(after)["q_a"]


def test_audit_explode_broadcasts_flag_plan():
    """The r10 explode-broadcast audit's classifier, pinned on
    synthetic plan shapes: a BroadcastExchange containing a Generate
    over a fact scan with no bounding aggregate is FLAGGED (the
    token_cooccurrence_lift 100x failure); an Aggregate above the
    explode (vocab/grid shape) passes; a Generate over a literal
    array with no fact scan passes; a plain bounded-dim broadcast
    passes."""
    import sys
    from pathlib import Path

    sys.path.insert(
        0, str(Path(__file__).resolve().parent.parent / "tools")
    )
    from audit_plans import exploded_fact_broadcasts as flag_plan

    bad = (
        "BroadcastExchange HashedRelationBroadcastMode, [plan_id=1]\n"
        "+- Project [doc2#19L, pos2#20, w2r#21]\n"
        "   +- Generate explode([1,2,3]), false, [dd#23]\n"
        "      +- Generate posexplode(ws#29), [1], false, [pos#30]\n"
        "         +- FileScan parquet [doc_id#24L,text#25] Batched: "
        "true, Location: [/x/documents.parquet]"
    )
    assert flag_plan(bad), "exploded fact side must be flagged"
    vocab = bad.replace(
        "+- Project [doc2#19L, pos2#20, w2r#21]",
        "+- HashAggregate(keys=[w#55], functions=[count(1)])",
    )
    assert not flag_plan(vocab), "aggregate above the explode bounds it"
    grid = (
        "BroadcastExchange IdentityBroadcastMode, [plan_id=2]\n"
        "+- Generate explode([50,90,99]), false, [q#17L]\n"
        "   +- Scan OneRowRelation[]"
    )
    assert not flag_plan(grid), "literal grid explode has no fact scan"
    dim = (
        "BroadcastExchange HashedRelationBroadcastMode, [plan_id=3]\n"
        "+- FileScan parquet [n_nationkey#0L] Location: "
        "[/x/nation.parquet]"
    )
    assert not flag_plan(dim), "plain dim broadcast is not this class"
    # Python-eval nodes share the estimate freeze (r10 extension):
    # a broadcast over a mapInPandas output of a fact scan flags too
    py = (
        "BroadcastExchange HashedRelationBroadcastMode, [plan_id=4]\n"
        "+- MapInPandas _candidates(vec_id#0L, embedding#1)\n"
        "   +- FileScan parquet [vec_id#0L,embedding#1] Location: "
        "[/x/embeddings.parquet]"
    )
    assert flag_plan(py), "mapInPandas-fed fact broadcast must flag"


def test_audit_hinted_broadcasts_flag_plan():
    """The hinted-broadcast classifier, pinned on synthetic hint-only
    plans: a hinted fact broadcast with no aggregate or slice is
    FLAGGED (the r8 ivf_recall_curve class); an aggregate above the
    scan, one comparison Filter per fact scan, or a plain dimension
    broadcast all pass."""
    import sys
    from pathlib import Path

    sys.path.insert(
        0, str(Path(__file__).resolve().parent.parent / "tools")
    )
    from audit_plans import hinted_fact_broadcasts as flag_plan

    bad = (
        "BroadcastExchange HashedRelationBroadcastMode, [plan_id=1]\n"
        "+- Project [l_orderkey#1L, l_quantity#2]\n"
        "   +- FileScan parquet [l_orderkey#1L,l_quantity#2] Location: "
        "[/x/lineitem.parquet]"
    )
    assert flag_plan(bad), "unbounded hinted fact broadcast must flag"
    agg = bad.replace(
        "+- Project [l_orderkey#1L, l_quantity#2]",
        "+- HashAggregate(keys=[l_orderkey#1L], functions=[sum(q#2)])",
    )
    assert not flag_plan(agg), "an aggregate above the scan bounds it"
    sliced = bad.replace(
        "+- Project [l_orderkey#1L, l_quantity#2]",
        "+- Filter (isnotnull(l_quantity#2) AND (l_quantity#2 > 45))",
    )
    assert not flag_plan(sliced), "a comparison Filter is a slice"
    # one Filter per fact scan: a join of two fact scans with only one
    # of them sliced still ships the other whole
    two = (
        "BroadcastExchange HashedRelationBroadcastMode, [plan_id=2]\n"
        "+- SortMergeJoin [o_orderkey#3L], [l_orderkey#1L], Inner\n"
        "   :- Filter (o_orderdate#4 < 1995-01-01)\n"
        "   :  +- FileScan parquet [o_orderkey#3L,o_orderdate#4] "
        "Location: [/x/orders.parquet]\n"
        "   +- FileScan parquet [l_orderkey#1L] Location: "
        "[/x/lineitem.parquet]"
    )
    assert flag_plan(two), "one slice for two fact scans must flag"
    both = two.replace(
        "   +- FileScan parquet [l_orderkey#1L]",
        "   +- Filter (l_quantity#2 > 45)\n"
        "      +- FileScan parquet [l_orderkey#1L]",
    )
    assert not flag_plan(both), "every fact scan sliced passes"
    dim = (
        "BroadcastExchange HashedRelationBroadcastMode, [plan_id=3]\n"
        "+- FileScan parquet [n_nationkey#0L] Location: "
        "[/x/nation.parquet]"
    )
    assert not flag_plan(dim), "a dimension broadcast is not this class"


def test_audit_hint_only_replan(spark, tmp_path):
    """The sweep's hint-only re-plan on a real join: a tmp
    lineitem.parquet on the build side of a LEFT join to a tiny table.
    Under the session config the fact side is auto-broadcast; the
    re-plan of the SAME already-planned DataFrame drops that
    broadcast (so it is not flagged) and keeps a `broadcast()`-hinted
    one (flagged); autoBroadcastJoinThreshold is restored."""
    import sys
    from pathlib import Path

    from pyspark.sql.functions import broadcast

    from distributed_mapreduce_p2p_spark.plans.explain import explain_str
    from distributed_mapreduce_p2p_spark.sources.io import scoped_conf

    sys.path.insert(
        0, str(Path(__file__).resolve().parent.parent / "tools")
    )
    from audit_plans import hint_only_plan, hinted_fact_broadcasts

    path = str(tmp_path / "lineitem.parquet")
    spark.range(200).selectExpr(
        "id AS l_orderkey", "id % 5 AS l_nk"
    ).write.parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(i, f"n{i}") for i in range(5)], "n_nk long, n_name string"
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    # the sweep's session plans with metadata truncation off, so the
    # scan's Location keeps the table name at any tmp path length
    with scoped_conf(spark, "spark.sql.maxMetadataStringLength", "100000"):
        plain = dim.join(fact, dim.n_nk == fact.l_nk, "left")
        hinted = dim.join(broadcast(fact), dim.n_nk == fact.l_nk, "left")
        assert hinted_fact_broadcasts(explain_str(plain, "simple")), (
            "precondition: the session config auto-broadcasts the fact"
        )
        assert not hinted_fact_broadcasts(hint_only_plan(spark, plain))
        assert hinted_fact_broadcasts(hint_only_plan(spark, hinted))
    assert spark.conf.get(key) == before


def test_plan_gate_stamp_marks_dirty_tree(tmp_path, monkeypatch):
    """plan_gate stamps its cached snapshot with HEAD and whether the
    tree is dirty (`git status --porcelain` non-empty); refresh reuses
    only a clean stamp at the current HEAD and takes a fresh snapshot
    for a dirty, stamp-less or other-HEAD cache. `_fresh_snapshot` is
    stubbed, so no Spark runs."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    sys.path.insert(
        0, str(Path(__file__).resolve().parent.parent / "tools")
    )
    import plan_gate
    import plan_identity

    def git(*args):
        subprocess.run(
            ["git", "-C", str(tmp_path), "-c", "user.name=t",
             "-c", "user.email=t@t", *args],
            check=True, capture_output=True,
        )

    git("init", "-q")
    (tmp_path / "f").write_text("x")
    git("add", "f")
    git("commit", "-qm", "c")
    monkeypatch.setattr(plan_gate, "REPO", tmp_path)
    monkeypatch.setattr(plan_gate, "SNAPSHOT", tmp_path / "snap.json")
    monkeypatch.setattr(plan_gate, "LAST", tmp_path / "last.json")
    fresh = []

    def fake_snapshot(path):
        fresh.append(path)
        plan_identity.write_snapshot(path, {"q": "fresh"})

    monkeypatch.setattr(plan_gate, "_fresh_snapshot", fake_snapshot)

    clean = plan_gate._stamp()
    assert clean["dirty"] is False and len(clean["head"]) == 40

    def refresh_from(cached):
        fresh.clear()
        plan_gate.LAST.write_text(json.dumps(cached))
        assert plan_gate.refresh() == 0
        assert not plan_gate.LAST.exists()
        return json.loads(plan_gate.SNAPSHOT.read_text()), bool(fresh)

    plans = {"q": "cached"}
    assert refresh_from({**clean, "plans": plans}) == (plans, False)
    for stale in (
        {**clean, "dirty": True, "plans": plans},
        {"head": clean["head"], "plans": plans},  # stamp-less
        {"head": "0" * 40, "dirty": False, "plans": plans},
        plans,  # legacy bare dict
    ):
        assert refresh_from(stale) == ({"q": "fresh"}, True), stale

    # check() on the now-dirty tree (untracked snap.json) stamps it
    # dirty, so the refresh after it snapshots afresh
    assert plan_gate._stamp() == {**clean, "dirty": True}
    plan_identity.write_snapshot(plan_gate.SNAPSHOT, {"q": "fresh"})
    assert plan_gate.check() == 0
    assert json.loads(plan_gate.LAST.read_text())["dirty"] is True
    assert refresh_from(json.loads(plan_gate.LAST.read_text()))[1]


def test_plan_snapshot_paths_write_the_same_bytes(tmp_path, monkeypatch):
    """`plan_identity.py snapshot` and `plan_gate refresh`'s cached
    path serialize through one writer: the same dict gives the same
    bytes, in the committed PLAN_SNAPSHOT.json format (indent=1), so
    refresh never reformats the baseline."""
    import json
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo / "tools"))
    import plan_gate
    import plan_identity

    plans = {"q_b": "Project [a#]\n+- Scan", "q_a": "Filter — é"}
    direct = tmp_path / "direct.json"
    monkeypatch.setattr(plan_identity, "plan_all", lambda names: plans)
    monkeypatch.setattr(
        sys, "argv", ["plan_identity.py", "snapshot", str(direct)]
    )
    plan_identity.main()

    stamp = {"head": "a" * 40, "dirty": False}
    monkeypatch.setattr(plan_gate, "_stamp", lambda: stamp)
    monkeypatch.setattr(plan_gate, "SNAPSHOT", tmp_path / "gate.json")
    monkeypatch.setattr(plan_gate, "LAST", tmp_path / "last.json")
    plan_gate.LAST.write_text(json.dumps({**stamp, "plans": plans}))
    assert plan_gate.refresh() == 0

    assert direct.read_bytes() == plan_gate.SNAPSHOT.read_bytes()
    committed = repo / "PLAN_SNAPSHOT.json"
    rewritten = tmp_path / "committed.json"
    plan_identity.write_snapshot(
        rewritten, json.loads(committed.read_text())
    )
    assert rewritten.read_bytes() == committed.read_bytes()
