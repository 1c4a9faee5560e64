#!/usr/bin/env python
"""Scale rehearsal: re-time headline queries on 10x-replicated data.

The 100 TB claims in SCALE.md are plan-property arguments; this tool
adds a measured data point: synthesize 10x events/documents from
sf0.1 (re-keyed replicas, same distributions), run the
events/documents headline queries at 1x and 10x on the same session,
and report the wall-clock scaling exponent. A query whose plan is
linear-ish (scan + bounded shuffles) should land well under 10x
wall time on local[32] (partitions absorb the growth); anything
super-linear is a red flag the plan audit missed.

Writes SCALE_REHEARSAL.md. Run: python tools/scale_rehearsal.py
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from distributed_mapreduce_p2p_spark import registry  # noqa: E402
from distributed_mapreduce_p2p_spark.session import get_spark  # noqa: E402
from distributed_mapreduce_p2p_spark.sources.io import read_table  # noqa: E402

SF = "/root/testdata/sf0.1"
REPLICAS = 10

# Headline queries over events/documents (streaming-analytics and
# text/dedup families) plus, since r4, the two heaviest join shapes
# over a re-keyed 10x star schema (lineitem/orders/customer/supplier):
# the r3 verdict asked for measured 10x evidence on exactly these.
QUERIES = [
    "group_quantiles",
    "histogram_value_bins",
    "funnel_conversion",
    "retention_cohorts",
    "event_transition_matrix",
    "sliding_distinct_users",
    "resample_ffill",
    "wordcount",
    "tfidf_top_terms",
    "token_stats",
    "doc_repetition",
    "dedup_exact",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "dedup_clusters",
    "supplier_cosine_topk",
    "trade_graph_triangles",
    # r4 additions: training-pipeline ops over documents/events
    "mixture_reweight",
    "global_shuffle_order",
    "source_reputation",
    "doc_chunking",
    "scd2_history",
    "span_dedup_clean",
    "k_anonymity_audit",
    # r4 continuation: retrieval/sketch/dedup-adjacent additions
    "bm25_scores",
    "source_token_drift",
    "hdr_quantile_sketch",
    "source_overlap_matrix",
    "leakage_safe_split",
    "pii_redact_stats",
    "containment_decontaminate",
    "rfm_segmentation",
    "image_resize_checksum",
    "video_frame_checksums",
    # r5: the r4-verdict heavies that were still missing measured 10x
    # evidence, plus the r5-new heavy shapes
    "stream_stream_full_outer",
    "streaming_hdr_p95",
    "bpe_merges",
    "basket_pairs_lift",
    "ngram_jaccard_pairs",
    "tpch_q9_profit_shape",
    "merge_upsert_batch",
    "interval_merge_islands",
    "time_weighted_avg",
    "tokenizer_apply_bpe",
    # r6: the new heavy/novel shapes — banded EWMA self-join,
    # calendar-bounded pairwise Theil-Sen, two-phase cumulative ABC,
    # sweep-line concurrency, KMV bottom-k, carry-forward attribution
    "ewma_dyadic",
    "theil_sen_slope",
    "abc_classification",
    "max_concurrency",
    "kmv_distinct_estimate",
    "last_touch_attribution",
    "ship_latency_quantiles",
    # r6 continuation: this session's heavy/novel shapes — winnowing
    # fingerprint index + hub-guarded pair join, grid spatial
    # self-join (DBSCAN), 64x permutation explode, 7-level wavelet
    # cascade, cell-ranked Kruskal-Wallis, doubled-midrank Spearman
    "winnow_fingerprints",
    "winnow_plagiarism_pairs",
    "dbscan_core_points",
    "grid_neighbor_join",
    "permutation_test_means",
    "haar_wavelet_energy",
    "kruskal_wallis",
    "spearman_rho",
    "chebyshev_outliers",
    "funnel_time_to_convert",
    # r6 final session: skip-gram pair join (the heaviest new text
    # shape), O(n.k.d) silhouette explode, basket self-join rules,
    # carry-backward attribution windows, 4-round clipped-mean
    # iteration, doubled-midrank Cliff's delta
    "token_cooccurrence_lift",
    "silhouette_by_label",
    "association_rules",
    "position_multitouch_attribution",
    "huber_mean_cents",
    "cliffs_delta",
    # r6 close: last-wave heavy shapes — TextTiling adjacent-block
    # join, Rocchio n.k.d explode, deterministic negative sampling
    # through the two-phase index, banded rapid-repeat time pairs
    "topic_shift_boundaries",
    "rocchio_classification_report",
    "negative_sampling_pairs",
    "rapid_repeat_events",
    # r6 session 2: this session's heavy/novel shapes — 10-pair
    # cumulative-cell JT trend, token-position RAKE islands, weekly
    # offset-explode trending, label-pair MMD cells, hash-sampled
    # pair histogram, bidirectional nearest-event lanes, per-part
    # monthly XYZ cells, real-byte aHash buckets, user-keyed streaks
    "jonckheere_terpstra",
    "rake_keywords",
    "trending_brands_weekly",
    "linear_mmd_labels",
    "embedding_pair_sim_histogram",
    "nearest_event_join",
    "xyz_demand_variability",
    "image_phash_buckets",
    "longest_daily_streak",
    "feature_hash_vectors",
    # r6 session 2 close: the remaining novel shapes — per-user funnel
    # fold, span-reduction sequence mining, bounded-DP DTW, truss
    # peel rounds, offset-explode decomposition, seasonal HW fold,
    # minimax isotonic, tier-migration rank cells, matched-basket
    # index, composed detector eval, real-byte audio runs
    "window_funnel_strict",
    "sequential_pairs_support",
    "dtw_distance_regions",
    "truss_peel_rounds",
    "seasonal_decompose_ratio",
    "holt_winters_forecast",
    "isotonic_regression_monthly",
    "value_tier_migration",
    "price_index_fisher",
    "dedup_detector_agreement",
    "audio_silence_runs",
    # r7: the plan-changed shapes (single-partition-window kills) and
    # the new chunked-source read; mcc/gini added per r6 ADVICE (both
    # were whitelisted-but-unrehearsed)
    "sequence_packing",
    "gap_detect",
    "vocab_growth",
    "mcc_binary_rule",
    "gini_mean_difference",
    "wordcount_chunked_source",
    # r7 additions (post-freeze, queued for the r8 window): the
    # bigram/trigram double-explode is the heaviest new text shape
    "gopher_repetition_flags",
    "temperature_mixture",
    "dsir_importance_weights",
    "ivf_recall_curve",
    "semdedup_prune",
    # r8: the plan-changed shapes — global_cumsum rewrites of the
    # last two single-partition window demos, plus the IVF pair after
    # the filtered-broadcast/single-assignment-pass ADVICE fixes
    "equidepth_bins",
    "embedding_norm_outliers",
    "ann_ivf_topk",
    # r10 additions (the semdedup ANN pair has its own dedicated
    # 1x/10x/100x section via tools/semdedup_ann_rehearsal.py)
    "quantile_sketch_ranks",
    "streaming_dedup_ttl",
    "semdedup_prune_ann",
    "semdedup_ann_assignment_recall",
]


def build_scaled(spark, out_dir: str) -> None:
    ev = read_table(spark, SF, "events")
    reps = spark.range(REPLICAS).select(F.col("id").alias("rep"))
    (
        ev.crossJoin(reps)
        .select(
            (F.col("event_id") * REPLICAS + F.col("rep")).alias("event_id"),
            "ts",
            (F.col("user_id") * REPLICAS + F.col("rep")).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .write.parquet(f"{out_dir}/events.parquet")
    )
    docs = read_table(spark, SF, "documents")
    (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") * REPLICAS + F.col("rep")).alias("doc_id"),
            *[c for c in docs.columns if c != "doc_id"],
        )
        .write.parquet(f"{out_dir}/documents.parquet")
    )
    emb = read_table(spark, SF, "embeddings")
    # REPLICA-MAJOR re-keying (rep * n + vec_id), unlike the other
    # tables' interleaved (id * REPLICAS + rep): the similarity
    # operators' quantizer/query stand-in is "the first k vec_ids",
    # so interleaved re-keying silently collapses it — at 10x,
    # vec_id < 141 under interleaving selects only ceil(141/10)=15
    # DISTINCT vectors (each orig id appears 10x), and the r9
    # semdedup_prune rehearsal measured a 15-cell census instead of
    # the 141-cell nominal shape (output rows DROPPED 44 -> 15, the
    # tell). Replica-major keeps rep=0 as the exact original table,
    # so first-k means the same k distinct vectors at every scale.
    # stride = max(vec_id)+1, not count(): the two coincide only while
    # vec_ids are contiguous from 0 — a gapped fixture would collide
    # replicas under count() (r10 ADVICE; matches
    # semdedup_nominal_rehearsal.py's derivation)
    n_emb = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    (
        emb.crossJoin(reps)
        .select(
            (F.col("rep") * F.lit(n_emb) + F.col("vec_id")).alias(
                "vec_id"
            ),
            *[c for c in emb.columns if c != "vec_id"],
        )
        .write.parquet(f"{out_dir}/embeddings.parquet")
    )
    # Star schema, re-keyed per replica so intra-replica joins stay
    # consistent; nation keys stay UNCHANGED — the derived nation
    # graph keeps 25 nodes while the fact-scale aggregation under it
    # grows 10x (the actual 100 TB shape for trade_graph_triangles).
    # supplier_cosine_topk's per-part fan-out stays 4, so its output
    # and candidate pairs grow linearly — the hub cap must keep it so.
    rekey = {
        "lineitem": ("l_orderkey", "l_suppkey", "l_partkey"),
        "orders": ("o_orderkey", "o_custkey"),
        "customer": ("c_custkey",),
        "supplier": ("s_suppkey",),
        # part is rekeyed with lineitem so per-part fan-outs stay
        # constant (the supplier_cosine_topk premise); nation below
        # stays verbatim — dimensions that don't grow with the fact.
        "part": ("p_partkey",),
    }
    read_table(spark, SF, "nation").write.parquet(f"{out_dir}/nation.parquet")
    read_table(spark, SF, "region").write.parquet(f"{out_dir}/region.parquet")
    for tname, keys in rekey.items():
        t = read_table(spark, SF, tname)
        t.crossJoin(reps).select(
            *[
                (F.col(c) * REPLICAS + F.col("rep")).alias(c)
                if c in keys
                else F.col(c)
                for c in t.columns
            ]
        ).write.parquet(f"{out_dir}/{tname}.parquet")


def time_query(spark, name: str, sf_dir: str) -> tuple[float, int]:
    best = float("inf")
    n = 0
    for _ in range(2):
        # The registry's memo store (cluster table, BPE merges, trade
        # tables, staged stream inputs) would make run 2 a no-op and
        # best-of-2 would record the memo-hit time — this tool
        # measures the FULL pipeline's scaling, staging included, so
        # clear it before every run.
        registry.clear_memos()
        t0 = time.perf_counter()
        n = registry.QUERIES[name](spark, sf_dir).count()
        best = min(best, time.perf_counter() - t0)
    return best, n


def merge_preserving(base_text: str, existing_text: str) -> str:
    """APPEND-PRESERVING rewrite (r7, after the r6 round-close
    regeneration silently clobbered the Zipf and hub-user skew
    sections): the regenerated base report owns everything up to the
    first `## ` heading; any `## `-sections in the existing file
    (skew rehearsals, targeted close-waves) carry over verbatim below
    the new base. Unit-tested in tests/test_ops.py."""
    idx = existing_text.find("\n## ")
    if idx == -1:
        return base_text
    preserved = existing_text[idx:].lstrip("\n")
    return base_text.rstrip() + "\n\n" + preserved.rstrip() + "\n"


def run_targeted(spark, tmp: str, names: list[str]) -> None:
    """Measure the named queries at 1x/10x and append a dated
    close-wave section to SCALE_REHEARSAL.md."""
    lines = [
        f"## Targeted run: {', '.join(names)}",
        "",
        "| query | 1x s | 10x s | ratio | exponent | rows 1x | rows 10x |",
        "|---|---|---|---|---|---|---|",
    ]
    import math

    for name in names:
        t1, n1r = time_query(spark, name, SF)
        t10, n10r = time_query(spark, name, tmp)
        ratio = t10 / t1
        exp = math.log(max(ratio, 1e-9)) / math.log(REPLICAS)
        lines.append(
            f"| {name} | {t1:.2f} | {t10:.2f} | {ratio:.1f}x"
            f" | {exp:.2f} | {n1r:,} | {n10r:,} |"
        )
        print(lines[-1], flush=True)
    sys.path.insert(0, str(REPO / "tools"))
    from md_sections import upsert_section

    path = REPO / "SCALE_REHEARSAL.md"
    path.write_text(
        upsert_section(path.read_text(), lines[0], "\n".join(lines))
    )
    print("upserted targeted section in SCALE_REHEARSAL.md")


def main() -> None:
    # --only name1 name2 ...  => targeted run: measure just those
    # queries and APPEND a close-wave section instead of rewriting
    # the base report (the base stays owned by full runs).
    only = sys.argv[2:] if len(sys.argv) > 2 and sys.argv[1] == "--only" else None
    spark = get_spark(app_name="scale_rehearsal")
    tmp = tempfile.mkdtemp(prefix="scale10x_")
    try:
        build_scaled(spark, tmp)
        if only is not None:
            run_targeted(spark, tmp, only)
            return
        n1 = read_table(spark, SF, "events").count()
        n10 = read_table(spark, tmp, "events").count()
        lines = [
            "# SCALE REHEARSAL — measured 1x vs 10x (local[32])",
            "",
            f"Generated by tools/scale_rehearsal.py: events/documents from"
            f" sf0.1 replicated {REPLICAS}x with re-keyed ids"
            f" ({n1:,} -> {n10:,} events; documents likewise). Wall"
            " time is best-of-2 on a shared session. `exponent` is"
            " log(t10/t1)/log(10) — 1.0 = linear, <1 = sublinear"
            " (parallel slack absorbed the growth).",
            "",
            "| query | 1x s | 10x s | ratio | exponent | rows 1x | rows 10x |",
            "|---|---|---|---|---|---|---|",
        ]
        worst = 0.0
        for name in QUERIES:
            t1, n1r = time_query(spark, name, SF)
            t10, n10r = time_query(spark, name, tmp)
            import math

            ratio = t10 / t1
            exp = math.log(max(ratio, 1e-9)) / math.log(REPLICAS)
            worst = max(worst, ratio)
            lines.append(
                f"| {name} | {t1:.2f} | {t10:.2f} | {ratio:.1f}x"
                f" | {exp:.2f} | {n1r:,} | {n10r:,} |"
            )
            print(lines[-1], flush=True)
        lines += [
            "",
            f"Worst ratio: {worst:.1f}x on a {REPLICAS}x scale-up.",
            "",
            "Notes: the rows columns separate genuine plan blow-up"
            " from BY-CONSTRUCTION output growth. minhash/simhash"
            " pair counts grow super-linearly because every doc gains"
            f" {REPLICAS - 1} exact replicas (true near-dup pairs"
            f" grow ~{REPLICAS * (REPLICAS - 1) // 2}x/doc-group);"
            " candidate generation stays banded/bucketed — the"
            " output itself is the growth. dedup_clusters' INPUT (the"
            " LSH pair graph) densifies the same way (each replica"
            " group becomes a clique), so its wall-clock ratio tracks"
            " a ~50-100x edge-count growth, not the 10x corpus."
            " supplier_cosine_topk's work is exactly linear (top-k"
            " rows and join volume both grow 10x with per-part"
            " fan-out pinned by construction), so on a FIXED 32-core"
            " box its exponent floor is ~1.0 minus whatever idle"
            " capacity 1x leaves — the cluster question (constant"
            " data per core) is answered by the plan shape: every"
            " stage is a partkey/suppkey-partitioned equi-join or"
            " agg with bounded per-key fan-out, no all-pairs term"
            " (check PER-ROW throughput in the table: at 10x the"
            " output rows grow 10x while wall grows less, i.e."
            " ms/row IMPROVES — the fixed box is still absorbing"
            " the linear work, not hitting a super-linear term).",
        ]
        path = REPO / "SCALE_REHEARSAL.md"
        existing = path.read_text() if path.exists() else ""
        text = merge_preserving("\n".join(lines) + "\n", existing)
        path.write_text(text)
        print(
            "wrote SCALE_REHEARSAL.md"
            + (" (appended sections preserved)" if text != "\n".join(lines) + "\n" else "")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
