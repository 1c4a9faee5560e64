#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the headline
queries at sf0.01, annotated with the scale property each plan
demonstrates. Run from the repo root:  python tools/dump_plans.py
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from distributed_mapreduce_p2p_spark import registry  # noqa: E402
from distributed_mapreduce_p2p_spark.plans.explain import explain_str  # noqa: E402
from distributed_mapreduce_p2p_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

SHOWCASE: list[tuple[str, str]] = [
    (
        "wordcount",
        "One exchange; partial_count before the shuffle (map-side "
        "combine); filter+explode fused into the scan stage; scan reads "
        "only `text`.",
    ),
    (
        "agg_pricing",
        "`l_shipdate` predicate pushed to the parquet scan "
        "(PushedFilters); ReadSchema pruned to 6 of 11 columns; "
        "partial+final DECIMAL aggregation.",
    ),
    (
        "star_join_revenue",
        "nation/region as BroadcastHashJoin (no shuffle); fact joins "
        "shuffle on their keys; date filter pushed into the orders scan.",
    ),
    (
        "wordcount_topk",
        "TakeOrderedAndProject — per-partition partial top-k merged on "
        "the driver; no global sort materialization.",
    ),
    (
        "minhash_signatures",
        "Single exchange: all 16 minima aggregate in one "
        "groupBy(doc_id) pass with partial_min; stack unpivot is "
        "shuffle-free.",
    ),
    (
        "gap_detect",
        "Window-lag over present ids — no sequence() explode; one sort "
        "exchange, linear in present rows not id-domain size.",
    ),
    (
        "tpch_q3_shipping_priority",
        "Segment filter broadcast; both date predicates pushed to the "
        "parquet scans; top-10 is TakeOrderedAndProject, never a "
        "global sort.",
    ),
    (
        "interval_overlap_join",
        "Interval predicate rides the user_id equi-join (hash, not "
        "nested-loop); exact BIGINT gap sums, one double division.",
    ),
    (
        "grouping_sets_agg",
        "Expand + ONE partial+final aggregate pass for all three "
        "granularities — one exchange total.",
    ),
    (
        "ann_ivf_topk",
        "Assignment is a broadcast nested loop over 16 centroids; "
        "WindowGroupLimit prunes per-partition top-k before each "
        "window exchange; candidate join is broadcast equi-join.",
    ),
    (
        "levenshtein_close_names",
        "BroadcastHashJoin on nationkey with the banded-DP predicate "
        "as a join filter; probe side explicitly repartitioned so the "
        "DP work parallelizes across cores instead of one file split.",
    ),
    (
        "ngram_jaccard_pairs",
        "Prefix-filtered set-similarity join: frequency table "
        "broadcast; candidate join keys are each doc's rarest tokens "
        "(+ size and positional bounds); array_intersect verify on "
        "64-bit token sets only for surviving candidates.",
    ),
    (
        "topk_per_group",
        "Rank window + filter compiles to WindowGroupLimit below the "
        "exchange — each map partition forwards only k rows per "
        "group, the per-group analog of TakeOrderedAndProject.",
    ),
    (
        "retention_cohorts",
        "First-touch aggregate re-joined to the event log as an "
        "explicit broadcast (cohort table << log); distinct-count "
        "per cell partial-aggregates before the shuffle.",
    ),
    (
        "tpch_q5_local_supplier_volume",
        "Six-way join: the two fact tables hash-join on their keys; "
        "customer, supplier, nation, region all arrive as "
        "BroadcastExchange (4+ BroadcastHashJoin). Date range pushed "
        "into the orders scan, region filter prunes nation pre-"
        "broadcast.",
    ),
    (
        "basket_pairs_lift",
        "Pair generation rides the l_orderkey equi-join (no "
        "cartesian); per-part counts broadcast back onto the pair "
        "relation; partial aggregation before the single pair "
        "shuffle.",
    ),
    (
        "tfidf_top_terms",
        "Raw text explodes once; df aggregates over the much smaller "
        "tf relation and broadcasts back; fixed-point idf keeps the "
        "whole scoring JVM-side; per-doc top-3 is a bounded window.",
    ),
    (
        "supplier_cosine_topk",
        "Co-occurrence counts via the part equi-join, degree tables "
        "broadcast; cosine from exact counts with one IEEE-exact "
        "sqrt; per-item top-k window over the scored pairs.",
    ),
    (
        "mixture_reweight",
        "One corpus scan; corpus totals via an empty-partition window "
        "over the POST-AGG bucket table (sources x langs rows), not a "
        "second aggregation branch — the crossJoin form scanned the "
        "parquet twice.",
    ),
    (
        "scd2_history",
        "Both windows (lag change-detect, lead interval-close) stack "
        "on ONE user_id exchange; the second window's (valid_from, "
        "event_id) order is the first's (ts, event_id) renamed, so no "
        "second sort.",
    ),
    (
        "doc_chunking",
        "Zero exchanges: tokenize -> sequence() explode -> slice, all "
        "JVM expressions inside one codegen stage; scan pruned to "
        "(doc_id, text).",
    ),
    (
        "tpch_q2_min_cost_supplier",
        "Correlated per-part MIN decorrelated to a window over one "
        "partkey exchange; part/supplier/nation/region all "
        "BroadcastHashJoin with p_type/r_name filters pushed into "
        "the scans.",
    ),
    (
        "tpch_q9_profit_shape",
        "Q9 topology: part/supplier/nation attach as BroadcastHashJoin "
        "with the p_name filter pushed to the part scan; only the "
        "lineitem-orders fact join shuffles; exact-DECIMAL profit "
        "summed partial+final.",
    ),
    (
        "merge_upsert_batch",
        "MERGE INTO compiled to ONE co-partitioned full outer join; "
        "the delete branch is a post-join filter, not a second "
        "anti-join pass.",
    ),
    (
        "interval_merge_islands",
        "Gaps-and-islands: trailing-cummax flag + running-sum island "
        "ids + both aggregations all reuse one o_custkey exchange.",
    ),
    (
        "time_weighted_avg",
        "LEAD durations and the final agg share the event_type "
        "exchange; weighted sum is exact BIGINT cents*us — the double "
        "division happens once per output row.",
    ),
    (
        "tokenizer_apply_bpe",
        "Vocabulary-bounded application: 8 chained JVM folds over the "
        "DISTINCT-word table; the corpus joins the (word, n_tokens) "
        "map via BroadcastHashJoin — the corpus is never re-folded "
        "per occurrence.",
    ),
    # ---- round-6 additions -------------------------------------------
    (
        "abc_classification",
        "Exact global cumulative sum WITHOUT a single-partition "
        "window: range-repartition on the sort key, per-partition "
        "windows in parallel, 8-row offsets table broadcast back — "
        "asserted <=1 SinglePartition in test_plans.",
    ),
    (
        "ewma_dyadic",
        "Banded trailing-window self-join: the 16-day range rides an "
        "EQUI join on (nation, day-bucket) via 2-bucket explode — "
        "sort-merge on nation alone would filter |days|^2 pairs "
        "post-join (measured 10.1s -> 2.9s at sf0.1).",
    ),
    (
        "bitmap_segment_overlap",
        "bit_or masks per (segment, 63-bit block); pairwise overlap "
        "joins on BLOCK (63x input compression) and sums "
        "popcount-of-AND — never a user-level self-join.",
    ),
    (
        "last_touch_attribution",
        "As-of semantics as ONE carry-forward window per user "
        "(last ignorenulls over to-1-PRECEDING) — zero joins, one "
        "shuffle on the high-cardinality user key, linear in events.",
    ),
    (
        "mann_whitney_u",
        "Rank machinery on distinct-VALUE cells (post-agg), not raw "
        "rows: doubled midranks keep tie handling in BIGINT; one "
        "partitioned cumsum window + one rollup share the nation "
        "partitioning.",
    ),
    (
        "closeness_centrality",
        "Driver-side harmonic closeness: the plan reads a "
        "LocalTableScan of per-node (n_reachable, harmonic_ppm), one "
        "BFS per node cut at 32 hops over a single guarded edge-list "
        "collect, and broadcast-joins nation for the names; the one "
        "fact-scale trade aggregation happened before the collect.",
    ),
    (
        "token_cooccurrence_lift",
        "A +-3-position skip-gram window as an OFFSET-EXPLODE equi-join "
        "(d in 1..3 on (doc_id, pos+d)) — SortMergeJoin on pure "
        "equality, no BNLJ range join; top-20 via "
        "TakeOrderedAndProject, never a single-partition window.",
    ),
    (
        "negative_sampling_pairs",
        "Deterministic salted-hash sampling materialized as an "
        "EQUI-join against a two-phase global part index (no "
        "single-partition row_number over a dimension); accidental "
        "positives removed by a LeftAnti hash join on (cust, part).",
    ),
    (
        "jonckheere_terpstra",
        "All 10 ordered-group-pair 2U statistics from ONE cumulative "
        "cell window (a_i = 2·lt_i + ct_i lanes per value cell, pair "
        "sum telescoped to c_j·Σa_i) — k-sample rank machinery at the "
        "mann_whitney_u shuffle count.",
    ),
    (
        "trending_brands_weekly",
        "Trailing-4-week base via a 4-element OFFSET-EXPLODE on sparse "
        "week cells (each cell re-keyed to the weeks it serves) — no "
        "range join, no dense calendar; rank window partitioned by "
        "week only.",
    ),
    (
        "embedding_pair_sim_histogram",
        "TakeOrderedAndProject hash-rank sample (128 ids) bounds the "
        "pair join at 8128 rows at ANY corpus size; exact integer "
        "signed-cos² buckets — the calibration histogram's cost is "
        "scale-invariant by construction.",
    ),
    (
        "dtw_distance_regions",
        "Pure-BIGINT DTW: the DP runs INSIDE per-row aggregate() folds "
        "over the 5-row series table (broadcast inequality pair join, "
        "10 pairs) — zero shuffles at DP time; integer costs make any "
        "evaluation strategy bit-identical.",
    ),
    (
        "window_funnel_strict",
        "Greedy 4-step funnel as a per-user sorted-array fold "
        "(state = 4 completion timestamps) after one user-keyed "
        "shuffle — the batch twin of a transformWithState machine, "
        "with exact epoch-us comparisons.",
    ),
    (
        "nearest_event_join",
        "Bidirectional nearest-neighbor via IGNORE NULLS last/first "
        "flanking lanes in ONE user-keyed window — the purchases × "
        "clicks range join never materializes; epoch-us integer gaps.",
    ),
    # r7: the single-partition-window kills and the chunked source
    (
        "sequence_packing",
        "Corpus-wide running token sum as two-phase global_cumsum: "
        "range-repartition on doc_id, per-pid parallel windows, "
        "broadcast n_parts-row prefix offsets — the only "
        "SinglePartition exchange is the offsets roll-up (the r6 "
        "verdict's one scale-killer, fixed and plan-pinned).",
    ),
    (
        "gap_detect",
        "Two-phase BOUNDARY-STITCHED lag: per-pid lag windows after a "
        "range repartition; each partition's first row takes its "
        "predecessor from a broadcast per-partition-max table — the "
        "reusable fact-scale recipe for any order-sensitive window "
        "(replaced the global Window.orderBy(id)).",
    ),
    (
        "wordcount_chunked_source",
        "S2 end-to-end through the JVM text source: `lineSep=\" \"` "
        "over 65536-byte splits reads space-aligned byte ranges "
        "(FileScan text, one task per grid range, no Python worker), "
        "then the standard partial/final count. The split size is "
        "read when an action plans the scan, so the count runs inside "
        "`files_split_size` and the returned plan (below) only scans "
        "its vocabulary-sized checkpoint.",
    ),
    (
        "dsir_importance_weights",
        "Data selection without a vocabulary: one narrow bigram "
        "explode feeds (a) a 128-row hashed-feature aggregate whose "
        "smoothed ratio table BROADCASTS back onto the same stream "
        "and (b) a doc_id groupBy with map-side partial aggregation; "
        "the selection window is partitioned per source — no "
        "single-task stage anywhere, so the plan is corpus-size "
        "independent except for the two fact-scale hash shuffles.",
    ),
    (
        "semdedup_prune",
        "SemDeDup's quadratic is caged twice: the nearest-centroid "
        "assignment materializes ONCE (localCheckpoint — the plan "
        "reads the 3-column RDD three times instead of recomputing "
        "the corpus pass), and the pair comparison is a SortMergeJoin "
        "on the cell key, so per-task fan-out is bounded by cell "
        "population, the knob that scales with the corpus.",
    ),
    (
        "ivf_recall_curve",
        "The whole recall/cost curve from ONE assignment pass, "
        "structurally since r8: the scored candidate table and the "
        "brute ground truth are localCheckpoint-materialized before "
        "the nprobe loop, so the visible plan reads Scan ExistingRDD "
        "nine times (6 sims + 3 exact) instead of re-running the "
        "corpus subplans; every hinted broadcast is the filtered |Q| "
        "or n_cells slice (the r8 ADVICE fix) and each curve point "
        "is a probe_rank filter — evaluating the ANN knob costs the "
        "same as running it once.",
    ),
    (
        "equidepth_bins",
        "NTILE(10) DERIVED from a rank instead of computed by a "
        "window: the two-phase global_cumsum (range-repartition, "
        "per-pid running sums, broadcast n_parts-row offsets) gives "
        "the global rank and total, and the first-r-buckets-take-q+1 "
        "integer arithmetic reproduces NTILE exactly — the r1-r7 "
        "single-partition NTILE sort is gone; the only "
        "SinglePartition exchange left carries the 8-row offsets "
        "table.",
    ),
    (
        "embedding_norm_outliers",
        "Global percentile screen without a global sort: the same "
        "two-phase global_cumsum rank replaces the r5 "
        "single-partition row_number over the embeddings table; the "
        "p1/p99 filter then reads _cum/_total as ordinary columns — "
        "fact-scale stages are all range/hash exchanges.",
    ),
    (
        "hll_distinct_estimate",
        "r9: supplier joins UNHINTED yet lands BroadcastHashJoin "
        "(size-based planning — the de-hint policy's proof-by-plan); "
        "every aggregate partial+final; the alpha*2^57 constant is "
        "folded to one literal; scan pruned to 2 of 16 lineitem "
        "columns.",
    ),
    (
        "semdedup_prune_ann",
        "r10: the ANN-over-centroids assignment — the only "
        "BroadcastNestedLoopJoin in the (checkpointed) assignment "
        "subtree builds against the n^(1/4)-row SUPER table "
        "(vec_id < n_super pushed to the scan), with WindowGroupLimit "
        "partial+final keeping only nprobe rows per vector BEFORE the "
        "shuffle; the centroid re-rank is an UNHINTED size-estimable "
        "equi-join (broadcast at fixture SF, shuffle fallback at "
        "scale); the census downstream is plan-identical to "
        "semdedup_prune's. Note: the visible plan shows the census "
        "over the checkpointed home RDD — the assignment subtree is "
        "pinned by test_plans instead.",
    ),
    (
        "quantile_sketch_ranks",
        "r10: the per-key (n, stride) table is a map-side-combined "
        "partial_count groupBy (5 rows shuffled, never the fact "
        "rows) broadcast back onto the ONE fact-scale exchange (the "
        "per-key sort window for row_number); the kept systematic "
        "sample collapses to ~32 x |keys| rows; the 3-quantile probe "
        "grid rides a bounded BNLJ attach; orders scan pruned to 3 "
        "columns.",
    ),
]


def main() -> None:
    spark = get_spark(app_name="dump_plans", cores=8, shuffle_partitions=8)
    out = [
        "# PLANS — headline physical plans (sf0.01, shuffle=8)",
        "",
        "Generated by `tools/dump_plans.py`; plan-quality properties are",
        "asserted mechanically in `tests/test_plans.py` — this file is the",
        "human-readable evidence. `(N)` markers are whole-stage-codegen",
        "operator ids.",
        "",
    ]
    for name, note in SHOWCASE:
        df = registry.QUERIES[name](spark, SF)
        plan = explain_str(df, "formatted").rstrip()
        out += [f"## {name}", "", note, "", "```", plan, "```", ""]
    Path(REPO / "PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
