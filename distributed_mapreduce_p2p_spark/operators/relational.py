"""Relational operators over the star schema.

Covers the reference's projection/filter/partition/sort surface
(SURVEY.md §2.3-2.7) re-expressed declaratively, plus the standard
join/aggregate/window/set-op surface the north star requires (the
reference has no joins — SURVEY.md §2.7 — but a capability-complete
engine must).

Everything here is pure DataFrame API: filters and projections reach
the parquet scan (PushedFilters / ReadSchema), small dimensions are
broadcast explicitly, and aggregations rely on Catalyst's
partial+final split so shuffles carry pre-combined rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


# ---------------------------------------------------------------- filters

def range_filter(df: DataFrame, col: str, lo, hi) -> DataFrame:
    """P2/P3: inclusive range predicate (replication/replication.go:
    497-521 selects DataItems with startId <= Id <= endId). Pushed
    down to the parquet scan as two comparison filters."""
    return df.where(F.col(col).between(lo, hi))


def staleness_filter(df: DataFrame, ts_col: str, cutoff) -> DataFrame:
    """P4: drop rows older than a cutoff (the reference drops messages
    older than 2 s — raft/raft.go:88). Batch analog of a watermark."""
    return df.where(F.col(ts_col) >= F.lit(cutoff))


# ------------------------------------------------------------ numbering

def with_row_number(df: DataFrame, order_col: str, id_col: str = "id") -> DataFrame:
    """S4: 1-based line numbering in key order (replication/
    replication.go:524-550 counts lines by hand). Single-partition
    window — use for result-table-sized data only."""
    w = Window.orderBy(order_col)
    return df.withColumn(id_col, F.row_number().over(w).cast("long"))


def dedupe_keep_last(df: DataFrame, key: str, order_col: str) -> DataFrame:
    """O4: keep-latest upsert semantics (insertDataItemSorted,
    replication/replication.go:553-575 replaces an existing item with
    the same Id). row_number over (key, order desc) == 1; ties broken
    deterministically by the ordering column only — callers should
    pass a unique ordering column."""
    w = Window.partitionBy(key).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------- gap healing

def detect_gaps(
    df: DataFrame,
    id_col: str,
    max_id: int | None = None,
    n_parts: int = 8,
) -> DataFrame:
    """J3/R4: find missing ids in 1..max (CheckAndDump, replication/
    replication.go:344-407 scans for absent id ranges).

    Window-lag formulation — no materialized ``sequence(1, max_id)``
    explode (which blows up at scale, SURVEY.md §7) — run as a
    TWO-PHASE boundary-stitched lag (the global_cumsum discipline,
    r7): range-repartition on id, per-partition lag windows in
    parallel, then each partition's first row takes its predecessor
    from a broadcast n_parts-row per-partition-max table (lag over
    partition ids — empty range partitions simply don't appear and
    the pid order of the survivors still ascends with the ranges).
    The original single ``Window.orderBy(id)`` serialized the whole
    distinct-id stream through one task. Returns (gap_start, gap_end)
    rows.
    """
    d = (
        df.select(F.col(id_col).alias("id"))
        .distinct()
        .repartitionByRange(n_parts, "id")
        .withColumn("_pid", F.spark_partition_id())
        # lineage guard: _pid must not be recomputed under a
        # different plan (same reason as global_cumsum)
        .localCheckpoint()
    )
    bounds = d.groupBy("_pid").agg(F.max("id").alias("_pmax"))
    off_w = Window.orderBy("_pid")
    prev_max = bounds.select(
        "_pid", F.lag("_pmax").over(off_w).alias("_prev_pmax")
    )
    in_part = Window.partitionBy("_pid").orderBy("id")
    gaps = (
        d.join(F.broadcast(prev_max), "_pid")
        .withColumn(
            "prev",
            F.coalesce(F.lag("id").over(in_part), F.col("_prev_pmax")),
        )
        .where(
            (F.col("prev").isNotNull() & (F.col("id") - F.col("prev") > 1))
            | (F.col("prev").isNull() & (F.col("id") > 1))
        )
        .select(
            F.when(F.col("prev").isNull(), F.lit(1))
            .otherwise(F.col("prev") + 1)
            .cast("long")
            .alias("gap_start"),
            (F.col("id") - 1).cast("long").alias("gap_end"),
        )
    )
    return gaps


def split_range(start: int, end: int, n_workers: int) -> list[tuple[int, int]]:
    """H2: split [start, end] into <= n contiguous sub-ranges
    (AssignData, replication/replication.go:100-150: remainder spread
    round-robin over the first ranges). Driver-side planning helper —
    the Spark analog for data is ``repartitionByRange``."""
    total = end - start + 1
    if total <= 0 or n_workers <= 0:
        return []
    n = min(n_workers, total)
    base, rem = divmod(total, n)
    out, cur = [], start
    for i in range(n):
        size = base + (1 if i < rem else 0)
        out.append((cur, cur + size - 1))
        cur += size
    return out


# ---------------------------------------------------------------- joins

def membership_merge(left: DataFrame, right: DataFrame, key: str, counter: str) -> DataFrame:
    """J2: gossip full-outer merge-by-key, higher heartbeat wins
    (MergeLeft, gossip/gossip.go:87-108). Full outer join +
    greatest() conflict resolution."""
    l = left.select(F.col(key).alias("k"), F.col(counter).alias("lc"))
    r = right.select(F.col(key).alias("k"), F.col(counter).alias("rc"))
    return l.join(r, "k", "full_outer").select(
        F.col("k").alias(key),
        F.greatest(
            F.coalesce("lc", "rc"), F.coalesce("rc", "lc")
        ).alias(counter),
    )


def asof_join_window(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    right_val: str,
) -> DataFrame:
    """As-of join, window formulation: for each left row, the latest
    right row with the same key and right_ts <= left_ts. Range join +
    keep-latest window; fan-out is |matches per left row| — fine when
    keys are selective, explosive when one key holds a long history.

    The keep-latest window partitions on a per-row surrogate id, not
    on ``left.columns`` — partitioning on the values would collapse
    fully identical left rows into one output row (silently dropping
    duplicates) instead of producing one output row per input row.
    """
    from pyspark.sql import Window

    tagged = left.withColumn("__lrow", F.monotonically_increasing_id())
    joined = tagged.join(
        right,
        (F.col(right_key) == F.col(left_key))
        & (F.col(right_ts) <= F.col(left_ts)),
        "left",
    )
    w = Window.partitionBy("__lrow").orderBy(
        F.col(right_ts).desc(), F.col(right_val).desc()
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__lrow")
    )


def asof_join_merge(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    right_val: str,
    out_col: str = "asof_val",
    n_buckets: int = 64,
) -> DataFrame:
    """As-of join, merge formulation (the 100 TB path): co-partition
    both sides by key, sort by time, and walk them once with pandas
    ``merge_asof`` inside ``applyInPandas`` — cost O(n log n) per key
    instead of the window variant's O(matches) fan-out. This is the
    (b)-route custom operator: a capability the built-in operators
    can't express without quadratic blow-up.

    Groups are HASH BUCKETS of the key, not raw keys:
    ``merge_asof(by="k")`` walks all of a bucket's keys in one
    grouped pass, so the job runs ``n_buckets`` pandas invocations
    instead of one per distinct key (measured 34 s -> ~1 s at sf0.1's
    1500 keys; per-key grouping pays ~20 ms of pandas overhead per
    group). Task count is bounded and independent of key cardinality
    — the property that matters at 100 TB.
    """
    import pandas as pd

    l2 = left.select(
        F.col(left_key).alias("k"), F.col(left_ts).alias("lt"), "*"
    ).drop(left_key, left_ts)
    r2 = right.select(
        F.col(right_key).alias("k"),
        F.col(right_ts).alias("rt"),
        F.col(right_val).alias("rv"),
    )
    lcols = [c for c in l2.columns if c not in ("k", "lt")]
    out_schema = (
        f"k long, lt timestamp, "
        + ", ".join(f"{c} {dict(l2.dtypes)[c]}" for c in lcols)
        + f", {out_col} long"
    )
    tagged = (
        l2.withColumn("__side", F.lit(0))
        .unionByName(r2.withColumn("__side", F.lit(1)), allowMissingColumns=True)
        .withColumn("__b", F.pmod(F.xxhash64("k"), F.lit(n_buckets)))
    )

    def merge(key, pdf):
        lp = pdf[pdf["__side"] == 0]
        rp = pdf[pdf["__side"] == 1]
        # the union filled right-side columns with nulls on left rows
        lp = lp.drop(columns=["rt", "rv"], errors="ignore").sort_values("lt")
        # sort right by (rt, rv): merge_asof keeps the LAST row among
        # equal rt per key, i.e. the max rv — the window variant's
        # tie-break
        rp = rp.sort_values(["rt", "rv"])[["k", "rt", "rv"]].dropna(
            subset=["rt"]
        )
        if len(rp):
            m = pd.merge_asof(
                lp,
                rp,
                left_on="lt",
                right_on="rt",
                left_by="k",
                right_by="k",
                direction="backward",
            )
            vals = m["rv"]
        else:
            vals = pd.Series([None] * len(lp), dtype="float64")
        out = lp[["k", "lt", *lcols]].copy()
        out[out_col] = vals.astype("object").where(vals.notna(), None).values
        return out

    return (
        tagged.groupBy("__b")
        .applyInPandas(merge, out_schema)
        .withColumnsRenamed({"k": left_key, "lt": left_ts})
    )


def global_rank_scalable(
    df: DataFrame, cols: list[str], out: str = "rk", n_parts: int = 8
) -> DataFrame:
    """Global 1-based dense rank by ``cols`` (which must be a unique
    key) WITHOUT a single-partition window — the partition-offset
    pattern of text.py::numbered_result_scalable generalized: range
    partition on the order columns, per-partition row_number
    (parallel windows), plus a broadcast running-total offset join.
    Every stage is partition-parallel; the only global structure is
    the n_parts-row offset table. The localCheckpoint pins partition
    ids against lineage recomputation under a different plan."""
    d = (
        df.repartitionByRange(n_parts, *[F.col(c) for c in cols])
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    off_w = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        "_pid", (F.sum("_n").over(off_w) - F.col("_n")).alias("_offset")
    )
    in_part = Window.partitionBy("_pid").orderBy(*cols)
    return (
        d.join(broadcast(offsets), "_pid")
        .withColumn(
            out,
            (F.row_number().over(in_part) + F.col("_offset")).cast("long"),
        )
        .drop("_pid", "_offset")
    )


def merge_islands(
    df: DataFrame, key: str, s_col: str, e_col: str
) -> DataFrame:
    """Gaps-and-islands interval union per key: merge overlapping
    [s, e) integer intervals and return one row per key —
    ``(key, n_islands, covered)`` where covered = Σ island lengths.
    The standard two-window pass: a trailing cummax of the interval
    end flags island starts, a running sum numbers them; one shuffle
    on the key, no self-join. Used by the interval_merge_islands
    registry query (orders → 30-day activity windows) and
    property-tested against a pure-Python sweep line
    (tests/test_properties.py)."""
    w = Window.partitionBy(key).orderBy(s_col, e_col)
    prev_max_e = F.max(e_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.withColumn(
        "_new_island",
        F.when(
            prev_max_e.isNull() | (F.col(s_col) > prev_max_e), 1
        ).otherwise(0),
    )
    isl = flagged.withColumn(
        "_island",
        F.sum("_new_island").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_island = isl.groupBy(key, "_island").agg(
        (F.max(e_col) - F.min(s_col)).alias("_cov")
    )
    return per_island.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("_cov").cast("long").alias("covered"),
    )


def apply_cdc(base: DataFrame, changes: DataFrame) -> DataFrame:
    """MERGE INTO semantics as ONE co-partitioned full outer join:
    ``base(k, ...)`` + ``changes(k, op, ...)`` where op є {'D','U'} →
    the post-merge table. 'D' deletes the key, 'U' upserts the
    change's value columns (matched -> update, unmatched -> insert);
    base rows without a change pass through. Value columns are every
    non-key, non-op column name the two sides SHARE. This is the plan
    shape Delta/Iceberg MERGE compiles to; used by the
    merge_upsert_batch registry query and property-tested against a
    dict apply (tests/test_properties.py)."""
    val_cols = [
        c for c in base.columns if c != "k" and c in changes.columns
    ]
    b = base.select(
        F.col("k").alias("_bk"),
        *[F.col(c).alias(f"_b_{c}") for c in val_cols],
    )
    c = changes.select(
        F.col("k").alias("_ck"),
        "op",
        *[F.col(cc).alias(f"_c_{cc}") for cc in val_cols],
    )
    merged = (
        b.join(c, F.col("_bk") == F.col("_ck"), "full_outer")
        .where(F.col("op").isNull() | (F.col("op") == "U"))
        .select(
            F.coalesce("_ck", "_bk").alias("k"),
            # When a change row exists (op='U'), its values WIN even
            # when NULL — real MERGE updates to NULL; a COALESCE here
            # would silently keep the stale base value.
            *[
                F.when(F.col("op") == "U", F.col(f"_c_{cc}"))
                .otherwise(F.col(f"_b_{cc}"))
                .alias(cc)
                for cc in val_cols
            ],
        )
    )
    return merged


def max_concurrent(
    df: DataFrame, key: str, start_col: str, end_col: str
) -> DataFrame:
    """Peak interval concurrency per key via the sweep-line
    reduction: every [start, end) interval contributes (+1 at start,
    -1 at end), a running sum over (time, delta) is the
    instantaneous concurrency, and MAX collapses it. The -1-before-
    +1 tie order at equal timestamps encodes half-open intervals and
    makes the MAX invariant under any permutation of tied rows (the
    running-sum MULTISET is the same), so results are deterministic
    on any partitioning. O(n log n) per key vs the O(n²) interval
    self-join. Returns (key, max_concurrent, n_intervals).

    100 TB: per-key windows partition-parallel on the key; for a
    single giant key, sub-partition by time bucket and carry per-
    bucket offsets (the ``global_cumsum`` two-phase pattern).
    Registry demo: ``max_concurrency``; property-tested against a
    brute-force sweep in tests/test_properties.py."""
    pts = df.select(
        F.col(key),
        F.col(start_col).alias("_t"),
        F.lit(1).alias("_delta"),
    ).unionAll(
        df.select(
            F.col(key),
            F.col(end_col).alias("_t"),
            F.lit(-1).alias("_delta"),
        )
    )
    w = (
        Window.partitionBy(key)
        .orderBy("_t", "_delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pts.withColumn("_conc", F.sum("_delta").over(w).cast("long"))
        .groupBy(key)
        .agg(
            F.max("_conc").cast("long").alias("max_concurrent"),
            (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
        )
    )


def global_cumsum(
    df: DataFrame,
    value_col: str,
    order_cols: list[str],
    n_parts: int = 8,
) -> DataFrame:
    """Exact GLOBAL cumulative sum of ``value_col`` in ``order_cols``
    order WITHOUT a single-partition window — the two-phase
    partition-offset pattern (text.py::numbered_result_scalable):
    range-repartition on the order keys, per-partition running sums
    in parallel windows, per-partition totals rolled into broadcast
    prefix offsets. Adds ``_cum`` (running total INCLUDING the row)
    and ``_total`` (grand total) columns; every stage is
    partition-parallel (plan-pinned <=1 SinglePartition — the
    n_parts-row offsets table — in tests/test_plans.py via
    abc_classification). The order must be total (tie-free) for a
    well-defined result."""
    d = (
        df.repartitionByRange(n_parts, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        # lineage guard: _pid must not be recomputed under a
        # different plan
        .localCheckpoint()
    )
    counts = d.groupBy("_pid").agg(
        F.sum(value_col).cast("long").alias("_psum")
    )
    off_w = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        "_pid",
        (F.sum("_psum").over(off_w) - F.col("_psum")).alias("_offset"),
        F.sum("_psum")
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("long")
        .alias("_total"),
    )
    in_part = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        d.join(F.broadcast(offsets), "_pid")
        .withColumn(
            "_cum",
            (F.sum(value_col).over(in_part) + F.col("_offset")).cast(
                "long"
            ),
        )
        .drop("_pid", "_offset")
    )
