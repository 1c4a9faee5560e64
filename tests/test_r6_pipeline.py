"""Round-6 additions: table-maintenance lifecycle, local-FS guard on
the space-aligned chunk grid, publish/time-travel crash-gap ordering,
CDC within-batch conflict semantics, profiling label escaping."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------- io


def test_maintain_table_lifecycle(spark, tmp_path):
    """publish N fragmented versions -> maintain_table compacts the
    live version into a NEW published version and vacuums history ->
    readers converge on identical rows, fewer files, and vacuumed
    versions fail loudly (the OPTIMIZE+VACUUM round trip)."""
    import os

    from distributed_mapreduce_p2p_spark.sources import io as IO

    root = str(tmp_path / "tbl")
    base = spark.range(1000).withColumnRenamed("id", "k")
    # three published versions, the live one deliberately fragmented
    IO.publish_atomic(base.limit(10), root)
    IO.publish_atomic(base.limit(100), root, expected_version=1)
    IO.publish_atomic(base.repartition(16), root, expected_version=2)
    assert IO.read_manifest(root)["version"] == 3
    before = IO.read_published(spark, root)
    assert len(before.inputFiles()) == 16

    new_m, removed = IO.maintain_table(
        spark, root, target_bytes=1 << 30, keep=2
    )
    # compaction committed as version 4, one near-target file
    assert new_m["version"] == 4
    assert len(new_m["files"]) == 1
    # retention kept v3+v4, removed v1+v2
    assert removed == [1, 2]
    # readers converge: identical row multiset
    after = IO.read_published(spark, root)
    assert after.count() == 1000
    assert (
        after.agg(F.sum("k")).collect()[0][0]
        == before.agg(F.sum("k")).collect()[0][0]
    )
    # time travel: v3 retained, v1 vacuumed -> loud failure
    assert IO.read_published(spark, root, version=3).count() == 1000
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        IO.read_published(spark, root, version=1)
    # vacuum removed the data directories, not just manifests
    assert not os.path.exists(os.path.join(root, "v=1"))
    # concurrent-writer safety: maintain pins the version it compacted
    # (a publish that lands mid-compaction wins; the compaction raises)


def test_space_aligned_chunks_reject_remote_uri(spark, tmp_path):
    """The chunk-grid builder and its task-side reader are local-FS
    only; an hdfs:// path must produce the documented error naming
    the FS-agnostic JVM token scan, not a worker stack trace."""
    from distributed_mapreduce_p2p_spark.sources import io as IO

    with pytest.raises(ValueError, match="read_text_corpus.*files_split_size"):
        IO.read_text_chunks_space_aligned(
            spark, "hdfs://nn:8020/corpus/a.txt"
        )
    # file:// is the local scheme — accepted and stripped
    p = tmp_path / "c.txt"
    p.write_text("alpha beta gamma")
    rows = IO.read_text_chunks_space_aligned(
        spark, f"file://{p}"
    ).collect()
    assert "".join(r.text for r in rows).split() == [
        "alpha",
        "beta",
        "gamma",
    ]


def test_read_published_rejects_uncommitted_version(spark, tmp_path):
    """The per-version manifest is written AFTER the live-pointer
    commit; read_published must (a) refuse versions beyond the live
    pointer and (b) serve the live version from the live manifest
    even when its per-version manifest is missing (publisher crashed
    in the gap)."""
    import os

    from distributed_mapreduce_p2p_spark.sources import io as IO

    root = str(tmp_path / "tbl")
    IO.publish_atomic(spark.range(50).withColumnRenamed("id", "k"), root)
    # (a) a version beyond the live pointer is unreadable even if a
    # stray per-version manifest exists
    import json

    stray = dict(IO.read_manifest(root), version=9, dir="v=9")
    with open(os.path.join(root, "_MANIFEST.v9.json"), "w") as fh:
        json.dump(stray, fh)
    with pytest.raises(FileNotFoundError, match="never committed live"):
        IO.read_published(spark, root, version=9)
    # (b) crash in the gap: live manifest committed, per-version
    # manifest lost -> the live version still time-travels
    os.remove(os.path.join(root, "_MANIFEST.v1.json"))
    assert IO.read_published(spark, root, version=1).count() == 50


# ----------------------------------------------------------- profiling


def test_profile_handles_backslash_and_quote_columns(spark):
    """Column names containing backslashes and quotes profile
    correctly — the stack() label literal escapes backslashes BEFORE
    quotes (r5 advice)."""
    from distributed_mapreduce_p2p_spark.operators.profiling import profile

    df = spark.createDataFrame(
        [(1, "a"), (2, None)], ["end\\", "it's"]
    )
    got = {r.col: (r.n_nulls, r.n_distinct) for r in profile(df).collect()}
    assert got == {"end\\": (0, 2), "it's": (1, 1)}


# ------------------------------------------------------------- CDC sink


def test_cdc_sink_conflicting_batch_raises(spark, tmp_path):
    """A micro-batch carrying two DIFFERENT ops for one key without a
    seq column must raise (nondeterministic keep-last is a silent
    corruption); exact duplicate rows (at-least-once replay) are
    still collapsed silently."""
    from distributed_mapreduce_p2p_spark.streaming.replication import (
        CdcParquetSink,
    )

    sink = CdcParquetSink(str(tmp_path / "sink"), key="k")
    dup = spark.createDataFrame(
        [(1, "U", 10), (1, "U", 10), (2, "U", 20)], "k long, op string, v long"
    )
    sink.apply_cdc_batch(dup, 0)
    got = {r.k: r.v for r in sink.read(spark).collect()}
    assert got == {1: 10, 2: 20}

    conflict = spark.createDataFrame(
        [(1, "U", 11), (1, "D", 11)], "k long, op string, v long"
    )
    with pytest.raises(ValueError, match="seq"):
        sink.apply_cdc_batch(conflict, 1)


def test_cdc_sink_seq_keep_last(spark, tmp_path):
    """With a seq ordering column, keep-last per key is by seq (the
    Debezium/LSN pattern): U then D in one batch deletes; D then U
    upserts."""
    from distributed_mapreduce_p2p_spark.streaming.replication import (
        CdcParquetSink,
    )

    sink = CdcParquetSink(str(tmp_path / "sink"), key="k")
    batch = spark.createDataFrame(
        [
            (1, "U", 10, 1),
            (1, "D", 10, 2),  # U then D -> key 1 deleted
            (2, "D", 0, 1),
            (2, "U", 22, 2),  # D then U -> key 2 = 22
            (3, "U", 33, 1),
        ],
        "k long, op string, v long, seq long",
    )
    sink.apply_cdc_batch(batch, 0)
    got = {r.k: r.v for r in sink.read(spark).collect()}
    assert got == {2: 22, 3: 33}


# ----------------------------------------------------- r6 new queries


def _q(spark, name):
    from distributed_mapreduce_p2p_spark import registry
    from tests.conftest import SF_SMALL

    return registry.QUERIES[name](spark, SF_SMALL)


def _docs(spark):
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    return read_table(spark, SF_SMALL, "documents")


def test_q11_threshold_recompute(spark):
    """Every returned part's exact-cents value exceeds 2x the mean
    share of the SAME value table, recomputed row-by-row in Python."""
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL
    from decimal import Decimal

    li = read_table(spark, SF_SMALL, "lineitem").collect()
    sup = {
        r.s_suppkey: r.s_nationkey
        for r in read_table(spark, SF_SMALL, "supplier").collect()
    }
    nat = {
        r.n_nationkey
        for r in read_table(spark, SF_SMALL, "nation").collect()
        if r.n_name in ("NATION_3", "NATION_7", "NATION_11")
    }
    val: dict[int, int] = {}
    for r in li:
        if sup.get(r.l_suppkey) in nat:
            cents = int(
                Decimal(str(r.l_extendedprice)).quantize(Decimal("0.01"))
                * 100
            ) * int(r.l_quantity)
            val[r.l_partkey] = val.get(r.l_partkey, 0) + cents
    total, n = sum(val.values()), len(val)
    expect = {
        (p, v / 100.0) for p, v in val.items() if v * n > 2 * total
    }
    got = {
        (r.p_partkey, r.part_value)
        for r in _q(spark, "tpch_q11_important_parts").collect()
    }
    assert got == expect


def test_q20_semi_join_no_duplication(spark):
    """Each qualifying supplier appears exactly once, and every one
    really shipped >60 units of an '%ol%' part in 1995."""
    rows = _q(spark, "tpch_q20_part_promotion").collect()
    keys = [r.s_suppkey for r in rows]
    assert len(keys) == len(set(keys)), "semi join must not duplicate"
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    li = read_table(spark, SF_SMALL, "lineitem").collect()
    parts = {
        r.p_partkey
        for r in read_table(spark, SF_SMALL, "part").collect()
        if "ol" in r.p_name
    }
    qty: dict[tuple, int] = {}
    for r in li:
        if r.l_shipdate.year == 1995 and r.l_partkey in parts:
            k = (r.l_suppkey, r.l_partkey)
            qty[k] = qty.get(k, 0) + int(r.l_quantity)
    expect = {sk for (sk, pk), q in qty.items() if q > 60}
    assert set(keys) == expect


def test_cusum_prefix_recompute(spark):
    """cusum_num is the exact integer prefix sum of c*N - T in day
    order, and the final prefix is zero by construction."""
    rows = sorted(
        _q(spark, "cusum_changepoint").collect(), key=lambda r: r.day_num
    )
    t = sum(r.n_orders for r in rows)
    nd = len(rows)
    acc = 0
    for r in rows:
        acc += r.n_orders * nd - t
        assert r.cusum_num == acc
    assert rows[-1].cusum_num == 0


def test_pareto_quadratic_differential(spark):
    """The O(n log n) skyline equals the quadratic dominance scan
    over the same per-(year, day) aggregate."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    daily = defaultdict(lambda: [0, 0])
    for r in read_table(spark, SF_SMALL, "orders").select(
        F.year("o_orderdate").alias("y"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01")
        ).alias("d"),
        F.expr(
            "cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)"
        ).alias("rc"),
    ).collect():
        cell = daily[(r.y, r.d)]
        cell[0] += 1
        cell[1] += r.rc
    frontier = set()
    for (y, d), (n, rc) in daily.items():
        dominated = any(
            yy == y
            and nn >= n
            and rr >= rc
            and (nn > n or rr > rc)
            for (yy, dd), (nn, rr) in daily.items()
        )
        if not dominated:
            frontier.add((y, d, n, rc))
    got = {
        (r.o_year, r.day_num, r.n_orders, r.revenue_cents)
        for r in _q(spark, "pareto_frontier_daily").collect()
    }
    assert got == frontier


def test_key_skew_counter_recompute(spark):
    from collections import Counter

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    counts = Counter(
        r.o_custkey
        for r in read_table(spark, SF_SMALL, "orders").collect()
    )
    n = sum(counts.values())
    expect = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    rows = sorted(_q(spark, "key_skew_report").collect(), key=lambda r: r.rank)
    assert [(r.custkey, r.cnt) for r in rows] == expect
    for r in rows:
        assert r.share_ppm == r.cnt * 1_000_000 // n


def test_char_class_python_recompute(spark):
    import re
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0, 0, 0])
    for r in _docs(spark).collect():
        a = agg[r.source]
        a[0] += len(re.sub(r"[^A-Za-z]", "", r.text))
        a[1] += len(re.sub(r"[^0-9]", "", r.text))
        a[2] += r.text.count(" ")
        a[3] += len(r.text)
    got = {
        r.source: (r.n_alpha, r.n_digit, r.n_space, r.n_chars)
        for r in _q(spark, "char_class_stats").collect()
    }
    assert got == {s: tuple(v) for s, v in agg.items()}


def test_fm_set_ops_union_is_cellwise_max(spark):
    """sum_tz_union must equal the sum over buckets of
    max(a_tz, b_tz) — the mergeability property — and each pair's
    union sum dominates both sides' sums restricted to shared cells."""
    rows = _q(spark, "fm_sketch_set_ops").collect()
    assert len(rows) == 10  # 20 sources -> 10 consecutive pairs
    for r in rows:
        assert r.sum_tz_union >= max(
            r.sum_tz_a or 0, r.sum_tz_b or 0
        ) - 64 * 64  # per-cell max dominates each side where present
        assert r.n_cells <= 64


def test_source_ngram_novelty_set_differential(spark):
    """n_novel equals the pure-Python first-seen attribution over
    the same 3-gram sets."""
    from collections import defaultdict

    grams = defaultdict(set)
    for r in _docs(spark).collect():
        w = r.text.split(" ")
        for i in range(len(w) - 2):
            grams[r.source].add((w[i], w[i + 1], w[i + 2]))
    first: dict[tuple, str] = {}
    for src in sorted(grams):
        for g in grams[src]:
            if g not in first:
                first[g] = src
    got = {
        r.source: (r.n_grams, r.n_novel)
        for r in _q(spark, "source_ngram_novelty").collect()
    }
    expect = {
        s: (
            len(gs),
            sum(1 for g in gs if first[g] == s),
        )
        for s, gs in grams.items()
    }
    assert got == expect


# ------------------------------------------------- r6 batch 2 queries


def test_sssp_costs_match_python_dijkstra(spark):
    """trade_graph_shortest_cost equals a driver-side Dijkstra over
    the SAME weighted edge list (und volumes collected, dense ranks
    recomputed in Python) — validates the distributed Bellman-Ford
    fixpoint independently of the oracle's recursive CTE."""
    import heapq

    from distributed_mapreduce_p2p_spark import registry
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    und = registry._trade_und(spark, SF_SMALL).collect()
    vols = sorted({r.vol for r in und}, reverse=True)
    rank = {v: i + 1 for i, v in enumerate(vols)}
    adj: dict[int, list] = {}
    for r in und:
        w = rank[r.vol]
        adj.setdefault(r.a, []).append((r.b, w))
        adj.setdefault(r.b, []).append((r.a, w))
    src = min(r.a for r in und)
    dist = {src: 0}
    pq = [(0, src)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, 1 << 60):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, 1 << 60):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    nations = [
        r.n_nationkey
        for r in read_table(spark, SF_SMALL, "nation").collect()
    ]
    expect = {n: dist.get(n, -1) for n in nations}
    got = {
        r.n_nationkey: r.cost
        for r in _q(spark, "trade_graph_shortest_cost").collect()
    }
    assert got == expect
    assert got[src] == 0


def test_ks_statistic_python_recompute(spark):
    """Every pair's ks_num equals the max cross-multiplied ECDF gap
    recomputed from raw n_chars lists in Python."""
    docs = _docs(spark).select("source", "n_chars").collect()
    by_src: dict[str, list] = {}
    for r in docs:
        by_src.setdefault(r.source, []).append(r.n_chars)
    got = {
        (r.sa, r.sb): (r.na, r.nb, r.ks_num)
        for r in _q(spark, "ks_statistic_sources").collect()
    }
    srcs = sorted(by_src)
    assert set(got) == {
        (a, b) for i, a in enumerate(srcs) for b in srcs[i + 1 :]
    }
    for (sa, sb), (na, nb, ks_num) in got.items():
        xa, xb = sorted(by_src[sa]), sorted(by_src[sb])
        assert (na, nb) == (len(xa), len(xb))
        xs = sorted(set(xa) | set(xb))
        best = 0
        for x in xs:
            fa = sum(1 for v in xa if v <= x)
            fb = sum(1 for v in xb if v <= x)
            best = max(best, abs(fa * nb - fb * na))
        assert ks_num == best


def test_gini_python_recompute(spark):
    """gini_num per nation equals the sorted-rank identity computed
    in Python from exact cents, including zero-order customers."""
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cust = read_table(spark, SF_SMALL, "customer").collect()
    orders = read_table(spark, SF_SMALL, "orders").collect()
    cents_by_cust: dict[int, int] = {c.c_custkey: 0 for c in cust}
    for o in orders:
        c = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
        cents_by_cust[o.o_custkey] += c
    by_nation: dict[int, list] = {}
    for c in cust:
        by_nation.setdefault(c.c_nationkey, []).append(
            cents_by_cust[c.c_custkey]
        )
    got = {
        r.c_nationkey: (r.n_cust, r.total_cents, r.gini_num)
        for r in _q(spark, "revenue_gini_by_nation").collect()
    }
    for nk, xs in by_nation.items():
        xs.sort()
        n = len(xs)
        num = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs))
        assert got[nk] == (n, sum(xs), num)


def test_chi2_cells_python_recompute(spark):
    """dev_num is exactly obs*N - row*col for every cell, and the
    cells tile the contingency table (margins add back to N)."""
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    orders = read_table(spark, SF_SMALL, "orders").collect()
    cells: dict[tuple, int] = {}
    for o in orders:
        k = (o.o_orderpriority, o.o_orderstatus)
        cells[k] = cells.get(k, 0) + 1
    n = len(orders)
    rows = _q(spark, "chi2_priority_status").collect()
    assert {(r.o_orderpriority, r.o_orderstatus) for r in rows} == set(
        cells
    )
    assert sum(r.obs for r in rows) == n
    for r in rows:
        rm = sum(
            v for (p, _), v in cells.items() if p == r.o_orderpriority
        )
        cm = sum(
            v for (_, s), v in cells.items() if s == r.o_orderstatus
        )
        obs = cells[(r.o_orderpriority, r.o_orderstatus)]
        assert r.obs == obs
        assert r.dev_num == obs * n - rm * cm
        assert r.chi2_cell == pytest.approx(
            float(obs * n - rm * cm) ** 2 / n / rm / cm
        )


def test_zorder_buckets_python_recompute(spark):
    """Bucket stats equal a Python bit-interleave over every lineitem
    row, and z-order delivers 2-D locality: every bucket's part-key
    envelope spans at most half the global key range (a single-column
    sort cannot bound the secondary dimension at all)."""
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    def zval(p, s):
        z = 0
        for i in range(20):
            z |= ((p >> i) & 1) << (2 * i)
            z |= ((s >> i) & 1) << (2 * i + 1)
        return z

    li = read_table(spark, SF_SMALL, "lineitem").select(
        "l_partkey", "l_suppkey"
    ).collect()
    zs = [(zval(r.l_partkey, r.l_suppkey), r.l_partkey, r.l_suppkey) for r in li]
    bw = max(z for z, _, _ in zs) // 64 + 1
    agg: dict[int, list] = {}
    for z, p, s in zs:
        b = agg.setdefault(z // bw, [0, 1 << 60, 0, 1 << 60, 0])
        b[0] += 1
        b[1], b[2] = min(b[1], p), max(b[2], p)
        b[3], b[4] = min(b[3], s), max(b[4], s)
    got = {
        r.bucket: [r.n_rows, r.p_min, r.p_max, r.s_min, r.s_max]
        for r in _q(spark, "zorder_layout_stats").collect()
    }
    assert got == agg
    p_range = max(p for _, p, _ in zs) - min(p for _, p, _ in zs)
    assert all(
        (b[2] - b[1]) <= p_range // 2 + 1 for b in got.values()
    ), "z-order buckets must bound the part-key envelope"


def test_gopher_flags_python_recompute(spark):
    """Per-source pass counts equal a Python re-implementation of the
    cross-multiplied Gopher rules on the raw text."""
    import re as _re

    docs = _docs(spark).select("source", "text").collect()
    agg: dict[str, list] = {}
    for r in docs:
        t = r.text
        words = [w for w in _re.split(r"\s+", t) if w != ""]
        nw = len(words)
        aw = sum(1 for w in words if _re.search("[A-Za-z]", w))
        alpha = len(_re.sub("[^A-Za-z]", "", t))
        sym = len(_re.sub(r"[A-Za-z0-9\s]", "", t))
        nchars = len(t)
        r_wc = 50 <= nw <= 100000
        r_mwl = 3 * nw <= alpha <= 10 * nw
        r_sym = 10 * sym <= nchars
        r_alpha = 5 * aw >= 4 * nw
        a = agg.setdefault(r.source, [0, 0, 0, 0, 0, 0])
        a[0] += 1
        a[1] += r_wc
        a[2] += r_mwl
        a[3] += r_sym
        a[4] += r_alpha
        a[5] += r_wc and r_mwl and r_sym and r_alpha
    got = {
        r.source: [
            r.n_docs, r.pass_wc, r.pass_mwl,
            r.pass_sym, r.pass_alpha, r.pass_all,
        ]
        for r in _q(spark, "gopher_quality_flags").collect()
    }
    assert got == agg


# ------------------------------------------- r6 batch 3: analytics


def test_mode_by_group_python_recompute(spark):
    """Modal priority per nation equals a Python argmax with the
    (count desc, priority asc) tie-break over the raw join."""
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cust = {
        c.c_custkey: c.c_nationkey
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    nname = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    cnt: dict[tuple, int] = {}
    for o in read_table(spark, SF_SMALL, "orders").collect():
        k = (nname[cust[o.o_custkey]], o.o_orderpriority)
        cnt[k] = cnt.get(k, 0) + 1
    want = {}
    for (nn, pr), c in cnt.items():
        cur = want.get(nn)
        if cur is None or (-c, pr) < (-cur[1], cur[0]):
            want[nn] = (pr, c)
    got = {
        r.n_name: (r.modal_priority, r.n_orders)
        for r in _q(spark, "mode_by_group").collect()
    }
    assert got == want


def test_fk_integrity_audit_counts(spark):
    """Child cardinalities match raw table counts and the synthetic
    star schema is orphan-free on every relationship."""
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    rows = {r.rel: r for r in _q(spark, "fk_integrity_audit").collect()}
    assert set(rows) == {
        "orders->customer", "lineitem->orders", "lineitem->part",
        "lineitem->supplier", "customer->nation", "supplier->nation",
        "nation->region",
    }
    for rel, child in [
        ("orders->customer", "orders"),
        ("lineitem->orders", "lineitem"),
        ("customer->nation", "customer"),
        ("nation->region", "nation"),
    ]:
        assert (
            rows[rel].n_child
            == read_table(spark, SF_SMALL, child).count()
        )
    assert all(r.n_orphan == 0 for r in rows.values())


def test_fk_integrity_audit_detects_orphans(spark, tmp_path):
    """Deleting half the parents makes the audit report exactly the
    children whose FK landed in the deleted half (injected-fault
    check: the query's null-count path, not just the happy path)."""
    import shutil

    from distributed_mapreduce_p2p_spark import registry
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMALL, sf)
    cust = read_table(spark, SF_SMALL, "customer")
    kept = cust.where("c_custkey % 2 = 0")
    kept.write.mode("overwrite").parquet(f"{sf}/customer.parquet")
    orders = read_table(spark, SF_SMALL, "orders").collect()
    want_orphans = sum(1 for o in orders if o.o_custkey % 2 == 1)
    rows = {
        r.rel: r
        for r in registry.QUERIES["fk_integrity_audit"](
            spark, sf
        ).collect()
    }
    assert rows["orders->customer"].n_orphan == want_orphans
    assert rows["orders->customer"].n_child == len(orders)


def test_bitmap_overlap_python_recompute(spark):
    """Popcount-of-AND over 63-bit blocks equals the exact distinct
    set intersection per event-type pair."""
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    users: dict[str, set] = {}
    for e in read_table(spark, SF_SMALL, "events").collect():
        users.setdefault(e.event_type, set()).add(e.user_id)
    got = {
        (r.type_a, r.type_b): r.n_common_users
        for r in _q(spark, "bitmap_segment_overlap").collect()
    }
    types = sorted(users)
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            inter = len(users[a] & users[b])
            if inter or (a, b) in got:
                assert got[(a, b)] == inter


def test_lorenz_deciles_partition_and_monotone(spark):
    """Per region: deciles tile the positive-balance customers with
    NTILE's size contract (sizes differ by at most 1, larger deciles
    first), shares sum to 1, and decile sums are nondecreasing in
    decile index (sorted ascending by balance)."""
    from collections import defaultdict

    rows = _q(spark, "lorenz_decile_shares").collect()
    by_r = defaultdict(list)
    for r in rows:
        by_r[r.r_name].append(r)
    for rs in by_r.values():
        rs.sort(key=lambda r: r.decile)
        assert [r.decile for r in rs] == list(range(1, len(rs) + 1))
        sizes = [r.n_cust for r in rs]
        assert max(sizes) - min(sizes) <= 1
        assert sizes == sorted(sizes, reverse=True)
        assert sum(r.share for r in rs) == pytest.approx(1.0)
        cents = [r.dec_cents / r.n_cust for r in rs]
        assert cents == sorted(cents)


def test_ewma_dyadic_python_recompute(spark):
    """num/den equal the dyadic-weight recurrence computed in Python
    from the exact per-day cents, and ewma is exactly the same two
    IEEE divisions."""
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cust = {
        c.c_custkey: c.c_nationkey
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    nname = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    series: dict[tuple, int] = {}
    for o in read_table(spark, SF_SMALL, "orders").collect():
        k = (nname[cust[o.o_custkey]], o.o_orderdate.date())
        c = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
        series[k] = series.get(k, 0) + c
    rows = _q(spark, "ewma_dyadic").collect()
    assert len(rows) == len(series)
    import datetime

    for r in rows[:200]:
        d = datetime.date.fromisoformat(r.day)
        num = den = 0
        for j in range(16):
            v = series.get((r.n_name, d - datetime.timedelta(days=j)))
            if v is not None:
                num += v << (15 - j)
                den += 1 << (15 - j)
        assert (r.num, r.den) == (num, den)
        assert r.ewma == float(num) / float(den) / 100.0


def test_simpson_diversity_python_recompute(spark):
    """rep_pairs/N/types equal a Python token count; index bounds."""
    import re

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cnt: dict[str, dict] = {}
    for d in read_table(spark, SF_SMALL, "documents").collect():
        m = cnt.setdefault(d.source, {})
        for w in re.split(r"[^a-z0-9]+", d.text.lower()):
            if w:
                m[w] = m.get(w, 0) + 1
    for r in _q(spark, "simpson_diversity").collect():
        m = cnt[r.source]
        n = sum(m.values())
        rep = sum(c * (c - 1) for c in m.values())
        assert (r.n_tokens, r.n_types, r.rep_pairs) == (n, len(m), rep)
        assert 0.0 <= r.gini_simpson <= 1.0
        assert r.gini_simpson == 1.0 - float(rep) / (
            float(n) * float(n - 1)
        )


def test_theil_sen_python_recompute(spark):
    """Per-nation slope equals the lower median of all pairwise
    weekly slopes computed in Python (robustness: recompute agrees
    even though the pair space is quadratic in weeks)."""
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    import datetime

    epoch = datetime.date(1995, 1, 1)
    cust = {
        c.c_custkey: c.c_nationkey
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    nname = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    wk: dict[tuple, int] = {}
    for o in read_table(spark, SF_SMALL, "orders").collect():
        w = (o.o_orderdate.date() - epoch).days // 7
        k = (nname[cust[o.o_custkey]], w)
        c = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
        wk[k] = wk.get(k, 0) + c
    by_n: dict[str, list] = {}
    for (nn, w), c in wk.items():
        by_n.setdefault(nn, []).append((w, c))
    got = {
        r.n_name: (r.n_pairs, r.sen_slope_cents_per_week)
        for r in _q(spark, "theil_sen_slope").collect()
    }
    for nn, pts in by_n.items():
        slopes = sorted(
            float(c2 - c1) / float(w2 - w1)
            for i, (w1, c1) in enumerate(pts)
            for (w2, c2) in pts
            if w2 > w1
        )
        assert got[nn] == (
            len(slopes),
            slopes[(len(slopes) + 1) // 2 - 1],
        )


# ---------------------------------------------- r6 batch 4


def test_share_of_parent_sums(spark):
    """Leaf shares sum to 1 within each region, region shares sum to
    1 overall, and cents roll up exactly level to level."""
    from collections import defaultdict

    rows = _q(spark, "share_of_parent").collect()
    by_r = defaultdict(list)
    for r in rows:
        by_r[r.r_name].append(r)
    total = sum({r.r_name: r.region_cents for r in rows}.values())
    for rs in by_r.values():
        assert sum(r.nation_cents for r in rs) == rs[0].region_cents
        assert sum(r.share_in_region for r in rs) == pytest.approx(1.0)
        assert rs[0].region_share_of_total == pytest.approx(
            rs[0].region_cents / total
        )


def test_abc_classification_python_recompute(spark):
    """Class boundaries equal the Python cumulative-share rule on the
    exact cents, and A|B|C partition the parts in rank order."""
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cents: dict[int, int] = {}
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        c = int(
            Decimal(str(li.l_extendedprice)).quantize(Decimal("0.01"))
            * 100
        )
        cents[li.l_partkey] = cents.get(li.l_partkey, 0) + c
    order = sorted(cents, key=lambda k: (-cents[k], k))
    tot = sum(cents.values())
    cum = 0
    want = {}
    for k in order:
        cum += cents[k]
        want[k] = (
            cents[k],
            cum,
            "A" if cum * 100 <= tot * 80
            else ("B" if cum * 100 <= tot * 95 else "C"),
        )
    got = {
        r.l_partkey: (r.cents, r.cum_cents, r.abc_class)
        for r in _q(spark, "abc_classification").collect()
    }
    assert got == want
    assert {v[2] for v in got.values()} == {"A", "B", "C"}


def test_order_gap_python_recompute(spark):
    """Gap count/sum/median per nation equal a Python lag pass with
    the same (date, orderkey) tie-break."""
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cust = {
        c.c_custkey: c.c_nationkey
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    nname = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    by_c: dict[int, list] = {}
    for o in read_table(spark, SF_SMALL, "orders").collect():
        by_c.setdefault(o.o_custkey, []).append(
            (o.o_orderdate.date(), o.o_orderkey)
        )
    gaps: dict[str, list] = {}
    for ck, ds in by_c.items():
        ds.sort()
        for (d1, _), (d2, _) in zip(ds, ds[1:]):
            gaps.setdefault(nname[cust[ck]], []).append((d2 - d1).days)
    got = {
        r.n_name: (r.n_gaps, r.sum_gap_days, r.median_gap_days)
        for r in _q(spark, "order_gap_stats").collect()
    }
    for nn, g in gaps.items():
        g.sort()
        assert got[nn] == (len(g), sum(g), g[(len(g) + 1) // 2 - 1])


def test_max_concurrency_python_sweep(spark):
    """Peak concurrency equals a Python sweep over [ts, ts+1h) with
    end-before-start tie ordering."""
    import datetime

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    pts: dict[str, list] = {}
    for e in read_table(spark, SF_SMALL, "events").collect():
        pts.setdefault(e.event_type, []).append((e.ts, 1))
        pts.setdefault(e.event_type, []).append(
            (e.ts + datetime.timedelta(hours=1), -1)
        )
    got = {
        r.event_type: (r.max_concurrent, r.n_events)
        for r in _q(spark, "max_concurrency").collect()
    }
    for t, ps in pts.items():
        ps.sort()
        cur = mx = 0
        for _, d in ps:
            cur += d
            mx = max(mx, cur)
        assert got[t] == (mx, len(ps) // 2)


def test_kmv_estimate_quality_and_exactness(spark):
    """kth_min_hash is exactly the 64th smallest distinct hash
    (Python recompute with the same md5 prefix) and the estimate
    lands within 50% of the true distinct count (k=64 gives
    ~1/sqrt(62) ≈ 13% expected relative error)."""
    import hashlib

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    sup = {
        s.s_suppkey: s.s_nationkey
        for s in read_table(spark, SF_SMALL, "supplier").collect()
    }
    nname = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    orders: dict[str, set] = {}
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        orders.setdefault(nname[sup[li.l_suppkey]], set()).add(
            li.l_orderkey
        )
    rows = _q(spark, "kmv_distinct_estimate").collect()
    for r in rows:
        hs = sorted(
            {
                int(
                    hashlib.md5(str(ok).encode()).hexdigest()[:12], 16
                )
                for ok in orders[r.n_name]
            }
        )
        assert r.kth_min_hash == hs[63]
        true = len(orders[r.n_name])
        assert abs(r.kmv_estimate - true) / true < 0.5


def test_assortativity_python_recompute(spark):
    """Moments equal a Python recompute over the directed edge list
    derived with the same above-mean rule."""
    row = _q(spark, "graph_degree_assortativity").collect()[0]
    from distributed_mapreduce_p2p_spark import registry
    from tests.conftest import SF_SMALL

    und = [
        (r.a, r.b)
        for r in registry._trade_edges(spark, SF_SMALL).collect()
    ]
    edges = und + [(b, a) for a, b in und]
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    n_e = len(edges)
    sx = sum(deg[s] for s, _ in edges)
    sxx = sum(deg[s] ** 2 for s, _ in edges)
    sxy = sum(deg[s] * deg[d] for s, d in edges)
    assert (row.n_e, row.sx, row.sxx, row.sxy) == (n_e, sx, sxx, sxy)
    assert row.slope_num == n_e * sxy - sx * sx
    assert row.slope_den == n_e * sxx - sx * sx
    assert row.assortativity_slope == float(row.slope_num) / float(
        row.slope_den
    )


# ---------------------------------------------- r6 batch 5


def test_last_touch_python_recompute(spark):
    """Attribution equals a Python timeline replay per user: latest
    prior click, 7-day lookback, exact microsecond gap."""
    import datetime

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    ev: dict[int, list] = {}
    for e in read_table(spark, SF_SMALL, "events").collect():
        if e.event_type in ("click", "purchase"):
            ev.setdefault(e.user_id, []).append(
                (e.ts, e.event_id, e.event_type)
            )
    want = {}
    for uid, es in ev.items():
        es.sort()
        last_click = None
        for ts, eid, et in es:
            if et == "purchase":
                if last_click and last_click[0] >= ts - datetime.timedelta(
                    days=7
                ):
                    gap = int(
                        (ts - last_click[0]) / datetime.timedelta(
                            microseconds=1
                        )
                    )
                    want[eid] = (uid, last_click[1], gap)
                else:
                    want[eid] = (uid, None, None)
            else:
                last_click = (ts, eid)
    got = {
        r.purchase_id: (r.user_id, r.attributed_click_id, r.gap_us)
        for r in _q(spark, "last_touch_attribution").collect()
    }
    assert got == want
    # the fixture must exercise BOTH branches or the test is vacuous
    assert any(v[1] is not None for v in got.values())
    assert any(v[1] is None for v in got.values())


def test_ship_latency_python_recompute(spark):
    """p50/p90 equal rank-element picks over Python-sorted delays."""
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    od = {
        o.o_orderkey: o.o_orderdate.date()
        for o in read_table(spark, SF_SMALL, "orders").collect()
    }
    by_m: dict[str, list] = {}
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        d = od[li.l_orderkey]
        by_m.setdefault(d.strftime("%Y-%m"), []).append(
            (li.l_shipdate.date() - d).days
        )
    got = {
        r.ym: (r.n_lineitems, r.p50_days, r.p90_days)
        for r in _q(spark, "ship_latency_quantiles").collect()
    }
    for ym, ds in by_m.items():
        ds.sort()
        n = len(ds)
        assert got[ym] == (
            n,
            ds[(n + 1) // 2 - 1],
            ds[(9 * n + 9) // 10 - 1],
        )


def test_cohort_ltv_python_recompute(spark):
    """Cohort cells, cumulative cents, and the cohort-size-normalized
    LTV equal a Python replay; the LTV curve is monotone per cohort."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    orders = read_table(spark, SF_SMALL, "orders").collect()
    first: dict[int, object] = {}
    for o in orders:
        d = o.o_orderdate.date()
        if o.o_custkey not in first or d < first[o.o_custkey]:
            first[o.o_custkey] = d
    size = defaultdict(int)
    for fd in first.values():
        size[fd.strftime("%Y-%m")] += 1
    cells = defaultdict(lambda: [0, set()])
    for o in orders:
        fd = first[o.o_custkey]
        d = o.o_orderdate.date()
        off = (d.year * 12 + d.month) - (fd.year * 12 + fd.month)
        c = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
        cell = cells[(fd.strftime("%Y-%m"), off)]
        cell[0] += c
        cell[1].add(o.o_custkey)
    rows = _q(spark, "cohort_ltv_curve").collect()
    assert len(rows) == len(cells)
    by_cohort = defaultdict(list)
    for r in rows:
        by_cohort[r.cohort].append(r)
        cents, active = cells[(r.cohort, r.offset_m)]
        assert (r.cents, r.active_customers) == (cents, len(active))
        assert r.cohort_size == size[r.cohort]
    for rs in by_cohort.values():
        rs.sort(key=lambda r: r.offset_m)
        cum = 0
        prev_ltv = 0.0
        for r in rs:
            cum += r.cents
            assert r.cum_cents == cum
            assert r.ltv_per_customer >= prev_ltv
            prev_ltv = r.ltv_per_customer


# ---------------------------------------------- r6 batch 6


def test_benford_python_recompute(spark):
    """Digit counts and trunc-ppm shares equal a Python recompute;
    per-nation digit counts tile the total."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cust = {
        c.c_custkey: c.c_nationkey
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    nname = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    cnt = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        cents = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
        cnt[(nname[cust[o.o_custkey]], int(str(cents)[0]))] += 1
    rows = _q(spark, "benford_first_digit").collect()
    got = {(r.n_name, r.digit): r for r in rows}
    assert set(got) == set(cnt)
    for k, c in cnt.items():
        r = got[k]
        assert r.n == c
        assert r.share_ppm == c * 1000000 // r.total
        assert r.deviation_ppm == r.share_ppm - r.expected_ppm
    for nn in {k[0] for k in cnt}:
        assert sum(r.n for r in rows if r.n_name == nn) == next(
            r.total for r in rows if r.n_name == nn
        )


def test_mann_whitney_python_recompute(spark):
    """two_u1 equals scipy-free midrank arithmetic done in Python on
    exact cents, and the U1+U2 identity holds."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cust = {
        c.c_custkey: c.c_nationkey
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    nname = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    vals = defaultdict(list)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        if o.o_orderpriority in ("1-URGENT", "5-LOW"):
            cents = int(
                Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
                * 100
            )
            vals[nname[cust[o.o_custkey]]].append(
                (cents, o.o_orderpriority == "1-URGENT")
            )
    got = {
        r.n_name: r for r in _q(spark, "mann_whitney_u").collect()
    }
    for nn, vs in vals.items():
        vs.sort()
        # doubled midranks: 2*rank_avg(v) = 2*lt + ct + 1
        from collections import Counter

        ctr = Counter(v for v, _ in vs)
        lt = {}
        run = 0
        for v in sorted(ctr):
            lt[v] = run
            run += ctr[v]
        two_r1 = sum(
            2 * lt[v] + ctr[v] + 1 for v, is1 in vs if is1
        )
        n1 = sum(1 for _, is1 in vs if is1)
        n2 = len(vs) - n1
        r = got[nn]
        assert (r.n1, r.n2) == (n1, n2)
        assert r.two_u1 == two_r1 - n1 * (n1 + 1)
        assert r.two_u1 + r.two_u2 == 2 * n1 * n2
        assert r.u1_share == float(r.two_u1) / float(2 * n1 * n2)


def test_runs_test_python_recompute(spark):
    """Run counts equal a Python replay of the sign sequence around
    the lower-median day."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cust = {
        c.c_custkey: c.c_nationkey
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    nname = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    series = defaultdict(dict)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        d = o.o_orderdate.date()
        c = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
        m = series[nname[cust[o.o_custkey]]]
        m[d] = m.get(d, 0) + c
    got = {
        r.n_name: r
        for r in _q(spark, "runs_test_randomness").collect()
    }
    for nn, m in series.items():
        cs = sorted(m.values())
        med = cs[(len(cs) + 1) // 2 - 1]
        signs = [1 if m[d] > med else 0 for d in sorted(m)]
        runs = 1 + sum(
            1 for a, b in zip(signs, signs[1:]) if a != b
        )
        n1 = sum(signs)
        n0 = len(signs) - n1
        r = got[nn]
        assert (r.n_runs, r.n_above, r.n_below) == (runs, n1, n0)
        assert r.expected_runs == 1.0 + float(2 * n1 * n0) / float(
            len(signs)
        )


def test_target_encoding_python_recompute(spark):
    """Smoothed means equal the m-estimate formula on exact cents,
    and shrinkage is toward the global mean (encoder between the
    category mean and the global mean)."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cells = defaultdict(lambda: [0, 0])
    gs = gn = 0
    for o in read_table(spark, SF_SMALL, "orders").collect():
        c = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
        cell = cells[o.o_orderpriority]
        cell[0] += c
        cell[1] += 1
        gs += c
        gn += 1
    rows = _q(spark, "target_encoding").collect()
    assert len(rows) == len(cells)
    for r in rows:
        s, n = cells[r.o_orderpriority]
        assert (r.s, r.n, r.gs, r.gn) == (s, n, gs, gn)
        assert r.smoothed_mean == float(s * gn + 10 * gs) / float(
            (n + 10) * gn
        ) / 100.0
        lo, hi = sorted([s / n, gs / gn])
        assert lo / 100.0 - 1e-9 <= r.smoothed_mean <= hi / 100.0 + 1e-9


# ---------------------------------------------- r6 batch 7


def test_weekday_seasonality_python_recompute(spark):
    """Cells equal a Python replay with the arithmetic (epoch % 7)
    weekday; per-nation indexes day-weight to ~1."""
    import datetime
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    epoch = datetime.date(1995, 1, 1)
    cust = {
        c.c_custkey: c.c_nationkey
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    nname = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    cents = defaultdict(int)
    days = defaultdict(set)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        d = o.o_orderdate.date()
        k = (nname[cust[o.o_custkey]], (d - epoch).days % 7)
        cents[k] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
        days[k].add(d)
    rows = _q(spark, "weekday_seasonality").collect()
    assert len(rows) == len(cents)
    for r in rows:
        k = (r.n_name, r.dow)
        assert (r.dow_cents, r.n_days) == (cents[k], len(days[k]))
        assert r.seasonality_index == (
            r.dow_cents / r.total_cents
        ) * (r.total_days / r.n_days)
    # day-weighted mean of the index is exactly 1 per nation
    from collections import defaultdict as dd2

    by_n = dd2(list)
    for r in rows:
        by_n[r.n_name].append(r)
    for rs in by_n.values():
        tot_d = rs[0].total_days
        assert sum(
            r.seasonality_index * r.n_days / tot_d for r in rs
        ) == pytest.approx(1.0)


def test_elasticity_python_recompute(spark):
    """Moments per brand equal a Python pass over the joined fact."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    brand = {
        p.p_partkey: p.p_brand
        for p in read_table(spark, SF_SMALL, "part").collect()
    }
    m = defaultdict(lambda: [0, 0, 0, 0, 0])
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        x = int(
            Decimal(str(li.l_discount)).quantize(Decimal("0.01")) * 100
        )
        y = int(li.l_quantity)
        a = m[brand[li.l_partkey]]
        a[0] += 1
        a[1] += x
        a[2] += y
        a[3] += x * x
        a[4] += x * y
    got = {
        r.p_brand: r
        for r in _q(spark, "discount_quantity_elasticity").collect()
    }
    assert set(got) == set(m)
    for b, (n, sx, sy, sxx, sxy) in m.items():
        r = got[b]
        assert (r.n, r.sx, r.sy, r.sxx, r.sxy) == (n, sx, sy, sxx, sxy)
        assert r.slope_num == n * sxy - sx * sy
        assert r.slope_den == n * sxx - sx * sx


def test_cluster_best_doc_consistency(spark):
    """Survivors tile the cluster table exactly: one survivor per
    cluster, survivor belongs to its cluster, survivor has the max
    (n_chars, -doc_id) in the cluster, and total_chars sums the
    members."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark import registry
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    clus = {
        r.doc_id: r.cluster_id
        for r in registry._dedup_cluster_table(
            spark, SF_SMALL, 0.5
        ).collect()
    }
    chars = {
        d.doc_id: d.n_chars
        for d in read_table(spark, SF_SMALL, "documents").collect()
    }
    members = defaultdict(list)
    for doc, cid in clus.items():
        members[cid].append(doc)
    rows = _q(spark, "cluster_best_doc").collect()
    assert {r.cluster_id for r in rows} == set(members)
    assert len(rows) == len(members)
    for r in rows:
        ms = members[r.cluster_id]
        assert r.survivor_doc_id in ms
        assert r.n_docs == len(ms)
        assert r.total_chars == sum(chars[d] for d in ms)
        best = min(ms, key=lambda d: (-chars[d], d))
        assert r.survivor_doc_id == best
        assert r.survivor_chars == chars[best]
    # the fixture must contain real multi-doc clusters
    assert any(r.n_docs > 1 for r in rows)


# ---------------------------------------------- r6 batch 8


def test_dau_mau_python_recompute(spark):
    """Monthly stickiness equals the Python replay; bounded by
    (1/n_days, 1]."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    daily = defaultdict(set)
    monthly = defaultdict(set)
    for e in read_table(spark, SF_SMALL, "events").collect():
        d = e.ts.date()
        daily[(d.strftime("%Y-%m"), d)].add(e.user_id)
        monthly[d.strftime("%Y-%m")].add(e.user_id)
    rows = _q(spark, "dau_mau_stickiness").collect()
    assert {r.ym for r in rows} == set(monthly)
    for r in rows:
        days = [v for (ym, _), v in daily.items() if ym == r.ym]
        assert r.dau_sum == sum(len(v) for v in days)
        assert r.n_days == len(days)
        assert r.mau == len(monthly[r.ym])
        assert r.stickiness == r.dau_sum / r.n_days / r.mau
        assert 0 < r.stickiness <= 1.0


def test_hhi_python_recompute(spark):
    """hhi_ppm2 equals Σ(trunc-ppm share)² from exact cents and sits
    in [min_possible, 1e12]."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cust = {
        c.c_custkey: c.c_nationkey
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    nk2r = {}
    rname = {
        r.r_regionkey: r.r_name
        for r in read_table(spark, SF_SMALL, "region").collect()
    }
    for n in read_table(spark, SF_SMALL, "nation").collect():
        nk2r[n.n_nationkey] = (rname[n.n_regionkey], n.n_name)
    cents = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        rn, nn = nk2r[cust[o.o_custkey]]
        cents[(rn, nn)] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
    tot = defaultdict(int)
    for (rn, _), c in cents.items():
        tot[rn] += c
    want = defaultdict(int)
    nn_count = defaultdict(int)
    for (rn, _), c in cents.items():
        want[rn] += (c * 1000000 // tot[rn]) ** 2
        nn_count[rn] += 1
    for r in _q(spark, "hhi_concentration").collect():
        assert r.hhi_ppm2 == want[r.r_name]
        assert r.n_nations == nn_count[r.r_name]
        assert r.min_possible_ppm2 == 10**12 // r.n_nations
        assert r.min_possible_ppm2 <= r.hhi_ppm2 <= 10**12


def test_median_split_tiles_customers(spark):
    """Quadrant counts tile each region's customer base, and the
    below-median quadrants hold at least half the mass on each axis
    (lower-median property)."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    n_cust = defaultdict(int)
    rname = {
        r.r_regionkey: r.r_name
        for r in read_table(spark, SF_SMALL, "region").collect()
    }
    n2r = {
        n.n_nationkey: rname[n.n_regionkey]
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    for c in read_table(spark, SF_SMALL, "customer").collect():
        n_cust[n2r[c.c_nationkey]] += 1
    rows = _q(spark, "median_split_contingency").collect()
    by_r = defaultdict(list)
    for r in rows:
        assert r.hi_balance in (0, 1) and r.hi_activity in (0, 1)
        by_r[r.r_name].append(r)
    for rn, rs in by_r.items():
        assert sum(r.n_customers for r in rs) == n_cust[rn]
        lo_bal = sum(r.n_customers for r in rs if r.hi_balance == 0)
        lo_act = sum(r.n_customers for r in rs if r.hi_activity == 0)
        assert 2 * lo_bal >= n_cust[rn]
        assert 2 * lo_act >= n_cust[rn]


def test_top_parts_python_recompute(spark):
    """Ordered top-3 string equals the Python argsort on exact
    cents with the (cents desc, partkey) tie-break."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    sup = {
        s.s_suppkey: s.s_name
        for s in read_table(spark, SF_SMALL, "supplier").collect()
    }
    cents = defaultdict(int)
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        cents[(li.l_suppkey, li.l_partkey)] += int(
            Decimal(str(li.l_extendedprice)).quantize(Decimal("0.01"))
            * 100
        )
    by_s = defaultdict(list)
    for (sk, pk), c in cents.items():
        by_s[sk].append((-c, pk))
    got = {
        r.s_name: (r.top3_cents, r.top3_parts)
        for r in _q(spark, "top_parts_per_supplier").collect()
    }
    for sk, parts in by_s.items():
        parts.sort()
        top = parts[:3]
        want_str = "|".join(str(pk) for _, pk in top)
        want_cents = sum(-c for c, _ in top)
        assert got[sup[sk]] == (want_cents, want_str)


# ---------------------------------------------- r6 batch 9


def test_event_sessions_python_recompute(spark):
    """Session counts/sizes/spans equal a Python replay of the
    30-minute-gap rule per user."""
    import datetime

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    ev = {}
    for e in read_table(spark, SF_SMALL, "events").collect():
        ev.setdefault(e.user_id, []).append((e.ts, e.event_id))
    got = {
        r.user_id: (
            r.n_sessions,
            r.total_events,
            r.max_session_events,
            r.total_session_us,
        )
        for r in _q(spark, "event_sessions_batch").collect()
    }
    gap = datetime.timedelta(minutes=30)
    us = datetime.timedelta(microseconds=1)
    for uid, es in ev.items():
        es.sort()
        sessions = []
        for ts, _ in es:
            if sessions and ts - sessions[-1][-1] <= gap:
                sessions[-1].append(ts)
            else:
                sessions.append([ts])
        spans = sum(int((s[-1] - s[0]) / us) for s in sessions)
        assert got[uid] == (
            len(sessions),
            len(es),
            max(len(s) for s in sessions),
            spans,
        )
    # the 30-min rule must actually merge some events at this SF
    assert any(g[1] > g[0] for g in got.values())


def test_new_vs_returning_python_recompute(spark):
    """Daily splits equal a Python replay; new_users over all days
    sums to the total distinct-user count (first-touch identity)."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    first = {}
    active = defaultdict(set)
    for e in read_table(spark, SF_SMALL, "events").collect():
        d = e.ts.date()
        active[d].add(e.user_id)
        if e.user_id not in first or d < first[e.user_id]:
            first[e.user_id] = d
    rows = _q(spark, "new_vs_returning").collect()
    assert len(rows) == len(active)
    for r in rows:
        import datetime

        d = datetime.date.fromisoformat(r.day)
        new = sum(1 for u in active[d] if first[u] == d)
        assert (r.new_users, r.returning_users, r.active_users) == (
            new,
            len(active[d]) - new,
            len(active[d]),
        )
    assert sum(r.new_users for r in rows) == len(first)


# ------------------------- degenerate-data branches (ADVICE-proofing)


def test_elasticity_degenerate_constant_discount(spark, tmp_path):
    """Zero-variance discounts: slope is NULL on BOTH engines (the
    CASE guard), full oracle parity on the degenerate fixture — not
    just the happy path the standard testdata exercises."""
    import shutil

    from distributed_mapreduce_p2p_spark import registry
    from tests.conftest import SF_SMALL
    from tests.oracle import compare, duck_con

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMALL, sf)
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    # single-file parquet (Spark's directory output defeats DuckDB's
    # plain-path view in duck_con)
    pdf = li.withColumn("l_discount", F.lit(0.05)).toPandas()
    import os

    os.remove(f"{sf}/lineitem.parquet")
    pdf.to_parquet(f"{sf}/lineitem.parquet")
    df = registry.QUERIES["discount_quantity_elasticity"](spark, sf)
    rows = df.collect()
    assert rows and all(
        r.slope_qty_per_discount_pct is None and r.slope_den == 0
        for r in rows
    )
    con = duck_con(sf)
    assert (
        compare(
            df,
            con,
            registry.ORACLES["discount_quantity_elasticity"],
            "elasticity-degenerate",
        )
        == []
    )


def test_mann_whitney_degenerate_one_group(spark, tmp_path):
    """A fixture with NO '5-LOW' orders: every nation drops from the
    output on BOTH engines (the n1>0 AND n2>0 guard) instead of
    emitting an engine-divergent 0/0 share."""
    import shutil

    from distributed_mapreduce_p2p_spark import registry
    from tests.conftest import SF_SMALL
    from tests.oracle import compare, duck_con

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMALL, sf)
    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    pdf = o.where("o_orderpriority <> '5-LOW'").toPandas()
    import os

    os.remove(f"{sf}/orders.parquet")
    pdf.to_parquet(f"{sf}/orders.parquet")
    df = registry.QUERIES["mann_whitney_u"](spark, sf)
    assert df.count() == 0
    con = duck_con(sf)
    assert (
        compare(
            df, con, registry.ORACLES["mann_whitney_u"], "mwu-degenerate"
        )
        == []
    )


def test_cli_maintain_roundtrip(spark, tmp_path):
    """The `maintain` CLI subcommand runs the OPTIMIZE+VACUUM
    lifecycle in-process and readers converge on the compacted
    version."""
    from distributed_mapreduce_p2p_spark.__main__ import main
    from distributed_mapreduce_p2p_spark.sources import io as IO

    root = str(tmp_path / "tbl")
    base = spark.range(2000).withColumnRenamed("id", "k")
    IO.publish_atomic(base.limit(50), root)
    IO.publish_atomic(base.repartition(8), root, expected_version=1)
    # --cores 8 keeps the shared test session's shuffle width
    assert main(["--cores", "8", "maintain", root, "--keep", "1"]) == 0
    m = IO.read_manifest(root)
    assert m["version"] == 3 and len(m["files"]) == 1
    out = IO.read_published(spark, root)
    assert out.count() == 2000


# ---------------------------------------------- r6 batch 10


def test_price_tiers_partition_orders(spark):
    """The half-open tiers tile the order table exactly, and stats
    match a Python recompute."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    tiers = [
        ("1-small", 0, 10000000),
        ("2-medium", 10000000, 25000000),
        ("3-large", 25000000, 40000000),
        ("4-jumbo", 40000000, 1 << 62),
    ]
    agg = defaultdict(lambda: [0, 0, None, None])
    n_orders = 0
    for o in read_table(spark, SF_SMALL, "orders").collect():
        n_orders += 1
        c = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
        for t, lo, hi in tiers:
            if lo <= c < hi:
                a = agg[t]
                a[0] += 1
                a[1] += c
                a[2] = c if a[2] is None else min(a[2], c)
                a[3] = c if a[3] is None else max(a[3], c)
    rows = _q(spark, "price_tier_stats").collect()
    assert sum(r.n_orders for r in rows) == n_orders
    for r in rows:
        n, s, lo, hi = agg[r.tier]
        assert (r.n_orders, r.tier_cents, r.min_cents, r.max_cents) == (
            n, s, lo, hi,
        )


def test_weighted_median_python_recompute(spark):
    """The weighted median equals the Python cumulative-weight rule,
    and at least half the quantity mass sits on each side."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    brand = {
        p.p_partkey: p.p_brand
        for p in read_table(spark, SF_SMALL, "part").collect()
    }
    cells = defaultdict(lambda: defaultdict(int))
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        v = int(
            Decimal(str(li.l_extendedprice)).quantize(Decimal("0.01"))
            * 100
        )
        cells[brand[li.l_partkey]][v] += int(li.l_quantity)
    got = {
        r.p_brand: (r.weighted_median_cents, r.total_qty)
        for r in _q(spark, "weighted_median_price").collect()
    }
    for b, m in cells.items():
        tot = sum(m.values())
        cum = 0
        med = None
        for v in sorted(m):
            cum += m[v]
            if 2 * cum >= tot:
                med = v
                break
        assert got[b] == (med, tot)
        below = sum(w for v, w in m.items() if v < med)
        at_or_below = sum(w for v, w in m.items() if v <= med)
        assert 2 * below <= tot <= 2 * at_or_below


def test_boilerplate_ngrams_python_recompute(spark):
    """Top-5 grams per source equal a Python doc-frequency recompute
    with the (df desc, gram) tie-break, counting each doc once."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    df = defaultdict(lambda: defaultdict(int))
    for d in read_table(spark, SF_SMALL, "documents").collect():
        ts = d.text.split(" ")
        seen = {
            " ".join(ts[i : i + 7]) for i in range(len(ts) - 6)
        }
        for g in seen:
            df[d.source][g] += 1
    got = defaultdict(list)
    for r in _q(spark, "boilerplate_ngrams").collect():
        got[r.source].append((r.rank, r.gram, r.doc_freq))
    assert set(got) == set(df)
    for src, m in df.items():
        want = sorted(m.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        rows = sorted(got[src])
        assert [(g, c) for _, g, c in rows] == want
        # ranks are 1..5 in tie-broken order
        assert [rk for rk, _, _ in rows] == list(range(1, len(rows) + 1))


def test_yoy_growth_python_recompute(spark):
    """YoY cells equal a Python calendar-aligned replay — including
    months whose prior-year month is MISSING (NULL base, the case
    positional lag gets wrong)."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cust = {
        c.c_custkey: c.c_nationkey
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    nname = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    cells = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        d = o.o_orderdate.date()
        k = (nname[cust[o.o_custkey]], d.year * 12 + d.month)
        cells[k] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
    rows = _q(spark, "yoy_growth").collect()
    assert len(rows) == len(cells)
    for r in rows:
        y, mth = map(int, r.ym.split("-"))
        k = (r.n_name, y * 12 + mth)
        prev = cells.get((r.n_name, y * 12 + mth - 12))
        assert r.cents == cells[k]
        assert r.prev_year_cents == prev
        if prev:
            assert r.yoy_growth == float(r.cents - prev) / float(prev)
        else:
            assert r.yoy_growth is None
    # the fixture must exercise the missing-base branch (first year)
    assert any(r.prev_year_cents is None for r in rows)
    assert any(r.prev_year_cents is not None for r in rows)


def test_ab_ztest_python_recompute(spark):
    """Counts equal a Python cohort replay and the z-score equals
    the same-order IEEE formula; degenerate pools yield NULL (both
    branches exercised via a synthetic all-converted region check
    only if present)."""
    import math
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    rname = {
        r.r_regionkey: r.r_name
        for r in read_table(spark, SF_SMALL, "region").collect()
    }
    n2r = {
        n.n_nationkey: rname[n.n_regionkey]
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    converted = {
        o.o_custkey
        for o in read_table(spark, SF_SMALL, "orders").collect()
        if o.o_orderstatus == "F"
    }
    cell = defaultdict(lambda: [0, 0])
    for c in read_table(spark, SF_SMALL, "customer").collect():
        if c.c_mktsegment in ("BUILDING", "MACHINERY"):
            a = cell[(n2r[c.c_nationkey], c.c_mktsegment)]
            a[0] += 1
            a[1] += 1 if c.c_custkey in converted else 0
    rows = _q(spark, "ab_test_ztest").collect()
    for r in rows:
        n1, x1 = cell[(r.r_name, "BUILDING")]
        n2, x2 = cell[(r.r_name, "MACHINERY")]
        assert (r.n1, r.x1, r.n2, r.x2) == (n1, x1, n2, x2)
        if 0 < x1 + x2 < n1 + n2:
            pp = (x1 + x2) / (n1 + n2)
            want = (x1 / n1 - x2 / n2) / math.sqrt(
                pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2)
            )
            assert r.z_score == want
        else:
            assert r.z_score is None


def test_cart_root_split_python_recompute(spark):
    """The chosen split equals a brute-force Python scan over every
    (feature, threshold) candidate with the same purity formula and
    tie-break, and actually separates the labels better than any
    alternative candidate."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    orders = read_table(spark, SF_SMALL, "orders").collect()
    n_ord = defaultdict(int)
    has_f = set()
    for o in orders:
        n_ord[o.o_custkey] += 1
        if o.o_orderstatus == "F":
            has_f.add(o.o_custkey)
    rows = []
    for c in read_table(spark, SF_SMALL, "customer").collect():
        cents = int(
            Decimal(str(c.c_acctbal)).quantize(Decimal("0.01")) * 100
        )
        bb = cents // 100000 if cents >= 0 else -((-cents + 99999) // 100000)
        # Python // floors; SQL DIV truncates toward zero — recompute
        # with truncation to mirror the operator
        bb = int(cents / 100000) if cents < 0 else cents // 100000
        rows.append(
            (bb, n_ord[c.c_custkey], 1 if c.c_custkey in has_f else 0)
        )
    cells = defaultdict(lambda: [0, 0])
    for bb, no, y in rows:
        cells[("balbucket", bb)][y] += 1
        cells[("orders", no)][y] += 1
    cands = []
    for feature in ("balbucket", "orders"):
        vs = sorted(v for f, v in cells if f == feature)
        pt = sum(cells[(feature, v)][1] for v in vs)
        nt = sum(cells[(feature, v)][0] for v in vs)
        pl = nl = 0
        for v in vs:
            nl += cells[(feature, v)][0]
            pl += cells[(feature, v)][1]
            pr, nr = pt - pl, nt - nl
            if pl + nl > 0 and pr + nr > 0:
                purity = float(pl * pl + nl * nl) / float(pl + nl) + (
                    float(pr * pr + nr * nr) / float(pr + nr)
                )
                cands.append((-purity, feature, v, pl, nl, pr, nr))
    cands.sort()
    want = cands[0]
    r = _q(spark, "cart_root_split").collect()[0]
    assert (
        r.feature, r.threshold, r.pos_left, r.neg_left,
        r.pos_right, r.neg_right,
    ) == (want[1], want[2], want[3], want[4], want[5], want[6])
    assert r.purity == -want[0]


def test_kaplan_meier_python_recompute(spark):
    """Risk sets, event counts, and the bit-exact survival fold
    equal a Python KM replay with the censored-at-risk convention,
    and each curve is nonincreasing in (0, 1]."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cust = {
        c.c_custkey: c.c_nationkey
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    nname = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    ev_m: dict[int, int] = {}
    last_m: dict[int, int] = {}
    for o in read_table(spark, SF_SMALL, "orders").collect():
        d = o.o_orderdate.date()
        m = d.year * 12 + d.month
        last_m[o.o_custkey] = max(last_m.get(o.o_custkey, 0), m)
        if o.o_orderstatus == "F":
            ev_m[o.o_custkey] = min(ev_m.get(o.o_custkey, 10**9), m)
    subj = defaultdict(list)
    for ck, nk in cust.items():
        if ck not in last_m:
            continue
        t = ev_m.get(ck, last_m[ck])
        subj[nname[nk]].append((t, ck in ev_m))
    got = defaultdict(dict)
    for r in _q(spark, "kaplan_meier_survival").collect():
        got[r.n_name][r.t] = (r.n_risk, r.d, r.survival)
    for nn, ss in subj.items():
        cells = defaultdict(lambda: [0, 0])
        for t, is_ev in ss:
            cells[t][0 if is_ev else 1] += 1
        total = len(ss)
        gone = 0
        surv = 1.0
        want_ts = []
        for t in sorted(cells):
            d, cns = cells[t]
            n_risk = total - gone
            if d > 0:
                surv = surv * (float(n_risk - d) / float(n_risk))
                assert got[nn][t] == (n_risk, d, surv)
                want_ts.append(t)
            gone += d + cns
        assert sorted(got[nn]) == want_ts
        curve = [got[nn][t][2] for t in want_ts]
        assert all(0 <= s <= 1.0 for s in curve)
        assert curve == sorted(curve, reverse=True)


def test_clustering_coefficient_python_recompute(spark):
    """Per-node degree/triangles/coefficient equal a Python adjacency
    recompute on the same above-mean edge rule; coefficient within
    [0,1]; triangle sum is 3x the global triangle count."""
    from distributed_mapreduce_p2p_spark import registry
    from tests.conftest import SF_SMALL

    und = {
        (r.a, r.b)
        for r in registry._trade_edges(spark, SF_SMALL).collect()
    }
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rows = _q(spark, "clustering_coefficient").collect()
    assert {r.n_nationkey for r in rows} == set(adj)
    tri_total = 0
    for r in rows:
        nbrs = adj[r.n_nationkey]
        assert r.degree == len(nbrs)
        tri = sum(
            1
            for x in nbrs
            for y in nbrs
            if x < y and (min(x, y), max(x, y)) in und
        )
        assert r.n_triangles == tri
        tri_total += tri
        if r.degree >= 2:
            assert r.clustering_coeff == float(2 * tri) / float(
                r.degree * (r.degree - 1)
            )
            assert 0.0 <= r.clustering_coeff <= 1.0
        else:
            assert r.clustering_coeff is None
    assert tri_total % 3 == 0


def test_log_rank_python_recompute(spark):
    """O/E/V and the z equal a Python log-rank replay with the same
    time-ordered summation; O-E for the two groups is antisymmetric
    by construction."""
    import math
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    seg = {
        c.c_custkey: c.c_mktsegment
        for c in read_table(spark, SF_SMALL, "customer").collect()
        if c.c_mktsegment in ("BUILDING", "MACHINERY")
    }
    ev_m: dict[int, int] = {}
    last_m: dict[int, int] = {}
    for o in read_table(spark, SF_SMALL, "orders").collect():
        d = o.o_orderdate.date()
        m = d.year * 12 + d.month
        last_m[o.o_custkey] = max(last_m.get(o.o_custkey, 0), m)
        if o.o_orderstatus == "F":
            ev_m[o.o_custkey] = min(ev_m.get(o.o_custkey, 10**9), m)
    cells = defaultdict(lambda: [0, 0, 0, 0])  # d1, d, leave1, leave
    tot1 = tot = 0
    for ck, s in seg.items():
        if ck not in last_m:
            continue
        g1 = s == "BUILDING"
        t = ev_m.get(ck, last_m[ck])
        is_ev = ck in ev_m
        cell = cells[t]
        cell[0] += 1 if (g1 and is_ev) else 0
        cell[1] += 1 if is_ev else 0
        cell[2] += 1 if g1 else 0
        cell[3] += 1
        tot1 += 1 if g1 else 0
        tot += 1
    o1 = 0
    e1 = v = 0.0
    gone1 = gone = 0
    for t in sorted(cells):
        d1, d, l1, la = cells[t]
        n1 = tot1 - gone1
        n = tot - gone
        if d > 0:
            o1 += d1
            e1 = e1 + (float(d) * float(n1) / float(n))
            if n > 1:
                v = v + (
                    float(n1) * float(n - n1) * float(d) * float(n - d)
                    / (float(n) * float(n) * float(n - 1))
                )
        gone1 += l1
        gone += la
    r = _q(spark, "log_rank_test").collect()[0]
    assert r.o1 == o1
    assert r.e1_sum == e1
    assert r.v_sum == v
    assert r.z_log_rank == (float(o1) - e1) / math.sqrt(v)


def test_anova_python_recompute(spark):
    """Moments, SS decomposition, and F equal a Python replay with
    the same group-ordered fold; SS_between + SS_within equals
    SS_total within float identity of the same op order."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    g = defaultdict(lambda: [0, 0, 0])
    for o in read_table(spark, SF_SMALL, "orders").collect():
        cents = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
        x = cents // 100
        a = g[o.o_orderpriority]
        a[0] += 1
        a[1] += x
        a[2] += x * x
    nn = sum(a[0] for a in g.values())
    st = sum(a[1] for a in g.values())
    k = len(g)
    c_sum = 0.0
    ssw = 0.0
    for grp in sorted(g):
        n, s, ssq = g[grp]
        c_sum = c_sum + (float(s) * float(s) / float(n))
        ssw = ssw + (float(ssq) - float(s) * float(s) / float(n))
    ssb = c_sum - float(st) * float(st) / float(nn)
    r = _q(spark, "anova_oneway").collect()[0]
    assert (r.n_groups, r.n_rows) == (k, nn)
    assert r.ss_between == ssb
    assert r.ss_within == ssw
    assert r.f_stat == (ssb / float(k - 1)) / (ssw / float(nn - k))
    assert r.f_stat > 0


def test_jackknife_python_recompute(spark):
    """Leave-one-out means and pseudo-values equal the Python
    formula; the mean of pseudo-values equals the global mean
    (jackknife identity for the sample mean, within float sum
    tolerance)."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cust = {
        c.c_custkey: c.c_nationkey
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    nname = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    g = defaultdict(lambda: [0, 0])
    for o in read_table(spark, SF_SMALL, "orders").collect():
        a = g[nname[cust[o.o_custkey]]]
        a[0] += 1
        a[1] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
    nn = sum(a[0] for a in g.values())
    st = sum(a[1] for a in g.values())
    k = len(g)
    rows = _q(spark, "jackknife_group_means").collect()
    assert len(rows) == k
    for r in rows:
        n, s = g[r.n_name]
        assert (r.n, r.s) == (n, s)
        loo = float(st - s) / float(nn - n)
        assert r.loo_mean == loo / 100.0
        assert r.pseudo_value == (
            float(k) * (float(st) / float(nn)) - float(k - 1) * loo
        ) / 100.0
    # directional property: deleting a below-average group raises
    # the leave-out mean, and vice versa (exact, size-independent)
    gmean = st / nn / 100.0
    for r in rows:
        grp_mean = r.s / r.n / 100.0
        if grp_mean < gmean:
            assert r.loo_mean > gmean
        elif grp_mean > gmean:
            assert r.loo_mean < gmean


def test_conformal_q90_covers(spark):
    """The q90 width equals the rank pick over Python residuals from
    the same moment-derived fit, and covers 89-91% of observations
    (the conformal guarantee on the calibration set)."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    brand = {
        p.p_partkey: p.p_brand
        for p in read_table(spark, SF_SMALL, "part").collect()
    }
    pts = defaultdict(list)
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        x = int(
            Decimal(str(li.l_discount)).quantize(Decimal("0.01")) * 100
        )
        pts[brand[li.l_partkey]].append((x, int(li.l_quantity)))
    got = {
        r.p_brand: (r.n_obs, r.q90_abs_residual)
        for r in _q(spark, "conformal_interval_width").collect()
    }
    for b, xy in pts.items():
        n = len(xy)
        sx = sum(x for x, _ in xy)
        sy = sum(y for _, y in xy)
        sxx = sum(x * x for x, _ in xy)
        sxy_ = sum(x * y for x, y in xy)
        den = n * sxx - sx * sx
        if den == 0:
            assert b not in got
            continue
        slope = float(n * sxy_ - sx * sy) / float(den)
        icept = float(sy) / float(n) - slope * (float(sx) / float(n))
        ars = sorted(
            abs(float(y) - (slope * float(x) + icept)) for x, y in xy
        )
        want = ars[(9 * n + 9) // 10 - 1]
        assert got[b] == (n, want)
        covered = sum(1 for a in ars if a <= want)
        assert 0.89 <= covered / n <= 0.92


def test_cart_depth2_consistency(spark):
    """The depth-2 tree is internally consistent: the root row
    matches cart_root_split, each child's population equals the
    root's side counts, and each child split genuinely improves (or
    matches) its node's base purity."""
    rows = {r.node: r for r in _q(spark, "cart_tree_depth2").collect()}
    assert set(rows) <= {"root", "left", "right"}
    root = rows["root"]
    single = _q(spark, "cart_root_split").collect()[0]
    assert (
        root.feature, root.threshold, root.pos_left, root.neg_left,
        root.pos_right, root.neg_right, root.purity,
    ) == (
        single.feature, single.threshold, single.pos_left,
        single.neg_left, single.pos_right, single.neg_right,
        single.purity,
    )
    for node, (p_tot, n_tot) in (
        ("left", (root.pos_left, root.neg_left)),
        ("right", (root.pos_right, root.neg_right)),
    ):
        if node not in rows:
            continue
        r = rows[node]
        assert r.pos_left + r.pos_right == p_tot
        assert r.neg_left + r.neg_right == n_tot
        tot = p_tot + n_tot
        base = float(p_tot * p_tot + n_tot * n_tot) / float(tot)
        assert r.purity >= base - 1e-9


# ------------------------------------------------ time-series batch 9


def _month_cells_py(spark):
    """Nation-month integer-cent cells replayed in pure Python (the
    shared fixture for the time-series recompute tests)."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cust = {
        c.c_custkey: c.c_nationkey
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    nname = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    cells = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        d = o.o_orderdate.date()
        cells[(nname[cust[o.o_custkey]], d.year * 12 + d.month)] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
    return cells


def test_max_drawdown_python_recompute(spark):
    """Per-nation max drawdown equals a sequential running-peak replay
    over the midx-sorted cell series (exact integers end to end)."""
    cells = _month_cells_py(spark)
    want = {}
    by_nation = {}
    for (nat, midx), cents in cells.items():
        by_nation.setdefault(nat, []).append((midx, cents))
    for nat, series in by_nation.items():
        peak = None
        best = (-1, None, None)  # (drawdown, trough_midx, peak_at)
        for midx, cents in sorted(series):
            peak = cents if peak is None else max(peak, cents)
            dd = peak - cents
            if dd > best[0]:
                best = (dd, midx, peak)
        want[nat] = best
    rows = _q(spark, "max_drawdown").collect()
    assert len(rows) == len(want)
    for r in rows:
        dd, tmidx, peak = want[r.n_name]
        assert r.max_drawdown_cents == dd
        assert r.trough_ym == f"{(tmidx - 1) // 12:04d}-{(tmidx - 1) % 12 + 1:02d}"
        assert r.peak_cents == peak


def test_bollinger_python_recompute(spark):
    """Breakout counts equal an integer-arithmetic replay of the
    6-month trailing band test on calendar-contiguous windows only."""
    cells = _month_cells_py(spark)
    by_nation = {}
    for (nat, midx), cents in cells.items():
        by_nation.setdefault(nat, {})[midx] = cents
    rows = _q(spark, "bollinger_breakouts").collect()
    assert len(rows) == len(by_nation)
    for r in rows:
        series = by_nation[r.n_name]
        ev = brk = 0
        for midx, x in series.items():
            win = [series.get(midx - i) for i in range(6)]
            if any(v is None for v in win):
                continue
            ev += 1
            s6, q6 = sum(win), sum(v * v for v in win)
            if (6 * x - s6) ** 2 > 4 * (6 * q6 - s6 * s6):
                brk += 1
        assert (r.months_evaluated, r.breakout_months) == (ev, brk)


def test_autocorr_python_recompute(spark):
    """acf1 equals the same-order IEEE formula over calendar-aligned
    pairs; a month with a missing successor contributes NO pair."""
    import math

    cells = _month_cells_py(spark)
    by_nation = {}
    for (nat, midx), cents in cells.items():
        by_nation.setdefault(nat, {})[midx] = cents // 100
    rows = _q(spark, "autocorr_lag1").collect()
    assert len(rows) == len(by_nation)
    gap_seen = False
    for r in rows:
        series = by_nation[r.n_name]
        pairs = [
            (x, series[m + 1])
            for m, x in series.items()
            if m + 1 in series
        ]
        gap_seen = gap_seen or len(pairs) < len(series) - 1
        n = len(pairs)
        assert r.n == n
        sx = sum(p[0] for p in pairs)
        sy = sum(p[1] for p in pairs)
        sxx = sum(p[0] * p[0] for p in pairs)
        syy = sum(p[1] * p[1] for p in pairs)
        sxy = sum(p[0] * p[1] for p in pairs)
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        if vx > 0 and vy > 0:
            want = float(n * sxy - sx * sy) / (
                math.sqrt(float(vx)) * math.sqrt(float(vy))
            )
            assert r.acf1 == want
        else:
            assert r.acf1 is None


def test_chebyshev_python_recompute(spark):
    """Outlier counts equal the cross-multiplied integer replay; zero
    -order customers stay in the population (LEFT JOIN semantics)."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    spend = defaultdict(int)
    seg = {}
    for c in read_table(spark, SF_SMALL, "customer").collect():
        seg[c.c_custkey] = c.c_mktsegment
        spend[c.c_custkey] += 0
    for o in read_table(spark, SF_SMALL, "orders").collect():
        spend[o.o_custkey] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
    groups = defaultdict(list)
    for k, v in spend.items():
        groups[seg[k]].append(v)
    rows = _q(spark, "chebyshev_outliers").collect()
    assert len(rows) == len(groups)
    for r in rows:
        xs = groups[r.c_mktsegment]
        n, s, q = len(xs), sum(xs), sum(x * x for x in xs)
        o2 = sum(1 for x in xs if (n * x - s) ** 2 > 4 * (n * q - s * s))
        o3 = sum(1 for x in xs if (n * x - s) ** 2 > 9 * (n * q - s * s))
        assert (r.n, r.outliers_2sigma, r.outliers_3sigma) == (n, o2, o3)


# ------------------------------------------- sketch/inference batch 10


def test_ams_f2_sketch_identity_and_bound(spark):
    """f2_exact equals the Python frequency replay; the sketch
    estimate is within 60% of exact (loose — AMS variance is
    inherent, the bound catches sign-hash/median plumbing bugs)."""
    from collections import Counter

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    freqs = Counter(
        r.l_partkey
        for r in read_table(spark, SF_SMALL, "lineitem").collect()
    )
    f2 = sum(v * v for v in freqs.values())
    r = _q(spark, "ams_f2_sketch").collect()[0]
    assert r.f2_exact == f2
    assert abs(r.f2_est - f2) <= 0.6 * f2
    assert r.abs_err_ppm == abs(r.f2_est - f2) * 1_000_000 // f2


def test_spearman_python_recompute(spark):
    """rho equals Pearson over doubled midranks computed by a pure
    Python rank replay (ties -> midranks, the textbook treatment)."""
    import math
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    sup = {
        s.s_suppkey: nat[s.s_nationkey]
        for s in read_table(spark, SF_SMALL, "supplier").collect()
    }
    rows_by_n = defaultdict(list)
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        cents = int(
            Decimal(str(li.l_extendedprice)).quantize(Decimal("0.01"))
            * 100
        )
        rows_by_n[sup[li.l_suppkey]].append((int(li.l_quantity), cents))

    def dbl_midranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        out = [0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            # 2*midrank = (first rank) + (last rank) with 1-based ranks
            dm = (i + 1) + j
            for k in range(i, j):
                out[order[k]] = dm
            i = j
        return out

    got = {r.n_name: r for r in _q(spark, "spearman_rho").collect()}
    assert set(got) == set(rows_by_n)
    for name, pairs in rows_by_n.items():
        rx = dbl_midranks([p[0] for p in pairs])
        ry = dbl_midranks([p[1] for p in pairs])
        n = len(pairs)
        sx, sy = sum(rx), sum(ry)
        sxx = sum(v * v for v in rx)
        syy = sum(v * v for v in ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        r = got[name]
        assert r.n == n
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        if vx > 0 and vy > 0:
            want = float(n * sxy - sx * sy) / (
                math.sqrt(float(vx)) * math.sqrt(float(vy))
            )
            assert r.rho == want
        else:
            assert r.rho is None


def test_welch_python_recompute(spark):
    """t equals the same-order IEEE Welch formula over exact cent
    moments replayed in Python."""
    import math
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    sup = {
        s.s_suppkey: nat[s.s_nationkey]
        for s in read_table(spark, SF_SMALL, "supplier").collect()
    }
    cell = defaultdict(lambda: [0, 0, 0])  # n, s, q
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        if li.l_returnflag not in ("R", "N"):
            continue
        cents = int(
            Decimal(str(li.l_extendedprice)).quantize(Decimal("0.01"))
            * 100
        )
        a = cell[(sup[li.l_suppkey], li.l_returnflag)]
        a[0] += 1
        a[1] += cents
        a[2] += cents * cents
    for r in _q(spark, "welch_ttest").collect():
        n1, s1, q1 = cell[(r.n_name, "R")]
        n2, s2, q2 = cell[(r.n_name, "N")]
        assert (r.n_r, r.n_n) == (n1, n2)
        assert r.mean_r == float(s1) / float(n1)
        assert r.mean_n == float(s2) / float(n2)
        if n1 > 1 and n2 > 1:
            v1 = (
                (float(q1) - float(s1) * float(s1) / float(n1))
                / float(n1 - 1)
                / float(n1)
            )
            v2 = (
                (float(q2) - float(s2) * float(s2) / float(n2))
                / float(n2 - 1)
                / float(n2)
            )
            if v1 + v2 > 0:
                want = (
                    float(s1) / float(n1) - float(s2) / float(n2)
                ) / math.sqrt(v1 + v2)
                assert r.t_welch == want


def test_wilson_ci_python_recompute(spark):
    """Interval endpoints equal the same-order IEEE Wilson formula;
    the interval brackets p_hat and stays inside [0, 1]."""
    import math
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cell = defaultdict(lambda: [0, 0])
    for o in read_table(spark, SF_SMALL, "orders").collect():
        a = cell[o.o_orderpriority]
        a[0] += 1
        a[1] += 1 if o.o_orderstatus == "F" else 0
    for r in _q(spark, "wilson_ci").collect():
        n, x = cell[r.o_orderpriority]
        assert (r.n, r.x) == (n, x)
        z = 196.0 / 100.0
        p = float(x) / float(n)
        center = float(x) / float(n) + z * z / (2.0 * float(n))
        half = z * math.sqrt(
            p * (1.0 - p) / float(n)
            + z * z / (4.0 * float(n) * float(n))
        )
        denom = 1.0 + z * z / float(n)
        assert r.p_hat == p
        assert r.ci_lo == (center - half) / denom
        assert r.ci_hi == (center + half) / denom
        assert 0.0 <= r.ci_lo <= p <= r.ci_hi <= 1.0


# ----------------------------------------------- graph/ML batch 11


def _spark_edge_set(spark):
    from distributed_mapreduce_p2p_spark import registry
    from tests.conftest import SF_SMALL

    return {
        (r.a, r.b)
        for r in registry._trade_edges(spark, SF_SMALL).collect()
    }


def test_kcore_equals_python_peel(spark):
    """The h-index fixpoint agrees with textbook sequential peeling on
    the SAME Spark-derived edge set (the algorithmic identity the
    Lü et al. fixpoint theorem guarantees), and coreness <= degree."""
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    edges = _spark_edge_set(spark)
    alive, core = {}, {}
    for a, b in edges:
        alive.setdefault(a, set()).add(b)
        alive.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in alive.items()}
    k = 1
    while alive:
        changed = True
        while changed:
            low = [v for v, ns in alive.items() if len(ns) < k]
            changed = bool(low)
            for v in low:
                core[v] = k - 1
                for u in alive[v]:
                    alive[u].discard(v)
                del alive[v]
        k += 1
    name2key = {
        n.n_name: n.n_nationkey
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    rows = _q(spark, "kcore_decomposition").collect()
    assert len(rows) == len(name2key)
    for r in rows:
        key = name2key[r.n_name]
        assert r.coreness == core.get(key, 0)
        assert r.coreness <= deg.get(key, 0)


def test_jaccard_link_prediction_recompute(spark):
    """Scores equal the adjacency-set replay; no predicted pair is an
    existing edge; every score is in (0, 1]."""
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    edges = _spark_edge_set(spark)
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    key = {
        n.n_name: n.n_nationkey
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    rows = _q(spark, "jaccard_link_prediction").collect()
    want = set()
    for a in adj:
        for b in adj:
            if a < b and (a, b) not in edges and adj[a] & adj[b]:
                want.add((a, b))
    got = set()
    for r in rows:
        a, b = key[r.nation_a], key[r.nation_b]
        got.add((a, b))
        assert (a, b) not in edges
        common = len(adj[a] & adj[b])
        union = len(adj[a] | adj[b])
        assert (r.common, r.union_size) == (common, union)
        assert r.jaccard == float(common) / float(union)
        assert 0.0 < r.jaccard <= 1.0
    assert got == want


def test_naive_bayes_python_recompute(spark):
    """Predicted class equals a pure-Python integer-ppm argmax with
    the identical Laplace smoothing and tie-break."""
    from collections import Counter

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    seg_of = {
        c.c_custkey: c.c_mktsegment
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    obs = [
        (o.o_orderstatus, seg_of[o.o_custkey], o.o_orderpriority)
        for o in read_table(spark, SF_SMALL, "orders").collect()
    ]
    n = len(obs)
    nc = Counter(st for st, _, _ in obs)
    nsc = Counter((st, sg) for st, sg, _ in obs)
    npc = Counter((st, pr) for st, _, pr in obs)
    segs = sorted({sg for _, sg, _ in obs})
    pris = sorted({pr for _, _, pr in obs})
    rows = _q(spark, "naive_bayes_predict").collect()
    assert len(rows) == len(segs) * len(pris)
    for r in rows:
        best = None
        for st in sorted(nc):
            s = (
                (nc[st] * 1_000_000 // n)
                * ((nsc[(st, r.c_mktsegment)] + 1) * 1_000_000
                   // (nc[st] + len(segs)))
                * ((npc[(st, r.o_orderpriority)] + 1) * 1_000_000
                   // (nc[st] + len(pris)))
            )
            if best is None or s > best[1]:
                best = (st, s)
        assert (r.predicted_status, r.score) == best


# ------------------------------------------ spatial/drift/text batch 12


def test_grid_neighbor_join_complete_vs_bruteforce(spark):
    """The 3x3 grid candidate set loses NO true match (completeness
    for r <= cell width): matched counts equal a brute-force
    all-pairs Python scan, and matched <= candidates per nation."""
    import hashlib
    from collections import Counter

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    cust = [
        (c.c_nationkey, h(f"gx:{c.c_custkey}") % 1024,
         h(f"gy:{c.c_custkey}") % 1024)
        for c in read_table(spark, SF_SMALL, "customer").collect()
    ]
    sup = [
        (h(f"gx:s{s.s_suppkey}") % 1024, h(f"gy:s{s.s_suppkey}") % 1024)
        for s in read_table(spark, SF_SMALL, "supplier").collect()
    ]
    nname = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    brute = Counter()
    for nk, cx, cy in cust:
        for sx, sy in sup:
            if max(abs(cx - sx), abs(cy - sy)) <= 8:
                brute[nname[nk]] += 1
    rows = _q(spark, "grid_neighbor_join").collect()
    got = {r.n_name: (r.candidate_pairs, r.matched_pairs) for r in rows}
    for name, (cand, match) in got.items():
        assert match <= cand
        assert match == brute.get(name, 0)
    # nations absent from the result had no candidates -> no matches
    for name, m in brute.items():
        if name not in got:
            assert m == 0


def test_tv_distance_python_recompute(spark):
    """tv_ppm equals the integer-ppm L1 replay and sits in [0, 1e6]."""
    from collections import Counter, defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    cseg = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    early, late = defaultdict(Counter), defaultdict(Counter)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        tgt = early if str(o.o_orderdate) < "1998-01-01" else late
        tgt[cseg[o.o_custkey]][o.o_orderpriority] += 1
    for r in _q(spark, "tv_distance_drift").collect():
        ne = sum(early[r.n_name].values())
        nl = sum(late[r.n_name].values())
        assert (r.n_early, r.n_late) == (ne, nl)
        if ne > 0 and nl > 0:
            pris = set(early[r.n_name]) | set(late[r.n_name])
            tv = sum(
                abs(early[r.n_name][p] * 1_000_000 // ne
                    - late[r.n_name][p] * 1_000_000 // nl)
                for p in pris
            ) // 2
            assert r.tv_ppm == tv
            assert 0 <= r.tv_ppm <= 1_000_000
        else:
            assert r.tv_ppm is None


def test_lexical_complexity_python_recompute(spark):
    """Counters equal a Python regex replay of the run-counting
    rules (non-space runs, vowel-group runs, non-space chars)."""
    import re
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    agg = defaultdict(lambda: [0, 0, 0, 0])  # docs, words, chars, syl
    for d in read_table(spark, SF_SMALL, "documents").collect():
        t = d.text
        a = agg[d.source]
        a[0] += 1
        a[1] += len(re.findall(r"[^\s]+", t.replace("#", "")))
        a[2] += len(re.sub(r"\s+", "", t))
        a[3] += len(re.findall(r"[aeiouy]+", t.lower().replace("#", "")))
    rows = _q(spark, "lexical_complexity").collect()
    assert len(rows) == len(agg)
    for r in rows:
        docs, words, chars, syl = agg[r.source]
        assert (r.n_docs, r.words, r.word_chars, r.syllables) == (
            docs, words, chars, syl,
        )
        if words:
            assert r.chars_per_word_ppm == chars * 1_000_000 // words
            assert r.syllables_per_word_ppm == syl * 1_000_000 // words


# --------------------------------------- resampling/trend/OLS batch 13


def test_permutation_test_python_recompute(spark):
    """All 64 hash relabelings replayed exactly in Python: group
    sums, cross-multiplied extremeness and the add-one ppm p-value
    all match; p is in (0, 1e6]."""
    import hashlib
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    spend = defaultdict(int)
    seg = {}
    for c in read_table(spark, SF_SMALL, "customer").collect():
        if c.c_mktsegment in ("BUILDING", "MACHINERY"):
            seg[c.c_custkey] = c.c_mktsegment
            spend[c.c_custkey] += 0
    for o in read_table(spark, SF_SMALL, "orders").collect():
        if o.o_custkey in seg:
            spend[o.o_custkey] += int(
                Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
                * 100
            )
    n1 = sum(1 for k in seg if seg[k] == "BUILDING")
    s1 = sum(v for k, v in spend.items() if seg[k] == "BUILDING")
    n2 = sum(1 for k in seg if seg[k] == "MACHINERY")
    s2 = sum(v for k, v in spend.items() if seg[k] == "MACHINERY")

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    extreme = 0
    obs_num = abs(s1 * n2 - s2 * n1)
    for b in range(64):
        n1b = s1b = n2b = s2b = 0
        for k, v in spend.items():
            if h(f"perm:{k}:{b}") % (n1 + n2) < n1:
                n1b += 1
                s1b += v
            else:
                n2b += 1
                s2b += v
        if (
            n1b > 0
            and n2b > 0
            and abs(s1b * n2b - s2b * n1b) * (n1 * n2)
            >= obs_num * (n1b * n2b)
        ):
            extreme += 1
    r = _q(spark, "permutation_test_means").collect()[0]
    assert (r.n1, r.n2, r.b_total, r.b_extreme) == (n1, n2, 64, extreme)
    assert r.d_obs == float(s1) / float(n1) - float(s2) / float(n2)
    assert r.p_ppm == (1 + extreme) * 1_000_000 // 65
    assert 0 < r.p_ppm <= 1_000_000


def test_mann_kendall_python_recompute(spark):
    """S and tau-b equal a brute-force pair scan over the month-cell
    series; tau-b is within [-1, 1]."""
    import math

    cells = _month_cells_py(spark)
    by_nation = {}
    for (nat, midx), cents in cells.items():
        by_nation.setdefault(nat, []).append((midx, cents))
    for r in _q(spark, "mann_kendall_trend").collect():
        series = sorted(by_nation[r.n_name])
        n = len(series)
        s_stat = ties = n0 = 0
        for i in range(n):
            for j in range(i + 1, n):
                n0 += 1
                d = series[j][1] - series[i][1]
                s_stat += (d > 0) - (d < 0)
                ties += d == 0
        assert (r.n, r.s_stat, r.n_tied_pairs) == (n, s_stat, ties)
        if n0 > 0 and n0 - ties > 0:
            want = float(s_stat) / (
                math.sqrt(float(n0)) * math.sqrt(float(n0 - ties))
            )
            assert r.tau_b == want
            assert -1.0 <= r.tau_b <= 1.0


def test_ols_two_feature_vs_numpy(spark):
    """Betas agree with numpy lstsq to 1e-9 relative (proves the
    Cramer algebra, not just engine mirroring) and exactly equal the
    same-order Python det replay."""
    from collections import defaultdict
    from decimal import Decimal

    import numpy as np

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    sup = {
        s.s_suppkey: nat[s.s_nationkey]
        for s in read_table(spark, SF_SMALL, "supplier").collect()
    }
    rows_by_n = defaultdict(list)
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        x1 = int(li.l_quantity)
        x2 = int(Decimal(str(li.l_discount)).quantize(Decimal("0.01")) * 100)
        cents = int(
            Decimal(str(li.l_extendedprice)).quantize(Decimal("0.01"))
            * 100
        )
        # ep*(1-disc)*10000 = cents*(100 - disc_points); DIV 1e6 -> $
        y = cents * (100 - x2) // 1000000
        rows_by_n[sup[li.l_suppkey]].append((x1, x2, y))
    for r in _q(spark, "ols_two_feature").collect():
        data = rows_by_n[r.n_name]
        n = len(data)
        sx1 = sum(a for a, _, _ in data)
        sx2 = sum(b for _, b, _ in data)
        sy = sum(c for _, _, c in data)
        s11 = sum(a * a for a, _, _ in data)
        s12 = sum(a * b for a, b, _ in data)
        s22 = sum(b * b for _, b, _ in data)
        s1y = sum(a * c for a, _, c in data)
        s2y = sum(b * c for _, b, c in data)
        fn, f1, f2, fy = float(n), float(sx1), float(sx2), float(sy)
        f11, f12, f22 = float(s11), float(s12), float(s22)
        f1y, f2y = float(s1y), float(s2y)
        det = (
            fn * (f11 * f22 - f12 * f12)
            - f1 * (f1 * f22 - f12 * f2)
            + f2 * (f1 * f12 - f11 * f2)
        )
        det0 = (
            fy * (f11 * f22 - f12 * f12)
            - f1 * (f1y * f22 - f12 * f2y)
            + f2 * (f1y * f12 - f11 * f2y)
        )
        det1 = (
            fn * (f1y * f22 - f2y * f12)
            - fy * (f1 * f22 - f12 * f2)
            + f2 * (f1 * f2y - f1y * f2)
        )
        det2 = (
            fn * (f11 * f2y - f12 * f1y)
            - f1 * (f1 * f2y - f1y * f2)
            + fy * (f1 * f12 - f11 * f2)
        )
        assert r.n == n
        if det != 0.0:
            assert (r.beta0, r.beta1, r.beta2) == (
                det0 / det, det1 / det, det2 / det,
            )
            X = np.array([[1.0, a, b] for a, b, _ in data])
            yv = np.array([float(c) for _, _, c in data])
            ref = np.linalg.lstsq(X, yv, rcond=None)[0]
            for got, want in zip((r.beta0, r.beta1, r.beta2), ref):
                assert abs(got - want) <= 1e-9 * max(1.0, abs(want))


# -------------------------------------------- sequential-state batch 14


def test_duckdb_list_reduce_struct_quirk_pinned():
    """Pin the DuckDB 1.0.0 bug that forced holt's oracle onto a
    recursive CTE: in list_reduce with a STRUCT accumulator, a field
    that copies acc.l observes the FINAL l (not the previous step's)
    once the list has >= 3 elements. If this starts passing with the
    correct value (15.0), the workaround can be retired."""
    import duckdb

    got = duckdb.connect().execute(
        """
        SELECT list_reduce(
          [{'l': CAST(10 AS DOUBLE), 'b': CAST(0 AS DOUBLE)},
           {'l': CAST(20 AS DOUBLE), 'b': CAST(0 AS DOUBLE)},
           {'l': CAST(40 AS DOUBLE), 'b': CAST(0 AS DOUBLE)}],
          (acc, e) -> {'l': 0.5 * e.l + 0.5 * (acc.l + acc.b),
                       'b': acc.l})
        """
    ).fetchone()[0]
    assert got["l"] == 32.5
    assert got["b"] != 15.0  # the bug: correct left-fold would be 15


def test_holt_python_recompute(spark):
    """Level/trend/forecast equal a sequential Python replay of the
    identical IEEE recurrence over the midx-sorted series."""
    cells = _month_cells_py(spark)
    by_nation = {}
    for (nat, midx), cents in cells.items():
        by_nation.setdefault(nat, []).append((midx, cents))
    for r in _q(spark, "holt_linear_forecast").collect():
        series = [float(c) for _, c in sorted(by_nation[r.n_name])]
        l, b = series[0], 0.0
        for x in series[1:]:
            nl = 0.5 * x + 0.5 * (l + b)
            nb = 0.5 * (nl - l) + 0.5 * b
            l, b = nl, nb
        assert r.n == len(series)
        assert (r.level_out, r.trend_out) == (l, b)
        assert r.forecast_next == l + b


def test_kruskal_wallis_python_recompute(spark):
    """Group rank sums equal an exact midrank replay; H equals the
    same-order fold formula and is >= 0 up to the tie correction."""
    from collections import Counter, defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    vals = []
    for o in read_table(spark, SF_SMALL, "orders").collect():
        cents = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
        vals.append((cents, o.o_orderpriority))
    cnt = Counter(v for v, _ in vals)
    cum, s = {}, 0
    for v in sorted(cnt):
        cum[v] = s
        s += cnt[v]
    dmr = {v: 2 * cum[v] + cnt[v] + 1 for v in cnt}
    grp = defaultdict(lambda: [0, 0])
    for v, p in vals:
        g = grp[p]
        g[0] += 1
        g[1] += dmr[v]
    n = len(vals)
    ssum = 0.0
    for p in sorted(grp):
        nj, r2j = grp[p]
        ssum = ssum + float(r2j) * float(r2j) / 4.0 / float(nj)
    tsum = sum(t * t * t - t for t in cnt.values())
    h = (
        12.0 * ssum / (float(n) * float(n + 1)) - 3.0 * float(n + 1)
    ) / (1.0 - float(tsum) / float(n**3 - n))
    rows = _q(spark, "kruskal_wallis").collect()
    assert len(rows) == len(grp)
    for r in rows:
        nj, r2j = grp[r.o_orderpriority]
        assert (r.nj, r.r2j) == (nj, r2j)
        assert r.h_stat == h
    # doubled midranks over all rows must sum to N(N+1)
    assert sum(v[1] for v in grp.values()) == n * (n + 1)


# ------------------------------------------------- wavelet batch 15


def test_haar_energy_python_recompute(spark):
    """Per-level coefficient counts and truncated energies equal a
    pure-Python Haar cascade over the zero-padded dense index (and
    the cascade conserves the series total in its final approx)."""
    from collections import defaultdict

    cells = _month_cells_py(spark)
    origin = min(m for _, m in cells)
    series = defaultdict(dict)
    for (nat, midx), cents in cells.items():
        series[nat][midx - origin] = cents // 100
    want = {}
    for nat, s in series.items():
        cur = dict(s)
        for lvl in range(1, 8):
            nxt, det = {}, {}
            for i, v in cur.items():
                g = i // 2
                nxt[g] = nxt.get(g, 0) + v
                det[g] = det.get(g, 0) + (v if i % 2 == 0 else -v)
            want[(nat, lvl)] = (
                len(det),
                sum((d * d) // 1_000_000 for d in det.values()),
            )
            cur = nxt
        # conservation: final approx = series total
        assert sum(cur.values()) == sum(s.values())
    rows = _q(spark, "haar_wavelet_energy").collect()
    assert len(rows) == len(want)
    for r in rows:
        assert (r.n_coeffs, r.energy_mdollars2) == want[(r.n_name, r.level)]


# ------------------------------------------------ winnowing batch 16


def _winnow_py(text, k=5, w=4):
    import hashlib

    ws = text.strip().split()
    if len(ws) < k:
        return set(), 0
    hs = [
        int(
            hashlib.md5(" ".join(ws[i:i + k]).encode()).hexdigest()[:12],
            16,
        ) % (1 << 40)
        for i in range(len(ws) - k + 1)
    ]
    sel = set()
    for s in range(w - 1, len(hs)):
        win = hs[s - w + 1:s + 1]
        mn = min(win)
        # rightmost occurrence of the window minimum
        off = max(i for i, v in enumerate(win) if v == mn)
        sel.add(hs[s - w + 1 + off])
    return sel, len(hs)


def test_winnow_fingerprints_python_recompute(spark):
    """Per-source fingerprint counts equal a faithful Python winnow
    (windowed min, rightmost tie-break) and respect the density
    bound: at most one fingerprint per window."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    per_source = defaultdict(lambda: [0, 0, set()])
    fps_by_doc = {}
    for d in read_table(spark, SF_SMALL, "documents").collect():
        sel, n_grams = _winnow_py(d.text)
        fps_by_doc[d.doc_id] = sel
        a = per_source[d.source]
        a[0] += 1
        a[1] += len(sel)
        a[2] |= sel
        assert len(sel) <= max(n_grams - 3, 0)  # <= #windows
    rows = _q(spark, "winnow_fingerprints").collect()
    assert len(rows) == len(per_source)
    for r in rows:
        docs, fps, uniq = per_source[r.source]
        assert (r.n_docs, r.fingerprints, r.distinct_hashes) == (
            docs, fps, len(uniq),
        )


def test_winnow_pairs_python_recompute_and_guarantee(spark):
    """Pairs equal the Python fingerprint-set join (with the df<=50
    hub guard); and the winnowing GUARANTEE holds: two docs sharing
    a run of >= w+k-1 = 8 identical tokens share a fingerprint."""
    from collections import Counter

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    docs = {
        d.doc_id: d.text
        for d in read_table(spark, SF_SMALL, "documents").collect()
    }
    fps = {k: _winnow_py(t)[0] for k, t in docs.items()}
    df = Counter(h for s in fps.values() for h in s)
    kept = {k: {h for h in s if df[h] <= 50} for k, s in fps.items()}
    want = {}
    ids = sorted(kept)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            shared = len(kept[a] & kept[b])
            if shared >= 2:
                want[(a, b)] = (
                    shared,
                    shared * 1_000_000
                    // min(len(kept[a]), len(kept[b])),
                )
    rows = _q(spark, "winnow_plagiarism_pairs").collect()
    got = {(r.doc_a, r.doc_b): (r.shared, r.overlap_ppm) for r in rows}
    assert got == want
    # guarantee on a synthetic pair: common 8-token run -> shared fp
    run = "alpha beta gamma delta epsilon zeta eta theta"
    s1, _ = _winnow_py("x y z q " + run + " u v w")
    s2, _ = _winnow_py(run + " completely different tail words here")
    assert s1 & s2


# ------------------------------------------- density/funnel batch 17


def test_dbscan_core_points_bruteforce(spark):
    """Core/border/noise classification equals a brute-force all-pairs
    Python scan (grid completeness for eps <= cell width), and the
    three classes tile each nation's customer count."""
    import hashlib
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    pts = []
    for c in read_table(spark, SF_SMALL, "customer").collect():
        pts.append(
            (c.c_custkey, c.c_nationkey,
             h(f"gx:{c.c_custkey}") % 1024, h(f"gy:{c.c_custkey}") % 1024)
        )
    nn = {k: 0 for k, *_ in pts}
    nbrs = defaultdict(set)
    for i, (k1, _, x1, y1) in enumerate(pts):
        for k2, _, x2, y2 in pts[i + 1:]:
            if max(abs(x1 - x2), abs(y1 - y2)) <= 8:
                nn[k1] += 1
                nn[k2] += 1
                nbrs[k1].add(k2)
                nbrs[k2].add(k1)
    core = {k for k, c in nn.items() if c >= 3}
    want = defaultdict(lambda: [0, 0, 0])
    nname = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    per_nation = defaultdict(int)
    for k, nk, _, _ in pts:
        per_nation[nname[nk]] += 1
        w = want[nname[nk]]
        if k in core:
            w[0] += 1
        elif nbrs[k] & core:
            w[1] += 1
        else:
            w[2] += 1
    rows = _q(spark, "dbscan_core_points").collect()
    assert len(rows) == len(want)
    for r in rows:
        assert (r.n_core, r.n_border, r.n_noise) == tuple(want[r.n_name])
        assert r.n_core + r.n_border + r.n_noise == per_nation[r.n_name]


def test_funnel_time_to_convert_recompute(spark):
    """Quantiles equal the exact rank-element picks over a Python
    replay of first-view/first-purchase latencies."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    firsts = defaultdict(lambda: [None, None])
    for e in read_table(spark, SF_SMALL, "events").collect():
        f = firsts[e.user_id]
        if e.event_type == "view" and (f[0] is None or e.ts < f[0]):
            f[0] = e.ts
        if e.event_type == "purchase" and (f[1] is None or e.ts < f[1]):
            f[1] = e.ts
    lats = sorted(
        int((b - v).total_seconds() * 1_000_000)
        for v, b in firsts.values()
        if v is not None and b is not None and b > v
    )
    n = len(lats)
    cum = 0
    p50 = p90 = None
    seen = 0
    for us in lats:
        seen += 1
        if p50 is None and 2 * seen >= n:
            p50 = us
        if p90 is None and 10 * seen >= 9 * n:
            p90 = us
    r = _q(spark, "funnel_time_to_convert").collect()[0]
    assert (r.n_converted, r.p50_latency_us, r.p90_latency_us) == (
        n, p50, p90,
    )
    assert p50 <= p90


# ---------------------------------------------- linear-algebra batch 18


def test_pca_power_iteration_recompute_and_convergence(spark):
    """The iterate equals an exact big-int Python replay of all 12
    fixed-point iterations, stays L-inf normalized, and its cosine to
    numpy's true top eigenvector improves monotonically enough to
    beat the first iterate (the power-iteration property)."""
    import numpy as np

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    X = []
    for e in sorted(
        read_table(spark, SF_SMALL, "embeddings").collect(),
        key=lambda r: r.vec_id,
    ):
        vs = [float(x) for x in e.embedding]
        m = max(abs(v) for v in vs)
        X.append([int(127.0 * v / m) if m else 0 for v in vs])
    d = len(X[0])
    v = [1_000_000] * d

    def iterate(v):
        r = [sum(row[j] * v[j] for j in range(d)) for row in X]
        u = [sum(X[i][j] * r[i] for i in range(len(X))) for j in range(d)]
        mx = max(abs(x) for x in u)
        return [
            (1 if x >= 0 else -1) * ((abs(x) * 1_000_000) // mx)
            for x in u
        ]

    v1 = iterate(v)
    vfinal = v1
    for _ in range(11):
        vfinal = iterate(vfinal)
    got = {r.pos: r.w for r in _q(spark, "pca_power_iteration").collect()}
    assert got == {j + 1: vfinal[j] for j in range(d)}
    assert max(abs(w) for w in got.values()) == 1_000_000
    Xf = np.array(X, dtype=float)
    _, V = np.linalg.eigh(Xf.T @ Xf)
    top = V[:, -1]

    def cos(vec):
        a = np.array(vec, dtype=float)
        return abs(a @ top) / (np.linalg.norm(a) * np.linalg.norm(top))

    assert cos(vfinal) > cos(v1)


# ------------------------------------- symbolic/prep/classify batch 19


def test_sax_symbols_python_recompute(spark):
    """SAX strings equal a Python replay: 10-month segment sums,
    exact-rank quartile breakpoints, alphabet assignment in segment
    order; symbols use the full alphabet across nations."""
    cells = _month_cells_py(spark)
    origin = min(m for _, m in cells)
    segs = {}
    for (nat, midx), cents in cells.items():
        k = (nat, (midx - origin) // 10)
        segs[k] = segs.get(k, 0) + cents // 100
    vals = sorted(segs.values())
    n = len(vals)

    def pick(mult_num, mult_den):
        seen = 0
        # min v with mult_den*cum >= mult_num*tot over value cells
        from collections import Counter

        cnt = Counter(vals)
        cum = 0
        for v in sorted(cnt):
            cum += cnt[v]
            if mult_den * cum >= mult_num * n:
                return v

    q1, q2, q3 = pick(1, 4), pick(1, 2), pick(3, 4)

    def sym(v):
        return "a" if v <= q1 else "b" if v <= q2 else "c" if v <= q3 else "d"

    want = {}
    for (nat, s), v in segs.items():
        want.setdefault(nat, []).append((s, sym(v)))
    rows = _q(spark, "sax_symbols").collect()
    assert len(rows) == len(want)
    alphabet = set()
    for r in rows:
        expect = "".join(c for _, c in sorted(want[r.n_name]))
        assert r.sax == expect
        assert r.n_segments == len(want[r.n_name])
        alphabet |= set(r.sax)
    assert alphabet == {"a", "b", "c", "d"}


def test_quantile_normalize_recompute(spark):
    """Normalized values equal the rank-mean replay; after the
    transform, every source's value multiset at shared ranks is
    identical (the defining property of quantile normalization)."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    by_source = defaultdict(list)
    for d in read_table(spark, SF_SMALL, "documents").collect():
        by_source[d.source].append((d.n_chars, d.doc_id))
    ranks = defaultdict(list)
    for src, docs in by_source.items():
        for i, (nc, did) in enumerate(sorted(docs)):
            ranks[i + 1].append(nc)
    mu = {rk: sum(v) // len(v) for rk, v in ranks.items()}
    rows = _q(spark, "quantile_normalize").collect()
    assert len(rows) == sum(len(v) for v in by_source.values())
    per_source_norm = defaultdict(set)
    for r in rows:
        assert r.normalized == mu[r.rk]
        assert r.n_sources == len(ranks[r.rk])
        per_source_norm[r.source].add((r.rk, r.normalized))
    # common-distribution property at fully-populated ranks
    full = {rk for rk, v in ranks.items() if len(v) == len(by_source)}
    base = None
    for src, pairs in per_source_norm.items():
        got = {p for p in pairs if p[0] in full}
        base = got if base is None else base
        assert got == base


def test_knn_classify_recompute(spark):
    """Predictions equal a brute-force Python k-NN over the identical
    quantized codes with the same rank and vote tie-breaks."""
    from collections import Counter

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    vecs, labels = {}, {}
    for e in read_table(spark, SF_SMALL, "embeddings").collect():
        vs = [float(x) for x in e.embedding]
        m = max(abs(v) for v in vs)
        vecs[e.vec_id] = [int(127.0 * v / m) if m else 0 for v in vs]
        labels[e.vec_id] = e.label
    rows = _q(spark, "knn_classify").collect()
    assert len(rows) == 8
    for r in rows:
        qv = vecs[r.query_id]
        dots = sorted(
            (
                (-sum(a * b for a, b in zip(qv, vecs[k])), k)
                for k in vecs
                if k != r.query_id
            )
        )[:5]
        votes = Counter(labels[k] for _, k in dots)
        mx = max(votes.values())
        best = min(l for l, v in votes.items() if v == mx)
        assert (r.predicted_label, r.votes) == (best, mx)


# ------------------------------------------ paired/chain batch 20


def test_mcnemar_python_recompute(spark):
    """Discordant counts and chi2 equal the paired-label replay with
    the exact-rank global median threshold."""
    from collections import Counter, defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    cn = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    orders = read_table(spark, SF_SMALL, "orders").collect()
    vals = sorted(
        int(Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100)
        for o in orders
    )
    n = len(vals)
    cum, med = 0, None
    cnt = Counter(vals)
    for v in sorted(cnt):
        cum += cnt[v]
        if med is None and 2 * cum >= n:
            med = v
    bc = defaultdict(lambda: [0, 0])
    for o in orders:
        cents = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
        a = 1 if o.o_orderstatus == "F" else 0
        b = 1 if cents > med else 0
        if a == 1 and b == 0:
            bc[cn[o.o_custkey]][0] += 1
        if a == 0 and b == 1:
            bc[cn[o.o_custkey]][1] += 1
    for r in _q(spark, "mcnemar_test").collect():
        b, c = bc[r.n_name]
        assert (r.b_discordant, r.c_discordant) == (b, c)
        if b + c > 0:
            assert r.mcnemar_chi2 == float((b - c) * (b - c)) / float(b + c)
        else:
            assert r.mcnemar_chi2 is None


def test_cohen_kappa_recompute_and_bounds(spark):
    """Marginals and kappa equal the rational-replay; kappa is within
    [-1, 1] and positive here (spend and order count correlate)."""
    from collections import Counter, defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        n.n_nationkey: n.n_regionkey
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    reg = {
        r.r_regionkey: r.r_name
        for r in read_table(spark, SF_SMALL, "region").collect()
    }
    spend = defaultdict(int)
    cnt = defaultdict(int)
    region_of = {}
    for c in read_table(spark, SF_SMALL, "customer").collect():
        spend[c.c_custkey] += 0
        region_of[c.c_custkey] = reg[nat[c.c_nationkey]]
    for o in read_table(spark, SF_SMALL, "orders").collect():
        spend[o.o_custkey] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01")) * 100
        )
        cnt[o.o_custkey] += 1

    def med(values):
        n = len(values)
        c = Counter(values)
        cum = 0
        for v in sorted(c):
            cum += c[v]
            if 2 * cum >= n:
                return v

    smed = med(list(spend.values()))
    omed = med([cnt[k] for k in spend])
    g = defaultdict(lambda: [0, 0, 0, 0])  # n, agree, r1, c1
    for k in spend:
        a = 1 if spend[k] > smed else 0
        b = 1 if cnt[k] > omed else 0
        w = g[region_of[k]]
        w[0] += 1
        w[1] += a == b
        w[2] += a
        w[3] += b
    for r in _q(spark, "cohen_kappa").collect():
        n, agree, r1, c1 = g[r.r_name]
        assert (r.n, r.agree, r.r1, r.c1) == (n, agree, r1, c1)
        pe = r1 * c1 + (n - r1) * (n - c1)
        if n * n - pe != 0:
            want = float(n * agree - pe) / float(n * n - pe)
            assert r.kappa == want
            assert -1.0 <= r.kappa <= 1.0


def test_markov_stationary_recompute(spark):
    """The 16-step fixed-point iteration equals an exact integer
    Python replay; total mass stays within 100 ppm of 1e6 (the
    truncation bleed the docstring promises)."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    by_user = defaultdict(list)
    for e in read_table(spark, SF_SMALL, "events").collect():
        by_user[e.user_id].append((e.ts, e.event_id, e.event_type))
    trans = defaultdict(int)
    for evs in by_user.values():
        evs.sort()
        for (a, b) in zip(evs, evs[1:]):
            trans[(a[2], b[2])] += 1
    row = defaultdict(int)
    for (s, d), c in trans.items():
        row[s] += c
    p = {(s, d): c * 1_000_000 // row[s] for (s, d), c in trans.items()}
    types = sorted(row)
    pi = {t: 1_000_000 // len(types) for t in types}
    for _ in range(16):
        nxt = defaultdict(int)
        for (s, d), ppm in p.items():
            nxt[d] += pi[s] * ppm
        pi = {t: v // 1_000_000 for t, v in nxt.items()}
    got = {
        r.event_type: r.stationary_ppm
        for r in _q(spark, "markov_stationary").collect()
    }
    assert got == pi
    assert 1_000_000 - sum(got.values()) <= 100


def test_token_cooccurrence_lift_recompute(spark):
    """Top-20 collocations equal a pure-Python replay: whitespace
    tokenize, count skip-gram pairs within +1..+3, support floor 10,
    integer lift_ppm = joint*T*1e6 // (f1*f2), order by (lift desc,
    w1, w2)."""
    import re
    from collections import Counter

    toks_by_doc = {}
    for d in _docs(spark).collect():
        toks_by_doc[d.doc_id] = re.split(r"\s+", d.text.strip())
    uni = Counter()
    pairs = Counter()
    total = 0
    for ws in toks_by_doc.values():
        total += len(ws)
        uni.update(ws)
        for i, a in enumerate(ws):
            for b in ws[i + 1 : i + 4]:
                if a != b:
                    pairs[(min(a, b), max(a, b))] += 1
    scored = [
        (
            joint * total * 1_000_000 // (uni[w1] * uni[w2]),
            w1,
            w2,
            joint,
        )
        for (w1, w2), joint in pairs.items()
        if joint >= 10
    ]
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    want = [(w1, w2, joint, lift) for lift, w1, w2, joint in scored[:20]]
    got = [
        (r.w1, r.w2, r.joint, r.lift_ppm)
        for r in _q(spark, "token_cooccurrence_lift")
        .orderBy(F.desc("lift_ppm"), "w1", "w2")
        .collect()
    ]
    assert got == want


def test_seasonal_naive_anomaly_recompute(spark):
    """Anomalous-day counts equal a pure-Python replay of the
    same-weekday median/MAD rule (exact rank-pick medians, integer
    2-MAD threshold)."""
    import datetime
    from collections import Counter, defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    anchor = datetime.date(1995, 1, 1)
    daily = Counter()
    for e in read_table(spark, SF_SMALL, "events").collect():
        daily[(e.event_type, e.ts.date())] += 1

    def med(values):
        n = len(values)
        c = Counter(values)
        cum = 0
        for v in sorted(c):
            cum += c[v]
            if 2 * cum >= n:
                return v

    cells = defaultdict(list)
    for (et, day), cnt in daily.items():
        cells[(et, (day - anchor).days % 7)].append(cnt)
    m = {k: med(v) for k, v in cells.items()}
    mad = {
        k: med([abs(x - m[k]) for x in v]) for k, v in cells.items()
    }
    n_days = Counter()
    anom = Counter()
    for (et, day), cnt in daily.items():
        k = (et, (day - anchor).days % 7)
        n_days[et] += 1
        if abs(cnt - m[k]) > 2 * mad[k]:
            anom[et] += 1
    for r in _q(spark, "seasonal_naive_anomaly").collect():
        assert (r.n_days, r.anomalous_days) == (
            n_days[r.event_type],
            anom[r.event_type],
        )


def test_hits_hubs_authorities_recompute(spark):
    """The 8-round fixed-point HITS iteration equals an exact
    integer Python replay on the same above-mean directed edge set;
    each score vector's max is exactly 1e6 (the normalization
    invariant that makes zero-division impossible)."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cn = {
        c.c_custkey: c.c_nationkey
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    sn = {
        s.s_suppkey: s.s_nationkey
        for s in read_table(spark, SF_SMALL, "supplier").collect()
    }
    cust_of = {
        o.o_orderkey: o.o_custkey
        for o in read_table(spark, SF_SMALL, "orders").collect()
    }
    vol = defaultdict(Decimal)
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        src = sn[li.l_suppkey]
        dst = cn[cust_of[li.l_orderkey]]
        if src != dst:
            vol[(src, dst)] += Decimal(str(li.l_extendedprice)).quantize(
                Decimal("0.01")
            ) * (Decimal(1) - Decimal(str(li.l_discount)).quantize(
                Decimal("0.01")
            ))
    cnt = len(vol)
    tot = float(sum(vol.values()))
    edges = [k for k, v in vol.items() if float(v) * cnt > tot]
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    a = {n: 1_000_000 for n in nodes}

    def step(state, out_idx, in_idx):
        raw = {n: 0 for n in nodes}
        for e in edges:
            raw[e[out_idx]] += state[e[in_idx]]
        mx = max(raw.values())
        return {n: r * 1_000_000 // mx for n, r in raw.items()}

    for _ in range(8):
        h = step(a, 0, 1)
        a = step(h, 1, 0)
    nname = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    got = {
        r.n_name: (r.hub_ppm, r.auth_ppm)
        for r in _q(spark, "hits_hubs_authorities").collect()
    }
    assert got == {nname[n]: (h[n], a[n]) for n in nodes}
    assert max(v[0] for v in got.values()) == 1_000_000
    assert max(v[1] for v in got.values()) == 1_000_000


def test_lead_lag_crosscorr_recompute(spark):
    """Per-lag Pearson r equals the exact-moment Python replay with
    the identical mirrored IEEE division; pair counts shrink as the
    lag window slides off the calendar."""
    import math
    from collections import Counter

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    daily = Counter()
    for e in read_table(spark, SF_SMALL, "events").collect():
        daily[(e.event_type, e.ts.date())] += 1
    x = {d: c for (t, d), c in daily.items() if t == "view"}
    y = {d: c for (t, d), c in daily.items() if t == "purchase"}
    import datetime

    want = {}
    for lag in range(8):
        pts = [
            (xc, y[d + datetime.timedelta(days=lag)])
            for d, xc in x.items()
            if d + datetime.timedelta(days=lag) in y
        ]
        n = len(pts)
        sx = sum(p[0] for p in pts)
        sy = sum(p[1] for p in pts)
        sxx = sum(p[0] * p[0] for p in pts)
        syy = sum(p[1] * p[1] for p in pts)
        sxy = sum(p[0] * p[1] for p in pts)
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        corr = (
            float(n * sxy - sx * sy)
            / (math.sqrt(float(vx)) * math.sqrt(float(vy)))
            if vx > 0 and vy > 0
            else None
        )
        want[lag] = (n, corr)
    got = {
        r.lag: (r.n, r.corr)
        for r in _q(spark, "lead_lag_crosscorr").collect()
    }
    assert got == want


def test_label_centroid_cosine_recompute(spark):
    """Centroid cosines equal the Python replay: trunc-int8 codes,
    trunc-division ppm centroids, exact integer dots/norms, one
    mirrored float division; all 45 label pairs present and within
    [-1, 1]."""
    import math
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    def tdiv(a, b):
        return -((-a) // b) if a < 0 else a // b

    sums = defaultdict(int)
    cnts = defaultdict(int)
    for r in read_table(spark, SF_SMALL, "embeddings").collect():
        vs = [float(v) for v in r.embedding]
        m = max(abs(v) for v in vs)
        for pos, v in enumerate(vs):
            qv = 0 if m == 0 else int(127.0 * v / m)
            sums[(r.label, pos)] += qv
            cnts[(r.label, pos)] += 1
    cent = defaultdict(dict)
    for (lbl, pos), s in sums.items():
        cent[lbl][pos] = tdiv(s * 1_000_000, cnts[(lbl, pos)])
    labels = sorted(cent)
    nn = {
        l: sum(c * c for c in cent[l].values()) for l in labels
    }
    want = {}
    for i, l1 in enumerate(labels):
        for l2 in labels[i + 1 :]:
            dot = sum(
                cent[l1][p] * cent[l2][p] for p in cent[l1]
            )
            want[(l1, l2)] = (
                float(dot)
                / (math.sqrt(float(nn[l1])) * math.sqrt(float(nn[l2])))
                if nn[l1] > 0 and nn[l2] > 0
                else None
            )
    got = {
        (r.l1, r.l2): r.cos_sim
        for r in _q(spark, "label_centroid_cosine").collect()
    }
    assert got == want
    assert len(got) == len(labels) * (len(labels) - 1) // 2
    assert all(v is None or -1.0 <= v <= 1.0 for v in got.values())


def test_label_propagation_recompute(spark):
    """The 8 synchronous min-tiebreak LPA rounds equal a pure-Python
    replay on the same above-mean edge set; communities partition
    the node set."""
    from collections import Counter, defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cn = {
        c.c_custkey: c.c_nationkey
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    sn = {
        s.s_suppkey: s.s_nationkey
        for s in read_table(spark, SF_SMALL, "supplier").collect()
    }
    cust_of = {
        o.o_orderkey: o.o_custkey
        for o in read_table(spark, SF_SMALL, "orders").collect()
    }
    vol = defaultdict(Decimal)
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        a, b = sn[li.l_suppkey], cn[cust_of[li.l_orderkey]]
        if a != b:
            vol[(min(a, b), max(a, b))] += Decimal(
                str(li.l_extendedprice)
            ).quantize(Decimal("0.01")) * (
                Decimal(1)
                - Decimal(str(li.l_discount)).quantize(Decimal("0.01"))
            )
    cnt = len(vol)
    tot = float(sum(vol.values()))
    e0 = [k for k, v in vol.items() if float(v) * cnt > tot]
    adj = defaultdict(list)
    for a, b in e0:
        adj[a].append(b)
        adj[b].append(a)
    lab = {n: n for n in adj}
    for _ in range(8):
        new = {}
        for n in adj:
            votes = Counter(lab[x] for x in adj[n])
            new[n] = min(
                votes, key=lambda l: (-votes[l], l)
            )
        lab = new
    nname = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    want = defaultdict(list)
    for n, l in lab.items():
        want[l].append(nname[n])
    got = {
        r.community: (r.n_nations, r.members)
        for r in _q(spark, "label_propagation_communities").collect()
    }
    assert got == {
        l: (len(ms), "|".join(sorted(ms))) for l, ms in want.items()
    }
    assert sum(v[0] for v in got.values()) == len(adj)


def test_silhouette_by_label_recompute(spark):
    """Per-label mean silhouette equals the all-integer Python
    replay (trunc divisions throughout); scores live in
    [-1e6, 1e6]."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    def tdiv(a, b):
        return -((-a) // b) if a < 0 else a // b

    codes, own = {}, {}
    sums = defaultdict(int)
    cnts = defaultdict(int)
    for r in read_table(spark, SF_SMALL, "embeddings").collect():
        vs = [float(v) for v in r.embedding]
        m = max(abs(v) for v in vs)
        qv = [0 if m == 0 else int(127.0 * v / m) for v in vs]
        codes[r.vec_id] = qv
        own[r.vec_id] = r.label
        for pos, q in enumerate(qv):
            sums[(r.label, pos)] += q
            cnts[(r.label, pos)] += 1
    cent = defaultdict(dict)
    for (lbl, pos), s in sums.items():
        cent[lbl][pos] = tdiv(s * 1_000_000, cnts[(lbl, pos)])
    agg = defaultdict(lambda: [0, 0])
    for vid, qv in codes.items():
        d2 = {
            lbl: sum(
                (q * 1_000_000 - cent[lbl][p]) ** 2 // 1_000_000
                for p, q in enumerate(qv)
            )
            for lbl in cent
        }
        a2 = d2[own[vid]]
        b2 = min(v for l, v in d2.items() if l != own[vid])
        mx = max(a2, b2)
        s_ppm = 0 if mx == 0 else tdiv((b2 - a2) * 1_000_000, mx)
        agg[own[vid]][0] += 1
        agg[own[vid]][1] += s_ppm
    for r in _q(spark, "silhouette_by_label").collect():
        n, ssum = agg[r.label]
        assert r.n == n
        assert r.mean_s_ppm == tdiv(ssum, n)
        assert -1_000_000 <= r.mean_s_ppm <= 1_000_000


def test_position_multitouch_attribution_recompute(spark):
    """Channel credits equal the Python replay of the U-shaped
    40/20/40 rule; total credit is within the truncation remainder
    of 1e6 per converted window."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    by_user = defaultdict(list)
    for e in read_table(spark, SF_SMALL, "events").collect():
        by_user[e.user_id].append((e.ts, e.event_id, e.event_type))
    credit = defaultdict(lambda: [0, 0])
    n_windows = 0
    for evs in by_user.values():
        evs.sort()
        types = [t for _, _, t in evs]
        # walk conversions left to right, crediting prior touches
        touches = []
        for t in types:
            if t == "purchase":
                k = len(touches)
                if k:
                    n_windows += 1
                for i, ch in enumerate(touches):
                    if k == 1:
                        w = 1_000_000
                    elif k == 2:
                        w = 500_000
                    elif i == 0 or i == k - 1:
                        w = 400_000
                    else:
                        w = 200_000 // (k - 2)
                    credit[ch][0] += 1
                    credit[ch][1] += w
                touches = []
            elif t in ("view", "click"):
                touches.append(t)
    got = {
        r.event_type: (r.n_touches, r.credit_ppm)
        for r in _q(spark, "position_multitouch_attribution").collect()
    }
    assert got == {ch: tuple(v) for ch, v in credit.items()}
    total = sum(v[1] for v in got.values())
    assert 0 <= n_windows * 1_000_000 - total < n_windows * 1_000_000


def test_association_rules_recompute(spark):
    """Top-20 rules equal the Python basket replay; confidence is
    the exact truncated ppm ratio and every rule meets the support
    floor."""
    from collections import Counter, defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    baskets = defaultdict(set)
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        baskets[li.l_orderkey].add(li.l_partkey)
    supp = Counter()
    sab = Counter()
    for items in baskets.values():
        supp.update(items)
        for a in items:
            for b in items:
                if a != b:
                    sab[(a, b)] += 1
    scored = [
        (c * 1_000_000 // supp[a], a, b, c)
        for (a, b), c in sab.items()
        if c >= 3
    ]
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    want = [(a, b, c, conf) for conf, a, b, c in scored[:20]]
    got = [
        (r.ante, r.cons, r.sab, r.conf_ppm)
        for r in _q(spark, "association_rules")
        .orderBy(F.desc("conf_ppm"), "ante", "cons")
        .collect()
    ]
    assert got == want
    assert all(c >= 3 for _, _, c, _ in got)


def test_cochran_armitage_recompute(spark):
    """z_trend equals the mirrored-IEEE Python replay from exact
    integer moments; per-score evidence rows match raw counts."""
    import math
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    g = defaultdict(lambda: [0, 0])
    for o in read_table(spark, SF_SMALL, "orders").collect():
        w = int(o.o_orderpriority[0])
        g[w][0] += 1
        g[w][1] += o.o_orderstatus == "F"
    n = sum(v[0] for v in g.values())
    r = sum(v[1] for v in g.values())
    swr = sum(w * v[1] for w, v in g.items())
    swn = sum(w * v[0] for w, v in g.items())
    sw2n = sum(w * w * v[0] for w, v in g.items())
    z = (
        float(n * swr - r * swn)
        * math.sqrt(float(n))
        / math.sqrt(float(r * (n - r)) * float(n * sw2n - swn * swn))
        if 0 < r < n and n * sw2n - swn * swn > 0
        else None
    )
    rows = _q(spark, "cochran_armitage_trend").collect()
    assert {x.w: (x.n_i, x.r_i) for x in rows} == {
        w: tuple(v) for w, v in g.items()
    }
    assert all(x.z_trend == z for x in rows)


def test_ipf_raking_recompute(spark):
    """The 6 alternating integer scalings equal a pure-Python
    replay; total mass stays within |cells| ppm of 1e6 per
    half-round's truncation budget."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    seg_of = {
        c.c_custkey: c.c_mktsegment
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    cnt = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        cnt[(seg_of[o.o_custkey], o.o_orderpriority)] += 1
    n = sum(cnt.values())
    segs = sorted({s for s, _ in cnt})
    pris = sorted({p for _, p in cnt})
    rt = {
        s: sum(c for (s2, _), c in cnt.items() if s2 == s)
        * 1_000_000
        // n
        for s in segs
    }
    ct = {
        p: sum(c for (_, p2), c in cnt.items() if p2 == p)
        * 1_000_000
        // n
        for p in pris
    }
    ncell = len(segs) * len(pris)
    x = {(s, p): 1_000_000 // ncell for s in segs for p in pris}
    for _ in range(6):
        for s in segs:
            rs = sum(x[(s, p)] for p in pris)
            for p in pris:
                x[(s, p)] = x[(s, p)] * rt[s] // rs
        for p in pris:
            cs = sum(x[(s, p)] for s in segs)
            for s in segs:
                x[(s, p)] = x[(s, p)] * ct[p] // cs
    got = {
        (r.seg, r.pri): r.share_ppm
        for r in _q(spark, "ipf_raking").collect()
    }
    assert got == x
    assert abs(sum(got.values()) - 1_000_000) <= 12 * ncell


def test_huber_mean_recompute(spark):
    """The 4 clipped-mean rounds equal the integer Python replay
    from the same rank-pick median/MAD; the estimate stays inside
    the clip interval."""
    from collections import Counter, defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    vals = defaultdict(list)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        cents = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
        vals[nation_of[o.o_custkey]].append(cents)

    def med(values):
        nn = len(values)
        c = Counter(values)
        cum = 0
        for v in sorted(c):
            cum += c[v]
            if 2 * cum >= nn:
                return v

    want = {}
    for name, xs in vals.items():
        m = med(xs)
        mad = med([abs(v - m) for v in xs])
        for _ in range(4):
            m = sum(
                min(max(v, m - 2 * mad), m + 2 * mad) for v in xs
            ) // len(xs)
        want[name] = (m, mad)
    for r in _q(spark, "huber_mean_cents").collect():
        m, mad = want[r.n_name]
        assert r.huber_mean_cents == m


def test_cliffs_delta_recompute_brute(spark):
    """The doubled-midrank identity equals the O(n1*n2) brute-force
    pairwise count for every nation; |delta| <= 1e6."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    g = defaultdict(lambda: ([], []))
    for o in read_table(spark, SF_SMALL, "orders").collect():
        if o.o_orderpriority not in ("1-URGENT", "5-LOW"):
            continue
        cents = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
        g[nation_of[o.o_custkey]][
            0 if o.o_orderpriority == "1-URGENT" else 1
        ].append(cents)

    def tdiv(a, b):
        return -((-a) // b) if a < 0 else a // b

    for r in _q(spark, "cliffs_delta").collect():
        g1, g2 = g[r.n_name]
        assert (r.n1, r.n2) == (len(g1), len(g2))
        if g1 and g2:
            gt = sum(1 for x in g1 for y in g2 if x > y)
            lt = sum(1 for x in g1 for y in g2 if x < y)
            want = tdiv((gt - lt) * 1_000_000, len(g1) * len(g2))
            assert r.cliffs_delta_ppm == want
            assert -1_000_000 <= r.cliffs_delta_ppm <= 1_000_000
        else:
            assert r.cliffs_delta_ppm is None


def test_odds_ratio_recompute(spark):
    """2x2 cells and the ppm odds ratio equal the Python replay;
    cells tile the nation's orders."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    t = defaultdict(lambda: [0, 0, 0, 0])
    for o in read_table(spark, SF_SMALL, "orders").collect():
        e = o.o_orderpriority in ("1-URGENT", "2-HIGH")
        f = o.o_orderstatus == "F"
        idx = (0 if f else 1) if e else (2 if f else 3)
        t[nation_of[o.o_custkey]][idx] += 1
    for r in _q(spark, "odds_ratio_by_nation").collect():
        a, b, c, d = t[r.n_name]
        assert (r.a, r.b, r.c, r.d) == (a, b, c, d)
        if b * c > 0:
            assert r.odds_ratio_ppm == a * d * 1_000_000 // (b * c)
        else:
            assert r.odds_ratio_ppm is None


def test_closeness_centrality_recompute(spark):
    """Min-plus doubling equals a Python BFS APSP on the same edge
    set (5 doublings cover any path <= 32 on a <=25-node graph);
    harmonic sums match exactly."""
    from collections import defaultdict, deque
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cn = {
        c.c_custkey: c.c_nationkey
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    sn = {
        s.s_suppkey: s.s_nationkey
        for s in read_table(spark, SF_SMALL, "supplier").collect()
    }
    cust_of = {
        o.o_orderkey: o.o_custkey
        for o in read_table(spark, SF_SMALL, "orders").collect()
    }
    vol = defaultdict(Decimal)
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        a, b = sn[li.l_suppkey], cn[cust_of[li.l_orderkey]]
        if a != b:
            vol[(min(a, b), max(a, b))] += Decimal(
                str(li.l_extendedprice)
            ).quantize(Decimal("0.01")) * (
                Decimal(1)
                - Decimal(str(li.l_discount)).quantize(Decimal("0.01"))
            )
    cnt = len(vol)
    tot = float(sum(vol.values()))
    adj = defaultdict(list)
    for (a, b), v in vol.items():
        if float(v) * cnt > tot:
            adj[a].append(b)
            adj[b].append(a)
    nname = {
        n.n_nationkey: n.n_name
        for n in read_table(spark, SF_SMALL, "nation").collect()
    }
    want = {}
    for src in adj:
        dist = {src: 0}
        dq = deque([src])
        while dq:
            u = dq.popleft()
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    dq.append(w)
        reach = [d for n2, d in dist.items() if d > 0]
        want[nname[src]] = (
            len(reach),
            sum(1_000_000 // d for d in reach),
        )
    got = {
        r.n_name: (r.n_reachable, r.harmonic_ppm)
        for r in _q(spark, "closeness_centrality").collect()
    }
    assert got == want


def test_friedman_recompute(spark):
    """Doubled-midrank sums and the chi2 equal the Python replay on
    complete month blocks only."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_regionkey
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    reg = {
        x.r_regionkey: x.r_name
        for x in read_table(spark, SF_SMALL, "region").collect()
    }
    region_of = {
        c.c_custkey: reg[nat[c.c_nationkey]]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    cells = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        mon = o.o_orderdate.year * 100 + o.o_orderdate.month
        cents = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
        cells[(region_of[o.o_custkey], mon)] += cents
    regions = sorted({r for r, _ in cells})
    k = len(regions)
    months = sorted({m for _, m in cells})
    full = [
        m for m in months if all((r, m) in cells for r in regions)
    ]
    dr = defaultdict(int)
    for m in full:
        vals = sorted(cells[(r, m)] for r in regions)
        for r in regions:
            v = cells[(r, m)]
            lt = sum(1 for x in vals if x < v)
            eq = sum(1 for x in vals if x == v)
            dr[r] += 2 * (lt + 1) + eq - 1
    b = len(full)
    ss = sum((dr[r] - b * (k + 1)) ** 2 for r in regions)
    chi2 = float(3 * ss) / float(b * k * (k + 1))
    for row in _q(spark, "friedman_test").collect():
        assert row.dr == dr[row.r_name]
        assert row.friedman_chi2 == chi2


def test_rapid_repeat_events_recompute(spark):
    """Banded pair counts equal the brute-force O(n^2)-per-user
    replay of the 60-minute same-type window."""
    import datetime
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    by_ut = defaultdict(list)
    for e in read_table(spark, SF_SMALL, "events").collect():
        by_ut[(e.user_id, e.event_type)].append((e.ts, e.event_id))
    pairs = defaultdict(int)
    users = defaultdict(set)
    lim = datetime.timedelta(minutes=60)
    for (uid, et), evs in by_ut.items():
        for a in evs:
            for bb in evs:
                if (
                    a[0] <= bb[0] <= a[0] + lim
                    and (bb[0] > a[0] or bb[1] > a[1])
                    and a[1] != bb[1]
                ):
                    pairs[et] += 1
                    users[et].add(uid)
    got = {
        r.event_type: (r.n_pairs, r.n_users)
        for r in _q(spark, "rapid_repeat_events").collect()
    }
    assert got == {
        et: (pairs[et], len(users[et])) for et in pairs
    }
    assert sum(p for p, _ in got.values()) > 0


def test_forecastability_ratio_recompute(spark):
    """Lag-1/lag-12 absolute-diff sums and the cross-multiplied ppm
    ratio equal the calendar-aligned Python replay."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    m = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        midx = (o.o_orderdate.year - 1990) * 12 + o.o_orderdate.month - 1
        m[(nation_of[o.o_custkey], midx)] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )

    def lag_sum(k):
        n_, s_ = defaultdict(int), defaultdict(int)
        for (name, midx), v in m.items():
            if (name, midx - k) in m:
                n_[name] += 1
                s_[name] += abs(v - m[(name, midx - k)])
        return n_, s_

    n1, s1 = lag_sum(1)
    n12, s12 = lag_sum(12)
    for r in _q(spark, "forecastability_ratio").collect():
        assert (r.n1, r.n12) == (n1[r.n_name], n12[r.n_name])
        if s1[r.n_name] > 0 and n12[r.n_name] > 0:
            want = (
                s12[r.n_name]
                * n1[r.n_name]
                * 1_000_000
                // (s1[r.n_name] * n12[r.n_name])
            )
            assert r.seasonal_ratio_ppm == want
        else:
            assert r.seasonal_ratio_ppm is None


def test_revenue_bridge_pvm_recompute(spark):
    """Volume effect equals the Python replay and the bridge always
    reconciles: volume + price/mix == delta exactly."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    meta = {}
    for o in read_table(spark, SF_SMALL, "orders").collect():
        if o.o_orderdate.year in (1996, 1997):
            meta[o.o_orderkey] = (
                nation_of[o.o_custkey],
                o.o_orderdate.year,
            )
    agg = defaultdict(lambda: [0, 0])
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        if li.l_orderkey not in meta:
            continue
        name, yr = meta[li.l_orderkey]
        cents = int(
            Decimal(str(li.l_extendedprice)).quantize(
                Decimal("0.01")
            )
            * 100
        )
        agg[(name, yr)][0] += cents
        agg[(name, yr)][1] += int(li.l_quantity)

    def tdiv(a, b):
        return -((-a) // b) if a < 0 else a // b

    for r in _q(spark, "revenue_bridge_pvm").collect():
        r1, q1 = agg[(r.n_name, 1996)]
        r2, q2 = agg[(r.n_name, 1997)]
        assert r.delta_cents == r2 - r1
        if q1 > 0:
            ve = tdiv((q2 - q1) * r1, q1)
            assert r.volume_effect_cents == ve
            assert (
                r.volume_effect_cents + r.price_mix_effect_cents
                == r.delta_cents
            )


def test_shapley_channel_recompute(spark):
    """Doubled Shapley values equal the exposure-cell replay and
    efficiency holds exactly: phi_v + phi_c == 2 * v({v,c})."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    by_user = defaultdict(list)
    for e in read_table(spark, SF_SMALL, "events").collect():
        by_user[e.user_id].append((e.ts, e.event_id, e.event_type))
    cells = defaultdict(lambda: [0, 0])
    for evs in by_user.values():
        evs.sort()
        touches = []
        for _, _, t in evs:
            if t == "purchase":
                if touches:
                    key = (
                        int("view" in touches),
                        int("click" in touches),
                    )
                    cells[key][0] += 1
                    cells[key][1] += 1
                touches = []
            elif t in ("view", "click"):
                touches.append(t)
        if touches:
            key = (int("view" in touches), int("click" in touches))
            cells[key][0] += 1
    def rate(k):
        n, conv = cells.get(k, (0, 0))
        return conv * 1_000_000 // n if n else 0

    v_only, c_only, vc = rate((1, 0)), rate((0, 1)), rate((1, 1))
    got = {
        r.channel: (r.phi_x2_ppm, r.n_windows)
        for r in _q(spark, "shapley_channel_attribution").collect()
    }
    nwin = sum(v[0] for v in cells.values())
    assert got["view"] == (v_only + vc - c_only, nwin)
    assert got["click"] == (c_only + vc - v_only, nwin)
    assert got["view"][0] + got["click"][0] == 2 * vc


def test_order_aging_recompute(spark):
    """Aging buckets equal the Python replay; buckets tile the open
    orders and every open order has truly unshipped lineitems."""
    import datetime
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    first_ship = {}
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        d = li.l_shipdate
        k = li.l_orderkey
        if k not in first_ship or d < first_ship[k]:
            first_ship[k] = d
    snap = datetime.datetime(1997, 6, 1)
    want = defaultdict(lambda: [0, 0])
    for o in read_table(spark, SF_SMALL, "orders").collect():
        fs = first_ship.get(o.o_orderkey)
        od = o.o_orderdate
        if fs is None or od > snap or fs <= snap:
            continue
        age = (snap.date() - (od.date() if hasattr(od, "date") else od)).days
        b = (
            "00-30"
            if age <= 30
            else "31-60"
            if age <= 60
            else "61-90"
            if age <= 90
            else "90+"
        )
        want[b][0] += 1
        want[b][1] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
    got = {
        r.bucket: (r.n_orders, r.open_cents)
        for r in _q(spark, "order_aging_buckets").collect()
    }
    assert got == {b: tuple(v) for b, v in want.items()}


def test_negative_sampling_recompute(spark):
    """Sampled negatives equal the Python md5 replay; no emitted
    negative collides with the user's positive set and every
    positive yields at most 3 slots."""
    import hashlib
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    order_cust = {
        o.o_orderkey: o.o_custkey
        for o in read_table(spark, SF_SMALL, "orders").collect()
    }
    pos = set()
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        cust = order_cust[li.l_orderkey]
        if cust % 50 == 0:
            pos.add((cust, li.l_partkey))
    parts = sorted(
        p.p_partkey
        for p in read_table(spark, SF_SMALL, "part").collect()
    )
    np_ = len(parts)
    by_cust = defaultdict(set)
    for cust, part in pos:
        by_cust[cust].add(part)
    want = set()
    for cust, part in pos:
        for j in (1, 2, 3):
            h = hashlib.md5(
                f"{cust}:{part}:{j}".encode()
            ).hexdigest()[:12]
            neg = parts[int(h, 16) % np_]
            if neg not in by_cust[cust]:
                want.add((cust, part, j, neg))
    got = {
        (r.cust, r.part, r.j, r.neg_part)
        for r in _q(spark, "negative_sampling_pairs").collect()
    }
    assert got == want
    assert all(
        (c, n) not in pos for c, _, _, n in got
    )


def test_hard_negatives_recompute(spark):
    """Top-3 hard negatives equal the brute-force replay and every
    returned neighbor has a different label from its query."""
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    codes, label = {}, {}
    for r in read_table(spark, SF_SMALL, "embeddings").collect():
        vs = [float(v) for v in r.embedding]
        m = max(abs(v) for v in vs)
        codes[r.vec_id] = [
            0 if m == 0 else int(127.0 * v / m) for v in vs
        ]
        label[r.vec_id] = r.label
    want = set()
    for q in range(5):
        cand = sorted(
            (
                -sum(a * b for a, b in zip(codes[q], codes[v])),
                v,
            )
            for v in codes
            if v != q and label[v] != label[q]
        )[:3]
        for rk, (negdot, v) in enumerate(cand, 1):
            want.add((q, v, -negdot, rk))
    got = {
        (r.query_id, r.vec_id, r.qdot, r.rk)
        for r in _q(spark, "hard_negatives_topk").collect()
    }
    assert got == want
    assert all(
        label[v] != label[q] for q, v, _, _ in got
    )


def test_promo_diff_in_diff_recompute(spark):
    """Cells and the DiD estimate equal the mirrored-IEEE Python
    replay."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    yr = {
        o.o_orderkey: o.o_orderdate.year
        for o in read_table(spark, SF_SMALL, "orders").collect()
        if o.o_orderdate.year in (1996, 1997)
    }
    promo = {
        p.p_partkey: p.p_type.startswith("PROMO")
        for p in read_table(spark, SF_SMALL, "part").collect()
    }
    cells = defaultdict(lambda: [0, 0])
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        if li.l_orderkey not in yr:
            continue
        t = int(promo[li.l_partkey])
        po = int(yr[li.l_orderkey] == 1997)
        cents = int(
            Decimal(str(li.l_extendedprice)).quantize(
                Decimal("0.01")
            )
            * 100
        )
        cells[(t, po)][0] += 1
        cells[(t, po)][1] += cents

    def mean(k):
        n, s = cells[k]
        return float(s) / float(n)

    did = (
        (mean((1, 1)) - mean((1, 0)))
        - (mean((0, 1)) - mean((0, 0)))
        if all(cells[k][0] > 0 for k in [(1, 1), (1, 0), (0, 1), (0, 0)])
        else None
    )
    for r in _q(spark, "promo_diff_in_diff").collect():
        n, s = cells[(r.treated, r.post)]
        assert (r.n, r.s) == (n, s)
        assert r.did_cents == did


def test_rocchio_report_recompute(spark):
    """Per-class tp/fp/fn and ppm precision/recall equal the
    all-integer Python replay; tp+fn tiles each class."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    def tdiv(a, b):
        return -((-a) // b) if a < 0 else a // b

    codes, truth = {}, {}
    sums = defaultdict(int)
    cnts = defaultdict(int)
    for r in read_table(spark, SF_SMALL, "embeddings").collect():
        vs = [float(v) for v in r.embedding]
        m = max(abs(v) for v in vs)
        qv = [0 if m == 0 else int(127.0 * v / m) for v in vs]
        codes[r.vec_id] = qv
        truth[r.vec_id] = r.label
        for pos, q in enumerate(qv):
            sums[(r.label, pos)] += q
            cnts[(r.label, pos)] += 1
    cent = defaultdict(dict)
    for (lbl, pos), s in sums.items():
        cent[lbl][pos] = tdiv(s * 1_000_000, cnts[(lbl, pos)])
    pred = {}
    for vid, qv in codes.items():
        best = min(
            (
                sum(
                    (q * 1_000_000 - cent[lbl][p]) ** 2 // 1_000_000
                    for p, q in enumerate(qv)
                ),
                lbl,
            )
            for lbl in cent
        )
        pred[vid] = best[1]
    stats = defaultdict(lambda: [0, 0, 0, 0])  # n tp fp fn
    for vid in codes:
        t, p = truth[vid], pred[vid]
        stats[t][0] += 1
        if t == p:
            stats[t][1] += 1
        else:
            stats[p][2] += 1
            stats[t][3] += 1
    for r in _q(spark, "rocchio_classification_report").collect():
        n, tp, fp, fn = stats[r.label]
        assert (r.n, r.tp, r.fp, r.fn) == (n, tp, fp, fn)
        assert r.tp + r.fn == r.n
        if tp + fp > 0:
            assert r.precision_ppm == tp * 1_000_000 // (tp + fp)
        else:
            assert r.precision_ppm is None
        if n > 0:
            assert r.recall_ppm == tp * 1_000_000 // n


def test_cluster_purity_invariants(spark):
    """Purity recomputed from the shared cluster table matches the
    query output; purity is 1e6 exactly when every multi-doc
    cluster is single-source."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark import registry
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    clus = {
        r.doc_id: r.cluster_id
        for r in registry._dedup_cluster_table(
            spark, SF_SMALL, 0.5
        ).collect()
    }
    src = {
        d.doc_id: d.source
        for d in read_table(spark, SF_SMALL, "documents").collect()
    }
    cells = defaultdict(lambda: defaultdict(int))
    for doc, c in clus.items():
        cells[c][src[doc]] += 1
    m = sum(max(v.values()) for v in cells.values())
    n = sum(sum(v.values()) for v in cells.values())
    row = _q(spark, "cluster_purity").collect()[0]
    assert row.n_clusters == len(cells)
    assert row.n_docs == n
    assert row.n_multi == sum(
        1 for v in cells.values() if sum(v.values()) > 1
    )
    assert row.purity_ppm == m * 1_000_000 // n


def test_bipartite_butterflies_recompute(spark):
    """Butterfly count equals the Python replay over shared-customer
    part pairs."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    cust_of = {
        o.o_orderkey: o.o_custkey
        for o in read_table(spark, SF_SMALL, "orders").collect()
    }
    items = set()
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        items.add((cust_of[li.l_orderkey], li.l_partkey))
    by_cust = defaultdict(list)
    for cust, part in items:
        by_cust[cust].append(part)
    shared = defaultdict(int)
    for parts in by_cust.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b2 in ps[i + 1 :]:
                shared[(a, b2)] += 1
    butterflies = sum(s * (s - 1) // 2 for s in shared.values())
    row = _q(spark, "bipartite_butterflies").collect()[0]
    assert row.butterflies == butterflies
    assert row.n_part_pairs == len(shared)
    assert row.n_closed_pairs == sum(
        1 for s in shared.values() if s >= 2
    )


def test_markov_absorption_recompute(spark):
    """The 16 fixed-point rounds equal the integer Python replay and
    the iterate is a certified lower bound (monotone from 0, each
    value in [0, 1e6])."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    by_user = defaultdict(list)
    for e in read_table(spark, SF_SMALL, "events").collect():
        by_user[e.user_id].append((e.ts, e.event_id, e.event_type))
    trans = defaultdict(int)
    for evs in by_user.values():
        evs.sort()
        for a, b in zip(evs, evs[1:]):
            trans[(a[2], b[2])] += 1
    row = defaultdict(int)
    for (s, d), c in trans.items():
        row[s] += c
    p = {
        (s, d): c * 1_000_000 // row[s]
        for (s, d), c in trans.items()
        if s not in ("purchase", "error")
    }
    states = sorted({s for s, _ in p})
    h = {t: 0 for t in states}
    for _ in range(16):
        nxt = {}
        for t in states:
            acc = 0
            for (s, d), ppm in p.items():
                if s != t:
                    continue
                if d == "purchase":
                    acc += ppm * 1_000_000
                elif d == "error":
                    pass
                elif d in h:
                    acc += ppm * h[d]
            nxt[t] = acc // 1_000_000
        prev_h, h = h, nxt
        assert all(h[t] >= prev_h[t] for t in states)
    got = {
        r.event_type: r.absorb_purchase_ppm
        for r in _q(spark, "markov_absorption").collect()
    }
    assert got == h
    assert all(0 <= v <= 1_000_000 for v in got.values())


def test_gains_table_recompute(spark):
    """Deciles, response rates and cumulative lift equal the Python
    replay; the last decile's cumulative lift is exactly 1e6."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    score = defaultdict(int)
    resp = defaultdict(int)
    custs = [
        c.c_custkey
        for c in read_table(spark, SF_SMALL, "customer").collect()
    ]
    for cu in custs:
        score[cu] = 0
    for o in read_table(spark, SF_SMALL, "orders").collect():
        if o.o_orderdate.year == 1996:
            score[o.o_custkey] += int(
                Decimal(str(o.o_totalprice)).quantize(
                    Decimal("0.01")
                )
                * 100
            )
        if o.o_orderdate.year == 1997:
            resp[o.o_custkey] = 1
    ranked = sorted(custs, key=lambda cu: (-score[cu], cu))
    n = len(ranked)
    cells = defaultdict(lambda: [0, 0])
    for r_, cu in enumerate(ranked, 1):
        d = (r_ - 1) * 10 // n
        cells[d][0] += 1
        cells[d][1] += resp.get(cu, 0)
    tn = sum(v[0] for v in cells.values())
    tr = sum(v[1] for v in cells.values())
    cn = cr = 0
    want = {}
    for d in sorted(cells):
        cn += cells[d][0]
        cr += cells[d][1]
        want[d] = (
            cells[d][0],
            cells[d][1],
            cells[d][1] * 1_000_000 // cells[d][0],
            cr * tn * 1_000_000 // (cn * tr) if tr > 0 else None,
        )
    got = {
        r.decile: (r.n_cust, r.responders, r.resp_ppm, r.cum_lift_ppm)
        for r in _q(spark, "gains_table_deciles").collect()
    }
    assert got == want
    assert got[max(got)][3] == 1_000_000


def test_rrf_fusion_recompute(spark):
    """Fused top-3 equals the Python replay of both rankings and the
    integer RRF formula."""
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    codes = {}
    for r in read_table(spark, SF_SMALL, "embeddings").collect():
        vs = [float(v) for v in r.embedding]
        m = max(abs(v) for v in vs)
        codes[r.vec_id] = [
            0 if m == 0 else int(127.0 * v / m) for v in vs
        ]
    want = set()
    for qid in range(5):
        feat = []
        for v, c in codes.items():
            if v == qid:
                continue
            dot = sum(a * b for a, b in zip(codes[qid], c))
            l2 = sum((a - b) ** 2 for a, b in zip(codes[qid], c))
            feat.append((v, dot, l2))
        rd = {
            v: i + 1
            for i, (v, _, _) in enumerate(
                sorted(feat, key=lambda t: (-t[1], t[0]))
            )
        }
        rl = {
            v: i + 1
            for i, (v, _, _) in enumerate(
                sorted(feat, key=lambda t: (t[2], t[0]))
            )
        }
        scored = sorted(
            (
                -(1_000_000 // (60 + rd[v]) + 1_000_000 // (60 + rl[v])),
                v,
            )
            for v, _, _ in feat
        )[:3]
        for rk, (neg, v) in enumerate(scored, 1):
            want.add((qid, v, -neg, rk))
    got = {
        (r.query_id, r.vec_id, r.rrf_ppm, r.rk)
        for r in _q(spark, "rrf_fusion_topk").collect()
    }
    assert got == want


def test_dedup_threshold_curve_invariants(spark):
    """The curve is monotone non-increasing in the threshold, counts
    are bounded by the candidate total, and the 0.5 point equals the
    registered minhash_lsh_pairs count."""
    rows = {
        r.threshold_pct: (r.n_pairs, r.n_cand)
        for r in _q(spark, "dedup_threshold_curve").collect()
    }
    n25, n50, n75 = (
        rows[25][0],
        rows[50][0],
        rows[75][0],
    )
    ncand = rows[50][1]
    assert n25 >= n50 >= n75
    assert ncand >= n25
    lsh = _q(spark, "minhash_lsh_pairs").count()
    assert n50 == lsh


def test_topic_shift_recompute(spark):
    """Per-source gap and boundary counts equal the pure-Python
    TextTiling replay (20-token blocks, set Jaccard, half-mean depth
    rule)."""
    import re
    from collections import defaultdict

    docs = {
        d.doc_id: (d.source, re.split(r"\s+", d.text.strip()))
        for d in _docs(spark).collect()
    }
    want = defaultdict(lambda: [set(), 0, 0])
    for doc_id, (src, ws) in docs.items():
        blocks = defaultdict(set)
        for pos, w in enumerate(ws):
            blocks[pos // 20].add(w)
        nb = max(blocks) + 1
        if nb < 2:
            continue
        jaccs = []
        for b in range(nb - 1):
            inter = len(blocks[b] & blocks[b + 1])
            union = len(blocks[b]) + len(blocks[b + 1]) - inter
            jaccs.append(inter * 1_000_000 // union)
        s = sum(jaccs)
        ng = len(jaccs)
        nbound = sum(1 for j in jaccs if 2 * j * ng < s)
        want[src][0].add(doc_id)
        want[src][1] += ng
        want[src][2] += nbound
    got = {
        r.source: (r.n_docs, r.n_gaps, r.n_boundaries)
        for r in _q(spark, "topic_shift_boundaries").collect()
    }
    assert got == {
        s: (len(v[0]), v[1], v[2]) for s, v in want.items()
    }


def test_kendall_tau_recompute(spark):
    """Concordance cells and tau-b equal the brute-force pair replay
    on the nation league table."""
    import math
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    rev = defaultdict(int)
    cnt = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        name = nation_of[o.o_custkey]
        rev[name] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
        cnt[name] += 1
    names = sorted(rev)
    conc = disc = tx = ty = np_ = 0
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            np_ += 1
            d = (rev[a] - rev[b]) * (cnt[a] - cnt[b])
            if d > 0:
                conc += 1
            elif d < 0:
                disc += 1
            elif rev[a] == rev[b] and cnt[a] != cnt[b]:
                tx += 1
            elif cnt[a] == cnt[b] and rev[a] != rev[b]:
                ty += 1
    r = _q(spark, "kendall_tau_rankings").collect()[0]
    assert (r.conc, r.disc, r.tx, r.ty, r.np) == (
        conc,
        disc,
        tx,
        ty,
        np_,
    )
    want = (
        float(conc - disc)
        / (
            math.sqrt(float(conc + disc + tx))
            * math.sqrt(float(conc + disc + ty))
        )
        if conc + disc + tx > 0 and conc + disc + ty > 0
        else None
    )
    assert r.tau_b == want


def test_wilcoxon_signed_rank_recompute(spark):
    """W+ doubled-rank sums and z equal the Python replay with the
    same drop-zeros convention and mirrored IEEE order."""
    import math
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    cells = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        if o.o_orderdate.year not in (1996, 1997):
            continue
        cells[
            (
                nation_of[o.o_custkey],
                o.o_orderdate.year,
                o.o_orderdate.month,
            )
        ] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
    diffs = defaultdict(list)
    for (name, yr, mon), v in cells.items():
        if yr == 1996 and (name, 1997, mon) in cells:
            dd = cells[(name, 1997, mon)] - v
            if dd != 0:
                diffs[name].append(dd)
    for r in _q(spark, "wilcoxon_signed_rank").collect():
        ds = diffs[r.n_name]
        n = len(ds)
        assert r.n == n
        absd = sorted(abs(x) for x in ds)
        w2p = 0
        for x in ds:
            if x > 0:
                lt = sum(1 for y in absd if y < abs(x))
                eq = sum(1 for y in absd if y == abs(x))
                w2p += 2 * (lt + 1) + eq - 1
        assert r.w2p == w2p
        if n >= 2:
            want = float(w2p - n * (n + 1) // 2) / math.sqrt(
                float(n * (n + 1) * (2 * n + 1)) / 6.0
            )
            assert r.z_wilcoxon == want


def test_mdape_seasonal_naive_recompute(spark):
    """Per-nation MdAPE equals the exact rank-pick Python replay of
    the calendar-aligned seasonal-naive APEs."""
    from collections import Counter, defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    m = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        midx = (o.o_orderdate.year - 1990) * 12 + o.o_orderdate.month - 1
        m[(nation_of[o.o_custkey], midx)] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
    apes = defaultdict(list)
    for (name, midx), v in m.items():
        base = m.get((name, midx - 12))
        if base and base > 0:
            apes[name].append(abs(v - base) * 1_000_000 // base)

    def med(values):
        nn = len(values)
        cc = Counter(values)
        cum = 0
        for v in sorted(cc):
            cum += cc[v]
            if 2 * cum >= nn:
                return v

    for r in _q(spark, "mdape_seasonal_naive").collect():
        assert r.n_pairs == len(apes[r.n_name])
        assert r.mdape_ppm == med(apes[r.n_name])


def test_jonckheere_terpstra_recompute(spark):
    """2·JT equals the brute-force Σ_{i<j groups} pairwise count
    (2·[x<y] + [x==y]) replay per nation."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    vals = defaultdict(lambda: defaultdict(list))
    for o in read_table(spark, SF_SMALL, "orders").collect():
        cents = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
        vals[nation_of[o.o_custkey]][o.o_orderpriority].append(cents)
    for r in _q(spark, "jonckheere_terpstra").collect():
        groups = sorted(vals[r.n_name])
        two_jt = pairs = 0
        for gi in range(len(groups)):
            for gj in range(gi + 1, len(groups)):
                xs, ys = vals[r.n_name][groups[gi]], vals[r.n_name][
                    groups[gj]
                ]
                pairs += len(xs) * len(ys)
                for x in xs:
                    for y in ys:
                        if x < y:
                            two_jt += 2
                        elif x == y:
                            two_jt += 1
        assert (r.two_jt, r.pairs_nn) == (two_jt, pairs)
        assert r.jt_share == float(two_jt) / float(2 * pairs)


def test_levene_brown_forsythe_recompute(spark):
    """W equals one-way ANOVA run on |x − group LOW-median| whole
    dollars, replayed with the same ordered float fold."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    by_grp = defaultdict(list)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        by_grp[o.o_orderpriority].append(
            int(
                Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
                * 100
            )
        )
    z = {}
    for g, xs in by_grp.items():
        xs.sort()
        med = xs[(len(xs) + 1) // 2 - 1]
        z[g] = [abs(c - med) // 100 for c in xs]
    n = {g: len(v) for g, v in z.items()}
    s = {g: sum(v) for g, v in z.items()}
    ssq = {g: sum(x * x for x in v) for g, v in z.items()}
    nn, st, k = sum(n.values()), sum(s.values()), len(z)
    c_sum = ssw = 0.0
    for g in sorted(z):
        c_sum += float(s[g]) * float(s[g]) / float(n[g])
        ssw += float(ssq[g]) - float(s[g]) * float(s[g]) / float(n[g])
    ssb = c_sum - float(st) * float(st) / float(nn)
    r = _q(spark, "levene_brown_forsythe").collect()[0]
    assert (r.n_groups, r.n_rows) == (k, nn)
    assert r.ss_between == ssb
    assert r.ss_within == ssw
    assert r.w_stat == (ssb / float(k - 1)) / (ssw / float(nn - k))


def test_longest_daily_streak_recompute(spark):
    """Streak histogram equals the per-user consecutive-day replay."""
    from collections import Counter, defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    days = defaultdict(set)
    for e in read_table(spark, SF_SMALL, "events").collect():
        days[e.user_id].add(e.ts.date().toordinal())
    hist = Counter()
    for u, ds in days.items():
        best = cur = 1
        prev = None
        for d in sorted(ds):
            cur = cur + 1 if prev is not None and d == prev + 1 else 1
            best = max(best, cur)
            prev = d
        hist[best] += 1
    got = {
        r.streak_days: r.n_users
        for r in _q(spark, "longest_daily_streak").collect()
    }
    assert got == dict(hist)


def test_nrr_by_cohort_recompute(spark):
    """Cohort-year revenue and pinned-DIV nrr_ppm equal the replay."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    first = {}
    orders = read_table(spark, SF_SMALL, "orders").collect()
    for o in orders:
        y = o.o_orderdate.year
        first[o.o_custkey] = min(first.get(o.o_custkey, y), y)
    rev = defaultdict(int)
    for o in orders:
        rev[(first[o.o_custkey], o.o_orderdate.year)] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
    rows = _q(spark, "nrr_by_cohort").collect()
    want = {
        (c, y): r
        for (c, y), r in rev.items()
        if (c, y - 1) in rev
    }
    assert {(r.cohort, r.order_year) for r in rows} == set(want)
    for r in rows:
        cur = rev[(r.cohort, r.order_year)]
        prv = rev[(r.cohort, r.order_year - 1)]
        assert r.revenue == cur / 100.0
        assert r.nrr_ppm == cur * 1_000_000 // prv


def test_acf_multi_lag_matches_lag1(spark):
    """The lag-1 slice of the correlogram equals autocorr_lag1
    exactly (same cells, same algebra), and every |acf| ≤ 1."""
    lag1 = {
        r.n_name: (r.n, r.acf1)
        for r in _q(spark, "autocorr_lag1").collect()
    }
    rows = _q(spark, "acf_multi_lag").collect()
    got1 = {
        r.n_name: (r.n, r.acf)
        for r in rows
        if r.lag == 1
    }
    assert got1 == lag1
    for r in rows:
        assert r.lag in (1, 2, 3, 4, 5, 6)
        if r.acf is not None:
            assert -1.0 - 1e-12 <= r.acf <= 1.0 + 1e-12


def test_feature_hash_vectors_recompute(spark):
    """Bucketed tf equals the Python md5 replay, and per-source tf
    sums equal the raw token counts (hashing loses no mass)."""
    import hashlib
    import re
    from collections import Counter

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    want = Counter()
    tok_totals = Counter()
    for d in read_table(spark, SF_SMALL, "documents").collect():
        for w in re.split("[^a-z]+", d.text.lower()):
            if w:
                h = int(
                    hashlib.md5(f"fh:{w}".encode()).hexdigest()[:10],
                    16,
                )
                want[(d.source, h % 64)] += 1
                tok_totals[d.source] += 1
    rows = _q(spark, "feature_hash_vectors").collect()
    assert {(r.source, r.bucket): r.tf for r in rows} == dict(want)
    got_totals = Counter()
    for r in rows:
        got_totals[r.source] += r.tf
    assert got_totals == tok_totals


def test_flesch_reading_ease_recompute(spark):
    """Per-source W/S/Y counts and the pinned integer milli formula
    equal the regex replay."""
    import re
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    agg = defaultdict(lambda: [0, 0, 0, 0])
    for d in read_table(spark, SF_SMALL, "documents").collect():
        w = len(re.findall("[A-Za-z]+", d.text))
        if w == 0:
            continue
        s = max(len(re.findall("[.!?]+", d.text)), 1)
        y = len(re.findall("[aeiouyAEIOUY]+", d.text))
        a = agg[d.source]
        a[0] += 1
        a[1] += w
        a[2] += s
        a[3] += y
    for r in _q(spark, "flesch_reading_ease").collect():
        n, ws, ss, ys = agg[r.source]
        assert (r.n_docs, r.words, r.sentences, r.syllables) == (
            n,
            ws,
            ss,
            ys,
        )
        assert r.flesch_milli == (
            206835
            - 1015 * (ws * 1000 // ss) // 1000
            - 84600 * (ys * 1000 // ws) // 1000
        )


def test_candidate_key_discovery_recompute(spark):
    """Exact distinct counts and key verdicts equal the set replay;
    o_orderkey is the one true key on testdata."""
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    rows = read_table(spark, SF_SMALL, "orders").collect()
    cols = {
        "o_orderkey": {r.o_orderkey for r in rows},
        "o_custkey": {r.o_custkey for r in rows},
        "o_orderstatus": {r.o_orderstatus for r in rows},
        "o_totalprice": {r.o_totalprice for r in rows},
        "o_orderdate": {r.o_orderdate for r in rows},
        "o_orderpriority": {r.o_orderpriority for r in rows},
        "o_custkey,o_orderdate": {
            (r.o_custkey, r.o_orderdate) for r in rows
        },
        "o_orderdate,o_totalprice": {
            (r.o_orderdate, r.o_totalprice) for r in rows
        },
    }
    got = {r.col_name: r for r in _q(spark, "candidate_key_discovery").collect()}
    assert set(got) == set(cols)
    for name, vals in cols.items():
        assert got[name].n_distinct == len(vals)
        assert got[name].n_rows == len(rows)
        assert got[name].is_key == (
            1 if len(vals) == len(rows) else 0
        )
    assert got["o_orderkey"].is_key == 1


def test_linear_mmd_labels_recompute(spark):
    """Cross-multiplied MMD² numerator equals the per-dim Python
    replay on int8-quantized vectors, with mmd2 the mirrored
    division; zero for identical distributions by construction."""
    import math
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    sums = defaultdict(lambda: [0] * 64)
    ns = defaultdict(int)
    for r in read_table(spark, SF_SMALL, "embeddings").collect():
        m = max(abs(float(v)) for v in r.embedding)
        q = [
            0 if m == 0 else int(127.0 * float(v) / m)
            for v in r.embedding
        ]
        ns[r.label] += 1
        for d in range(64):
            sums[r.label][d] += math.trunc(q[d])
    rows = _q(spark, "linear_mmd_labels").collect()
    labels = sorted(ns)
    assert {(r.label_a, r.label_b) for r in rows} == {
        (a, b) for i, a in enumerate(labels) for b in labels[i + 1 :]
    }
    for r in rows:
        num = sum(
            (ns[r.label_b] * sums[r.label_a][d]
             - ns[r.label_a] * sums[r.label_b][d]) ** 2
            for d in range(64)
        )
        assert (r.n_a, r.n_b, r.num) == (
            ns[r.label_a],
            ns[r.label_b],
            num,
        )
        assert r.mmd2 == float(num) / (
            float(r.n_a * r.n_b) * float(r.n_a * r.n_b)
        )


def test_l_diversity_audit_recompute(spark):
    """l-distinct sensitive buckets per QI group equal the replay and
    imply the k-anonymity counts (l ≤ k never needs to hold, but
    both gates see identical groups)."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    groups = defaultdict(lambda: (set(), set(), 0))
    acc = {}
    for e in read_table(spark, SF_SMALL, "events").collect():
        key = (e.event_type, e.ts.date().isoformat())
        s, u, n = acc.get(key, (set(), set(), 0))
        cents = int(
            Decimal(str(e.value)).quantize(Decimal("0.01")) * 100
        )
        s.add(cents // 1000)
        u.add(e.user_id)
        acc[key] = (s, u, n + 1)
    rows = _q(spark, "l_diversity_audit").collect()
    assert {(r.event_type, r.day) for r in rows} == set(acc)
    for r in rows:
        s, u, n = acc[(r.event_type, r.day)]
        assert (r.l_sensitive, r.k_users, r.n_rows) == (
            len(s),
            len(u),
            n,
        )
        assert r.suppress == (len(s) < 3)


def test_xyz_demand_variability_recompute(spark):
    """Class counts and cv²-ppm extremes equal the per-part monthly
    replay with pinned integer DIV."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    md = defaultdict(int)
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        midx = li.l_shipdate.year * 12 + li.l_shipdate.month
        md[(li.l_partkey, midx)] += int(li.l_quantity)
    per_part = defaultdict(list)
    for (pk, _), qty in md.items():
        per_part[pk].append(qty)
    stats = defaultdict(lambda: [0, None, None, 0])
    for pk, qs in per_part.items():
        n, sq, sqq = len(qs), sum(qs), sum(q * q for q in qs)
        if sq <= 0:
            continue
        cv2 = (n * sqq * 1_000_000) // (sq * sq) - 1_000_000
        cls = "X" if cv2 < 250_000 else ("Y" if cv2 < 1_000_000 else "Z")
        st = stats[cls]
        st[0] += 1
        st[1] = cv2 if st[1] is None else min(st[1], cv2)
        st[2] = cv2 if st[2] is None else max(st[2], cv2)
        st[3] += n
    got = {r.xyz_class: r for r in _q(spark, "xyz_demand_variability").collect()}
    assert set(got) == set(stats)
    for cls, (np_, mn, mx, dm) in stats.items():
        r = got[cls]
        assert (r.n_parts, r.min_cv2_ppm, r.max_cv2_ppm,
                r.demand_months) == (np_, mn, mx, dm)


def test_growth_share_matrix_recompute(spark):
    """Quadrants, shares and relative shares equal the two-year
    brand-revenue replay: exactly one leader per market, leader is
    star or cash_cow, follower rel_share measured against max1."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    part = {
        p.p_partkey: (p.p_type, p.p_brand)
        for p in read_table(spark, SF_SMALL, "part").collect()
    }
    li = read_table(spark, SF_SMALL, "lineitem").collect()
    last_y = max(x.l_shipdate.year for x in li)
    rev = defaultdict(lambda: [0, 0])
    for x in li:
        y = x.l_shipdate.year
        if y < last_y - 1:
            continue
        t, b = part[x.l_partkey]
        cents = int(
            Decimal(str(x.l_extendedprice)).quantize(Decimal("0.01"))
            * 100
        )
        rev[(t, b)][0 if y == last_y else 1] += cents
    mkt = defaultdict(lambda: [0, 0, 0])
    for (t, b), (rl, rp) in rev.items():
        mkt[t][0] += rl
        mkt[t][1] += rp
        mkt[t][2] = max(mkt[t][2], rl)
    rows = _q(spark, "growth_share_matrix").collect()
    assert {(r.p_type, r.p_brand) for r in rows} == {
        k for k, v in rev.items() if v[0] > 0
    }
    for r in rows:
        rl, rp = rev[(r.p_type, r.p_brand)]
        tl, tp, max1 = mkt[r.p_type]
        max2 = max(
            (v[0] for k, v in rev.items()
             if k[0] == r.p_type and v[0] < max1),
            default=0,
        )
        assert r.revenue == rl / 100.0
        assert r.share_ppm == rl * 1_000_000 // tl
        if rl == max1:
            want_rel = rl * 1_000_000 // max2 if max2 > 0 else None
        else:
            want_rel = rl * 1_000_000 // max1
        assert r.rel_share_ppm == want_rel
        growth = tl * 1_000_000 // tp if tp > 0 else None
        assert r.market_growth_ppm == growth
        if tp == 0:
            want_q = "question"
        elif growth >= 1_000_000:
            want_q = "star" if rl == max1 else "question"
        else:
            want_q = "cash_cow" if rl == max1 else "dog"
        assert r.quadrant == want_q
    leaders = defaultdict(int)
    for r in rows:
        if r.quadrant in ("star", "cash_cow"):
            leaders[r.p_type] += 1
    for t, c in leaders.items():
        assert c >= 1


def test_streaming_sliding_counts_recompute(spark):
    """The SS sliding-window emission equals the Python double-count
    replay with the end <= max_ts - 2 s watermark rule."""
    from collections import Counter
    from datetime import timedelta

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    evs = read_table(spark, SF_SMALL, "events").collect()
    max_ts = max(e.ts for e in evs)
    cut = max_ts - timedelta(seconds=2)
    want = Counter()
    for e in evs:
        base = e.ts.replace(
            minute=30 if e.ts.minute >= 30 else 0,
            second=0,
            microsecond=0,
        )
        for ws in (base, base - timedelta(minutes=30)):
            if ws + timedelta(hours=1) <= cut:
                want[(ws.strftime("%Y-%m-%d %H:%M:%S"), e.event_type)] += 1
    got = {
        (r.window_start, r.event_type): r.cnt
        for r in _q(spark, "streaming_sliding_counts").collect()
    }
    assert got == dict(want)


def test_embedding_pair_sim_histogram_recompute(spark):
    """Histogram equals the Python replay of the 128-id hash sample,
    int8 quantization and signed cos²-milli bucketing; total pairs
    = 8128 (sample bounded regardless of corpus size)."""
    import hashlib
    from collections import Counter

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    rows = read_table(spark, SF_SMALL, "embeddings").collect()

    def h(vid):
        return int(
            hashlib.md5(f"ps:{vid}".encode()).hexdigest()[:10], 16
        )

    samp = sorted(rows, key=lambda r: (h(r.vec_id), r.vec_id))[:128]
    qs = {}
    for r in samp:
        m = max(abs(float(v)) for v in r.embedding)
        qs[r.vec_id] = [
            0 if m == 0 else int(127.0 * float(v) / m)
            for v in r.embedding
        ]
    hist = Counter()
    stats = {}
    ids = sorted(qs)
    n_pairs = 0
    for i, ia in enumerate(ids):
        for ib in ids[i + 1 :]:
            n_pairs += 1
            qa, qb = qs[ia], qs[ib]
            dot = sum(x * y for x, y in zip(qa, qb))
            na2 = sum(x * x for x in qa)
            nb2 = sum(x * x for x in qb)
            if na2 == 0 or nb2 == 0:
                continue
            # mirror SQL integer DIV (truncate toward zero)
            num = 1000 * dot * abs(dot)
            den = na2 * nb2
            c = abs(num) // den * (1 if num >= 0 else -1)
            b = abs(c) // 50 * (1 if c >= 0 else -1)
            hist[b] += 1
            lo, hi = stats.get(b, (c, c))
            stats[b] = (min(lo, c), max(hi, c))
    got = {r.bucket: r for r in _q(spark, "embedding_pair_sim_histogram").collect()}
    assert n_pairs == len(samp) * (len(samp) - 1) // 2
    assert {b: r.n_pairs for b, r in got.items()} == dict(hist)
    for b, r in got.items():
        assert (r.min_cos2_milli, r.max_cos2_milli) == stats[b]


def test_trending_brands_weekly_recompute(spark):
    """Top-3 weekly brand lifts equal the Python trailing-4-week
    replay with pinned integer DIV and (lift desc, brand) ranking."""
    from collections import defaultdict
    from datetime import date

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    part = {
        p.p_partkey: p.p_brand
        for p in read_table(spark, SF_SMALL, "part").collect()
    }
    cells = defaultdict(int)
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        w = (li.l_shipdate.date() - date(1990, 1, 1)).days // 7
        cells[(part[li.l_partkey], w)] += 1
    tot = defaultdict(int)
    for (b, w), c in cells.items():
        tot[w] += c
    out = defaultdict(list)
    for (b, w), c in cells.items():
        trail_cnt = sum(cells.get((b, w - d), 0) for d in (1, 2, 3, 4))
        trail_tot = sum(tot.get(w - d, 0) for d in (1, 2, 3, 4))
        if trail_cnt > 0:
            lift = (c * trail_tot * 1_000_000) // (trail_cnt * tot[w])
            out[w].append((-lift, b, c, trail_cnt, lift))
    want = {}
    for w, lst in out.items():
        for rk, (_, b, c, tc, lift) in enumerate(sorted(lst)[:3], 1):
            want[(w, b)] = (c, tc, lift, rk)
    rows = _q(spark, "trending_brands_weekly").collect()
    assert {(r.widx, r.p_brand) for r in rows} == set(want)
    for r in rows:
        assert (r.cnt, r.trail_cnt, r.lift_ppm, r.rk) == want[
            (r.widx, r.p_brand)
        ]


def test_nelson_aalen_recompute(spark):
    """Cumulative-hazard ppm equals the KM-machinery replay with
    integer increments; NA rows align 1:1 with KM event rows and
    share n_risk/d."""
    km = {
        (r.n_name, r.t): (r.n_risk, r.d)
        for r in _q(spark, "kaplan_meier_survival").collect()
    }
    rows = _q(spark, "nelson_aalen_hazard").collect()
    assert {(r.n_name, r.t) for r in rows} == set(km)
    from collections import defaultdict

    by_n = defaultdict(list)
    for r in rows:
        assert (r.n_risk, r.d) == km[(r.n_name, r.t)]
        by_n[r.n_name].append(r)
    for n, rs in by_n.items():
        rs.sort(key=lambda r: r.t)
        acc = 0
        for r in rs:
            acc += (r.d * 1_000_000) // r.n_risk
            assert r.cumhaz_ppm == acc
        # monotone increasing by construction
        assert all(
            a.cumhaz_ppm < b.cumhaz_ppm for a, b in zip(rs, rs[1:])
        )


def test_vocab_coverage_curve_recompute(spark):
    """Coverage ppm equals the rank replay; the curve is monotone in
    k and saturates at 1e6 once k >= vocab."""
    import re
    from collections import Counter

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    wc = Counter()
    for d in read_table(spark, SF_SMALL, "documents").collect():
        for w in re.split("[^a-z]+", d.text.lower()):
            if w:
                wc[w] += 1
    ranked = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(wc.values())
    rows = sorted(
        _q(spark, "vocab_coverage_curve").collect(),
        key=lambda r: r.k,
    )
    assert [r.k for r in rows] == [10, 25, 50, 100, 250]
    prev = -1
    for r in rows:
        cov = sum(c for _, c in ranked[: r.k])
        assert (r.vocab, r.total_tokens, r.covered_tokens) == (
            len(wc),
            total,
            cov,
        )
        assert r.coverage_ppm == cov * 1_000_000 // total
        assert r.coverage_ppm >= prev
        prev = r.coverage_ppm
        if r.k >= len(wc):
            assert r.coverage_ppm == 1_000_000


def test_rake_keywords_recompute(spark):
    """Top-10 RAKE phrases per source equal the Python replay
    (islands, deg/freq ppm scores, tie-broken ranking)."""
    import re
    from collections import Counter, defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    STOPS = {
        "the", "a", "of", "and", "to", "in", "is", "on", "for",
        "it", "with", "as", "at", "by", "an", "be", "or",
    }
    phrases = []  # (doc, source, [words])
    for d in read_table(spark, SF_SMALL, "documents").collect():
        toks = [w for w in re.split("[^a-z]+", d.text.lower()) if w]
        cur = []
        for w in toks:
            if w in STOPS:
                if cur:
                    phrases.append((d.source, cur))
                    cur = []
            else:
                cur.append(w)
        if cur:
            phrases.append((d.source, cur))
    freq = Counter()
    deg = Counter()
    for _, ws in phrases:
        for w in ws:
            freq[w] += 1
            deg[w] += len(ws)
    wscore = {w: deg[w] * 1_000_000 // freq[w] for w in freq}
    cand = defaultdict(lambda: [0, 0])
    for src, ws in phrases:
        s = sum(wscore[w] for w in ws)
        key = (src, " ".join(ws))
        cand[key][0] = max(cand[key][0], s)
        cand[key][1] += 1
    want = defaultdict(list)
    for (src, phrase), (s, n) in cand.items():
        want[src].append((-s, phrase, n))
    top = {}
    for src, lst in want.items():
        for rk, (negs, phrase, n) in enumerate(sorted(lst)[:10], 1):
            top[(src, phrase)] = (-negs, n, rk)
    rows = _q(spark, "rake_keywords").collect()
    assert {(r.source, r.phrase) for r in rows} == set(top)
    for r in rows:
        assert (r.score_ppm, r.n_occurrences, r.rk) == top[
            (r.source, r.phrase)
        ]


def test_seasonal_decompose_ratio_recompute(spark):
    """Seasonal indices equal the centered-13-cell MA replay with
    cross-multiplied integer ratios; indices average near 1e6."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    m = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        midx = o.o_orderdate.year * 12 + o.o_orderdate.month
        m[(nation_of[o.o_custkey], midx)] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
    acc = defaultdict(lambda: [0, 0])
    for (name, midx), cents in m.items():
        cells = [
            m.get((name, midx + d))
            for d in range(-6, 7)
        ]
        if any(c is None for c in cells):
            continue
        trend2 = sum(
            c if abs(d) == 6 else 2 * c
            for d, c in zip(range(-6, 7), cells)
        )
        if trend2 <= 0:
            continue
        moy = ((midx - 1) % 12) + 1
        a = acc[(name, moy)]
        a[0] += 1
        a[1] += (cents * 24 * 1_000_000) // trend2
    rows = _q(spark, "seasonal_decompose_ratio").collect()
    assert {(r.n_name, r.moy) for r in rows} == set(acc)
    for r in rows:
        n_obs, ssum = acc[(r.n_name, r.moy)]
        assert (r.n_obs, r.seasidx_ppm) == (n_obs, ssum // n_obs)


def test_churn_hazard_by_tenure_recompute(spark):
    """Hazards equal the life-table replay; at_risk telescopes and
    the last tenure bucket has hazard exactly 1e6."""
    from collections import Counter

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    first, last = {}, {}
    for o in read_table(spark, SF_SMALL, "orders").collect():
        midx = o.o_orderdate.year * 12 + o.o_orderdate.month
        k = o.o_custkey
        first[k] = min(first.get(k, midx), midx)
        last[k] = max(last.get(k, midx), midx)
    cell = Counter(last[k] - first[k] for k in first)
    total = sum(cell.values())
    rows = sorted(
        _q(spark, "churn_hazard_by_tenure").collect(),
        key=lambda r: r.tenure,
    )
    assert [r.tenure for r in rows] == sorted(cell)
    gone = 0
    for r in rows:
        assert r.churned == cell[r.tenure]
        assert r.at_risk == total - gone
        assert r.hazard_ppm == (r.churned * 1_000_000) // r.at_risk
        gone += r.churned
    assert rows[-1].hazard_ppm == 1_000_000


def test_holt_winters_recompute(spark):
    """Level/trend/seasonal state equals the Python float replay of
    the identical half-weight recurrence, and the lag-0 seasonal
    slots stay zero until their first annual revisit."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    m = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        midx = o.o_orderdate.year * 12 + o.o_orderdate.month
        m[(nation_of[o.o_custkey], midx)] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
    series = defaultdict(list)
    for (name, midx), cents in sorted(m.items()):
        series[name].append((midx, float(cents)))
    rows = {r.n_name: r for r in _q(spark, "holt_winters_forecast").collect()}
    assert set(rows) == set(series)
    for name, xs in series.items():
        xs = [x for _, x in sorted(xs)]
        l, b, s = xs[0], 0.0, [0.0] * 12
        for i, x in enumerate(xs[1:], start=1):
            idx = i % 12
            sold = s[idx]
            newl = 0.5 * (x - sold) + 0.5 * (l + b)
            newb = 0.5 * (newl - l) + 0.5 * b
            s[idx] = 0.5 * (x - newl) + 0.5 * sold
            l, b = newl, newb
        r = rows[name]
        assert r.n == len(xs)
        assert r.level_out == l
        assert r.trend_out == b
        nxt = s[len(xs) % 12]
        assert r.season_next == nxt
        assert r.forecast_next == l + b + nxt


def test_isotonic_regression_recompute(spark):
    """Fitted values equal the O(n²) minimax replay, are monotone
    non-decreasing in midx, and pool to the PAVA block means."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    m = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        midx = o.o_orderdate.year * 12 + o.o_orderdate.month
        m[midx] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
    xs = [v // 100 for _, v in sorted(m.items())]
    n = len(xs)
    cs = [0]
    for x in xs:
        cs.append(cs[-1] + x)

    def avg_u(s, e):  # 1-based inclusive
        return (cs[e] - cs[s - 1]) * 1_000_000 // (e - s + 1)

    want = []
    for t in range(1, n + 1):
        best = None
        for s in range(1, t + 1):
            inner = min(avg_u(s, e) for e in range(t, n + 1))
            best = inner if best is None else max(best, inner)
        want.append(best)
    rows = sorted(
        _q(spark, "isotonic_regression_monthly").collect(),
        key=lambda r: r.midx,
    )
    assert [r.midx for r in rows] == sorted(m)
    assert [r.fitted_u for r in rows] == want
    assert all(a.fitted_u <= b.fitted_u for a, b in zip(rows, rows[1:]))


def test_page_hinkley_recompute(spark):
    """PH statistic equals the Python float replay of the shared
    recurrence and is non-negative by construction."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    m = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        midx = o.o_orderdate.year * 12 + o.o_orderdate.month
        m[(nation_of[o.o_custkey], midx)] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
    series = defaultdict(list)
    for (name, midx), cents in sorted(m.items()):
        series[name].append(float(cents // 100))
    rows = {r.n_name: r for r in _q(spark, "page_hinkley_drift").collect()}
    assert set(rows) == set(series)
    for name, xs in series.items():
        mean, cum, minc = xs[0], 0.0, 0.0
        for i, x in enumerate(xs[1:], start=1):
            mean = mean + (x - mean) / float(i + 1)
            cum = cum + (x - mean)
            minc = min(minc, cum)
        r = rows[name]
        assert r.n == len(xs)
        assert r.mean_out == mean
        assert r.ph_stat == cum - minc
        assert r.ph_stat >= 0.0
        assert r.drift == (cum - minc > mean)


def test_burstiness_fano_recompute(spark):
    """Fano ppm equals the daily-count replay with cross-multiplied
    integer variance/mean."""
    from collections import Counter, defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    daily = Counter()
    for e in read_table(spark, SF_SMALL, "events").collect():
        daily[(e.event_type, e.ts.date())] += 1
    per_type = defaultdict(list)
    for (t, _), c in daily.items():
        per_type[t].append(c)
    rows = {r.event_type: r for r in _q(spark, "burstiness_fano").collect()}
    assert set(rows) == set(per_type)
    for t, cs in per_type.items():
        n, s, sq = len(cs), sum(cs), sum(c * c for c in cs)
        r = rows[t]
        assert (r.n_days, r.total) == (n, s)
        assert r.fano_ppm == (n * sq - s * s) * 1_000_000 // (n * s)


def test_nearest_event_join_recompute(spark):
    """Gap histogram equals the per-user bidirectional nearest-click
    replay in exact microseconds."""
    from collections import Counter, defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    by_user = defaultdict(list)
    for e in read_table(spark, SF_SMALL, "events").collect():
        us = int(e.ts.timestamp() * 1_000_000) if False else None
        by_user[e.user_id].append(e)
    hist = Counter()
    from datetime import datetime

    epoch = datetime(1970, 1, 1)

    def us(ts):
        d = ts - epoch
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds

    for u, evs in by_user.items():
        evs.sort(key=lambda e: (us(e.ts), e.event_id))
        clicks = [us(e.ts) for e in evs if e.event_type == "click"]
        if not clicks:
            continue
        import bisect

        for e in evs:
            if e.event_type != "purchase":
                continue
            t = us(e.ts)
            # replicate the lane semantics: prev = last click strictly
            # BEFORE this row in (ts_us, event_id) order; next = first
            # click after
            prev_c = None
            next_c = None
            for c in evs:
                if c.event_type != "click":
                    continue
                cu = us(c.ts)
                if (cu, c.event_id) < (t, e.event_id):
                    prev_c = cu
                elif (cu, c.event_id) > (t, e.event_id) and next_c is None:
                    next_c = cu
            if prev_c is None and next_c is None:
                continue
            if prev_c is None:
                gap = next_c - t
            elif next_c is None:
                gap = t - prev_c
            else:
                gap = min(t - prev_c, next_c - t)
            hist[gap // 60_000_000] += 1
    got = {
        r.gap_minutes: r.n_purchases
        for r in _q(spark, "nearest_event_join").collect()
    }
    assert got == dict(hist)


def test_image_phash_buckets_recompute(spark):
    """aHash buckets equal the Python replay that decodes the REAL
    BMP bytes (not the generation formula), proving the byte path;
    bucket counts sum to the image-asset count."""
    import numpy as np

    from distributed_mapreduce_p2p_spark.operators import multimodal as MM
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    ids = read_table(spark, SF_SMALL, "documents").select("doc_id")
    assets = {
        r.asset_id: bytes(r.payload)
        for r in MM.real_assets(ids).where("modality = 'image'").collect()
    }
    want = {}
    for aid, payload in assets.items():
        px, w, h = MM.bmp_pixels(payload)
        arr = px.astype(np.int64)
        sy = (np.arange(8, dtype=np.int64) * h) // 8
        sx = (np.arange(8, dtype=np.int64) * w) // 8
        g = (
            arr[sy][:, 3 * sx]
            + arr[sy][:, 3 * sx + 1]
            + arr[sy][:, 3 * sx + 2]
        ) // 3
        m = int(g.sum()) // 64
        bits = (g > m).astype(np.int64).reshape(-1)
        lo = sum(int(bits[i]) << i for i in range(32))
        hi = sum(int(bits[i]) << (i - 32) for i in range(32, 64))
        want.setdefault((hi, lo), []).append(aid)
    rows = _q(spark, "image_phash_buckets").collect()
    assert {(r.hash_hi, r.hash_lo) for r in rows} == set(want)
    total = 0
    for r in rows:
        ids_ = want[(r.hash_hi, r.hash_lo)]
        assert r.n_images == len(ids_)
        assert r.first_asset == min(ids_)
        total += r.n_images
    assert total == len(assets)


def test_cronbach_alpha_recompute(spark):
    """Alpha equals the dense-matrix replay with cross-multiplied
    integer variances; alpha <= 1 by construction."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat_of = {}
    for c in read_table(spark, SF_SMALL, "customer").collect():
        nat_of[c.c_custkey] = c.c_nationkey
    nks = {
        x.n_nationkey
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    cells = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        cents = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
        cells[(nat_of[o.o_custkey], o.o_orderdate.month)] += cents
    x = {
        (nk, moy): cells.get((nk, moy), 0) // 100000
        for nk in nks
        for moy in range(1, 13)
    }
    n = len(nks)
    siv = 0
    for moy in range(1, 13):
        xs = [x[(nk, moy)] for nk in nks]
        siv += n * sum(v * v for v in xs) - sum(xs) ** 2
    ts = [sum(x[(nk, moy)] for moy in range(1, 13)) for nk in nks]
    tv = n * sum(t * t for t in ts) - sum(ts) ** 2
    r = _q(spark, "cronbach_alpha").collect()[0]
    assert (r.k, r.n_subj, r.sum_item_var, r.total_var) == (
        12,
        n,
        siv,
        tv,
    )
    want = (12.0 / 11.0) * (1.0 - float(siv) / float(tv))
    assert r.alpha == want
    assert r.alpha <= 1.0


def test_cohens_d_recompute(spark):
    """d equals the pooled-SD replay from exact moments, and its sign
    agrees with cliffs-delta-style direction (mean comparison)."""
    import math
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    vals = defaultdict(lambda: ([], []))
    for o in read_table(spark, SF_SMALL, "orders").collect():
        if o.o_orderpriority not in ("1-URGENT", "5-LOW"):
            continue
        cents = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
        vals[nation_of[o.o_custkey]][
            0 if o.o_orderpriority == "1-URGENT" else 1
        ].append(cents // 100)
    rows = {r.n_name: r for r in _q(spark, "cohens_d_effect").collect()}
    want_names = {
        n for n, (a, b) in vals.items() if len(a) > 1 and len(b) > 1
    }
    assert set(rows) == want_names
    for name in want_names:
        a, b = vals[name]
        n1, n2 = len(a), len(b)
        s1, s2 = sum(a), sum(b)
        q1, q2 = sum(v * v for v in a), sum(v * v for v in b)
        num = float(s1) / float(n1) - float(s2) / float(n2)
        pooled = (
            (float(q1) - float(s1) * float(s1) / float(n1))
            + (float(q2) - float(s2) * float(s2) / float(n2))
        ) / float(n1 + n2 - 2)
        r = rows[name]
        assert (r.n1, r.n2) == (n1, n2)
        assert r.cohens_d == num / math.sqrt(pooled)


def test_seasonal_mann_kendall_recompute(spark):
    """Seasonal S equals the same-month-of-year pair replay, and its
    pair count is exactly the sum over seasons of C(n_season, 2)."""
    import math
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    m = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        midx = o.o_orderdate.year * 12 + o.o_orderdate.month
        m[(nation_of[o.o_custkey], midx)] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
    series = defaultdict(list)
    for (name, midx), cents in m.items():
        series[name].append((midx, cents))
    rows = {r.n_name: r for r in _q(spark, "seasonal_mann_kendall").collect()}
    for name, pts in series.items():
        s_stat = n0 = tied = 0
        season_counts = defaultdict(int)
        for midx, _ in pts:
            season_counts[midx % 12] += 1
        for i, (mi, xi) in enumerate(pts):
            for mj, xj in pts:
                if mj > mi and (mj - mi) % 12 == 0:
                    n0 += 1
                    if xj > xi:
                        s_stat += 1
                    elif xj < xi:
                        s_stat -= 1
                    else:
                        tied += 1
        r = rows[name]
        assert (r.n, r.n_pairs, r.s_stat, r.n_tied_pairs) == (
            len(pts),
            n0,
            s_stat,
            tied,
        )
        assert r.n_pairs == sum(
            c * (c - 1) // 2 for c in season_counts.values()
        )
        if n0 > 0 and n0 - tied > 0:
            assert r.tau_b == float(s_stat) / (
                math.sqrt(float(n0)) * math.sqrt(float(n0 - tied))
            )


def test_als_rank1_recompute(spark):
    """Item factors equal the two-phase fixed-point replay; top-20
    ranking tie-breaks on part id."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    okey2cust = {
        o.o_orderkey: o.o_custkey
        for o in read_table(spark, SF_SMALL, "orders").collect()
    }
    r = defaultdict(int)
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        r[(okey2cust[li.l_orderkey], li.l_partkey)] += int(li.l_quantity)
    by_cust = defaultdict(list)
    by_part = defaultdict(list)
    for (cust, part), rating in r.items():
        by_cust[cust].append(rating)
        by_part[part].append((cust, rating))
    u = {
        cust: sum(v) * 1000 // len(v) for cust, v in by_cust.items()
    }
    v = {}
    for part, lst in by_part.items():
        num = sum(rating * u[cust] for cust, rating in lst)
        den = sum(u[cust] * u[cust] for cust, _ in lst)
        v[part] = (len(lst), num * 1_000_000 // den)
    ranked = sorted(v.items(), key=lambda kv: (-kv[1][1], kv[0]))[:20]
    rows = sorted(_q(spark, "als_rank1_scores").collect(), key=lambda x: x.rk)
    assert [(x.part, x.n_raters, x.v_ppm) for x in rows] == [
        (p, n, vp) for p, (n, vp) in ranked
    ]


def test_truss_peel_recompute(spark):
    """Surviving 4-truss edges equal the Python peel replay, the
    third round is idempotent (fixpoint reached on testdata), and
    every surviving edge has support >= 2."""
    edges = {
        (min(a, b), max(a, b))
        for a, b in (
            (r.a, r.b)
            for r in __import__(
                "distributed_mapreduce_p2p_spark.registry", fromlist=["x"]
            )._trade_edges(spark, "/root/testdata/sf0.001").collect()
        )
    }

    def peel(es):
        from collections import Counter

        sup = Counter()
        es_sorted = sorted(es)
        esset = set(es)
        for i, (a, b) in enumerate(es_sorted):
            for (c, d) in es_sorted[i + 1 :]:
                if c != b:
                    continue
                # triangle a<b<d needs (a,d)
                if (a, d) in esset:
                    sup[(a, b)] += 1
                    sup[(b, d)] += 1
                    sup[(a, d)] += 1
        return {e: c for e, c in sup.items() if c >= 2}

    cur = {e: None for e in edges}
    for _ in range(3):
        cur = peel(set(cur))
    again = peel(set(cur))
    assert set(again) == set(cur)  # fixpoint on testdata

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    want = {
        (nat[a], nat[b]): sup for (a, b), sup in cur.items()
    }
    rows = _q(spark, "truss_peel_rounds").collect()
    assert {(r.a_name, r.b_name): r.sup for r in rows} == want
    assert all(r.sup >= 2 for r in rows)


def test_cramers_v_recompute(spark):
    """V equals the ordered-fold replay over chi2 cells and agrees
    with the chi2_priority_status cell values; 0 <= V <= 1."""
    import math

    cells = sorted(
        _q(spark, "chi2_priority_status").collect(),
        key=lambda r: (r.o_orderpriority, r.o_orderstatus),
    )
    chi2 = 0.0
    for c in cells:
        chi2 += c.chi2_cell
    n = sum(c.obs for c in cells)
    rdim = len({c.o_orderpriority for c in cells})
    cdim = len({c.o_orderstatus for c in cells})
    r = _q(spark, "cramers_v_effect").collect()[0]
    assert (r.n, r.rdim, r.cdim) == (n, rdim, cdim)
    assert r.chi2 == chi2
    assert r.cramers_v == math.sqrt(
        chi2 / (float(n) * float(min(rdim - 1, cdim - 1)))
    )
    assert 0.0 <= r.cramers_v <= 1.0


def test_seasonal_residual_outliers_recompute(spark):
    """The flagged set equals the full Python replay (decompose →
    residual → LOW-median/MAD → 3-MAD rule); at sf0.001 the replay
    yields an empty set and both sides agree on that."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    m = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        midx = o.o_orderdate.year * 12 + o.o_orderdate.month
        m[(nation_of[o.o_custkey], midx)] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
    ratio = {}
    for (name, midx), cents in m.items():
        cells = [m.get((name, midx + d)) for d in range(-6, 7)]
        if any(c is None for c in cells):
            continue
        trend2 = sum(
            c if abs(d) == 6 else 2 * c
            for d, c in zip(range(-6, 7), cells)
        )
        if trend2 <= 0:
            continue
        ratio[(name, midx)] = (cents * 24 * 1_000_000) // trend2
    sidx = defaultdict(lambda: [0, 0])
    for (name, midx), rp in ratio.items():
        a = sidx[(name, ((midx - 1) % 12) + 1)]
        a[0] += 1
        a[1] += rp
    res = {
        k: rp - sidx[(k[0], ((k[1] - 1) % 12) + 1)][1]
        // sidx[(k[0], ((k[1] - 1) % 12) + 1)][0]
        for k, rp in ratio.items()
    }
    by_n = defaultdict(list)
    for (name, midx), r in res.items():
        by_n[name].append(r)

    def lowmed(xs):
        xs = sorted(xs)
        return xs[(len(xs) + 1) // 2 - 1]

    want = set()
    for name, rs in by_n.items():
        med = lowmed(rs)
        mad = lowmed([abs(r - med) for r in rs])
        for (n2, midx), r in res.items():
            if n2 == name and abs(r - med) > 3 * mad:
                want.add((name, midx))
    rows = _q(spark, "seasonal_residual_outliers").collect()
    assert {(r.n_name, r.midx) for r in rows} == want
    for r in rows:
        assert r.residual_ppm == res[(r.n_name, r.midx)]
        assert r.residual_ppm == r.ratio_ppm - r.seasidx_ppm


def test_streaming_chained_recompute(spark):
    """The two-stage streaming rollup equals the batch replay over
    closed windows, and cross-checks streaming_tumbling_window's
    per-type counts stage."""
    from collections import defaultdict

    tumbling = defaultdict(dict)
    for r in _q(spark, "streaming_tumbling_window").collect():
        tumbling[r.window_start][r.event_type] = r.cnt
    got = {
        r.window_start: (r.n_types, r.max_cnt, r.total)
        for r in _q(spark, "streaming_chained_max_counts").collect()
    }
    assert set(got) == set(tumbling)
    for ws, types in tumbling.items():
        assert got[ws] == (
            len(types),
            max(types.values()),
            sum(types.values()),
        )


def test_window_funnel_strict_recompute(spark):
    """Funnel depth histogram equals the greedy earliest-completion
    Python replay with 1h step windows."""
    from collections import Counter, defaultdict
    from datetime import datetime

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    epoch = datetime(1970, 1, 1)

    def us(ts):
        d = ts - epoch
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds

    steps = {"signup": 1, "click": 2, "view": 3, "purchase": 4}
    by_user = defaultdict(list)
    for e in read_table(spark, SF_SMALL, "events").collect():
        if e.event_type in steps:
            by_user[e.user_id].append(
                (us(e.ts), e.event_id, steps[e.event_type])
            )
    hour = 3_600_000_000
    hist = Counter()
    for u, evs in by_user.items():
        evs.sort()
        t = [None] * 5
        for ts, _, s in evs:
            if s == 1 and t[1] is None:
                t[1] = ts
            elif (
                s > 1
                and t[s] is None
                and t[s - 1] is not None
                and ts - t[s - 1] <= hour
            ):
                t[s] = ts
        depth = max((i for i in range(1, 5) if t[i] is not None), default=0)
        hist[depth] += 1
    got = {
        r.steps_completed: r.n_users
        for r in _q(spark, "window_funnel_strict").collect()
    }
    assert got == dict(hist)


def test_golden_record_merge_recompute(spark):
    """Field survivorship equals the per-field replay with the
    arithmetic composite tie-breaks."""
    from collections import defaultdict
    from datetime import date
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    per = defaultdict(list)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        cents = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
        days = (o.o_orderdate.date() - date(1990, 1, 1)).days
        per[o.o_custkey].append((o, cents, days))
    rows = {r.cust: r for r in _q(spark, "golden_record_merge").collect()}
    assert set(rows) == set(per)
    for cust, lst in per.items():
        r = rows[cust]
        assert r.n_orders == len(lst)
        latest = max(
            lst, key=lambda t: t[2] * 10_000_000_000 + t[0].o_orderkey
        )
        assert r.latest_status == latest[0].o_orderstatus
        priciest = max(
            lst,
            key=lambda t: t[1] * 10_000_000_000
            + (10_000_000_000 - t[0].o_orderkey),
        )
        assert r.priciest_priority == priciest[0].o_orderpriority
        assert r.first_seen == min(
            t[0].o_orderdate.date() for t in lst
        ).isoformat()
        assert r.max_price == max(t[1] for t in lst) / 100.0


def test_percentile_cont_exact_recompute(spark):
    """Interpolated centi-cent values equal the exact rational
    replay, and the p50 lane brackets the rank-pick median."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    vals = defaultdict(list)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        vals[nation_of[o.o_custkey]].append(
            int(
                Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
                * 100
            )
        )
    rows = _q(spark, "percentile_cont_exact").collect()
    assert len(rows) == len(vals) * 3
    for r in rows:
        xs = sorted(vals[r.n_name])
        n = len(xs)
        k = (n - 1) * r.pctl
        lo, frac = k // 100, k % 100
        hi = xs[lo + 1] if lo + 1 < n else xs[lo]
        want = xs[lo] * 100 + (hi - xs[lo]) * frac
        assert (r.n, r.value_centi_cents) == (n, want)


def test_audio_silence_runs_recompute(spark):
    """Run stats equal the Python replay over the REAL decoded PCM
    (not the formula), and quiet totals equal the sum of run
    lengths."""
    import io
    import wave

    import numpy as np

    from distributed_mapreduce_p2p_spark.operators import multimodal as MM
    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    ids = read_table(spark, SF_SMALL, "documents").select("doc_id")
    rows = {r.asset_id: r for r in _q(spark, "audio_silence_runs").collect()}
    checked = 0
    for a in MM.real_assets(ids).where("modality = 'audio'").collect():
        with wave.open(io.BytesIO(bytes(a.payload)), "rb") as w:
            nc, ns = w.getnchannels(), w.getnframes()
            pcm = np.frombuffer(w.readframes(ns), dtype="<i2").astype(
                np.int64
            )
        quiet = np.abs(pcm) < 8192
        runs = []
        cur = 0
        for q in quiet:
            if q:
                cur += 1
            elif cur:
                runs.append(cur)
                cur = 0
        if cur:
            runs.append(cur)
        r = rows[a.asset_id]
        assert r.n_samples == pcm.size == ns * nc
        assert r.n_quiet == int(quiet.sum()) == sum(runs)
        assert r.n_runs == sum(1 for x in runs if x >= 4)
        assert r.max_run == (max(runs) if runs else 0)
        checked += 1
    assert checked == len(rows)


def test_hellinger_drift_recompute(spark):
    """H² equals the ordered √-fold replay; 0 <= H² <= 1 and the
    Bhattacharyya coefficient complements it exactly."""
    import math
    from collections import Counter

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    evs = read_table(spark, SF_SMALL, "events").collect()
    d0 = min(e.ts.date() for e in evs)
    d1 = max(e.ts.date() for e in evs)
    half_span = (d1 - d0).days // 2
    c1, c2 = Counter(), Counter()
    for e in evs:
        if (e.ts.date() - d0).days <= half_span:
            c1[e.event_type] += 1
        else:
            c2[e.event_type] += 1
    bc_num = 0.0
    for t in sorted(set(c1) | set(c2)):
        bc_num += math.sqrt(float(c1.get(t, 0)) * float(c2.get(t, 0)))
    n1, n2 = sum(c1.values()), sum(c2.values())
    r = _q(spark, "hellinger_drift").collect()[0]
    assert (r.n1, r.n2) == (n1, n2)
    bc = bc_num / math.sqrt(float(n1) * float(n2))
    assert r.bhattacharyya == bc
    assert r.hellinger2 == 1.0 - bc
    assert 0.0 <= r.hellinger2 <= 1.0


def test_dow_hour_profile_recompute(spark):
    """Cells equal the calendar replay (Sunday=0 convention) and
    deviations sum to zero per margin."""
    from collections import Counter, defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    obs = Counter()
    for e in read_table(spark, SF_SMALL, "events").collect():
        dow = (e.ts.date().weekday() + 1) % 7  # Python Mon=0 -> Sun=0
        obs[(dow, e.ts.hour)] += 1
    rows = _q(spark, "dow_hour_profile").collect()
    assert {(r.dow, r.hr): r.obs for r in rows} == dict(obs)
    n = sum(obs.values())
    rm = defaultdict(int)
    cm = defaultdict(int)
    for (d, h), o in obs.items():
        rm[d] += o
        cm[h] += o
    for r in rows:
        assert r.dev_num == r.obs * n - rm[r.dow] * cm[r.hr]
        want_chi2 = (
            float(r.dev_num)
            * float(r.dev_num)
            / float(n)
            / float(rm[r.dow])
            / float(cm[r.hr])
        )
        assert r.chi2_cell == want_chi2
    # deviations over EMPTY cells (obs=0 -> dev = -r*c) complete the
    # zero-sum identity; present-cell sums alone do not vanish on a
    # sparse grid, so reconstruct the full-grid sum
    full = sum(r.dev_num for r in rows) + sum(
        0 * n - rm[d] * cm[h]
        for d in rm
        for h in cm
        if (d, h) not in obs
    )
    assert full == 0


def test_duckdb_list_accumulator_sound(spark):
    """Pin the DuckDB capability dtw relies on: list_reduce with a
    LIST accumulator folds correctly in 1.0 (STRUCT accumulators are
    broken — the holt_linear probe)."""
    import duckdb

    con = duckdb.connect()
    (out,) = con.execute(
        """
        WITH t AS (SELECT [2, 3, 4] AS xs)
        SELECT list_reduce(
          list_prepend([0]::BIGINT[],
                       list_transform(xs, x -> [x]::BIGINT[])),
          (acc, x) -> list_append(acc, x[1] + acc[len(acc)]))
        FROM t
        """
    ).fetchone()
    assert out == [0, 2, 5, 9]


def test_dtw_distance_recompute(spark):
    """DTW costs equal the O(mn) integer DP replay; DTW <= the
    lockstep (no-warp) cost when lengths match, and >= |sum diff|
    lower bound never asserted (not a DTW invariant) — symmetry of
    the pair table is."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_regionkey
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    reg = {
        x.r_regionkey: x.r_name
        for x in read_table(spark, SF_SMALL, "region").collect()
    }
    cust = {
        c.c_custkey: reg[nat[c.c_nationkey]]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    m = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        midx = o.o_orderdate.year * 12 + o.o_orderdate.month
        m[(cust[o.o_custkey], midx)] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
    ser = defaultdict(list)
    for (rn, midx), cents in sorted(m.items()):
        ser[rn].append(cents // 100)

    def dtw(a, b):
        INF = 1 << 62
        prev = None
        for i, ai in enumerate(a):
            cur = []
            for j, bj in enumerate(b):
                c = abs(ai - bj)
                if i == 0 and j == 0:
                    cur.append(c)
                elif i == 0:
                    cur.append(c + cur[j - 1])
                elif j == 0:
                    cur.append(c + prev[0])
                else:
                    cur.append(
                        c + min(prev[j], prev[j - 1], cur[j - 1])
                    )
            prev = cur
        return prev[-1]

    rows = _q(spark, "dtw_distance_regions").collect()
    names = sorted(ser)
    assert {(r.region_a, r.region_b) for r in rows} == {
        (a, b) for i, a in enumerate(names) for b in names[i + 1 :]
    }
    for r in rows:
        a, b = ser[r.region_a], ser[r.region_b]
        assert (r.m_len, r.n_len) == (len(a), len(b))
        assert r.dtw_cost == dtw(a, b)
        if len(a) == len(b):
            lockstep = sum(abs(x - y) for x, y in zip(a, b))
            assert r.dtw_cost <= lockstep


def test_cochran_q_recompute(spark):
    """Q equals the complete-block replay with exact integer
    numerator/denominator."""
    from collections import defaultdict

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    hits = defaultdict(lambda: defaultdict(int))
    for o in read_table(spark, SF_SMALL, "orders").collect():
        if o.o_orderstatus == "F":
            hits[o.o_custkey][o.o_orderpriority] = 1
        else:
            hits[o.o_custkey].setdefault(o.o_orderpriority, 0)
    blocks = {c: d for c, d in hits.items() if len(d) == 5}
    cj = defaultdict(int)
    ris = []
    for c, d in blocks.items():
        ris.append(sum(d.values()))
        for p, h in d.items():
            cj[p] += h
    n = sum(cj.values())
    sc2 = sum(v * v for v in cj.values())
    sr = sum(ris)
    sr2 = sum(v * v for v in ris)
    r = _q(spark, "cochran_q_test").collect()[0]
    assert (r.b, r.n) == (len(blocks), n)
    assert r.q_num == 5 * 4 * (5 * sc2 - n * n)
    assert r.q_den == 5 * (5 * sr - sr2)
    if r.q_den > 0:
        assert r.q_stat == float(r.q_num) / float(r.q_den)


def test_mcc_binary_rule_recompute(spark):
    """Confusion counts and MCC equal the rule replay with the LOW
    median threshold; |MCC| <= 1."""
    import math
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    rows_ = read_table(spark, SF_SMALL, "orders").collect()
    cs = sorted(
        int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
        for o in rows_
    )
    med = cs[(len(cs) + 1) // 2 - 1]
    tp = fp = fn = tn = 0
    for o in rows_:
        c = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
        pred = c > med
        y = o.o_orderstatus == "F"
        if pred and y:
            tp += 1
        elif pred:
            fp += 1
        elif y:
            fn += 1
        else:
            tn += 1
    r = _q(spark, "mcc_binary_rule").collect()[0]
    assert (r.tp, r.fp, r.fn, r.tn) == (tp, fp, fn, tn)
    want = (
        (float(tp) * float(tn) - float(fp) * float(fn))
        / math.sqrt(float(tp + fp))
        / math.sqrt(float(tp + fn))
        / math.sqrt(float(tn + fp))
        / math.sqrt(float(tn + fn))
    )
    assert r.mcc == want
    assert -1.0 <= r.mcc <= 1.0


def test_price_index_fisher_recompute(spark):
    """L/P/F indices equal the matched-basket replay; base-year
    indices are exactly 1e6/1.0 and Fisher lies between L and P."""
    import math
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    pq = defaultdict(lambda: [0, 0])
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        cents = int(
            Decimal(str(li.l_extendedprice)).quantize(Decimal("0.01"))
            * 100
        )
        a = pq[(li.l_partkey, li.l_shipdate.year)]
        a[0] += cents
        a[1] += int(li.l_quantity)
    base_y = min(y for _, y in pq)
    p0 = {
        pk: (s // q, q)
        for (pk, y), (s, q) in pq.items()
        if y == base_y and q > 0
    }
    per_year = defaultdict(lambda: [0, 0, 0, 0, 0])
    for (pk, y), (s, q) in pq.items():
        if q <= 0 or pk not in p0:
            continue
        p1 = s // q
        b_p, b_q = p0[pk]
        a = per_year[y]
        a[0] += p1 * b_q
        a[1] += b_p * b_q
        a[2] += p1 * q
        a[3] += b_p * q
        a[4] += 1
    rows = {r.year: r for r in _q(spark, "price_index_fisher").collect()}
    assert set(rows) == set(per_year)
    for y, (ln, ld, pn, pd, np_) in per_year.items():
        r = rows[y]
        assert r.n_parts == np_
        assert r.laspeyres_ppm == ln * 1_000_000 // ld
        assert r.paasche_ppm == pn * 1_000_000 // pd
        want_f = math.sqrt((float(ln) / float(ld)) * (float(pn) / float(pd)))
        assert r.fisher == want_f
        lo = min(float(ln) / ld, float(pn) / pd)
        hi = max(float(ln) / ld, float(pn) / pd)
        assert lo - 1e-9 <= r.fisher <= hi + 1e-9
    assert rows[base_y].laspeyres_ppm == 1_000_000
    assert rows[base_y].paasche_ppm == 1_000_000


def test_value_tier_migration_recompute(spark):
    """The migration matrix equals the rank-quartile replay with the
    pinned (cents, cust) tie-break, and column sums equal the
    retained-customer counts per target year tier."""
    from collections import Counter, defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    spend = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        spend[(o.o_custkey, o.o_orderdate.year)] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
    by_year = defaultdict(list)
    for (cust, y), cents in spend.items():
        by_year[y].append((cents, cust))
    tier = {}
    for y, lst in by_year.items():
        lst.sort()
        n = len(lst)
        for i, (cents, cust) in enumerate(lst, start=1):
            tier[(cust, y)] = (i - 1) * 4 // n + 1
    want = Counter()
    for (cust, y), t in tier.items():
        t2 = tier.get((cust, y + 1))
        if t2 is not None:
            want[(t, t2)] += 1
    got = {
        (r.tier_from, r.tier_to): r.n_customers
        for r in _q(spark, "value_tier_migration").collect()
    }
    assert got == dict(want)


def test_sequential_pairs_recompute(spark):
    """Support equals the per-user any-A-before-any-B replay, and is
    always >= the adjacent-transition user count for the same pair
    ordering logic (sequence subsumes adjacency)."""
    from collections import defaultdict
    from datetime import datetime

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    epoch = datetime(1970, 1, 1)

    def us(ts):
        d = ts - epoch
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds

    spans = {}
    users = set()
    for e in read_table(spark, SF_SMALL, "events").collect():
        users.add(e.user_id)
        k = (e.user_id, e.event_type)
        t = us(e.ts)
        lo, hi = spans.get(k, (t, t))
        spans[k] = (min(lo, t), max(hi, t))
    want = defaultdict(int)
    by_user = defaultdict(dict)
    for (u, t), (lo, hi) in spans.items():
        by_user[u][t] = (lo, hi)
    for u, d in by_user.items():
        for ta, (lo_a, _) in d.items():
            for tb, (_, hi_b) in d.items():
                if ta != tb and lo_a < hi_b:
                    want[(ta, tb)] += 1
    rows = _q(spark, "sequential_pairs_support").collect()
    assert {(r.t_first, r.t_then): r.support for r in rows} == dict(
        want
    )
    for r in rows:
        assert r.support_ppm == r.support * 1_000_000 // len(users)


def test_monthly_ohlc_recompute(spark):
    """OHLC equals the daily replay; low <= open/close <= high."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    daily = defaultdict(int)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        daily[
            (
                o.o_orderdate.year * 12 + o.o_orderdate.month,
                o.o_orderdate.date(),
            )
        ] += int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
    per_m = defaultdict(list)
    for (midx, d), cents in daily.items():
        per_m[midx].append((d, cents))
    rows = {r.midx: r for r in _q(spark, "monthly_ohlc_bars").collect()}
    assert set(rows) == set(per_m)
    for midx, lst in per_m.items():
        lst.sort()
        r = rows[midx]
        assert r.n_days == len(lst)
        assert r.open == lst[0][1] / 100.0
        assert r.close == lst[-1][1] / 100.0
        assert r.high == max(c for _, c in lst) / 100.0
        assert r.low == min(c for _, c in lst) / 100.0
        assert r.low <= r.open <= r.high
        assert r.low <= r.close <= r.high


def test_trade_reciprocity_recompute(spark):
    """Reciprocity equals the directed above-mean edge replay; the
    reciprocated count is even by symmetry."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    okey = {
        o.o_orderkey: o.o_custkey
        for o in read_table(spark, SF_SMALL, "orders").collect()
    }
    cnat = {
        c.c_custkey: c.c_nationkey
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    snat = {
        s.s_suppkey: s.s_nationkey
        for s in read_table(spark, SF_SMALL, "supplier").collect()
    }
    vol = defaultdict(Decimal)
    for li in read_table(spark, SF_SMALL, "lineitem").collect():
        cn = cnat[okey[li.l_orderkey]]
        sn = snat[li.l_suppkey]
        if cn == sn:
            continue
        p = Decimal(str(li.l_extendedprice)).quantize(Decimal("0.01"))
        d = Decimal(str(li.l_discount)).quantize(Decimal("0.01"))
        vol[(cn, sn)] += p * (1 - d)
    n_pairs = len(vol)
    total = sum(vol.values())
    edges = {
        k for k, v in vol.items() if float(v) * n_pairs > float(total)
    }
    recip = sum(1 for (a, b) in edges if (b, a) in edges)
    r = _q(spark, "trade_reciprocity").collect()[0]
    assert (r.n_edges, r.n_recip) == (len(edges), recip)
    assert recip % 2 == 0
    assert r.reciprocity_ppm == recip * 1_000_000 // len(edges)


def test_dedup_detector_agreement_recompute(spark):
    """Confusion counts equal the set algebra over the two registered
    detectors' own outputs — the entry can never disagree with what
    it evaluates."""
    sim = {
        (r.doc_a, r.doc_b)
        for r in _q(spark, "simhash_pairs").collect()
    }
    mh = {
        (r.doc_a, r.doc_b)
        for r in _q(spark, "minhash_lsh_pairs").collect()
    }
    r = _q(spark, "dedup_detector_agreement").collect()[0]
    tp, fp, fn = len(sim & mh), len(sim - mh), len(mh - sim)
    assert (r.tp, r.fp, r.fn) == (tp, fp, fn)
    if tp + fp > 0:
        assert r.precision_ppm == tp * 1_000_000 // (tp + fp)
    if tp + fn > 0:
        assert r.recall_ppm == tp * 1_000_000 // (tp + fn)


def test_ratio_metric_delta_recompute(spark):
    """Ratio and delta-method variance equal the customer-level
    replay; variance is non-negative."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    per = defaultdict(lambda: [0, 0])
    for o in read_table(spark, SF_SMALL, "orders").collect():
        a = per[(nation_of[o.o_custkey], o.o_custkey)]
        a[0] += (
            int(
                Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
                * 100
            )
        )
        a[1] += 1
    groups = defaultdict(list)
    for (name, cust), (cents, y) in per.items():
        groups[name].append((cents // 100, y))
    rows = {r.n_name: r for r in _q(spark, "ratio_metric_delta_ci").collect()}
    for name, lst in groups.items():
        n = len(lst)
        if n <= 1:
            continue
        sx = sum(x for x, _ in lst)
        sy = sum(y for _, y in lst)
        sxx = sum(x * x for x, _ in lst)
        syy = sum(y * y for _, y in lst)
        sxy = sum(x * y for x, y in lst)
        r = rows[name]
        assert r.n == n
        ratio = float(sx) / float(sy)
        assert r.ratio == ratio
        num = (
            (float(sxx) - float(sx) * float(sx) / float(n))
            + ratio * ratio * (float(syy) - float(sy) * float(sy) / float(n))
            - 2.0 * ratio * (float(sxy) - float(sx) * float(sy) / float(n))
        )
        want = (
            num
            / (float(n) - 1.0)
            / ((float(sy) / float(n)) * (float(sy) / float(n)))
            / float(n)
        )
        assert r.var_ratio == want
        assert r.var_ratio >= 0.0


def test_cuped_adjustment_recompute(spark):
    """theta/rho² equal the pre-post replay and the identity
    var_adj = var_post·(1 − ρ²) holds exactly in the n²-scaled
    doubles."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    orders = read_table(spark, SF_SMALL, "orders").collect()
    y0 = min(o.o_orderdate.year for o in orders)
    y1 = max(o.o_orderdate.year for o in orders)
    mid = (y0 + y1) // 2
    per = defaultdict(lambda: [0, 0])
    for o in orders:
        d = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        ) // 100
        if o.o_orderdate.year <= mid:
            per[o.o_custkey][0] += d
        else:
            per[o.o_custkey][1] += d
    n = len(per)
    sp = sum(p for p, _ in per.values())
    sq = sum(q for _, q in per.values())
    spp = sum(p * p for p, _ in per.values())
    sqq = sum(q * q for _, q in per.values())
    spq = sum(p * q for p, q in per.values())
    cov = float(n) * float(spq) - float(sp) * float(sq)
    varp = float(n) * float(spp) - float(sp) * float(sp)
    varq = float(n) * float(sqq) - float(sq) * float(sq)
    r = _q(spark, "cuped_adjustment").collect()[0]
    assert r.n == n
    assert r.theta == cov / varp
    assert r.var_post_n2 == varq
    assert r.var_adj_n2 == varq - cov * cov / varp
    assert r.rho2 == 1.0 - (1.0 - (cov * cov) / (varp * varq))
    assert 0.0 <= r.rho2 <= 1.0
    # the CUPED identity, up to the two expressions' shared algebra
    assert abs(r.var_adj_n2 - r.var_post_n2 * (1.0 - r.rho2)) <= max(
        1e-9 * r.var_post_n2, 1e-6
    )


def test_month_end_lift_recompute(spark):
    """Shares and length-aware expectations equal the calendar
    replay, including a manual February check (dim = 28/29)."""
    import calendar
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    agg = defaultdict(lambda: [0, 0, 0])
    feb_seen = False
    for o in read_table(spark, SF_SMALL, "orders").collect():
        cents = int(
            Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
            * 100
        )
        d = o.o_orderdate.date()
        dim = calendar.monthrange(d.year, d.month)[1]
        if d.month == 2:
            feb_seen = True
            assert dim in (28, 29)
        last3 = cents if dim - d.day <= 2 else 0
        a = agg[nation_of[o.o_custkey]]
        a[0] += cents
        a[1] += last3
        a[2] += cents * 3 * 1_000_000 // dim
    assert feb_seen
    rows = {r.n_name: r for r in _q(spark, "month_end_lift").collect()}
    want_names = {
        n
        for n, (t, _, e) in agg.items()
        if t > 0 and e // t > 0
    }
    assert set(rows) == want_names
    for name in want_names:
        total, last3, exp_scaled = agg[name]
        r = rows[name]
        assert r.last3_revenue == last3 / 100.0
        assert r.share_ppm == last3 * 1_000_000 // total
        assert r.expected_share_ppm == exp_scaled // total
        assert r.lift_ppm == (
            (last3 * 1_000_000 // total) * 1_000_000
            // (exp_scaled // total)
        )


def test_gini_mean_difference_recompute(spark):
    """GMD numerator equals both the rank identity AND the O(n²)
    pairwise |xi − xj| definition (on a small nation)."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    vals = defaultdict(list)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        vals[nation_of[o.o_custkey]].append(
            int(
                Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
                * 100
            )
        )
    rows = {r.n_name: r for r in _q(spark, "gini_mean_difference").collect()}
    for name, xs in vals.items():
        if len(xs) <= 1:
            continue
        xs.sort()
        n = len(xs)
        num = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs))
        r = rows[name]
        assert (r.n, r.num) == (n, num)
        assert r.gmd == 2.0 * float(num) / float(n * (n - 1)) / 100.0
        # pairwise ground truth on one modest nation
        if n <= 400:
            pair = sum(
                abs(a - b) for i, a in enumerate(xs) for b in xs[i + 1 :]
            )
            assert num == pair


def test_bowley_skewness_recompute(spark):
    """Quartile picks and the ppm ratio equal the LOW-rank replay;
    bowley is bounded in [-1e6, 1e6]."""
    from collections import defaultdict
    from decimal import Decimal

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    nat = {
        x.n_nationkey: x.n_name
        for x in read_table(spark, SF_SMALL, "nation").collect()
    }
    nation_of = {
        c.c_custkey: nat[c.c_nationkey]
        for c in read_table(spark, SF_SMALL, "customer").collect()
    }
    vals = defaultdict(list)
    for o in read_table(spark, SF_SMALL, "orders").collect():
        vals[nation_of[o.o_custkey]].append(
            int(
                Decimal(str(o.o_totalprice)).quantize(Decimal("0.01"))
                * 100
            )
        )
    rows = {r.n_name: r for r in _q(spark, "bowley_skewness").collect()}
    for name, xs in vals.items():
        xs.sort()
        n = len(xs)
        q1 = xs[(n + 3) // 4 - 1]
        q2 = xs[(n + 1) // 2 - 1]
        q3 = xs[(3 * n + 1) // 4 - 1]
        r = rows[name]
        assert (r.q1, r.median, r.q3) == (
            q1 / 100.0,
            q2 / 100.0,
            q3 / 100.0,
        )
        if q3 > q1:
            num = q3 + q1 - 2 * q2
            want = (
                abs(num) * 1_000_000 // (q3 - q1)
            ) * (1 if num >= 0 else -1)
            # SQL DIV truncates toward zero; mirror exactly
            assert r.bowley_ppm == want
            assert -1_000_000 <= r.bowley_ppm <= 1_000_000
