"""Source/sink round-trips (SURVEY.md §2.1-2.2, K1-K3, S1) and
explicit partitioning exchanges (H1/H2)."""

from __future__ import annotations

import glob
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="sink_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _wc(spark):
    from distributed_mapreduce_p2p_spark.operators.text import word_count
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    return word_count(read_table(spark, SF_SMALL, "documents"))


def test_hash_partitioned_write_roundtrip(spark, tmpdir):
    """K1: nReduce-way hash-bucketed files; same key never splits
    across buckets (mapreduce/worker.go:117-143 semantics)."""
    from distributed_mapreduce_p2p_spark.sources.io import write_hash_partitioned

    wc = _wc(spark)
    path = f"{tmpdir}/hashed"
    write_hash_partitioned(wc, path, "word", n=8)
    files = glob.glob(f"{path}/part-*")
    assert len(files) <= 8
    back = spark.read.parquet(path)
    assert {(r.word, r.cnt) for r in back.collect()} == {
        (r.word, r.cnt) for r in wc.collect()
    }
    # one key -> one file (the hash-bucket invariant)
    per_key_files = (
        back.withColumn("f", F.input_file_name())
        .groupBy("word")
        .agg(F.countDistinct("f").alias("nf"))
        .agg(F.max("nf"))
        .collect()[0][0]
    )
    assert per_key_files == 1


def test_sorted_partition_write(spark, tmpdir):
    """K2: files are key-sorted within each partition
    (worker.go:191-210)."""
    from distributed_mapreduce_p2p_spark.sources.io import write_sorted_partitions

    wc = _wc(spark)
    path = f"{tmpdir}/sorted"
    write_sorted_partitions(wc, path, "word", n=4)
    back = spark.read.parquet(path).withColumn("f", F.input_file_name())
    # within every file, words must appear in ascending order
    import pandas as pd  # noqa: F401

    pdf = back.toPandas()
    for _, grp in pdf.groupby("f"):
        words = list(grp["word"])
        assert words == sorted(words)


def test_merged_global_output(spark, tmpdir):
    """K3: single globally-sorted merged result (worker.go:218-272 —
    the ``mr-out-final`` shape)."""
    from distributed_mapreduce_p2p_spark.sources.io import write_merged_result

    wc = _wc(spark)
    path = f"{tmpdir}/final"
    write_merged_result(wc, path, "word")
    files = glob.glob(f"{path}/part-*")
    assert len(files) == 1
    words = [r.word for r in spark.read.parquet(path).collect()]
    assert words == sorted(words)


def test_explicit_exchanges(spark):
    """H1/H2: hash vs range partitioning produce the requested
    scheme (plan-level) and preserve data."""
    from distributed_mapreduce_p2p_spark.operators.partitioning import (
        hash_partition,
        range_partition,
    )
    from distributed_mapreduce_p2p_spark.plans.explain import explain_str
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    ev = read_table(spark, SF_SMALL, "events")
    h = hash_partition(ev, 8, "user_id")
    r = range_partition(ev, 8, "event_id")
    assert "hashpartitioning(user_id" in explain_str(h, "simple")
    assert "rangepartitioning(event_id" in explain_str(r, "simple")
    assert h.count() == ev.count() == r.count()
    assert h.rdd.getNumPartitions() == 8


def test_bucketed_join_no_shuffle(spark, tmpdir):
    """Bucketed tables co-locate the join: writing both sides
    bucketed by the join key lets the SortMergeJoin run without any
    shuffle exchange — the pre-partitioning strategy for repeated
    100 TB fact-fact joins."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_p2p_spark.plans.explain import (
        explain_str,
        shuffle_count,
    )
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    spark.sql("CREATE DATABASE IF NOT EXISTS bktdb")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # disable broadcast so the bucketed SortMergeJoin path is exercised
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = read_table(spark, SF_SMALL, "orders")
        lineitem = read_table(spark, SF_SMALL, "lineitem")
        (
            orders.write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", f"{tmpdir}/orders_b")
            .mode("overwrite")
            .saveAsTable("bktdb.orders_b")
        )
        (
            lineitem.write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", f"{tmpdir}/lineitem_b")
            .mode("overwrite")
            .saveAsTable("bktdb.lineitem_b")
        )
        ob = spark.table("bktdb.orders_b")
        lb = spark.table("bktdb.lineitem_b")
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count(F.lit(1)).alias("n"))
        # the join itself must not shuffle; only the final agg may
        plan = explain_str(joined, "simple")
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert shuffle_count(joined) <= 1, plan
        # correctness: equals the unbucketed join
        plain = (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert {tuple(r) for r in joined.collect()} == {
            tuple(r) for r in plain.collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS bktdb.orders_b")
        spark.sql("DROP TABLE IF EXISTS bktdb.lineitem_b")
        spark.sql("DROP DATABASE IF EXISTS bktdb")


def test_format_roundtrips(spark, tmpdir):
    """Format breadth: the word-count result survives JSON-lines (the
    reference's shuffle-file format), space-separated CSV (its
    reduce-output format), and ORC, bit-identically."""
    from distributed_mapreduce_p2p_spark.sources import io as sio

    wc = _wc(spark)
    want = {(r.word, r.cnt) for r in wc.collect()}

    sio.write_jsonl(wc, f"{tmpdir}/j", n=8, key="word")
    got_j = {
        (r.word, r.cnt)
        for r in sio.read_jsonl(spark, f"{tmpdir}/j", "word string, cnt long").collect()
    }
    assert got_j == want

    sio.write_csv(wc, f"{tmpdir}/c", sep=" ")
    got_c = {
        (r.word, r.cnt)
        for r in sio.read_csv(
            spark, f"{tmpdir}/c", "word string, cnt long", sep=" "
        ).collect()
    }
    assert got_c == want

    sio.write_orc(wc, f"{tmpdir}/o")
    got_o = {(r.word, r.cnt) for r in sio.read_orc(spark, f"{tmpdir}/o").collect()}
    assert got_o == want


def test_streaming_query_listener_observability(spark, tmpdir):
    """K5 analog: the reference WAL-logs every task transition
    (tracker.go:153-165); the Spark observable is a
    StreamingQueryListener receiving progress events."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    from distributed_mapreduce_p2p_spark.streaming.replication import (
        numbered_wordcount,
    )

    events = {"progress": 0, "started": 0}
    done = threading.Event()

    class L(StreamingQueryListener):
        def onQueryStarted(self, e):
            events["started"] += 1

        def onQueryProgress(self, e):
            events["progress"] += 1
            done.set()

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            pass

    listener = L()
    spark.streams.addListener(listener)
    try:
        result = numbered_wordcount(spark, SF_SMALL)
        src = f"{tmpdir}/lsrc"
        result.write.parquet(src)
        q = (
            spark.readStream.schema(result.schema)
            .parquet(src)
            .writeStream.format("noop")
            .option("checkpointLocation", f"{tmpdir}/lckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        done.wait(10)
    finally:
        spark.streams.removeListener(listener)
    assert events["started"] >= 1
    assert events["progress"] >= 1


def test_partitioned_write_prunes_at_scan(spark, tmp_path):
    from distributed_mapreduce_p2p_spark.plans.explain import explain_str
    from distributed_mapreduce_p2p_spark.sources.io import (
        read_table,
        write_partitioned_by,
    )

    ev = read_table(spark, SF_SMALL, "events")
    path = str(tmp_path / "events_by_type")
    write_partitioned_by(ev, path, "event_type")
    back = spark.read.parquet(path).where(F.col("event_type") == "click")
    plan = explain_str(back)
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters"
    )[1][:200], "filter on the partition column must prune directories"
    expected = ev.where(F.col("event_type") == "click").count()
    assert back.count() == expected


def test_range_partitioned_write_is_global_sort(spark, tmp_path):
    """Per-file key ranges must not overlap and each file must be
    sorted — concatenation in range order is the global sort."""
    import pyarrow.parquet as pq

    from distributed_mapreduce_p2p_spark.operators.text import word_count
    from distributed_mapreduce_p2p_spark.sources.io import (
        read_table,
        write_range_partitioned,
    )

    docs = read_table(spark, SF_SMALL, "documents")
    wc = word_count(docs, "text")
    path = str(tmp_path / "wc_ranged")
    write_range_partitioned(wc, path, "word", n=4)
    ranges = []
    total = 0
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        words = pq.read_table(f, columns=["word"]).column("word").to_pylist()
        if not words:
            continue
        assert words == sorted(words), f"{f} not sorted within file"
        ranges.append((words[0], words[-1]))
        total += len(words)
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file ranges: {hi1} >= {lo2}"
    assert total == wc.count()


def test_space_aligned_chunk_scan_exact(spark, tmp_path):
    """S2 with the reference's space-boundary rule
    (mapreduce/worker.go:37-89): the union of chunk payloads must
    tokenize to exactly the whole file's tokens — no token split, no
    byte read twice — at a chunk size small enough to force many
    realignments."""
    from distributed_mapreduce_p2p_spark.sources.io import (
        read_text_chunks_space_aligned,
        read_table,
    )

    docs = read_table(spark, SF_SMALL, "documents").limit(60)
    corpus = " ".join(r.text for r in docs.select("text").collect())
    p = tmp_path / "corpus.txt"
    p.write_text(corpus, encoding="utf-8")

    chunks = read_text_chunks_space_aligned(spark, str(p), chunk_bytes=257)
    got_tokens = (
        chunks.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .count()
    )
    got = {(r.w, r["count"]) for r in got_tokens.collect()}
    from collections import Counter

    want = set(Counter(t for t in corpus.split(" ") if t).items())
    assert got == want

    # chunk grid covers the file exactly once
    rows = chunks.select("chunk_id", "start", "end").collect()
    rows.sort(key=lambda r: r.start)
    assert rows[0].start == 0
    assert rows[-1].end == len(corpus.encode("utf-8"))
    for a, b in zip(rows, rows[1:]):
        assert a.end == b.start


def test_space_aligned_chunks_survive_giant_tokens(spark, tmp_path):
    """Pathological: tokens longer than the chunk size (a chunk's
    whole range inside one token). The predecessor's read-past-end
    consumes the token; interior chunks must emit nothing rather than
    duplicate bytes. Both scans keep the rule: the pandas payload API
    and the JVM text source (``lineSep=" "`` over 100-byte splits)."""
    from collections import Counter

    from distributed_mapreduce_p2p_spark.sources.io import (
        files_split_size,
        read_text_chunks_space_aligned,
        read_text_corpus,
    )

    corpus = " ".join(["x" * 400, "ab", "y" * 990, "c", "z" * 123])
    p = tmp_path / "giant.txt"
    p.write_text(corpus, encoding="utf-8")
    want = Counter(t for t in corpus.split(" ") if t)

    chunks = read_text_chunks_space_aligned(spark, str(p), chunk_bytes=100)
    texts = [r.text for r in chunks.orderBy("chunk_id").collect()]
    got = Counter(t for txt in texts for t in txt.split(" ") if t)
    assert got == want

    records = read_text_corpus(spark, str(p), " ")
    with files_split_size(spark, 100):
        assert records.rdd.getNumPartitions() > 1
        got = Counter(r.value for r in records.collect() if r.value)
    assert got == want


def test_scoped_conf_restores_on_exception(spark):
    """Query-local conf overrides must restore even when the body
    throws mid-build (round-2 defect: a failing streaming query left
    spark.sql.shuffle.partitions=8 session-wide)."""
    from distributed_mapreduce_p2p_spark.sources.io import scoped_conf

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, key, "3"):
            assert spark.conf.get(key) == "3"
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before
    # a key the session had not set is unset again, not pinned
    unset = "spark.sql.files.openCostInBytes"
    assert unset not in spark.conf.getAll
    with scoped_conf(spark, unset, "1"):
        assert spark.conf.get(unset) == "1"
    assert unset not in spark.conf.getAll


def test_read_table_normalizes_time_encodings(spark, tmp_path):
    """The harness has shipped event-time columns as timestamp[us],
    timestamp[ns] (legacy nanos-BIGINT read) and could ship
    tz-adjusted timestamps; read_table must load all three to the
    same TIMESTAMP_NTZ wall clock (the round-2 red wall was
    hardcoding one encoding)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampNTZType

    from distributed_mapreduce_p2p_spark.sources.io import read_table

    us = [1704067200_000_000 + i * 3_600_000_000 for i in range(5)]
    ids = list(range(5))

    variants = {
        "us": pa.table(
            {"event_id": ids, "ts": pa.array(us, pa.timestamp("us"))}
        ),
        "ns": pa.table(
            {
                "event_id": ids,
                "ts": pa.array([u * 1000 for u in us], pa.timestamp("ns")),
            }
        ),
        "ltz": pa.table(
            {
                "event_id": ids,
                "ts": pa.array(us, pa.timestamp("us", tz="UTC")),
            }
        ),
    }
    results = {}
    for tag, tbl in variants.items():
        d = tmp_path / tag
        d.mkdir()
        pq.write_table(tbl, d / "events.parquet")
        df = read_table(spark, str(d), "events")
        assert isinstance(df.schema["ts"].dataType, TimestampNTZType), tag
        results[tag] = sorted(
            (r.event_id, str(r.ts)) for r in df.collect()
        )
    assert results["us"] == results["ns"] == results["ltz"]
    # the nanos variant needs the legacy conf only to infer its
    # schema; the session must not keep it
    assert "spark.sql.legacy.parquet.nanosAsLong" not in spark.conf.getAll


def test_read_table_resolves_a_schema_once(spark, count_jobs):
    """A repeated read of one table file takes its schema from the
    catalog: no inference job."""
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    read_table(spark, SF_SMALL, "lineitem")
    with count_jobs() as n:
        read_table(spark, SF_SMALL, "lineitem").schema
    assert n == [0]


def test_read_table_reresolves_a_rewritten_file(spark, tmp_path):
    """Rewriting a table file with an added column gives it a new
    catalog key, so the next read shows the new column; so does a
    file swapped in by rename with the old file's size and times."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_mapreduce_p2p_spark.sources.io import read_table

    f = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), f)
    assert read_table(spark, str(tmp_path), "region").columns == [
        "r_regionkey"
    ]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), f
    )
    df = read_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, "A"), (1, "B")]

    swap = tmp_path / "swap.parquet"
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_nume": ["A", "B"]}), swap
    )
    st = f.stat()
    assert swap.stat().st_size == st.st_size
    os.utime(swap, ns=(st.st_atime_ns, st.st_mtime_ns))
    os.replace(swap, f)
    assert read_table(spark, str(tmp_path), "region").columns == [
        "r_regionkey", "r_nume"
    ]


def test_read_table_caches_no_failed_inference(spark, tmp_path):
    """A corrupt footer or a missing file raises on every call, with
    the same error: a failed inference is never cached."""
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    (tmp_path / "region.parquet").write_bytes(b"PAR1" + b"\0" * 64)
    for table, cause in (("region", "is not a Parquet file"),
                         ("nation", "PATH_NOT_FOUND")):
        for _ in range(2):
            with pytest.raises(Exception, match=cause):
                read_table(spark, str(tmp_path), table)


def test_schema_catalog_matches_spark_inference(spark):
    """For every star-schema table the catalog holds exactly the
    schema Spark infers, and read_table returns it with the time
    columns as TIMESTAMP_NTZ."""
    from pyspark.sql.types import StructField, StructType, TimestampNTZType

    from distributed_mapreduce_p2p_spark import TABLES
    from distributed_mapreduce_p2p_spark.sources.io import (
        _TIME_COLUMNS,
        read_table,
        table_schema,
    )

    assert len(TABLES) == 10
    for name in TABLES:
        path = f"{SF_SMALL}/{name}.parquet"
        inferred = spark.read.parquet(path).schema
        assert table_schema(spark, path) == inferred, name
        expected = StructType([
            StructField(f.name, TimestampNTZType(), f.nullable)
            if f.name in _TIME_COLUMNS.get(name, ())
            else f
            for f in inferred.fields
        ])
        assert read_table(spark, SF_SMALL, name).schema == expected, name


def test_zorder_skips_on_both_columns(spark, tmp_path):
    """Z-order layout vs single-column sort, measured: with per-file
    min/max as the skipping index (what parquet readers use), the
    Z-ordered layout must prune files for predicates on BOTH cluster
    columns, while the l_partkey-sorted baseline prunes only its own
    sort column (every file spans the full l_suppkey range)."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_p2p_spark.sources.io import (
        read_table,
        write_range_partitioned,
        write_zordered,
    )
    from tests.conftest import SF_MED

    li = read_table(spark, SF_MED, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    zpath = str(tmp_path / "zorder")
    bpath = str(tmp_path / "bysort")
    write_zordered(li, zpath, ["l_partkey", "l_suppkey"], n_files=8)
    write_range_partitioned(li, bpath, "l_partkey", n=8)

    def file_ranges(path):
        return (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                F.min("l_partkey").alias("plo"),
                F.max("l_partkey").alias("phi"),
                F.min("l_suppkey").alias("slo"),
                F.max("l_suppkey").alias("shi"),
            )
            .collect()
        )

    zr, br = file_ranges(zpath), file_ranges(bpath)
    assert len(zr) == 8 and len(br) == 8

    def files_matching(ranges, lo_col, hi_col, lo, hi):
        return sum(
            1 for r in ranges if r[hi_col] >= lo and r[lo_col] <= hi
        )

    smin, smax = li.agg(
        F.min("l_suppkey"), F.max("l_suppkey")
    ).first()
    span = (smax - smin) or 1
    # a 10%-wide OFF-CENTER l_suppkey band (a centered band straddles
    # the curve's top-level split point, which every z-range touches)
    lo, hi = smin + span * 5 // 100, smin + span * 15 // 100
    z_hit = files_matching(zr, "slo", "shi", lo, hi)
    b_hit = files_matching(br, "slo", "shi", lo, hi)
    assert b_hit == 8, "partkey-sorted files all span the suppkey range"
    assert z_hit < b_hit, f"zorder must prune on the second column ({z_hit})"

    pmin, pmax = li.agg(F.min("l_partkey"), F.max("l_partkey")).first()
    pspan = (pmax - pmin) or 1
    plo, phi = pmin + pspan * 5 // 100, pmin + pspan * 15 // 100
    z_p = files_matching(zr, "plo", "phi", plo, phi)
    assert z_p < 8, "zorder must still prune on the first column"

    # layout changes must not change data
    assert (
        spark.read.parquet(zpath).count()
        == spark.read.parquet(bpath).count()
        == li.count()
    )


def test_observe_metrics_piggyback_on_action(spark):
    """K5 observability, batch side: df.observe() attaches metric
    accumulators to the plan so row counts / sums arrive WITH the
    action — no second scan to audit a pipeline stage (at 100 TB a
    'count it again to check' pass is a full extra read of the
    lake)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from distributed_mapreduce_p2p_spark.sources.io import read_table
    from tests.conftest import SF_SMALL

    docs = read_table(spark, SF_SMALL, "documents")
    obs = Observation("ingest_audit")
    audited = docs.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum("n_chars").alias("chars_seen"),
        F.count(F.when(F.col("text").isNull(), 1)).alias("null_texts"),
    )
    written = audited.where(F.col("n_chars") > 0).count()
    metrics = obs.get
    assert metrics["rows_seen"] == docs.count()
    assert metrics["null_texts"] == 0
    assert metrics["chars_seen"] > 0
    assert written <= metrics["rows_seen"]


def test_compact_files_hits_target_file_count(spark, tmpdir):
    """64 tiny files -> ceil(total/target) near-target-sized files,
    rows preserved exactly."""
    import glob

    from distributed_mapreduce_p2p_spark.sources.io import compact_files

    src = f"{tmpdir}/small"
    dst = f"{tmpdir}/compacted"
    spark.range(200_000).selectExpr(
        "id", "md5(cast(id as string)) AS payload"
    ).repartition(64).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 64

    total = sum(
        __import__("os").path.getsize(f)
        for f in glob.glob(f"{src}/part-*.parquet")
    )
    n_out = compact_files(spark, src, dst, target_bytes=total // 4)
    got = glob.glob(f"{dst}/part-*.parquet")
    assert len(got) == n_out <= 5
    assert spark.read.parquet(dst).count() == 200_000
    # every output file lands within 3x of the target (compression
    # ratios shift when rows are re-bucketed; the point is no
    # KB-sized stragglers and no monolith)
    for f in got:
        assert __import__("os").path.getsize(f) > total // 40


def test_publish_atomic_versioning_and_isolation(spark, tmp_path):
    """Version 1 then version 2: readers always see exactly the
    manifest's files; a half-written version directory (data present,
    manifest not renamed) is invisible; optimistic concurrency raises
    on a version conflict instead of clobbering."""
    import os

    from distributed_mapreduce_p2p_spark.sources import io as IO

    root = str(tmp_path / "tbl")
    df1 = spark.range(100).withColumnRenamed("id", "k")
    m1 = IO.publish_atomic(df1, root)
    assert m1["version"] == 1 and m1["total_rows"] == 100
    assert IO.read_published(spark, root).count() == 100

    # simulate a concurrent in-flight publish: data dir exists,
    # manifest NOT updated -> readers still see v1
    (tmp_path / "tbl" / "v=99").mkdir()
    df_half = spark.range(7).withColumnRenamed("id", "k")
    df_half.write.mode("overwrite").parquet(str(tmp_path / "tbl" / "v=99"))
    assert IO.read_published(spark, root).count() == 100

    m2 = IO.publish_atomic(df1.union(df1), root, expected_version=1)
    assert m2["version"] == 2 and m2["total_rows"] == 200
    got = IO.read_published(spark, root)
    assert got.count() == 200
    # manifest lists only v=2 files, all of which exist
    for f in m2["files"]:
        assert os.path.exists(os.path.join(root, "v=2", f))

    # optimistic concurrency: a writer that read v1 must NOT publish
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="concurrent publish"):
        IO.publish_atomic(df1, root, expected_version=1)
    # loser's failure left the live version untouched
    assert IO.read_manifest(root)["version"] == 2


def test_schema_evolution_mergeschema_and_pinned_read(spark, tmp_path):
    """Additive schema evolution: a newer batch adds a column; a
    mergeSchema read unions the schemas (old rows null-filled), and a
    schema-pinned read (the production policy for a 100 TB table —
    never infer per-job) yields stable types regardless of footer
    order."""
    from pyspark.sql import types as ST

    root = str(tmp_path / "evo")
    spark.range(10).selectExpr("id AS k", "id * 2 AS a").write.parquet(
        root + "/batch=1"
    )
    spark.range(5).selectExpr(
        "id + 100 AS k", "id AS a", "concat('v', id) AS b"
    ).write.parquet(root + "/batch=2")

    merged = spark.read.option("mergeSchema", "true").parquet(root)
    assert set(merged.columns) == {"k", "a", "b", "batch"}
    assert merged.count() == 15
    assert merged.where("b IS NULL").count() == 10

    pinned = ST.StructType(
        [
            ST.StructField("k", ST.LongType()),
            ST.StructField("a", ST.LongType()),
            ST.StructField("b", ST.StringType()),
        ]
    )
    stable = spark.read.schema(pinned).parquet(root)
    # partition discovery appends the batch column; the pinned DATA
    # fields must come back exactly as declared
    assert [
        f.dataType.simpleString()
        for f in stable.schema.fields
        if f.name in ("k", "a", "b")
    ] == ["bigint", "bigint", "string"]
    assert stable.count() == 15
    assert stable.where("b IS NOT NULL").count() == 5


def test_publish_time_travel_and_vacuum(spark, tmp_path):
    """Time travel reads any retained version; vacuum expires old
    versions but never the live one; a vacuumed version fails loudly."""
    import pytest as _pytest

    from distributed_mapreduce_p2p_spark.sources.io import (
        publish_atomic,
        read_published,
        vacuum_published,
    )

    root = str(tmp_path / "tbl")
    for n in (1, 2, 3):
        df = spark.range(n * 10).withColumnRenamed("id", "x")
        publish_atomic(df, root)
    assert read_published(spark, root).count() == 30          # live = v3
    assert read_published(spark, root, version=1).count() == 10
    assert read_published(spark, root, version=2).count() == 20
    removed = vacuum_published(root, keep=2)
    assert removed == [1]
    assert read_published(spark, root, version=2).count() == 20
    with _pytest.raises(FileNotFoundError):
        read_published(spark, root, version=1)
    # live survives even keep=0
    removed = vacuum_published(root, keep=0)
    assert 3 not in removed
    assert read_published(spark, root).count() == 30
