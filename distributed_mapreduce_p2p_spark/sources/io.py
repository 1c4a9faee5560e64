"""Batch sources and sinks (SURVEY.md §2.1 scans S1-S7, §2.2 sinks K1-K5).

The reference moves data through files: byte-range chunk scans
(chunks/chunks.go:18-47), boundary-aligned reads
(mapreduce/worker.go:37-89), hash-partitioned JSON shuffle files
(mapreduce/worker.go:117-143), sorted per-partition text outputs
(worker.go:191-210) and a single merged global output
(worker.go:218-272). In Spark the scan side is the built-in FileScan
(split granularity via ``spark.sql.files.maxPartitionBytes``) and the
shuffle side is the exchange under ``groupBy`` — these helpers expose
the *explicit* analogs where a user would want them as sinks, plus
typed parquet readers for the star schema.
"""

from __future__ import annotations

import os
import stat
from contextlib import AbstractContextManager, contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from distributed_mapreduce_p2p_spark import TABLES

# Reference chunk size: CHUNK_SIZE = 102400 (chunks/chunks.go:10).
REFERENCE_CHUNK_BYTES = 102400

# Event-time columns whose parquet encoding has drifted across
# harness revisions; read_table normalizes each to TIMESTAMP_NTZ.
_TIME_COLUMNS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Scoped override of any session conf — saved on entry, restored
    on exit even when the body throws (no session-wide leak): a key
    the session had not set is unset again, so the session conf reads
    exactly as before. Every query-local conf override in the package
    runs inside this scope."""
    prev = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def files_split_size(
    spark: SparkSession, nbytes: int
) -> AbstractContextManager[None]:
    """Scoped override of ``spark.sql.files.maxPartitionBytes``.

    File-source split planning consults this conf when an *action*
    plans the scan, not when the DataFrame is defined (scans are
    lazy); execute (collect/count/localCheckpoint) inside the scope
    for the split size to take effect.
    """
    return scoped_conf(spark, "spark.sql.files.maxPartitionBytes", str(nbytes))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one star-schema parquet table (S1/S3 analog).

    Columnar parquet scan with predicate pushdown + column pruning left
    to Catalyst — filters applied by callers reach the scan. The scan
    carries the schema ``table_schema`` resolved for this file, so a
    repeated read runs no Spark job.

    The testdata's event-time columns (``events.ts``,
    ``orders.o_orderdate``, ``lineitem.l_shipdate``) have shipped
    under different parquet encodings across harness revisions:
    TIMESTAMP(MICROS) (loads natively as TIMESTAMP_NTZ),
    TIMESTAMP(NANOS) (rejected by Spark's reader unless the
    ``nanosAsLong`` legacy conf is set, then loads as BIGINT nanos),
    and potentially tz-adjusted TIMESTAMP (loads as TIMESTAMP_LTZ).
    Branch on the *loaded* dtype per column and normalize every
    variant to TIMESTAMP_NTZ wall clock:

    - LongType → nanos: truncate to micros (``DIV 1000`` — exactly
      DuckDB's nanos→micros truncation) and build the NTZ timestamp;
    - TimestampType (LTZ) → cast to NTZ (session-tz wall clock; the
      driver and DuckDB both run UTC here);
    - TimestampNTZType → pass through untouched.

    The legacy conf is needed only to infer a nanos schema: a scan
    given that schema (``ts long``) reads the nanos without it.
    """
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(table_schema(spark, path)).parquet(path)
    return _normalize_time_columns(df, _TIME_COLUMNS.get(name, ()))


# The schema catalog: (applicationId, realpath, st_ino, st_mtime_ns,
# st_ctime_ns, st_size) -> the StructType Spark inferred for that
# parquet file. Metadata only, never rows. A file swapped in by rename
# has a new inode; a rewrite in place changes the size or a file time.
# File times tick at the filesystem clock's granularity (a few ms on
# Linux), so a same-size in-place rewrite within one tick keeps the
# old key and is not seen.
_SCHEMAS: dict[tuple, StructType] = {}


def table_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet file at ``path``,
    inferred once per file version and session (inference is one
    Spark job). A path that is not a local regular file (a directory,
    a remote URI) is inferred on every call. A failed inference
    raises and caches nothing.

    Only a TIMESTAMP(NANOS) rejection is retried, with the
    ``nanosAsLong`` legacy conf set for the retry alone; any other
    failure (missing file, corrupt footer, permissions) surfaces
    unchanged."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    key = None
    if st is not None and stat.S_ISREG(st.st_mode):
        key = (spark.sparkContext.applicationId, os.path.realpath(path),
               st.st_ino, st.st_mtime_ns, st.st_ctime_ns, st.st_size)
        if key in _SCHEMAS:
            return _SCHEMAS[key]
    try:
        schema = spark.read.parquet(path).schema
    except Exception as e:
        msg = str(e)
        if "NANOS" not in msg and "Illegal Parquet type" not in msg:
            raise
        with scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
            schema = spark.read.parquet(path).schema
    if key is not None:
        _SCHEMAS[key] = schema
    return schema


def _normalize_time_columns(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """``read_table``'s event-time fix-ups: every encoding of each of
    ``cols`` becomes TIMESTAMP_NTZ wall clock."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampType

    for col in cols:
        if col not in df.columns:
            continue
        dtype = df.schema[col].dataType
        if isinstance(dtype, LongType):
            df = df.withColumn(
                col,
                F.expr(
                    f"to_timestamp_ntz(timestamp_micros("
                    f"CAST({col} DIV 1000 AS BIGINT)))"
                ),
            )
        elif isinstance(dtype, TimestampType):
            df = df.withColumn(col, F.col(col).cast("timestamp_ntz"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load the star schema and register temp views for spark.sql use."""
    out = {}
    for name in names:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_text_corpus(
    spark: SparkSession,
    paths: list[str] | str,
    delimiter: str | None = None,
) -> DataFrame:
    """Record-oriented scan of a raw text corpus (S1+S2+J1) into one
    ``value`` column.

    Spark's text source does boundary-aligned splits at newline
    granularity by default; ``delimiter`` (Spark's ``lineSep``)
    replaces the newline as the record separator. Multi-path read is
    the union-all of per-file scans (J1, mrsequential.go:104-105).

    To reproduce the reference's 100 KiB byte-range chunking
    (chunks/chunks.go:10) as FileScan split granularity, execute the
    returned DataFrame inside
    ``files_split_size(spark, REFERENCE_CHUNK_BYTES)`` — split size
    is consulted at action planning time, so setting it here and
    restoring would be a no-op and leaving it set would leak into
    every later scan in the session.

    With ``delimiter=" "`` inside that scope this is the reference's
    space-aligned chunk scan (mapreduce/worker.go:37-89) in the JVM:
    each task reads one grid range, and Hadoop's line reader skips a
    split's partial first record and reads past the split end to
    finish its last one — the rule ``read_aligned_range`` applies — so
    every byte is read once and no token is split. The CLI's
    ``--chunked`` word count runs this scan.
    """
    reader = spark.read.option("wholetext", "false")
    if delimiter is not None:
        reader = reader.option("lineSep", delimiter)
    return reader.text(paths)


def read_aligned_range(
    path: str, start: int, end: int, delim: bytes = b" "
) -> bytes:
    """Read one byte-range chunk with the reference's boundary rule
    (mapreduce/worker.go:37-89): realign the start past the next
    delimiter (chunk 0 owns the file head), read to the grid end,
    then extend to the next delimiter. A range that realigns past its
    own end sat inside one token the predecessor consumed — owns
    nothing. Runs on executors; reads at most chunk + one token."""
    with open(path, "rb") as f:
        size = f.seek(0, 2)
        a = start
        if a > 0:
            f.seek(a)
            while True:
                b = f.read(1)
                a += 1
                if not b or b == delim:
                    break
        b_end = end
        buf = b""
        if a <= b_end:
            f.seek(a)
            buf = f.read(b_end - a)
            while b_end < size:
                ch = f.read(1)
                b_end += 1
                if not ch or ch == delim:
                    break
                buf += ch
        return buf


def read_text_chunks_space_aligned(
    spark: SparkSession,
    paths: list[str] | str,
    chunk_bytes: int = REFERENCE_CHUNK_BYTES,
    delimiter: bytes = b" ",
) -> DataFrame:
    """S1+S2 with the reference's exact boundary rule: byte-range
    chunks aligned at *spaces*, not newlines.

    The reference chunker grids each input into CHUNK_SIZE byte
    ranges (chunks/chunks.go:18-47) and the worker realigns both ends
    of its range to the next delimiter (mapreduce/worker.go:37-89): a
    chunk starting at byte s>0 first skips to the byte after the next
    delimiter, and keeps reading past its end e until the next
    delimiter (or EOF). Every byte lands in exactly one chunk and no
    token is ever split — the same guarantee Spark's text source
    gives per split at its ``lineSep`` delimiter.

    Distributed by construction: the driver touches only file
    *metadata* (one listing); each (path, start, end) range row is a
    task that opens the file itself, seeks, and realigns locally —
    reading at most ``chunk_bytes + max token length`` bytes. At
    100 TB the range table is ~1e9 rows of three scalars, streamed
    through ``spark.range``-style parallelism, never file payload on
    the driver.

    Returns one row per chunk: (path, chunk_id, start, end, text)
    where [start, end) is the *grid* range; ``text`` is the aligned
    payload.

    This is the chunk-*payload* API: use it when a caller needs each
    chunk's identity and text. The payloads run through a pandas UDF
    on Python workers. For a token-level scan, the same tokens come
    from ``read_text_corpus(spark, paths, delimiter=" ")`` executed
    inside ``files_split_size(spark, REFERENCE_CHUNK_BYTES)``:
    Hadoop's line reader applies this boundary rule per split, with
    no Python in the plan. The CLI's ``--chunked`` word count uses
    that scan, not this one.
    """
    import os
    import re

    if isinstance(paths, str):
        paths = [paths]
    # Both the grid builder (os.path.getsize) and the task-side
    # reader (plain open/seek in read_aligned_range) speak the LOCAL
    # filesystem only. On hdfs://, s3a://, abfs://, ... fail loudly
    # here instead of a confusing worker stack trace, and name the
    # FS-agnostic token scan: the JVM text source lists and splits
    # through Hadoop's FileSystem.
    local = []
    for p in paths:
        m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", p)
        if m and m.group(1) != "file":
            raise ValueError(
                f"read_text_chunks_space_aligned is local-FS-only "
                f"(got {p!r}); for {m.group(1)}:// storage use "
                f"read_text_corpus(spark, paths, delimiter=' ') inside "
                f"files_split_size(spark, chunk_bytes)"
            )
        local.append(p[7:] if p.startswith("file://") else p)
    paths = local
    ranges = []
    for p in paths:
        size = os.path.getsize(p)
        cid = 0
        for s in range(0, max(size, 1), chunk_bytes):
            ranges.append((p, cid, s, min(s + chunk_bytes, size)))
            cid += 1
    rdf = spark.createDataFrame(
        ranges, "path string, chunk_id long, start long, end long"
    ).repartition(min(len(ranges), 256))

    delim = delimiter

    def _read(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for path, cid, s, e in zip(
                pdf["path"], pdf["chunk_id"], pdf["start"], pdf["end"]
            ):
                buf = read_aligned_range(path, int(s), int(e), delim)
                out.append(
                    (
                        path,
                        int(cid),
                        int(s),
                        int(e),
                        buf.decode("utf-8", errors="replace"),
                    )
                )
            yield pd.DataFrame(
                out, columns=["path", "chunk_id", "start", "end", "text"]
            )

    return rdf.mapInPandas(
        _read, "path string, chunk_id long, start long, end long, text string"
    )


def write_hash_partitioned(df: DataFrame, path: str, key: str, n: int = 8) -> None:
    """K1 analog: explicit hash-partitioned write.

    The reference buckets map output into ``nReduce`` files by
    ``ihash(key) % nReduce`` (mapreduce/worker.go:117-143, FNV-32a).
    Spark's exchange does this implicitly under groupBy; the explicit
    sink is ``repartition(n, key)`` (Murmur3 — partition *assignment*
    differs, downstream results identical).
    """
    df.repartition(n, key).write.mode("overwrite").parquet(path)


def write_sorted_partitions(df: DataFrame, path: str, key: str, n: int = 8) -> None:
    """K2 analog: per-partition key-sorted output (worker.go:191-210)."""
    (
        df.repartition(n, key)
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_merged_result(df: DataFrame, path: str, order_col: str) -> None:
    """K3 analog: single globally-sorted merged output (worker.go:218-272).

    ``coalesce(1)`` matches the reference's single ``mr-out-final``
    file; at 100 TB you would keep the global sort (range exchange) but
    never coalesce to one file — callers opt in for parity only.
    """
    df.orderBy(order_col).coalesce(1).write.mode("overwrite").parquet(path)


# ----------------------------------------------------- format breadth

def write_jsonl(df: DataFrame, path: str, n: int | None = None, key: str | None = None) -> None:
    """JSON-lines sink — the reference's intermediate-file format
    (one JSON KeyValue per line, mapreduce/worker.go:126-143).
    Optionally hash-bucketed like the shuffle files."""
    w = df.repartition(n, key) if (n and key) else df
    w.write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Schema'd JSON-lines scan (S6 analog: the reference reads its
    JSON checkpoint back, replication/replication.go:578-598).
    Explicit schema — schema inference is a full extra pass at 100 TB."""
    return spark.read.schema(schema).json(path)


def write_csv(df: DataFrame, path: str, sep: str = " ") -> None:
    """Delimited-text sink — the reference's reduce-output format
    ('<word> <count>' lines, mapreduce/worker.go:199-210)."""
    df.write.mode("overwrite").option("sep", sep).option("header", "false").csv(path)


def read_csv(spark: SparkSession, path: str, schema: str, sep: str = " ") -> DataFrame:
    """Schema'd delimited scan (P5: schema-on-read line parse,
    mapreduce/worker.go:240-258)."""
    return spark.read.schema(schema).option("sep", sep).csv(path)


def write_orc(df: DataFrame, path: str) -> None:
    """Columnar ORC sink (second columnar format beside parquet)."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_partitioned_by(df: DataFrame, path: str, col: str) -> None:
    """Hive-style directory-partitioned sink (partition *pruning*
    companion to the hash-bucketed K1 sink): a reader filtering on
    the partition column opens only matching directories
    (PartitionFilters in the scan — zero bytes read elsewhere). At
    100 TB this is the difference between scanning one day and
    scanning the lake."""
    df.write.mode("overwrite").partitionBy(col).parquet(path)


def write_range_partitioned(
    df: DataFrame, path: str, key: str, n: int = 8
) -> None:
    """K3 at 100 TB: globally-ordered output WITHOUT coalesce(1) —
    ``repartitionByRange`` (sampled range exchange) gives
    non-overlapping key ranges per file, sorted within each, so the
    file set concatenated in range order IS the global sort. This is
    the form `write_merged_result`'s single-file parity shortcut
    must take on a cluster."""
    (
        df.repartitionByRange(n, key)
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_key(cols: list[str], bits: int = 16):
    """Interleaved-bit (Morton / Z-order) sort key over N normalized
    integer columns — the multi-dimensional data-layout companion to
    `write_range_partitioned`'s one-dimensional sort.

    Sorting by one column gives perfect min/max file skipping on that
    column and none on the others; sorting by the Z-curve gives
    near-sqrt skipping on EVERY participating column, which is what a
    100 TB table queried on more than one predicate needs. Each input
    column must already be rank/min-max normalized to [0, 2**bits);
    the key interleaves their bits (col i contributes bit b to key
    bit b*N+i) as a pure JVM expression — no UDF, stays in codegen.
    """
    from pyspark.sql import functions as F

    n = len(cols)
    terms = []
    for i, c in enumerate(cols):
        for b in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(F.col(c).cast("long"), b).bitwiseAND(1),
                    b * n + i,
                )
            )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits: int = 12,
) -> None:
    """Z-order clustered parquet sink: min-max normalize each cluster
    column to [0, 2**bits) (one stats pass), sort the data by the
    interleaved key via a range exchange, write `n_files`
    non-overlapping Z-ranges. Readers filtering on ANY clustered
    column skip most files via parquet min/max — see
    tests/test_sources_sinks.py::test_zorder_skips_on_both_columns
    for the measured comparison against a single-column sort."""
    from pyspark.sql import functions as F

    stats = df.agg(
        *[F.min(c).alias(f"__min_{c}") for c in cols],
        *[F.max(c).alias(f"__max_{c}") for c in cols],
    )
    scaled = df.crossJoin(F.broadcast(stats))
    lim = (1 << bits) - 1
    norm_cols = []
    for c in cols:
        span = F.col(f"__max_{c}") - F.col(f"__min_{c}")
        norm = F.when(span == 0, F.lit(0)).otherwise(
            ((F.col(c) - F.col(f"__min_{c}")) * lim / span).cast("long")
        )
        norm_cols.append(norm.alias(f"__z_{c}"))
    scaled = scaled.select(*df.columns, *norm_cols)
    keyed = scaled.withColumn(
        "__zkey", zorder_key([f"__z_{c}" for c in cols], bits)
    ).drop(*[f"__z_{c}" for c in cols])
    (
        keyed.repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_files(
    spark: SparkSession,
    src: str,
    dst: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_bytes)`` near-target-sized files.
    The operational K-sink every long-lived streaming/upsert table
    needs — a keyed upsert sink (K4) or per-trigger append accretes
    thousands of KB-sized files whose open/footer cost eventually
    dominates scans.

    Returns the output file count. Sizing comes from the source's
    actual on-disk bytes (one FS listing, no data pass); the rewrite
    itself is one round-robin exchange. On a cluster the same effect
    inside a query is AQE's advisory partition size; this helper is
    the explicit table-maintenance form (OPTIMIZE/rewrite_data_files
    in lakehouse terms). Sizing goes through the Hadoop FileSystem
    API (not os.path.getsize), so hdfs://, abfs://, s3a:// and
    file:// URIs all resolve — whatever ``inputFiles()`` returns.
    """
    import math

    df = spark.read.parquet(src)
    sc = spark.sparkContext
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()
    total = 0
    for uri in df.inputFiles():
        jpath = jvm.org.apache.hadoop.fs.Path(uri)
        fs = jpath.getFileSystem(hconf)
        total += fs.getFileStatus(jpath).getLen()
    n_out = max(1, math.ceil(total / target_bytes))
    df.repartition(n_out).write.mode("overwrite").parquet(dst)
    return n_out


def publish_atomic(
    df: DataFrame,
    table_root: str,
    expected_version: int | None = None,
) -> dict:
    """Atomic dataset publication: write the DataFrame to a new
    immutable version directory ``v=<N>/`` under ``table_root``, then
    make it live by writing a tiny ``_MANIFEST.json`` (version, file
    list, per-file row counts, total rows) with an atomic rename.
    Readers resolve the manifest first and read ONLY the files it
    lists, so they never observe a half-written version — the
    publish/commit pattern every multi-writer 100 TB table needs
    (the same reader-vs-writer contract Iceberg/Delta snapshots
    formalize; this is the minimal dependency-free form).

    Concurrency: the manifest rename is the commit point.
    ``expected_version`` is an optimistic-concurrency guard — if
    another writer published meanwhile, the current version no longer
    matches and the publish raises instead of clobbering (the loser
    re-reads and retries, first-writer-wins). Data files for the
    losing version are left unreferenced (never visible) and are
    garbage for a compaction/vacuum pass, never a correctness hazard.

    Returns the manifest dict. Local paths in tests; on a cluster the
    rename needs an atomic-rename store (HDFS/ABFS) — on S3 the
    commit point becomes a conditional PUT, same contract.
    """
    import json
    import os
    import tempfile

    os.makedirs(table_root, exist_ok=True)
    current = read_manifest(table_root)
    cur_ver = current["version"] if current else 0
    if expected_version is not None and cur_ver != expected_version:
        raise RuntimeError(
            f"concurrent publish: expected v{expected_version}, "
            f"table is at v{cur_ver}"
        )
    new_ver = cur_ver + 1
    vdir = os.path.join(table_root, f"v={new_ver}")
    df.write.mode("errorifexists").parquet(vdir)
    files = sorted(
        f
        for f in os.listdir(vdir)
        if f.endswith(".parquet") and not f.startswith("_")
    )
    # Row counts come from the parquet FOOTER metadata — zero data
    # scan, zero Spark jobs (the previous form launched one full
    # read+count job per output file, re-reading the version O(files)
    # times; the r4 advice flagged it).
    import pyarrow.parquet as pq

    counts = {
        f: pq.ParquetFile(os.path.join(vdir, f)).metadata.num_rows
        for f in files
    }
    manifest = {
        "version": new_ver,
        "dir": f"v={new_ver}",
        "files": files,
        "row_counts": counts,
        "total_rows": sum(counts.values()),
    }
    # The atomic live-pointer rename IS the commit point; the
    # per-version manifest (time travel) is written strictly AFTER
    # it. Writing it first would let read_published(version=N) serve
    # a version that died before ever committing live; writing it
    # after means a crash in the gap costs only time travel to the
    # (still live-readable) newest version, never phantom data —
    # read_published additionally refuses versions beyond the live
    # manifest and falls back to the live manifest for the gap case.
    fd, tmp = tempfile.mkstemp(dir=table_root, prefix="._manifest.")
    with os.fdopen(fd, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(table_root, "_MANIFEST.json"))
    with open(
        os.path.join(table_root, f"_MANIFEST.v{new_ver}.json"), "w"
    ) as fh:
        json.dump(manifest, fh)
    return manifest


def read_manifest(table_root: str) -> dict | None:
    """Read the live manifest of a ``publish_atomic`` table (None if
    never published)."""
    import json
    import os

    path = os.path.join(table_root, "_MANIFEST.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def read_published(
    spark: SparkSession, table_root: str, version: int | None = None
) -> DataFrame:
    """Read a ``publish_atomic`` table: the LIVE version by default,
    or — time travel — any still-retained historical ``version`` via
    its per-version manifest. Scans exactly the files the manifest
    lists, so a concurrent in-flight publish (data files written,
    manifest not yet renamed) is invisible, and a vacuumed version
    fails loudly instead of reading a partial directory."""
    import json
    import os

    if version is None:
        m = read_manifest(table_root)
        if m is None:
            raise FileNotFoundError(f"no published version at {table_root}")
    else:
        live = read_manifest(table_root)
        live_ver = live["version"] if live else 0
        if version > live_ver:
            # A per-version manifest may exist transiently for a
            # publish that never committed live (crash between data
            # write and pointer rename was never possible, but the
            # inverse ordering guard keeps this invariant explicit):
            # only versions <= the live pointer are ever readable.
            raise FileNotFoundError(
                f"version {version} was never committed live "
                f"(table is at v{live_ver})"
            )
        vpath = os.path.join(table_root, f"_MANIFEST.v{version}.json")
        if os.path.exists(vpath):
            with open(vpath) as fh:
                m = json.load(fh)
        elif version == live_ver:
            # publisher crashed after the live commit but before the
            # per-version manifest write: the live manifest IS this
            # version's manifest.
            m = live
        else:
            raise FileNotFoundError(
                f"version {version} not found (never published, or vacuumed)"
            )
    paths = [os.path.join(table_root, m["dir"], f) for f in m["files"]]
    for p in paths:
        if not os.path.exists(p):
            raise FileNotFoundError(
                f"version {m['version']} is partially vacuumed: missing {p}"
            )
    return spark.read.parquet(*paths)


def vacuum_published(table_root: str, keep: int = 2) -> list[int]:
    """Retention for ``publish_atomic`` tables: delete version
    directories (and their manifests) older than the newest ``keep``
    versions. The LIVE version is never deleted regardless of
    ``keep``. Returns the version numbers removed. The equivalent of
    VACUUM / expire_snapshots — without it every publish leaks its
    predecessor's data files forever."""
    import json
    import os
    import re
    import shutil

    live = read_manifest(table_root)
    live_ver = live["version"] if live else 0
    versions = sorted(
        int(m.group(1))
        for f in os.listdir(table_root)
        if (m := re.fullmatch(r"_MANIFEST\.v(\d+)\.json", f))
    )
    cut = versions[:-keep] if keep > 0 else versions
    removed = []
    for v in cut:
        if v == live_ver:
            continue
        with open(os.path.join(table_root, f"_MANIFEST.v{v}.json")) as fh:
            m2 = json.load(fh)
        shutil.rmtree(
            os.path.join(table_root, m2["dir"]), ignore_errors=True
        )
        os.remove(os.path.join(table_root, f"_MANIFEST.v{v}.json"))
        removed.append(v)
    return removed


def maintain_table(
    spark: SparkSession,
    table_root: str,
    target_bytes: int = 128 * 1024 * 1024,
    keep: int = 2,
) -> tuple[dict, list[int]]:
    """The full table-maintenance lifecycle for ``publish_atomic``
    tables in one call — OPTIMIZE then VACUUM, lakehouse-style:

    1. **Compact**: read the LIVE version, rewrite it into
       ``ceil(total_bytes / target_bytes)`` near-target files, and
       commit the rewrite as a NEW version through the same atomic
       manifest protocol (``expected_version`` pins the version we
       compacted, so a concurrent writer wins and the compaction
       retries rather than clobbering fresh data). Readers never
       observe the rewrite in flight — identical bytes, fewer files.
    2. **Vacuum**: drop version directories beyond the newest
       ``keep`` (never the live one).

    Returns ``(new_manifest, removed_versions)``. A long-lived keyed
    upsert sink (K4) accretes one version per trigger; running this
    on a schedule is what keeps a year-old 100 TB streaming table
    scannable.
    """
    import math
    import os

    live = read_manifest(table_root)
    if live is None:
        raise FileNotFoundError(f"no published version at {table_root}")
    df = read_published(spark, table_root)
    total = sum(
        os.path.getsize(os.path.join(table_root, live["dir"], f))
        if os.path.exists(os.path.join(table_root, live["dir"], f))
        else 0
        for f in live["files"]
    )
    n_out = max(1, math.ceil(total / target_bytes))
    new_m = publish_atomic(
        df.repartition(n_out), table_root, expected_version=live["version"]
    )
    removed = vacuum_published(table_root, keep=keep)
    return new_m, removed
