"""Drop-in CLI — the reference's user surface as one command.

The reference is driven by ``go run server.go`` + 8×``go run
client.go`` and produces ``mr-out-final`` (sorted ``word count``
lines) from the space-chunked text corpus in ``chunks/``
(README.md "How to Run"; worker.go:218-272 writes the merged
output). A reference user switches by replacing that whole flow
with::

    python -m distributed_mapreduce_p2p_spark wordcount \
        /path/to/chunks/* -o out.txt [--chunked] [--top K]

which emits byte-identical ``word count`` lines (verified against
the reference's checked-in golden output by
tests/test_reference_golden.py::test_cli_wordcount_matches_golden).

Subcommands:

- ``wordcount IN... -o OUT``: tokenize on non-letters (the
  reference's ``FieldsFunc(unicode.IsLetter)`` rule), count, collect
  the counts and sort them on the driver by word (the driver writes
  every row anyway, so a Spark-side global sort would only add a
  range-partition sample and an exchange), single merged text file.
  ``--chunked`` scans the reference's space-aligned 100 KiB
  byte-range chunks (its exact S1/S2 split rule) instead of
  newline-aligned splits — same result, different partitioning.
  The chunked scan is Spark's own text source with a space record
  delimiter, run under a 100 KiB split size: Hadoop's line reader
  realigns each split exactly as the reference's worker does, so the
  plan holds no Python worker.
- ``replicate IN... -o DIR``: the reference's replication demo —
  stream the word-count result through the checkpointed
  exactly-once keyed upsert sink (R3/R6/K4) and print the final
  row count. Exits nonzero if the stream does not finish in time.
- ``query NAME [--sf DIR] [-n N]``: run any registered analytics
  query against a testdata directory and print N rows.
- ``sql "SELECT ..." [--sf DIR] [-n N]``: register every testdata
  parquet table (region nation customer supplier part orders
  lineitem events documents embeddings) as a temp view and run
  arbitrary Spark SQL — the ad-hoc surface of the engine.

``--cores N`` sets the local core count; by default
``$SPARK_GRAFT_CPUS`` applies, else every core.
"""

from __future__ import annotations

import argparse
import sys


def _spark(cores: int | None):
    from distributed_mapreduce_p2p_spark.session import get_spark

    return get_spark(app_name="dmrp2p-cli", cores=cores)


def _read(spark, paths, chunked: bool):
    """Scan the corpus into one ``value`` text column: newline
    records, or with ``chunked`` space-delimited records. Run the
    action inside ``_split_scope`` so chunked splits follow the
    reference's 100 KiB grid."""
    from distributed_mapreduce_p2p_spark.sources import io as IO

    return IO.read_text_corpus(spark, paths, " " if chunked else None)


def _split_scope(spark, chunked: bool):
    """The reference's 100 KiB split size for a chunked scan (restored
    on exit); no override otherwise."""
    from contextlib import nullcontext

    from distributed_mapreduce_p2p_spark.sources import io as IO

    if not chunked:
        return nullcontext()
    return IO.files_split_size(spark, IO.REFERENCE_CHUNK_BYTES)


def _wordcount_df(spark, paths, chunked: bool, top: int = 0):
    """The ``wordcount`` result: unordered (``cmd_wordcount`` sorts the
    collected rows by word), or the top-K by count in print order."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_p2p_spark.operators import text as T

    docs = _read(spark, paths, chunked)
    # tokenize with the reference's Unicode-letter rule so output is
    # byte-identical to its golden mr-out-final
    wc = T.word_count(docs, "value", sep=T.TOKEN_SEP_UNICODE)
    if top:
        return wc.orderBy(F.col("cnt").desc(), "word").limit(top)
    return wc


def cmd_wordcount(args) -> int:
    spark = _spark(args.cores)
    wc = _wordcount_df(spark, args.inputs, args.chunked, args.top)
    with _split_scope(spark, args.chunked):
        rows = wc.collect()
    if not args.top:
        # words are unique after the groupBy, and Python's code-point
        # order is Spark's UTF-8 binary string order
        rows.sort(key=lambda r: r[0])
    with open(args.output, "w") as fh:
        for r in rows:
            fh.write(f"{r[0]} {r[1]}\n")
    print(f"{len(rows)} words -> {args.output}")
    return 0


def cmd_replicate(args) -> int:
    import shutil

    from distributed_mapreduce_p2p_spark.operators import text as T
    from distributed_mapreduce_p2p_spark.streaming.harness import (
        STREAM_TIMEOUT_S,
        run_available_now,
        scratch_dir,
    )
    from distributed_mapreduce_p2p_spark.streaming.replication import (
        KeyedParquetSink,
    )

    spark = _spark(args.cores)
    docs = _read(spark, args.inputs, args.chunked)
    wc = T.word_count(docs, "value", sep=T.TOKEN_SEP_UNICODE)
    tmp = scratch_dir("dmrp2p-repl-")
    try:
        staged = f"{tmp}/staged"
        with _split_scope(spark, args.chunked):
            wc.write.parquet(staged)
        sink = KeyedParquetSink(args.output, key="word")
        try:
            run_available_now(
                spark.readStream.schema(wc.schema)
                .parquet(staged)
                .writeStream.foreachBatch(sink.upsert_batch)
                .outputMode("update"),
                tmp,
            )
        except TimeoutError:
            print(
                f"error: replication stream did not finish within "
                f"{STREAM_TIMEOUT_S} s; {args.output} is incomplete",
                file=sys.stderr,
            )
            return 1
        n = sink.read(spark).count()
        print(f"replicated {n} rows -> {args.output}")
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def cmd_query(args) -> int:
    from distributed_mapreduce_p2p_spark import registry

    if args.name not in registry.QUERIES:
        close = [n for n in registry.QUERIES if args.name in n]
        print(f"unknown query {args.name!r}; candidates: {close[:10]}")
        return 2
    spark = _spark(args.cores)
    df = registry.QUERIES[args.name](spark, args.sf)
    df.show(args.rows, truncate=False)
    return 0


_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def cmd_sql(args) -> int:
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    spark = _spark(args.cores)
    from pyspark.errors import AnalysisException

    for t in _TABLES:
        try:
            read_table(spark, args.sf, t).createOrReplaceTempView(t)
        except AnalysisException:
            pass  # missing table in a partial sf dir — view just absent
        except Exception as e:  # corrupt/unreadable: warn, don't mask
            print(
                f"warning: could not register view '{t}': "
                f"{type(e).__name__}: {e}",
                file=sys.stderr,
            )
    spark.sql(args.stmt).show(args.rows, truncate=False)
    return 0


def cmd_profile(args) -> int:
    from distributed_mapreduce_p2p_spark.operators.profiling import profile
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    spark = _spark(args.cores)
    if args.table.endswith(".parquet") or "/" in args.table:
        df = spark.read.parquet(args.table)
    else:
        df = read_table(spark, args.sf, args.table)
    profile(df, approx=args.approx).orderBy("col").show(
        1000, truncate=False
    )
    return 0


def cmd_maintain(args) -> int:
    """OPTIMIZE + VACUUM for a publish_atomic table root."""
    from distributed_mapreduce_p2p_spark.sources.io import (
        maintain_table,
        read_manifest,
    )

    spark = _spark(args.cores)
    before = read_manifest(args.root)
    new_m, removed = maintain_table(
        spark, args.root, target_bytes=args.target_bytes, keep=args.keep
    )
    print(
        f"compacted v{before['version']} "
        f"({len(before['files'])} files) -> v{new_m['version']} "
        f"({len(new_m['files'])} files); vacuumed versions: "
        f"{removed or 'none'}"
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="distributed_mapreduce_p2p_spark")
    p.add_argument("--cores", type=int, default=None,
                   help="local cores (default: $SPARK_GRAFT_CPUS, else all)")
    sub = p.add_subparsers(dest="cmd", required=True)

    w = sub.add_parser("wordcount", help="reference query: sorted word count")
    w.add_argument("inputs", nargs="+")
    w.add_argument("-o", "--output", required=True)
    w.add_argument("--chunked", action="store_true",
                   help="scan space-delimited records over 100KiB byte-range"
                   " splits (the reference's chunking); same output")
    w.add_argument("--top", type=int, default=0,
                   help="emit only the top-K words by count")
    w.set_defaults(fn=cmd_wordcount)

    r = sub.add_parser("replicate",
                       help="stream the result through the upsert sink")
    r.add_argument("inputs", nargs="+")
    r.add_argument("-o", "--output", required=True)
    r.add_argument("--chunked", action="store_true",
                   help="scan as wordcount --chunked does")
    r.set_defaults(fn=cmd_replicate)

    q = sub.add_parser("query", help="run a registered analytics query")
    q.add_argument("name")
    q.add_argument("--sf", default="/root/testdata/sf0.01")
    q.add_argument("-n", "--rows", type=int, default=20)
    q.set_defaults(fn=cmd_query)

    s = sub.add_parser("sql", help="run ad-hoc SQL over the testdata views")
    s.add_argument("stmt")
    s.add_argument("--sf", default="/root/testdata/sf0.01")
    s.add_argument("-n", "--rows", type=int, default=20)
    s.set_defaults(fn=cmd_sql)

    pr = sub.add_parser(
        "profile",
        help="per-column null/distinct profile of a table or parquet path",
    )
    pr.add_argument("table", help="testdata table name or a parquet path")
    pr.add_argument("--sf", default="/root/testdata/sf0.01")
    pr.add_argument(
        "--approx",
        action="store_true",
        help="HLL approx distincts (the 100 TB form) instead of exact",
    )
    pr.set_defaults(fn=cmd_profile)

    m = sub.add_parser(
        "maintain",
        help="OPTIMIZE+VACUUM a publish_atomic table (compact the live"
        " version into near-target files, expire old versions)",
    )
    m.add_argument("root", help="table root created by publish_atomic")
    m.add_argument(
        "--target-bytes", type=int, default=128 * 1024 * 1024,
        help="compaction target file size (default 128 MiB)",
    )
    m.add_argument(
        "--keep", type=int, default=2,
        help="published versions to retain (default 2)",
    )
    m.set_defaults(fn=cmd_maintain)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
