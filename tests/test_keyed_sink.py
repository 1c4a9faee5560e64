"""``KeyedParquetSink``: keep-last upsert semantics against a Python
``dict`` oracle, and the Spark jobs one upsert and one read may run.

The oracle applies each batch's ``(key, value)`` pairs to a dict in
batch order, so the sink after N upserts must equal the dict: one row
per key (a null key included), each carrying its last value.
"""

from __future__ import annotations

import os
import random

from distributed_mapreduce_p2p_spark.streaming.replication import (
    KeyedParquetSink,
)

SCHEMA = "id long, word string, cnt long"


def _batches(seed: int, n: int, rows: int) -> list[list[tuple]]:
    """``n`` batches of ``rows`` rows over a key pool smaller than
    ``n * rows``, so later batches rewrite earlier keys; keys are
    unique within a batch and the pool holds the null key."""
    rng = random.Random(seed)
    pool = [None, *range(3 * rows)]
    return [
        [(k, f"w{b}_{k}", rng.randrange(1000))
         for k in rng.sample(pool, rows)]
        for b in range(n)
    ]


def _contents(df) -> dict:
    rows = df.collect()
    got = {r.id: (r.word, r.cnt) for r in rows}
    assert len(got) == len(rows), "a key holds more than one row"
    return got


def _upsert_all(spark, sink, batches) -> dict:
    oracle: dict = {}
    for i, rows in enumerate(batches):
        sink.upsert_batch(spark.createDataFrame(rows, SCHEMA), i)
        oracle.update((k, (w, c)) for k, w, c in rows)
    return oracle


def test_keep_last_over_batches_matches_dict_oracle(spark, tmp_path):
    sink = KeyedParquetSink(str(tmp_path / "sink"))
    oracle = _upsert_all(spark, sink, _batches(1, 5, 40))
    assert _contents(sink.read(spark)) == oracle
    assert sink.version_count() == 5


def test_null_key_is_one_row_with_the_last_value(spark, tmp_path):
    """A null key is a key like any other: upserted, never piled up."""
    sink = KeyedParquetSink(str(tmp_path / "sink"))
    for i in range(3):
        sink.upsert_batch(
            spark.createDataFrame([(None, "null", i), (7, "seven", i)],
                                  SCHEMA), i)
    assert _contents(sink.read(spark)) == {None: ("null", 2), 7: ("seven", 2)}


def test_repeated_key_in_one_batch_keeps_one_of_its_rows(spark, tmp_path):
    sink = KeyedParquetSink(str(tmp_path / "sink"))
    sink.upsert_batch(spark.createDataFrame([(1, "old", 0)], SCHEMA), 0)
    dup = [(1, "a", 1), (1, "b", 2), (None, "x", 3), (None, "y", 4)]
    sink.upsert_batch(spark.createDataFrame(dup, SCHEMA), 1)
    got = _contents(sink.read(spark))
    assert got[1] in {("a", 1), ("b", 2)}
    assert got[None] in {("x", 3), ("y", 4)}


def test_replayed_batch_leaves_contents_unchanged(spark, tmp_path):
    sink = KeyedParquetSink(str(tmp_path / "sink"))
    batches = _batches(2, 3, 30)
    oracle = _upsert_all(spark, sink, batches)
    replay = spark.createDataFrame(batches[-1], SCHEMA)
    sink.upsert_batch(replay, len(batches) - 1)
    assert _contents(sink.read(spark)) == oracle


def test_merged_columns_keep_the_batch_order(spark, tmp_path):
    sink = KeyedParquetSink(str(tmp_path / "sink"), key="word")
    sink.upsert_batch(spark.createDataFrame([("a", 1)], "word string, "
                                            "cnt long"), 0)
    sink.upsert_batch(spark.createDataFrame([(2, "a")], "cnt long, "
                                            "word string"), 1)
    df = sink.read(spark)
    assert df.columns == ["cnt", "word"]
    assert [tuple(r) for r in df.collect()] == [(2, "a")]


def test_read_schema_equals_inferred_schema(spark, tmp_path):
    """The schema CURRENT carries is the one Parquet inference reads
    back from the version, nested and non-null fields included."""
    from pyspark.sql import functions as F

    sink = KeyedParquetSink(str(tmp_path / "sink"))
    batch = spark.range(4).select(
        "id",
        F.lit("w").alias("word"),
        F.struct(F.col("id").alias("a"),
                 F.array(F.lit(1)).alias("arr")).alias("s"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.lit(1.5).cast("decimal(12,2)").alias("dec"),
    )
    for i in range(2):
        sink.upsert_batch(batch, i)
        live = sink._current()[0]  # noqa: SLF001
        assert sink.read(spark).schema == spark.read.parquet(live).schema


def test_one_line_pointer_still_reads(spark, tmp_path):
    """A CURRENT written before the pointer carried the schema (the
    version directory's name alone) reads by inference, and the next
    upsert merges against it."""
    sink = KeyedParquetSink(str(tmp_path / "sink"))
    oracle = _upsert_all(spark, sink, _batches(3, 2, 20))
    ptr = os.path.join(sink.path, "CURRENT")
    with open(ptr) as fh:
        name = fh.readline().strip()
    with open(ptr, "w") as fh:
        fh.write(name)
    fresh = KeyedParquetSink(sink.path)
    assert _contents(fresh.read(spark)) == oracle
    rows = _batches(4, 1, 20)[0]
    fresh.upsert_batch(spark.createDataFrame(rows, SCHEMA), 2)
    oracle.update((k, (w, c)) for k, w, c in rows)
    assert _contents(fresh.read(spark)) == oracle


def test_upsert_after_first_commit_runs_at_most_two_jobs(spark, tmp_path,
                                                         count_jobs):
    """One shuffle plus the write: no schema inference, no broadcast."""
    sink = KeyedParquetSink(str(tmp_path / "sink"))
    batches = _batches(5, 3, 50)
    sink.upsert_batch(spark.createDataFrame(batches[0], SCHEMA), 0)
    for i, rows in enumerate(batches[1:], 1):
        batch = spark.createDataFrame(rows, SCHEMA)
        with count_jobs() as n:
            sink.upsert_batch(batch, i)
        assert n[0] <= 2, (i, n[0])


def test_read_launches_no_job_before_its_action(spark, tmp_path,
                                                count_jobs):
    """Neither the committing instance nor a fresh one over the same
    path (a restart) infers the Parquet schema."""
    sink = KeyedParquetSink(str(tmp_path / "sink"))
    oracle = _upsert_all(spark, sink, _batches(6, 2, 20))
    for reader in (sink, KeyedParquetSink(sink.path)):
        with count_jobs() as n:
            df = reader.read(spark)
        assert n[0] == 0
        assert _contents(df) == oracle
