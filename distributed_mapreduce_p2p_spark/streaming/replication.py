"""Replicated-result-log pipeline — the reference's streaming story
(SURVEY.md §2.8, R1-R8) re-expressed as one Structured Streaming
query.

Reference semantics: the leader broadcasts one ``(DataID, line)`` of
``mr-out-final`` every 2 s (BroadcastData, replication/replication.
go:156-213); followers upsert into ordered state (ReceiveData,
:276-336), heal gaps by re-requesting missing ranges (CheckAndDump,
:339-460), flush to a per-node JSON id→value map (:463-494), and
recover from it on restart (raft/raft.go:288-298).

Spark mapping: a rate-limited source joined to the numbered result
table (R1/R2) → ``foreachBatch`` idempotent upsert into a keyed sink
(R3/R6 — the analog of the reference's id→value checkpoint file) with
a streaming checkpoint (R7/R8: restart resumes from offsets, so
gap-healing R4/R5 is subsumed by exactly-once replay). Convergence is
*verified* with the same gap detector the batch path exposes (J3).

At scale the sink upsert would be a Delta/Iceberg MERGE; here it is
a versioned parquet directory behind an atomically-replaced CURRENT
pointer (the fixture-faithful analog of the reference rewriting
``<node>-replication.json`` per flush, made kill-safe).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

RESULT_SCHEMA = "id long, word string, cnt long"


def numbered_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The replication payload table: (id, word, cnt) — reference
    ``mr-out-final`` lines keyed by 1-based line number."""
    from distributed_mapreduce_p2p_spark.operators.text import numbered_result
    from distributed_mapreduce_p2p_spark.sources.io import read_table

    return numbered_result(read_table(spark, sf_dir, "documents"))


def rate_replication_stream(
    spark: SparkSession,
    result: DataFrame,
    rows_per_second: int = 100,
) -> DataFrame:
    """R1+R2: ordered rate-limited emission of the result log.

    ``rate`` source value v → id v+1, stream-static inner join against
    the (broadcastable) result table. The reference's fixed 0.5 row/s
    cadence (replication.go:202-210) is ``rows_per_second=0.5``; tests
    use a faster clock, the plan is identical.
    """
    rate = spark.readStream.format("rate").option(
        "rowsPerSecond", rows_per_second
    ).load()
    ids = rate.select((F.col("value") + 1).alias("id"))
    return ids.join(F.broadcast(result), "id")


def _written_schema(df: DataFrame) -> str:
    """``df``'s schema as Parquet inference reads it back, as JSON:
    Spark writes every field nullable (arrays and maps included)."""

    def nullable(node):
        if isinstance(node, dict):
            return {
                k: True
                if k in ("nullable", "containsNull", "valueContainsNull")
                else nullable(v)
                for k, v in node.items()
            }
        if isinstance(node, list):
            return [nullable(v) for v in node]
        return node

    return json.dumps(nullable(df.schema.jsonValue()))


class KeyedParquetSink:
    """R3+R6: idempotent keyed upsert sink — the Spark analog of the
    reference's id→value checkpoint file (dumpDataToFile,
    replication/replication.go:463-494).

    foreachBatch is at-least-once; the upsert (keep-last per key) makes
    replay idempotent — together with the source checkpoint this
    yields exactly-once sink contents.

    Merge: one aggregation, one shuffle, no join. The live version and
    the batch are tagged ``_new`` = false / true, unioned by name and
    grouped by key; ``max_by(struct(<non-key cols>), _new)`` keeps the
    batch's row over the live one. A key repeated inside one batch
    keeps any one of its rows (as ``dropDuplicates`` does). Grouping
    treats a null key as one key, so a null-keyed row is upserted like
    any other, never piled up. The first commit is
    ``batch.dropDuplicates([key])``.

    Durability: Delta-style version pointer. Each upsert writes a new
    versioned directory, then atomically repoints a CURRENT file
    (``os.replace`` — a single atomic step, so a kill at ANY moment
    leaves the previous consistent version readable; the earlier
    double-directory-rename design had a window where the sink
    vanished). CURRENT holds two lines, the version directory's name
    and the version's schema as JSON, so ``read`` never runs Parquet
    schema inference (a Spark job per read); a one-line CURRENT (no
    schema) still reads, by inference. Parquet stand-in for a real
    Delta/Iceberg MERGE.
    """

    def __init__(self, path: str, key: str = "id"):
        self.path = path
        self.key = key
        os.makedirs(path, exist_ok=True)

    def _current(self) -> tuple[str, StructType | None] | None:
        """The live version directory and its schema from CURRENT (None
        for a one-line pointer); None when nothing is committed."""
        ptr = os.path.join(self.path, "CURRENT")
        try:
            with open(ptr) as fh:
                name, _, schema = fh.read().partition("\n")
        except FileNotFoundError:
            return None
        d = os.path.join(self.path, name.strip())
        if not os.path.isdir(d):
            return None
        return d, (
            StructType.fromJson(json.loads(schema)) if schema.strip() else None
        )

    def version_count(self) -> int:
        """1 + the batch id of the live version, 0 when none is
        committed. Monotonic in the batch id (callers wait on it for
        progress); it is not a count of upserts — a seed commit with
        batch id -1 (as CdcParquetSink callers make) also gives 0."""
        cur = self._current()
        if cur is None:
            return 0
        return 1 + int(os.path.basename(cur[0])[1:].split("_")[0])

    def read(self, spark: SparkSession) -> DataFrame | None:
        """Current sink contents; None only when no version was ever
        committed. A committed-but-unreadable version RAISES — in the
        upsert path that fails the micro-batch so Spark replays it
        against the intact previous version. (Silently treating a
        transient read failure as an empty sink would merge the next
        batch against nothing and drop every committed row.)"""
        cur = self._current()
        if cur is None:
            return None
        vdir, schema = cur
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(vdir)

    def upsert_batch(self, batch: DataFrame, batch_id: int) -> None:
        current = self.read(batch.sparkSession)
        if current is None:
            self._commit(batch.dropDuplicates([self.key]), batch_id)
            return
        values = [c for c in batch.columns if c != self.key]
        latest = (
            current.withColumn("_new", F.lit(False))
            .unionByName(batch.withColumn("_new", F.lit(True)))
            .groupBy(self.key)
            .agg(F.max_by(F.struct(*values), "_new").alias("_row"))
        )
        self._commit(
            latest.select(self.key, "_row.*").select(*batch.columns), batch_id
        )

    #: committed versions retained besides the live one. ≥1 so a
    #: CONCURRENT reader that resolved CURRENT just before a commit
    #: can still finish scanning its (now-previous) version — the
    #: same reason real table formats separate commit from vacuum.
    RETAIN_PREVIOUS = 2

    def _commit(self, merged: DataFrame, batch_id: int) -> None:
        """Write a new version directory and atomically repoint
        CURRENT (shared by the upsert and CDC apply paths); then
        vacuum versions older than the newest RETAIN_PREVIOUS
        predecessors (never the one CURRENT points at)."""
        import re
        import shutil

        # Unique suffix per invocation: a REPLAYED batch id must not
        # reuse the committed version's directory — mode("overwrite")
        # would clobber the very files the merge plan lazily reads.
        import uuid

        vdir = os.path.join(
            self.path, f"v{batch_id}_{uuid.uuid4().hex[:8]}"
        )
        merged.write.mode("overwrite").parquet(vdir)
        tmp_ptr = os.path.join(self.path, f".CURRENT.{os.getpid()}")
        with open(tmp_ptr, "w") as fh:
            fh.write(f"{os.path.basename(vdir)}\n{_written_schema(merged)}")
        os.replace(tmp_ptr, os.path.join(self.path, "CURRENT"))  # atomic
        keep = os.path.basename(vdir)
        versions = sorted(
            (
                d
                for d in os.listdir(self.path)
                if re.fullmatch(r"v-?\d+_[0-9a-f]+", d) and d != keep
            ),
            key=lambda d: int(d[1:].split("_")[0]),
        )
        for stale in versions[: -self.RETAIN_PREVIOUS or None]:
            shutil.rmtree(
                os.path.join(self.path, stale), ignore_errors=True
            )


class CdcParquetSink(KeyedParquetSink):
    """K4 extended to full CDC semantics: micro-batches carry an
    ``op`` column ('D' delete / 'U' upsert) and each batch is applied
    with MERGE INTO semantics (operators/relational.py::apply_cdc —
    one full outer join per batch) against the current version, then
    committed through the same atomic version-pointer protocol as
    the upsert sink. At-least-once replay stays idempotent because a
    replayed batch re-applies the same per-key final ops against a
    state where they already took effect (delete of a missing key is
    a no-op; an upsert overwrites with the identical row).

    This is the streaming half of a CDC pipeline: snapshot_diff
    derives a change stream, this sink applies one continuously —
    the dependency-free analog of a Delta/Iceberg streaming MERGE."""

    def apply_cdc_batch(self, batch: DataFrame, batch_id: int) -> None:
        from distributed_mapreduce_p2p_spark.operators.relational import (
            apply_cdc,
        )

        spark = batch.sparkSession
        current = self.read(spark)
        # Within-batch conflict resolution. A real CDC feed can carry
        # several ops for one key in one micro-batch (e.g. 'U' then
        # 'D'); keeping "an arbitrary row" would apply them
        # nondeterministically. Contract: if the feed has a ``seq``
        # ordering column, keep-last per key by seq (row_number, the
        # Debezium/LSN pattern); otherwise exact duplicate rows are
        # collapsed (at-least-once replay) and a batch with
        # CONFLICTING rows for one key raises instead of guessing.
        from pyspark.sql import Window

        if "seq" in batch.columns:
            w = Window.partitionBy(self.key).orderBy(F.col("seq").desc())
            batch = (
                batch.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn", "seq")
            )
        else:
            batch = batch.dropDuplicates()
            conflict = (
                batch.groupBy(self.key)
                .count()
                .where(F.col("count") > 1)
                .limit(1)
                .count()
            )
            if conflict:
                raise ValueError(
                    "CDC batch carries conflicting rows for one key and "
                    "no 'seq' ordering column; add one to define "
                    "keep-last order"
                )
        changes = batch.withColumnRenamed(self.key, "k")
        if current is None:
            merged = (
                changes.where(F.col("op") == "U").drop("op")
            )
        else:
            merged = apply_cdc(
                current.withColumnRenamed(self.key, "k"), changes
            )
        self._commit(
            merged.withColumnRenamed("k", self.key), batch_id
        )


def run_replication(
    spark: SparkSession,
    result: DataFrame,
    sink_path: str,
    checkpoint_dir: str,
    rows_per_second: int = 100,
    timeout_sec: float = 5.0,
    min_new_batches: int = 1,
):
    """Start the replication query; stop after ``timeout_sec`` — but
    never before ``min_new_batches`` upserts landed (bounded by a hard
    10x deadline), so a loaded machine can't produce an empty run.
    The checkpoint persists, so a later call resumes (R7/R8)."""
    import time

    sink = KeyedParquetSink(sink_path)
    n_before = sink.version_count()
    stream = rate_replication_stream(spark, result, rows_per_second)
    q = (
        stream.writeStream.foreachBatch(sink.upsert_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.monotonic() + timeout_sec
    hard_deadline = time.monotonic() + 10 * timeout_sec
    while time.monotonic() < deadline or (
        sink.version_count() - n_before < min_new_batches
        and time.monotonic() < hard_deadline
    ):
        q.awaitTermination(0.5)
    q.stop()
    q.awaitTermination()
    return sink


def convergence_report(spark: SparkSession, sink: KeyedParquetSink) -> dict:
    """R4 as a verification: high-watermark, row count, and gap list
    over the sink (must be empty for a converged prefix)."""
    from distributed_mapreduce_p2p_spark.operators.relational import detect_gaps

    df = sink.read(spark)
    if df is None:
        return {"rows": 0, "watermark": 0, "gaps": []}
    rows = df.count()
    wm = df.agg(F.max("id")).collect()[0][0]
    gaps = [tuple(r) for r in detect_gaps(df, "id").collect()]
    return {"rows": rows, "watermark": wm, "gaps": gaps}


# ---------------------------------------------------------------- R3
# Faithful stateful-ingest mapping: applyInPandasWithState.

INGEST_OUTPUT_SCHEMA = "bucket int, watermark long, n_total long, n_batch long"
INGEST_STATE_SCHEMA = "watermark long, n_total long"


def stateful_ordered_ingest(
    stream: DataFrame, n_buckets: int = 8, emit: str = "stats"
) -> DataFrame:
    """R3: per-key stateful ordered ingest (ReceiveData, replication/
    replication.go:276-336) via ``applyInPandasWithState``.

    The reference keeps each node's item list + high-watermark in
    memory; here state is partitioned by id-bucket and holds exactly
    the high-watermark and the running count — the upsert itself is
    delegated to the sink (KeyedParquetSink), keeping state O(1) per
    bucket no matter how long the stream runs (the property that
    matters at 100 TB; buffering items in state would not survive).

    ``emit="stats"`` (default) emits one row per (bucket, batch): the
    advanced watermark and counts — the observable the reference
    exposes via its ``DataId`` watermark. ``emit="rows"`` passes the
    payload rows through (watermark column attached) so a downstream
    ``foreachBatch`` sink receives them AFTER state advanced — the
    full ReceiveData→dumpDataToFile chain in one query; state stays
    O(1), the payload is never buffered in it.
    """
    import pandas as pd  # noqa: F401

    if emit not in ("stats", "rows"):
        raise ValueError(f"emit must be 'stats' or 'rows', got {emit!r}")
    passthrough = emit == "rows"
    payload_cols = [c for c in stream.columns]

    def ingest(key, pdfs, state):
        if state.exists:
            watermark, n_total = state.get
        else:
            watermark, n_total = 0, 0
        n_batch = 0
        batches = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            n_batch += len(pdf)
            m = int(pdf["id"].max())
            if m > watermark:
                watermark = m
            if passthrough:
                batches.append(pdf)
        n_total += n_batch
        state.update((watermark, n_total))
        if passthrough:
            for pdf in batches:
                out = pdf[payload_cols].copy()
                out["bucket"] = key[0]
                out["watermark"] = watermark
                yield out
        else:
            yield pd.DataFrame(
                {
                    "bucket": [key[0]],
                    "watermark": [watermark],
                    "n_total": [n_total],
                    "n_batch": [n_batch],
                }
            )

    bucketed = stream.withColumn(
        "bucket", (F.col("id") % n_buckets).cast("int")
    )
    out_schema = (
        ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in stream.schema.fields
        )
        + ", bucket int, watermark long"
        if passthrough
        else INGEST_OUTPUT_SCHEMA
    )
    return bucketed.groupBy("bucket").applyInPandasWithState(
        ingest,
        outputStructType=out_schema,
        stateStructType=INGEST_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


# ------------------------------------------------------- R3 (successor)
# transformWithStateInPandas migration: applyInPandasWithState's
# supported successor in Spark 4.x. Same O(1)-per-bucket state tuple;
# the new API additionally offers timers and per-state TTL — the
# reference's 10 s healing cadence (CheckAndDump,
# replication/replication.go:339-460) maps directly onto a processing
# -time timer (see ordered_ingest_tws's heal_every_ms).

TWS_STORE_CONF = (
    "spark.sql.streaming.stateStore.providerClass",
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider",
)


def bucket_stats_tws(stream: DataFrame, n_buckets: int = 16) -> DataFrame:
    """Per-bucket running (count, exact cents sum, high-watermark id)
    — the same custom stateful aggregate as the registry's
    ``streaming_stateful_bucket_stats`` — on
    ``transformWithStateInPandas``. State is one ValueState tuple per
    bucket (O(1) forever). Requires the RocksDB state-store provider
    (``TWS_STORE_CONF``); callers scope it with ``scoped_conf``.

    Emits one cumulative row per (bucket, batch); cumulative counters
    are monotone, so MAX over emissions equals the batch GROUP BY —
    the same batching-invariant contract the old-API form is
    oracle-checked against."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class _BucketStats(StatefulProcessor):
        def init(self, handle):
            self._agg = handle.getValueState(
                "agg", "n long, cents long, mx long"
            )

        def handleInputRows(self, key, rows, timer_values):
            import numpy as np
            import pandas as pd

            if self._agg.exists():
                n, cents, mx = self._agg.get()
            else:
                n, cents, mx = 0, 0, -1
            for pdf in rows:
                if not len(pdf):
                    continue
                n += len(pdf)
                cents += int(
                    np.floor(pdf["value"].to_numpy() * 100).sum()
                )
                m = int(pdf["event_id"].max())
                if m > mx:
                    mx = m
            self._agg.update((n, cents, mx))
            yield pd.DataFrame(
                {
                    "bucket": [key[0]],
                    "n_events": [n],
                    "sum_cents": [cents],
                    "max_event_id": [mx],
                }
            )

        def close(self):
            pass

    bucketed = stream.withColumn(
        "bucket", (F.col("user_id") % n_buckets).cast("int")
    )
    return bucketed.groupBy("bucket").transformWithStateInPandas(
        _BucketStats(),
        outputStructType=(
            "bucket int, n_events long, sum_cents long, max_event_id long"
        ),
        outputMode="Append",
        timeMode="None",
    )


def ordered_ingest_tws(
    stream: DataFrame, n_buckets: int = 8, heal_every_ms: int = 10_000
) -> DataFrame:
    """R3+R4 on the successor API: per-bucket high-watermark/count
    state PLUS the reference's periodic healing check as a real
    processing-time TIMER (CheckAndDump fires every 10 s,
    replication/replication.go:339-460 — ``heal_every_ms`` is that
    cadence). Every timer expiry emits a ``kind='heal'`` row carrying
    the bucket's current watermark — the hook a gap-healing consumer
    subscribes to; input batches emit ``kind='data'`` rows. State
    stays two integers per bucket. Requires TWS_STORE_CONF and
    ``timeMode='ProcessingTime'`` (timers exist only there)."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class _Ingest(StatefulProcessor):
        def init(self, handle):
            self._st = handle.getValueState("st", "wm long, n long")
            self._handle = handle

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            if self._st.exists():
                wm, n = self._st.get()
            else:
                wm, n = 0, 0
                self._handle.registerTimer(
                    timer_values.getCurrentProcessingTimeInMs()
                    + heal_every_ms
                )
            for pdf in rows:
                if not len(pdf):
                    continue
                n += len(pdf)
                m = int(pdf["id"].max())
                if m > wm:
                    wm = m
            self._st.update((wm, n))
            yield pd.DataFrame(
                {
                    "bucket": [key[0]],
                    "kind": ["data"],
                    "watermark": [wm],
                    "n_total": [n],
                }
            )

        def handleExpiredTimer(self, key, timer_values, expired_timer_info):
            import pandas as pd

            wm, n = self._st.get() if self._st.exists() else (0, 0)
            # re-arm: the healing check is periodic, not one-shot
            self._handle.registerTimer(
                timer_values.getCurrentProcessingTimeInMs() + heal_every_ms
            )
            yield pd.DataFrame(
                {
                    "bucket": [key[0]],
                    "kind": ["heal"],
                    "watermark": [wm],
                    "n_total": [n],
                }
            )

        def close(self):
            pass

    bucketed = stream.withColumn(
        "bucket", (F.col("id") % n_buckets).cast("int")
    )
    return bucketed.groupBy("bucket").transformWithStateInPandas(
        _Ingest(),
        outputStructType=(
            "bucket int, kind string, watermark long, n_total long"
        ),
        outputMode="Append",
        timeMode="ProcessingTime",
    )
