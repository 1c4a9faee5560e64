"""The benchmark's workloads.

Each workload writes its seeded inputs in ``prepare``, runs one pass
of ops in ``run_pass`` and checks every op's answer. A pass returns
its ops (each with a pass/fail verdict) and its latency samples by
kind; ``headline`` turns the timed passes into the workload's named
metrics and ``layers`` the traced pass's spans into per-layer metrics.

Every time is taken with a ``Clock``: wall seconds with the share of
CPU time the hypervisor stole from this machine taken out. On a shared
4-vCPU VM the stolen share of a pass was seen to move between 3% and
30% within minutes, and wall time with it; the other tenants' load is
not the engine's cost.
"""

from __future__ import annotations

import contextlib
import io
import math
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import gen
from spans import fold_layers


def host_cpu() -> tuple[float, float]:
    """CPU seconds this machine's kernel ran (all cores, idle and
    steal excluded) and CPU seconds the hypervisor stole, since boot."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / hz, f[7] / hz


class Clock:
    """Times a block: ``wall`` seconds, and ``seconds``, the wall time
    less the stolen share of the CPU time the block wanted."""

    def __enter__(self):
        self.b0, self.s0 = host_cpu()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        b1, s1 = host_cpu()
        busy, steal = b1 - self.b0, s1 - self.s0
        self.seconds = self.wall * (busy / (busy + steal) if busy > 0 else 1)


@dataclass
class Op:
    kind: str
    seconds: float
    wall: float
    error: str = ""


@dataclass
class Pass:
    ops: list[Op]
    samples: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return sum(o.seconds for o in self.ops)

    @property
    def wall(self) -> float:
        return sum(o.wall for o in self.ops)


def run_op(kind: str, fn, check=None) -> Op:
    """Time ``fn()``; then, outside the timed region, ``check`` its
    result (a non-empty string is a wrong answer). An op that raises
    or answers wrongly is logged and recorded, never re-raised."""
    res, error = None, ""
    with Clock() as c:
        try:
            res = fn()
        except Exception as e:  # noqa: BLE001 - one op never ends the run
            error = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
    if not error and check:
        try:
            error = check(res)
        except Exception as e:  # noqa: BLE001
            error = f"check: {type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
    if error:
        print(f"[perfbench] FAILED op {kind}: {error}", file=sys.stderr)
    return Op(kind, c.seconds, c.wall, error)


def fastest(timed: list[Pass]) -> dict[str, float]:
    """Each op kind's fastest run over ``timed``. Stalls on a shared
    host only ever slow an op down, and later passes are the more
    warmed-up ones, so this is the steadiest estimate of an op."""
    best: dict[str, float] = {}
    for p in timed:
        for o in p.ops:
            best[o.kind] = min(o.seconds, best.get(o.kind, o.seconds))
    return best


def geomean(xs) -> float:
    return math.exp(statistics.fmean(map(math.log, xs)))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    ``(label, value)``; ``None`` below twenty samples."""
    n = len(xs)
    if n < 20:
        return None
    return f"p{100 * (n - 10) // n}", sorted(xs)[n - 11]


def _pass_totals(spans, wall_s: float, cores: int) -> dict:
    """Spark work of a whole traced pass: every span's self jobs."""
    tot = {"jobs": 0, "stages": 0}
    for s in spans:
        tot["jobs"] += s.jobs
        tot["stages"] += s.stages
        for k, v in s.counters.items():
            tot[k] = tot.get(k, 0) + v
    run_ms = tot.get("executor_run_ms", 0)
    return {
        "spark.exec.jobs": tot["jobs"],
        "spark.exec.stages": tot["stages"],
        "spark.exec.tasks": tot.get("tasks", 0),
        "spark.exec.shuffle_read_bytes": tot.get("shuffle_read_bytes", 0),
        "spark.exec.input_bytes": tot.get("input_bytes", 0),
        "spark.exec.spill_bytes": tot.get("memory_spill_bytes", 0)
        + tot.get("disk_spill_bytes", 0),
        "spark.exec.executor_cpu_ms": tot.get("executor_cpu_ns", 0) / 1e6,
        "spark.exec.busy_ratio": run_ms / (wall_s * 1000 * cores),
    }


# ------------------------------------------------------- wordcount


class WordcountCorpus:
    """The CLI ``wordcount`` path, alternating the newline text source
    and ``--chunked``, on a seeded Zipf corpus."""

    MIB = 1.0
    FILES = 8

    def prepare(self, root: str, seed: int) -> list[str]:
        d = os.path.join(root, "corpus")
        os.makedirs(d)
        self.paths, self.expected = gen.corpus(d, seed, self.MIB,
                                               self.FILES)
        self.out = os.path.join(root, "wordcount.out")
        return self.paths

    def start(self, spark, tracer, cores: int) -> None:
        self.spark, self.tracer, self.cores = spark, tracer, cores

    def _check(self, rc) -> str:
        with open(self.out) as fh:
            got = fh.read()
        # the next op must write its own file, not pass on this one
        os.remove(self.out)
        if rc != 0:
            return f"wordcount exited with {rc}"
        if got == self.expected:
            return ""
        return (f"output differs from the oracle "
                f"({got.count(chr(10))} vs {self.expected.count(chr(10))}"
                " lines)")

    def _wordcount(self, chunked: bool) -> int:
        from distributed_mapreduce_p2p_spark import __main__ as cli

        argv = ["--cores", str(self.cores), "wordcount", *self.paths,
                "-o", self.out] + (["--chunked"] if chunked else [])
        with contextlib.redirect_stdout(io.StringIO()):
            return cli.main(argv)

    def run_pass(self) -> Pass:
        from distributed_mapreduce_p2p_spark import session
        from distributed_mapreduce_p2p_spark.operators import text
        from distributed_mapreduce_p2p_spark.sources import io as IO

        tr = self.tracer
        ops = []
        with tr.patched({
            "session.get_spark": session.get_spark,
            "sources.io.read_text_corpus": IO.read_text_corpus,
            "sources.io.read_text_chunks_space_aligned":
                IO.read_text_chunks_space_aligned,
            "operators.text.word_count": text.word_count,
        }):
            for kind in ("text", "chunked"):
                with tr.span(f"wordcount.{kind}", op=f"{kind}{len(ops)}"):
                    ops.append(run_op(
                        kind, lambda: self._wordcount(kind == "chunked"),
                        self._check))
        return Pass(ops, {k: [o.seconds for o in ops if o.kind == k]
                          for k in ("text", "chunked")})

    def scan_probe(self) -> None:
        """Scan-only actions over both sources, for the traced run."""
        from distributed_mapreduce_p2p_spark.sources import io as IO

        for name, read in (
            ("sources.text.scan", IO.read_text_corpus),
            ("sources.chunk.scan", IO.read_text_chunks_space_aligned),
        ):
            with self.tracer.span(name, op=name):
                read(self.spark, self.paths).write.format("noop").mode(
                    "overwrite").save()

    def headline(self, cold: Pass, timed: list[Pass]) -> dict:
        text = [x for p in timed for x in p.samples["text"]]
        chunked = [x for p in timed for x in p.samples["chunked"]]
        return {
            "wordcount_text_p50_s": median(text),
            "wordcount_text_tail_s": tail(text),
            "wordcount_chunked_p50_s": median(chunked),
            "_samples": {"text": len(text), "chunked": len(chunked)},
        }

    def layers(self, spans) -> dict:
        by = fold_layers(spans, ["wordcount.text", "session.get_spark",
                                 "sources.text.scan", "sources.chunk.scan"])
        return {
            "session.get_spark_ms": by["session.get_spark"]["ms"],
            "sources.text.scan_ms": by["sources.text.scan"]["ms"],
            "sources.chunk.scan_ms": by["sources.chunk.scan"]["ms"],
            "sources.chunk.executor_run_ms":
                by["sources.chunk.scan"].get("executor_run_ms", 0),
            "operators.text.shuffle_write_bytes":
                by["wordcount.text"].get("shuffle_write_bytes", 0),
            "output.collect_write_ms": by["wordcount.text"]["ms"],
        }


# ------------------------------------------------------- replicate


class ReplicateUpsert:
    """Seeded ``(word, cnt)`` change batches streamed one file per
    trigger into ``KeyedParquetSink.upsert_batch``."""

    BATCHES = 4
    BATCH_ROWS = 4000

    def prepare(self, root: str, seed: int) -> list[str]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.root = root
        self.src = os.path.join(root, "changes")
        os.makedirs(self.src)
        batches, self.expected = gen.change_batches(
            seed, self.BATCHES, self.BATCH_ROWS)
        self.rows = sum(len(b) for b in batches)
        paths = []
        for i, rows in enumerate(batches):
            p = os.path.join(self.src, f"batch-{i:04d}.parquet")
            pq.write_table(pa.table({
                "word": [w for w, _ in rows],
                "cnt": pa.array([c for _, c in rows], pa.int64()),
            }), p)
            # the file source takes files oldest first: give each batch
            # its own mtime so keep-last order is the batch order
            os.utime(p, (1_600_000_000 + i, 1_600_000_000 + i))
            paths.append(p)
        self.input_bytes = sum(os.path.getsize(p) for p in paths)
        self.n_pass = 0
        return paths

    def start(self, spark, tracer, cores: int) -> None:
        self.spark, self.tracer, self.cores = spark, tracer, cores
        self.progress = []

    def _stream(self):
        from distributed_mapreduce_p2p_spark.streaming.replication import (
            KeyedParquetSink,
        )

        tr = self.tracer
        d = os.path.join(self.root, f"stream-{self.n_pass}")
        self.n_pass += 1
        sink = KeyedParquetSink(os.path.join(d, "sink"), key="word")
        if tr.enabled:
            sink._commit = tr.wrap("streaming.replication.commit",
                                   sink._commit)

        def upsert(batch, batch_id):
            with tr.span("streaming.replication.upsert"):
                sink.upsert_batch(batch, batch_id)

        q = (
            self.spark.readStream.schema("word string, cnt long")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        got = {r[0]: r[1] for r in sink.read(self.spark).collect()}
        return got, q.recentProgress

    def run_pass(self) -> Pass:
        result = {}

        def check(res) -> str:
            got, progress = res
            result["progress"] = progress
            if got == self.expected:
                return ""
            wrong = sum(got.get(k) != v for k, v in self.expected.items())
            return (f"sink has {len(got)} keys, {wrong} of "
                    f"{len(self.expected)} expected keys wrong")

        with self.tracer.span("replicate.stream", op=f"s{self.n_pass}"):
            op = run_op("stream", self._stream, check)
        progress = result.get("progress", [])
        self.progress = progress
        # batch times are Spark's wall clock: take out the stream's
        # steal share
        share = op.seconds / op.wall
        return Pass([op], {
            "batch": [p["durationMs"]["triggerExecution"] / 1000 * share
                      for p in progress if p["numInputRows"]],
            "rows_per_s": [self.rows / op.seconds] if not op.error else [],
        })

    def headline(self, cold: Pass, timed: list[Pass]) -> dict:
        batch = [x for p in timed for x in p.samples["batch"]]
        return {
            "replicate_rows_per_s": median(
                [x for p in timed for x in p.samples["rows_per_s"]]),
            "replicate_batch_p50_s": median(batch),
            "replicate_batch_tail_s": tail(batch),
            "_samples": {"batch": len(batch)},
        }

    def layers(self, spans) -> dict:
        by = fold_layers(spans, ["streaming.replication.upsert",
                                 "streaming.replication.commit"])

        def prog(key):
            return sum(p["durationMs"].get(key, 0) for p in self.progress)

        written = by["streaming.replication.commit"].get("output_bytes", 0)

        return {
            "streaming.replication.upsert_ms":
                by["streaming.replication.upsert"]["ms"],
            "streaming.replication.commit_ms":
                by["streaming.replication.commit"]["ms"],
            "streaming.replication.sink_bytes_written": written,
            "streaming.replication.write_amplification":
                written / self.input_bytes,
            "streaming.progress.add_batch_ms": prog("addBatch"),
            "streaming.progress.wal_commit_ms": prog("walCommit"),
            "streaming.progress.commit_offsets_ms": prog("commitOffsets"),
        }


class WordcountReplicate:
    """The reference's two user paths in one pass: the CLI word count
    (text source, then ``--chunked``) and the replicated upsert
    stream. Neither calls ``read_table`` or the registry, so this is
    the no-change control for those layers."""

    name = "wordcount_replicate"

    def __init__(self):
        self.wc, self.rep = WordcountCorpus(), ReplicateUpsert()

    def prepare(self, root: str, seed: int) -> list[str]:
        return self.wc.prepare(root, seed) + self.rep.prepare(root, seed)

    def start(self, spark, tracer, cores: int) -> None:
        self.cores = cores
        self.wc.start(spark, tracer, cores)
        self.rep.start(spark, tracer, cores)

    def run_pass(self) -> Pass:
        a, b = self.wc.run_pass(), self.rep.run_pass()
        return Pass(a.ops + b.ops, {**a.samples, **b.samples})

    def scan_probe(self) -> None:
        self.wc.scan_probe()

    def headline(self, cold: Pass, timed: list[Pass]) -> dict:
        out, wc = self.rep.headline(cold, timed), self.wc.headline(cold, timed)
        out["_samples"].update(wc.pop("_samples"))
        return {**out, **wc}

    def layers(self, spans, wall_s: float) -> dict:
        in_pass = [s for s in spans if not s.op.startswith("sources.")]
        return {**_pass_totals(in_pass, wall_s, self.cores),
                **self.wc.layers(spans), **self.rep.layers(spans)}


# ------------------------------------------------------- analytics


class AnalyticsMix:
    """Registered queries over seeded tables, in a seed-shuffled
    order; each op is ``QUERIES[name](spark, sf)`` then ``.count()``."""

    name = "analytics_mix"
    SF = 0.01
    # Few enough that a run ends in about a minute on a loaded host.
    QUERIES = [
        # read_table-heavy relational queries (tpch_q2 reads 5 tables)
        "agg_pricing", "tpch_q2_min_cost_supplier", "wordcount",
        # construction-heavy iterative query
        "trade_graph_bfs_levels",
        # similarity query (broadcast cross join); the Python-worker
        # ones cost ~10 s cold, and the chunked word count already
        # runs Python workers
        "embedding_topk",
    ]

    def prepare(self, root: str, seed: int) -> list[str]:
        self.root = root
        self.sf_dir = os.path.join(root, "tables")
        os.makedirs(self.sf_dir)
        gen.tables(self.sf_dir, seed, self.SF)
        self.order = list(self.QUERIES)
        random.Random(seed).shuffle(self.order)
        self.rows: dict[str, int] = {}
        return [os.path.join(self.sf_dir, f) for f in
                sorted(os.listdir(self.sf_dir))]

    def start(self, spark, tracer, cores: int) -> None:
        import duckdb

        from distributed_mapreduce_p2p_spark import registry

        self.spark, self.tracer, self.cores = spark, tracer, cores
        self.oracles = registry.finalize_oracles(self.sf_dir)
        self.con = duckdb.connect()
        self.con.sql(f"SET temp_directory='{self.root}/duckdb'")
        self.con.sql("SET memory_limit='1GB'")
        self.con.sql("SET threads=2")
        for f in os.listdir(self.sf_dir):
            self.con.sql(f"CREATE VIEW {f.split('.')[0]} AS SELECT * "
                         f"FROM '{self.sf_dir}/{f}'")

    def _query(self, name: str):
        from distributed_mapreduce_p2p_spark import registry

        tr = self.tracer
        with tr.span("registry.construct"):
            df = registry.QUERIES[name](self.spark, self.sf_dir)
        if tr.enabled:
            with tr.span("spark.plan") as s:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                for phase in ("analysis", "optimization", "planning"):
                    o = phases.get(phase)
                    s.counters[phase] = (
                        o.get().durationMs() if o.isDefined() else 0)
        with tr.span("spark.exec"):
            return df, df.count()

    def _check(self, name: str, res) -> str:
        """The first answer is compared with the DuckDB oracle; later
        answers must have its row count."""
        df, n = res
        if name not in self.rows:
            from tests.oracle import compare

            issues = compare(df, self.con, self.oracles[name], name)
            if issues:
                return "; ".join(issues)
            self.rows[name] = n
        if n != self.rows[name]:
            return f"{n} rows, oracle has {self.rows[name]}"
        return ""

    def run_pass(self) -> Pass:
        from distributed_mapreduce_p2p_spark.sources import io as IO

        ops = []
        with self.tracer.patched({"sources.io.read_table": IO.read_table}):
            for name in self.order:
                with self.tracer.span(f"analytics.{name}", op=name):
                    ops.append(run_op(
                        name, lambda: self._query(name),
                        lambda res: self._check(name, res)))
        return Pass(ops, {"query": [o.seconds for o in ops]})

    def headline(self, cold: Pass, timed: list[Pass]) -> dict:
        q = [x for p in timed for x in p.samples["query"]]
        return {
            "analytics_query_p50_s": median(q),
            "analytics_query_tail_s": tail(q),
            "analytics_pass_s": sum(fastest(timed).values()),
            "analytics_cold_pass_s": cold.seconds,
            "_samples": {"query": len(q)},
        }

    def layers(self, spans, wall_s: float) -> dict:
        by = fold_layers(spans, ["sources.io.read_table", "registry.construct",
                            "spark.plan"])
        rt, plan = by["sources.io.read_table"], by["spark.plan"]
        return {
            **_pass_totals(spans, wall_s, self.cores),
            "sources.io.read_table.calls": rt["calls"],
            "sources.io.read_table.ms": rt["ms"],
            "sources.io.read_table.jobs": rt["jobs"],
            "registry.construct_ms": by["registry.construct"]["ms"],
            "registry.construct_jobs": by["registry.construct"]["jobs"],
            "spark.plan.analysis_ms": plan.get("analysis", 0),
            "spark.plan.optimization_ms": plan.get("optimization", 0),
            "spark.plan.planning_ms": plan.get("planning", 0),
        }


WORKLOADS = {w.name: w for w in (WordcountReplicate, AnalyticsMix)}
