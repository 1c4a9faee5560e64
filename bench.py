#!/usr/bin/env python
"""Benchmark harness (driver contract).

Times EVERY registered query (the headline set first, then the full
registry sweep) at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE COMPACT JSON line (last):
{"metric": "all_queries_total", "value": total_sec, "unit": "sec",
"queries": {10 slowest}, "n_queries": N, "sf": ...} — the driver
stores only a bounded tail of stdout, so the full 102-entry timings
dict lives in BENCH_DETAIL.json instead (all three rounds' 4 KB
one-liners came back "parsed": null).

Each query is executed to completion (count() forces the full plan —
scan, shuffle, agg — without driver-side collect of the payload).
A warmup query amortizes JVM/codegen startup out of the timings.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from distributed_mapreduce_p2p_spark import registry  # noqa: E402
from distributed_mapreduce_p2p_spark.session import get_spark  # noqa: E402

# Headline set: the flagship plus one representative per operator
# family (agg, join, window, dedup/gap, LLM ops as they land).
HEADLINE = [
    "wordcount",
    "wordcount_topk",
    "agg_pricing",
    "star_join_revenue",
    "window_running_total",
    "dedupe_keep_last",
    "gap_detect",
    "tumbling_window_agg",
    "dedup_exact",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "embedding_topk",
    "ann_lsh_topk",
    "token_stats",
    "doc_fingerprint",
]


def _report_failure(what: str, e: Exception) -> str:
    """Print ``bench: FAILED <what>: <Type>: <first line>`` to stderr
    and return the ``<Type>: <first line>`` part."""
    first = (str(e).strip().splitlines() or [""])[0]
    msg = f"{type(e).__name__}: {first}"
    print(f"bench: FAILED {what}: {msg}", file=sys.stderr)
    return msg


def time_queries(spark, sf_dir, names, queries):
    """Time each of ``names`` (``queries[name](spark, sf_dir)``) and
    return ``(timings, job_counts, errors)``.

    A query that raises is reported on stderr as ``bench: FAILED
    <name>: <Type>: <msg>`` and in ``errors``, and the loop goes on:
    one failing query must not cost the whole artifact. A rep whose
    job count reaches ``spark.ui.retainedJobs`` is flagged the same
    way (the status tracker forgets older jobs, so the count is a
    floor), and its timing is kept."""
    # Best-of-2 per query: the first execution of a plan pays one-time
    # JVM JIT/codegen compilation (hundreds of ms to seconds for wide
    # generated code) and is sensitive to transient host load; the
    # minimum reflects the engine's steady-state throughput.
    #
    # Per-query Spark JOB COUNTS (r11, additions-only): each rep runs
    # under its own job group and the rep's job count is read from the
    # statusTracker right after it; the count recorded beside the
    # seconds is the BEST (min-time) rep's. Job counts are
    # ambient-noise-immune evidence for the loop-query optimizations
    # (r10 cut hits_hubs_authorities 133 -> ~34 jobs) that host stalls
    # cannot fake or mask. Streaming queries execute their
    # micro-batches on engine threads outside the job group, so their
    # counts cover only the driver-thread jobs (staging + final read)
    # — directionally useful, documented here. The timed action and
    # methodology are unchanged (same .count(), same best-of-2).
    sc = spark.sparkContext
    retained = int(sc.getConf().get("spark.ui.retainedJobs", "1000"))
    timings: dict[str, float] = {}
    job_counts: dict[str, int] = {}
    errors: dict[str, str] = {}
    for name in names:
        try:
            best = float("inf")
            best_jobs = 0
            for rep in range(2):
                group = f"bench:{name}#{rep}"
                sc.setJobGroup(group, name)
                t0 = time.perf_counter()
                queries[name](spark, sf_dir).count()
                dt = time.perf_counter() - t0
                n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                if n_jobs >= retained:
                    errors[name] = (
                        f"job count truncated: {n_jobs} jobs reached "
                        f"spark.ui.retainedJobs={retained}"
                    )
                    print(f"bench: WARNING {name}: {errors[name]}",
                          file=sys.stderr)
                if dt < best:
                    best = dt
                    best_jobs = n_jobs
        except Exception as e:  # noqa: BLE001 - isolate, report, go on
            errors[name] = _report_failure(name, e)
            continue
        timings[name] = round(best, 4)
        job_counts[name] = best_jobs
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    return timings, job_counts, errors


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # Ambient host-throughput calibration (r11, from the r10 ADVICE):
    # a fixed no-Spark CPU workload timed BEFORE the session starts,
    # embedded in the detail file so every bench artifact carries the
    # host state it was measured under — the correction factor rounds
    # 8-10 had to reconstruct from per-query set overlaps. Never
    # allowed to break the bench (driver contract): any failure
    # records null. Runs outside every timed region; the metric value
    # is untouched.
    try:
        import subprocess as _sp

        _cal = _sp.run(
            [sys.executable, str(REPO / "tools" / "ambient_calib.py")],
            capture_output=True,
            text=True,
            timeout=120,
        )
        ambient = json.loads(_cal.stdout.strip().splitlines()[-1])
    except Exception:  # noqa: BLE001 - calibration is best-effort
        ambient = None

    spark = get_spark(app_name="bench")

    names = [n for n in HEADLINE if n in registry.QUERIES]
    names += [n for n in registry.QUERIES if n not in names]

    # Opt-in subset for the test suite's smoke run ONLY
    # (tests/test_driver_contract.py): SPARK_GRAFT_BENCH_SUBSET=N
    # keeps the first N names (headline-first order). The driver
    # never sets it — the full sweep is and stays the default.
    subset = int(os.environ.get("SPARK_GRAFT_BENCH_SUBSET", "0") or "0")
    if subset > 0:
        print(
            f"bench: *** SPARK_GRAFT_BENCH_SUBSET={subset}: timing only "
            f"the first {min(subset, len(names))} of {len(names)} queries "
            f"- NOT a full-registry artifact ***",
            file=sys.stderr,
        )
        names = names[:subset]

    # Warmup: force session + codegen init on a tiny plan. It fails
    # loudly but, like a timed query, costs only itself.
    try:
        registry.QUERIES["wordcount"](spark, sf_dir).limit(1).count()
    except Exception as e:  # noqa: BLE001 - isolate, report, go on
        _report_failure("warmup", e)

    timings, job_counts, errors = time_queries(
        spark, sf_dir, names, registry.QUERIES
    )
    n_failed = len(names) - len(timings)

    # Head-to-head with the reference's own workload: word count of
    # its 3.4 MB Gutenberg corpus (BASELINE.md: the reference schedules
    # 38 map + 8 reduce tasks at <= 2 tasks/s handout => >= 23 s of
    # scheduling alone before any execution).
    ref_data = "/root/reference/data"
    if os.path.isdir(ref_data):
        from distributed_mapreduce_p2p_spark.operators.text import (
            TOKEN_SEP_UNICODE,
            word_count,
        )

        # Expanded paths, not a glob: a glob makes FileStreamSink's
        # metadata probe stat the literal pattern, which logs a full
        # FileNotFoundException stack at WARN (harmless, but it's the
        # only stack trace in the driver's bounded stdout tail and
        # reads exactly like a crash — r4 verdict nit #2).
        import glob as _glob

        txts = sorted(_glob.glob(f"{ref_data}/*.txt"))
        t0 = time.perf_counter()
        corpus = spark.read.text(txts)
        n = word_count(corpus, "value", sep=TOKEN_SEP_UNICODE).count()
        timings["reference_corpus_wordcount"] = round(time.perf_counter() - t0, 4)
        assert n == 26010, f"golden cardinality mismatch: {n}"

        # Head-to-head with the reference's replication stream: it
        # broadcasts its 26,010-row result at 0.5 rows/s by design
        # (1 line per 2 s, replication/replication.go:202-210) ≈
        # 14.5 HOURS to converge the sink. Ours is the same contract
        # (checkpointed stream → idempotent keyed upsert sink,
        # R3/R6/K4) over the identical 26,010 rows, timed end to end.
        import shutil

        from distributed_mapreduce_p2p_spark.streaming.harness import (
            run_available_now,
            scratch_dir,
        )
        from distributed_mapreduce_p2p_spark.streaming.replication import (
            KeyedParquetSink,
        )

        tmp = scratch_dir("bench_repl_")
        try:
            wc = word_count(corpus, "value", sep=TOKEN_SEP_UNICODE)
            staged = f"{tmp}/staged"
            wc.write.parquet(staged)
            sink = KeyedParquetSink(f"{tmp}/sink", key="word")
            t0 = time.perf_counter()
            try:
                run_available_now(
                    spark.readStream.schema(wc.schema)
                    .parquet(staged)
                    .writeStream.foreachBatch(sink.upsert_batch)
                    .outputMode("update"),
                    tmp,
                )
            except TimeoutError:
                # Slow host: the harness stopped the stream; report
                # what ran instead of asserting on a possibly-incomplete
                # sink — a non-zero exit here loses the whole round's
                # BENCH artifact (driver contract).
                timings["reference_replication_sink_26k_incomplete"] = round(
                    time.perf_counter() - t0, 4
                )
            else:
                replicated = sink.read(spark).count()
                timings["reference_replication_sink_26k"] = round(
                    time.perf_counter() - t0, 4
                )
                assert replicated == 26010, (
                    f"replication sink cardinality mismatch: {replicated}"
                )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    total = round(sum(timings.values()), 4)
    # Full per-query timings go to a file; stdout gets ONE COMPACT
    # line (last) with only the top-10 slowest — the driver stores a
    # bounded tail of stdout, and a ~4 KB line of 102 timings
    # overflows it (every BENCH_r0*.json came back "parsed": null).
    # SPARK_GRAFT_BENCH_DETAIL lets callers redirect the detail file;
    # test_bench_json_contract runs bench at sf0.001 and used to
    # CLOBBER the round's sf0.1 artifact with toy-SF timings (r4's
    # committed BENCH_DETAIL.json was silently an sf0.001 test run).
    detail_path = Path(
        os.environ.get("SPARK_GRAFT_BENCH_DETAIL", REPO / "BENCH_DETAIL.json")
    )
    # Keep the previous run's detail for the regression gate
    # (tools/bench_regress.py): rounds 2-4 each had silent per-query
    # outliers; diffing consecutive details makes them self-reporting.
    if detail_path.exists():
        try:
            prev = json.loads(detail_path.read_text())
        except (json.JSONDecodeError, OSError):
            prev = None  # corrupt/truncated prior detail: skip snapshot
        if prev and prev.get("sf") == (
            float(sf) if sf.replace(".", "").isdigit() else sf
        ):
            # only a same-SF run is a meaningful regression baseline
            detail_path.with_suffix(".prev.json").write_text(
                json.dumps(prev, indent=1)
            )
    detail_path.write_text(
        json.dumps(
            {
                "metric": "all_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # additions-only (r11): per-query Spark job counts of
                # the best rep — see the job-group comment above —
                # and the pre-run ambient calibration reading.
                "jobs": job_counts,
                "ambient": ambient,
                # additions-only: per-query failures and truncated job
                # counts, as reported on stderr by time_queries()
                "errors": errors,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            },
            indent=1,
        )
    )
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    )
    print(
        json.dumps(
            {
                "metric": "all_queries_total",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "n_queries": len(timings),
                "n_failed": n_failed,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "detail": "BENCH_DETAIL.json",
            }
        )
    )


if __name__ == "__main__":
    main()
