#!/usr/bin/env python3
"""Benchmark of the engine's user paths, end to end and layer by layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (``--workload all`` runs both
in one process, restarting the Spark session between them):

- ``wordcount_replicate``: the CLI ``wordcount`` on a seeded Zipf
  corpus, with the text source and then ``--chunked``, and seeded
  change batches streamed into ``KeyedParquetSink.upsert_batch``.
- ``analytics_mix``: registered queries over seeded tables, checked
  against their DuckDB oracles.

A run writes its inputs from ``--seed`` under ``.perfbench_tmp/``,
times the Spark session set-up several times, runs one cold pass (the
first in a fresh session, which doubles as warm-up), then three timed
passes, and more while ``--seconds`` allows. Every op's answer is
checked; a failing op is logged and counted, and the run goes on.
With ``--trace 1`` one more pass runs with a span and a Spark job
group around every layer call, and the per-layer metrics are printed
instead of the end-to-end ones.
The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "distributed_mapreduce_p2p_spark"

SETUPS = 5
# Three: with two, the fastest run of an analytics query still moved
# by 10% between runs; with more, a run would not end in about a minute
# on a loaded host.
MIN_PASSES = 3

#: The gated end-to-end metrics (BENCHMARK.json), printed by a run with
#: ``--trace 0``. Every time is a ``workloads.Clock`` reading.
#: - setup_s: median of SETUPS session restarts, each with a first action
#: - cold_pass_s: the first pass in a fresh session
#: - pass_s: the sum of each op kind's fastest timed run
#: - op_geomean_s: the geometric mean of those fastest runs, so a cheap
#:   op's change counts as much as an expensive one's
END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
}

#: The workload-named metrics of the human-readable report, in order,
#: each with the END_TO_END metric that gates it in BENCHMARK.json.
NAMED = {
    "wordcount_replicate": {
        "wordcount_text_p50_s": "pass_s",
        "wordcount_text_tail_s": "pass_s",
        "wordcount_chunked_p50_s": "pass_s",
        "replicate_rows_per_s": "pass_s",
        "replicate_batch_p50_s": "op_geomean_s",
        "replicate_batch_tail_s": "op_geomean_s",
    },
    "analytics_mix": {
        "analytics_query_p50_s": "op_geomean_s",
        "analytics_query_tail_s": "pass_s",
        "analytics_pass_s": "pass_s",
        "analytics_cold_pass_s": "cold_pass_s",
    },
}

#: Per-layer metric -> (unit, the end-to-end metric it should move).
PER_LAYER = {
    "session.get_spark_ms": ("ms", "setup_s"),
    "sources.io.read_table.calls": ("count", "analytics_query_p50_s"),
    "sources.io.read_table.ms": ("ms", "analytics_query_p50_s"),
    "sources.io.read_table.jobs": ("count", "analytics_query_p50_s"),
    "registry.construct_ms": ("ms", "analytics_query_tail_s"),
    "registry.construct_jobs": ("count", "analytics_pass_s"),
    "spark.plan.analysis_ms": ("ms", "analytics_query_p50_s"),
    "spark.plan.optimization_ms": ("ms", "analytics_query_p50_s"),
    "spark.plan.planning_ms": ("ms", "analytics_query_p50_s"),
    "sources.text.scan_ms": ("ms", "wordcount_text_p50_s"),
    "sources.chunk.scan_ms": ("ms", "wordcount_chunked_p50_s"),
    "sources.chunk.executor_run_ms": ("ms", "wordcount_chunked_p50_s"),
    "operators.text.shuffle_write_bytes": ("bytes", "wordcount_text_p50_s"),
    "output.collect_write_ms": ("ms", "wordcount_text_p50_s"),
    "spark.exec.executor_cpu_ms": ("ms", "wordcount_text_p50_s"),
    "spark.exec.busy_ratio": ("ratio", "wordcount_text_p50_s"),
    "spark.exec.jobs": ("count", "op_geomean_s"),
    "spark.exec.stages": ("count", "op_geomean_s"),
    "spark.exec.tasks": ("count", "op_geomean_s"),
    "spark.exec.shuffle_read_bytes": ("bytes", "op_geomean_s"),
    "spark.exec.input_bytes": ("bytes", "op_geomean_s"),
    "spark.exec.spill_bytes": ("bytes", "op_geomean_s"),
    "streaming.replication.upsert_ms": ("ms", "replicate_rows_per_s"),
    "streaming.replication.commit_ms": ("ms", "replicate_batch_tail_s"),
    "streaming.replication.sink_bytes_written":
        ("bytes", "replicate_rows_per_s"),
    "streaming.replication.write_amplification":
        ("ratio", "replicate_batch_tail_s"),
    "streaming.progress.add_batch_ms": ("ms", "replicate_batch_p50_s"),
    "streaming.progress.wal_commit_ms": ("ms", "replicate_batch_p50_s"),
    "streaming.progress.commit_offsets_ms": ("ms", "replicate_batch_p50_s"),
    "trace.overhead_ratio": ("ratio", "pass_s"),
}


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}", flush=True)


def isolate(work: str) -> dict:
    """Point every scratch location of the run into ``work`` and make
    the repository importable here and on Python workers.
    Returns the Spark conf that goes with it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData") if p)
    sys.path.insert(0, ROOT)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def host_state(cores: int) -> dict:
    """nproc, $SPARK_GRAFT_CPUS and a short single-thread reading of
    tools/ambient_calib.py's fixed CPU workload."""
    state = {
        "nproc": len(os.sched_getaffinity(0)),
        "cores": cores,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "ambient_single_mbps": None,
    }
    path = os.path.join(ROOT, "tools", "ambient_calib.py")
    if os.path.exists(path):
        spec = importlib.util.spec_from_file_location("ambient_calib", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        state["ambient_single_mbps"] = max(mod._hash_mb(40) for _ in range(3))
    return state


def peak_rss_mb(spark) -> float:
    """Peak RSS of the Spark JVM plus this Python process."""
    pid = spark._jvm.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


class Session:
    """The Spark session, and the timing of its set-up."""

    def __init__(self, cores: int, conf: dict):
        from distributed_mapreduce_p2p_spark import session

        self.get_spark = session.get_spark
        self.cores, self.conf = cores, conf
        self.spark = None

    def start(self) -> float:
        """Stop any running session, start a new one and run a trivial
        action; returns the seconds it took, as a ``Clock`` reads them."""
        from workloads import Clock

        with Clock() as c:
            if self.spark is not None:
                self.spark.stop()
            self.spark = self.get_spark(app_name="perfbench",
                                        cores=self.cores,
                                        extra_conf=self.conf)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.range(1).count()
        return c.seconds

    def close(self) -> None:
        """Stop Spark, then end the JVM and wait until it has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        # the JVM exits when its stdin closes
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def fmt(value) -> str:
    if isinstance(value, float):
        return f"{value:.4g}"
    return str(value)


def run_workload(wl, sess: Session, args, work: str) -> dict:
    """Inputs, cold pass, timed passes and, with tracing, one traced
    pass of one workload. Returns its ops and metrics."""
    from spans import Tracer

    import gen
    import workloads

    d = os.path.join(work, wl.name)
    os.makedirs(d)
    t0 = time.perf_counter()
    inputs = wl.prepare(d, args.seed)
    log(f"{wl.name}: inputs {len(inputs)} files, "
        f"{sum(map(os.path.getsize, inputs))} bytes, "
        f"sha256[:16]={gen.digest(inputs)} "
        f"(seed {args.seed}, {time.perf_counter() - t0:.1f} s)")

    tracer = Tracer()
    tracer.bind(sess.spark)
    wl.start(sess.spark, tracer, sess.cores)
    cold = wl.run_pass()
    timed, t0 = [], time.perf_counter()
    # at least MIN_PASSES, then more only if it should end in --seconds
    while len(timed) < MIN_PASSES or (
            time.perf_counter() - t0 + timed[-1].wall <= args.seconds):
        timed.append(wl.run_pass())
    passes = [cold, *timed]
    log(f"{wl.name}: cold pass {cold.seconds:.3f} s; timed passes "
        + " ".join(f"{p.seconds:.3f}" for p in timed) + " s (wall "
        + " ".join(f"{p.wall:.3f}" for p in passes) + " s)")
    log(f"{wl.name}: samples " + json.dumps(
        [{"s": p.seconds, "wall": p.wall,
          "ops": {o.kind: o.seconds for o in p.ops}, **p.samples}
         for p in passes]))
    best = workloads.fastest(timed)
    out = {
        "passes": passes,
        "named": wl.headline(cold, timed),
        "end_to_end": {
            "cold_pass_s": cold.seconds,
            "pass_s": sum(best.values()),
            "op_geomean_s": workloads.geomean(best.values()),
        },
    }
    if args.trace:
        tracer.enabled = True
        traced = wl.run_pass()
        passes.append(traced)
        if hasattr(wl, "scan_probe"):
            wl.scan_probe()
        tracer.enabled = False
        layer = dict.fromkeys(PER_LAYER, 0)
        layer.update(wl.layers(tracer.spans, traced.seconds))
        untraced = statistics.median(p.seconds for p in timed)
        layer["trace.overhead_ratio"] = traced.seconds / untraced - 1
        out["per_layer"] = layer
        log(f"{wl.name}: {len(tracer.spans)} spans; traced pass "
            f"{traced.seconds:.3f} s vs untraced median {untraced:.3f} s")
    return out


def report(name: str, res: dict, trace: bool) -> None:
    """The human-readable table of one workload."""
    head = res["named"]
    if not trace:
        for key in NAMED[name]:
            val = head[key]
            if key.endswith("_tail_s"):
                kind = key.split("_")[1]
                n = head["_samples"][kind]
                note = (f"{val[0]} of {n} samples" if val else
                        f"n/a: {n} samples, a tail needs 20")
                val = val[1] if val else None
                print(f"  {key:<44} {fmt(val):>12} s     ({note})")
            else:
                unit = "rows/s" if key.endswith("_per_s") else "s"
                print(f"  {key:<44} {fmt(val):>12} {unit}")
        for key, val in res["end_to_end"].items():
            print(f"  {name}.{key:<{43 - len(name)}} {fmt(val):>12} "
                  f"{END_TO_END[key]}")
    else:
        gates = {m: f"{w} {g}" for w, ms in NAMED.items()
                 for m, g in ms.items()}
        for key, val in res["per_layer"].items():
            unit, moves = PER_LAYER[key]
            print(f"  {key:<44} {fmt(val):>12} {unit:<6} -> {moves} "
                  f"[{gates.get(moves, f'{name} {moves}')}]")


def bench(args, work: str) -> dict:
    import workloads

    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or len(
        os.sched_getaffinity(0))
    conf = isolate(work)
    log("host " + json.dumps(host_state(cores)))
    names = list(workloads.WORKLOADS) if args.workload == "all" else [
        args.workload]
    sess = Session(cores, conf)
    try:
        first = sess.start()
        setups = [sess.start() for _ in range(SETUPS)]
        log(f"setup: first launch {first:.3f} s, restarts "
            + " ".join(f"{s:.3f}" for s in setups))
        results = {}
        for i, name in enumerate(names):
            if i:
                sess.start()
            results[name] = run_workload(workloads.WORKLOADS[name](), sess,
                                         args, work)
        rss = peak_rss_mb(sess.spark)
    finally:
        sess.close()

    ops = [o for r in results.values() for p in r["passes"] for o in p.ops]
    failed = [o for o in ops if o.error]
    for o in failed:
        log(f"FAILED {o.kind}: {o.error}")
    print(f"  {'setup_s':<44} {fmt(statistics.median(setups)):>12} s")
    print(f"  {'ops_failed_ratio':<44} {fmt(len(failed) / len(ops)):>12} "
          f"ratio ({len(failed)} of {len(ops)} ops)")
    # printed, not a gated metric: the JVM's peak moves with GC timing
    print(f"  {'peak_rss_mb':<44} {fmt(rss):>12} MB")
    metrics = {}
    for name, res in results.items():
        report(name, res, bool(args.trace))
        if args.trace:
            vals = {k: (v, PER_LAYER[k][0])
                    for k, v in res["per_layer"].items()}
        else:
            vals = {k: (v, END_TO_END[k])
                    for k, v in res["end_to_end"].items()}
            vals["setup_s"] = (statistics.median(setups), "s")
        prefix = f"{name}." if len(results) > 1 else ""
        metrics.update({prefix + k: {"value": v, "unit": u}
                        for k, (v, u) in vals.items()})
    return {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["wordcount_replicate", "analytics_mix", "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: the engine package {PKG}/ is not next to "
              f"{os.path.basename(HERE)}/; run from a full checkout",
              file=sys.stderr)
        return 2
    # SIGTERM unwinds like an exception, so the finally below still
    # removes the run's files and ends the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench_tmp")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        result = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
