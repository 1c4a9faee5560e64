"""The grading driver's exact consumption surface, pinned:

1. ``__spark_entry__.py`` imported BY PATH (not as a package member),
   driven with a vanilla session: entry() rows, queries()/oracle_sql()
   key discipline, and the first-50 verification window composition.
2. ``bench.py`` run as a subprocess: rc=0 and the one-line JSON
   contract ({metric, value, unit, queries, sf}).

These two files are executed blind by the driver each round — a break
here costs an entire round's CORRECTNESS/BENCH artifacts (round 2
lost both to one unguarded line in the events reader).
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_SMALL

REPO = Path(__file__).resolve().parent.parent


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry___test", str(REPO / "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_contract(spark):
    mod = _load_entry()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns, "entry() must return a stable schema"

    qs, osql = mod.queries(), mod.oracle_sql()
    assert set(osql) <= set(qs), "every oracle key must have a query"
    assert len(qs) >= 100
    # every query key is a callable of (spark, sf_dir)
    sample = next(iter(qs.values()))
    assert callable(sample)


def test_first_50_window_composition():
    """The driver verifies exactly the first 50 queries() entries;
    that window must contain every query whose plan/oracle changed
    since its last sampled row and every brand-new entry (the
    standing rule; round-11 window: the two r11-optimization plan
    changes, then the 48 OLDEST-driver-evidence refresh entries —
    last green rows r2-r4, all proven plan-stable by
    PLAN_SNAPSHOT.json / tools/plan_gate.py, regenerated by
    `python tools/next_window.py --changed simhash_pairs
    dedup_detector_agreement`). HEAD must be
    wordcount_chunked_source — its scan moved from a Python
    DataSource to the JVM text source after round 11, so its
    r7 green row describes a dead plan."""
    mod = _load_entry()
    head = list(mod.queries())[:50]
    assert head[0] == "wordcount_chunked_source"
    must_cover = {
        "wordcount_chunked_source",
        # plans changed after round 11: driver-side nation-graph loops
        "trade_graph_bfs_levels",
        "trade_graph_shortest_cost",
        "kcore_decomposition",
        "label_propagation_communities",
        "closeness_centrality",
        "truss_peel_rounds",
        # plan changed in the r11 OPTIMIZATION round (signature
        # checkpoint; the agreement report composes it)
        "simhash_pairs",
        "dedup_detector_agreement",
        # head and tail of the oldest-evidence refresh slice (r2 and
        # r4 ends) — pins that the refresh composition survived
        "grouping_sets_agg",
        "stats_moments",
        "cm_sketch_heavy_hitters",
        "range_filter",
        "minhash_lsh_pairs",
        "streaming_tumbling_window",
        "asof_join_merge_last_order",
    }
    missing = must_cover - set(head)
    assert not missing, f"driver window lost priority entries: {missing}"
    assert len(head) == len(set(head)) == 50


def test_harness_catches_hugeint_float_lowering(spark):
    """Regression fixture for the r3 ``json_props_stats`` red: DuckDB
    SUM(BIGINT) -> HUGEINT -> .df() float64 vs Spark int64. The old
    fetchall() harness called this parity; the driver hash-failed it.
    The driver-faithful harness MUST flag it."""
    from tests.oracle import compare
    import duckdb

    con = duckdb.connect()
    con.sql("CREATE VIEW t AS SELECT * FROM (VALUES (1), (2)) v(x)")
    sdf = spark.createDataFrame([(3,)], "sum_x long")
    issues = compare(sdf, con, "SELECT SUM(x) AS sum_x FROM t", "fixture")
    assert issues, (
        "harness must flag int64-vs-float64 dtype drift (HUGEINT "
        "lowering) — the driver's hash does"
    )
    con.close()


def test_harness_catches_list_columns(spark):
    """Regression fixture for the r3 ``array_agg_sorted`` err: a raw
    array<string> output column crashes the driver's pandas
    canonicalizer. The harness must surface it as an issue, not pass."""
    from tests.oracle import compare
    import duckdb

    con = duckdb.connect()
    sdf = spark.createDataFrame(
        [(1, ["a", "b"])], "k long, types array<string>"
    )
    issues = compare(
        sdf, con, "SELECT 1 AS k, ['a', 'b'] AS types", "fixture"
    )
    assert issues and "canonicalizer crash" in issues[0], (
        "harness must flag list-typed output columns — the driver "
        "crashes on them"
    )
    con.close()


def test_no_complex_output_columns(spark):
    """Registration-time guard: no queries() entry may emit an
    array/map/struct column — the driver's canonicalizer cannot hash
    them (r2 inverted_index, r3 array_agg_sorted). Schema-only check
    per query, but CONSTRUCTING a DataFrame executes the eager parts
    (loop checkpoints, streaming runs), so the full-registry sweep
    cost 250 s of the default suite (r11 budget gate). Default: the
    driver's first-50 window (where every changed/new entry lives —
    the risk class this guard exists for) plus any query NOT yet in
    the committed PLAN_SNAPSHOT.json (brand-new registrations);
    SPARK_GRAFT_FULL_SUITE=1 sweeps all."""
    from pyspark.sql import types as T

    from distributed_mapreduce_p2p_spark import registry

    if os.environ.get("SPARK_GRAFT_FULL_SUITE"):
        names = list(registry.QUERIES)
    else:
        snap = set(
            json.loads((REPO / "PLAN_SNAPSHOT.json").read_text())
        )
        window = set(list(_load_entry().queries())[:50])
        names = [
            n
            for n in registry.QUERIES
            if n in window or n not in snap
        ]

    bad = []
    for name in names:
        schema = registry.QUERIES[name](spark, SF_SMALL).schema
        for f in schema.fields:
            if isinstance(
                f.dataType, (T.ArrayType, T.MapType, T.StructType)
            ):
                bad.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not bad, f"complex output columns reach the driver: {bad}"


def test_bench_json_contract():
    """bench.py must exit 0 and print ONE parseable JSON line with
    the driver's expected keys; run at sf0.001 to keep it quick.

    Two modes (r11, the r10 verdict's gate item: the full-registry
    subprocess grew past the driver's pytest budget — 21-40+ min on
    an idle host depending on ambient, and VERIFY_r10 came back
    ``tests_ok: false`` on a suite that was green):

    - default: SPARK_GRAFT_BENCH_SUBSET=20 — the REAL bench script
      end to end (session, warmup, best-of-2 timing loop, job-count
      capture, reference head-to-heads, detail file, one-line JSON)
      over the 15 headline queries + 5, ~2 min. Every contract
      assertion below still runs; only the sweep breadth shrinks.
    - SPARK_GRAFT_FULL_SUITE=1 (the builder's round-close): the full
      registry sweep, exactly what the driver executes.
    """
    import tempfile

    full = bool(os.environ.get("SPARK_GRAFT_FULL_SUITE"))
    subset = 0 if full else 20
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_CPUS"] = "8"
    if subset:
        env["SPARK_GRAFT_BENCH_SUBSET"] = str(subset)
    else:
        env.pop("SPARK_GRAFT_BENCH_SUBSET", None)
    # Redirect the detail file: this toy-SF run must not clobber the
    # round's committed sf0.1 BENCH_DETAIL.json.
    detail_tmp = tempfile.mktemp(prefix="bench_detail_", suffix=".json")
    env["SPARK_GRAFT_BENCH_DETAIL"] = detail_tmp
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        capture_output=True,
        text=True,
        # 1200s flaked at r10-opt open (~21 min on an idle host) and
        # the bumped 2400s flaked AGAIN later in the same round
        # (>40 min, still idle — ambient throughput halved between
        # the two sessions with zero code change; the same drift is
        # documented at the r8/r9 closes). The timeout is a hang
        # guard, not a perf bar — the perf bar is the driver's sf0.1
        # bench — so keep it far above the worst observed idle run.
        # The default path's 20-query subset needs a fraction of it.
        timeout=5400,
        env=env,
        cwd=str(REPO),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    if subset:
        assert "SPARK_GRAFT_BENCH_SUBSET" in proc.stderr  # loud banner
    line = proc.stdout.strip().splitlines()[-1]
    # The driver stores a bounded tail of stdout: the summary line
    # must stay small or the round's BENCH artifact parses as null.
    assert len(line) < 1500, f"summary line too long ({len(line)}B)"
    d = json.loads(line)
    assert set(d) >= {"metric", "value", "unit", "queries", "sf"}
    assert d["unit"] == "sec" and d["value"] > 0
    assert 0 < len(d["queries"]) <= 10
    assert d["n_queries"] >= (100 if full else subset)
    assert d["n_failed"] == 0, proc.stderr[-3000:]
    assert all(isinstance(v, (int, float)) for v in d["queries"].values())
    from pathlib import Path

    detail = json.loads(Path(detail_tmp).read_text())
    assert len(detail["queries"]) >= (100 if full else subset)
    assert abs(detail["value"] - d["value"]) < 1e-6
    # r11 additions-only detail contract: per-query job counts of the
    # best rep ride beside the seconds (ambient-noise-immune evidence
    # for the loop-query job-shape optimizations).
    assert set(detail["jobs"]) <= set(detail["queries"])
    assert len(detail["jobs"]) >= (100 if full else subset)
    assert all(
        isinstance(v, int) and v >= 0 for v in detail["jobs"].values()
    )
    assert detail["errors"] == {}


def _bench_module():
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_isolates_a_failing_query(spark, capsys):
    """One raising query is reported loudly and costs only its own
    row; the queries around it are still timed."""
    def boom(spark, sf_dir):
        raise RuntimeError("boom\nsecond line")

    queries = {
        "first": lambda spark, sf_dir: spark.range(3),
        "bad": boom,
        "last": lambda spark, sf_dir: spark.range(5),
    }
    timings, jobs, errors = _bench_module().time_queries(
        spark, SF_SMALL, list(queries), queries
    )
    assert set(timings) == set(jobs) == {"first", "last"}
    assert errors == {"bad": "RuntimeError: boom"}
    assert "bench: FAILED bad: RuntimeError: boom\n" in capsys.readouterr().err
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_bench_survives_an_unreadable_table(tmp_path):
    """bench.py end to end over a copy of sf0.001 whose
    ``documents.parquet`` is truncated: the warmup and the two word
    counts that read it fail loudly, the next query is still timed and
    the artifact is written."""
    import shutil

    sf = tmp_path / "sf0.001"
    sf.mkdir()
    for f in Path(SF_SMALL).iterdir():
        shutil.copyfile(f, sf / f.name)
    docs = sf / "documents.parquet"
    docs.write_bytes(docs.read_bytes()[: docs.stat().st_size // 2])
    detail_path = tmp_path / "detail.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=str(sf),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_BENCH_SUBSET="3",
        SPARK_GRAFT_BENCH_DETAIL=str(detail_path),
    )
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        capture_output=True, text=True, timeout=900, env=env,
        cwd=str(REPO),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "bench: FAILED warmup: " in proc.stderr
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["n_failed"] == 2
    detail = json.loads(detail_path.read_text())
    assert set(detail["errors"]) == {"wordcount", "wordcount_topk"}
    assert set(detail["queries"]) == {"agg_pricing"}


def test_bench_regress_reports_job_count_changes():
    """tools/bench_regress.py lists each shared query whose job count
    rose or fell, most-fallen last, and the job totals over the queries
    both detail files count."""
    spec = importlib.util.spec_from_file_location(
        "bench_regress", REPO / "tools" / "bench_regress.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    prev = {"jobs": {"a": 3, "b": 5, "c": 2, "gone": 9}}
    cur = {"jobs": {"a": 1, "b": 6, "c": 2, "new": 4}}
    lines, summary = mod.job_lines(prev, cur)
    assert summary == "jobs 10 -> 9 over 3 shared queries (1 rose, 1 fell)"
    assert lines[-3:] == ["| b | 5 | 6 | +1 |", "| a | 3 | 1 | -2 |", ""]
    assert not any(l.startswith(("| c |", "| gone |", "| new |")) for l in lines)
    assert mod.job_lines({"queries": {}}, cur)[1] == "no job counts"


def test_bench_flags_a_truncated_job_count(spark, capsys, monkeypatch):
    from pyspark.status import StatusTracker

    monkeypatch.setattr(StatusTracker, "getJobIdsForGroup",
                        lambda self, group=None: list(range(1000)))
    queries = {"q": lambda spark, sf_dir: spark.range(3)}
    timings, jobs, errors = _bench_module().time_queries(
        spark, SF_SMALL, ["q"], queries
    )
    assert "q" in timings and jobs == {"q": 1000}
    assert "spark.ui.retainedJobs=1000" in errors["q"]
    assert "bench: WARNING q: job count truncated" in capsys.readouterr().err


def test_coverage_doc_names_exist_in_registry():
    """Doc-rot guard: every backticked snake_case `name` in
    COVERAGE.md must be a registered queries() entry OR a real
    attribute of a package module (helper functions are mentioned by
    name too) — docs can't drift ahead of the code."""
    import re

    from distributed_mapreduce_p2p_spark import registry
    from distributed_mapreduce_p2p_spark.operators import (
        dedup,
        graph,
        multimodal,
        partitioning,
        relational,
        similarity,
        text,
        textstats,
    )
    from distributed_mapreduce_p2p_spark.sources import io as src_io
    from distributed_mapreduce_p2p_spark.streaming import (
        replication,
        windows,
    )
    from distributed_mapreduce_p2p_spark.functions import udfs

    modules = [
        dedup, graph, multimodal, partitioning, relational, similarity,
        text, textstats, src_io, replication, windows, udfs, registry,
    ]

    def known(n):
        if n in registry.QUERIES:
            return True
        return any(hasattr(m, n) for m in modules)

    doc = open("/root/repo/COVERAGE.md").read()
    names = {
        n
        for n in re.findall(r"`([a-z][a-z0-9_]+)`", doc)
        if "_" in n and "." not in n
    }
    missing = sorted(n for n in names if not known(n))
    assert not missing, f"COVERAGE.md names not in code: {missing}"


def test_plan_snapshot_baseline_structure():
    """The committed plan-identity baseline (PLAN_SNAPSHOT.json,
    written by `tools/plan_gate.py refresh` at every round close —
    the r10 standing gate) must exist, parse, and contain only
    CURRENTLY registered query names: a renamed or deleted query
    whose old snapshot key lingers would make the gate's GONE check
    fire forever. Additions mid-round are allowed to be absent here
    (the gate reports them as NEW and requires them windowed; the
    close-checklist refresh re-syncs the file), so this asserts
    subset, not equality."""
    import json
    from pathlib import Path

    from distributed_mapreduce_p2p_spark import registry

    p = Path(__file__).resolve().parent.parent / "PLAN_SNAPSHOT.json"
    assert p.exists(), (
        "PLAN_SNAPSHOT.json missing — run `python tools/plan_gate.py "
        "refresh` and commit it (the r10 plan-identity close gate's "
        "baseline)"
    )
    snap = json.loads(p.read_text())
    assert isinstance(snap, dict) and len(snap) >= 350
    stale = sorted(set(snap) - set(registry.QUERIES))
    assert not stale, (
        f"PLAN_SNAPSHOT.json keys not registered (rename/delete "
        f"without refresh): {stale}"
    )
    # every plan entry is a non-empty normalized plan string, never a
    # silent planning error
    errs = sorted(
        n for n, v in snap.items()
        if not isinstance(v, str) or not v or v.startswith("PLAN ERROR")
    )
    assert not errs, f"baseline contains failed plans: {errs}"


def test_chunked_source_query_from_foreign_cwd(tmp_path):
    """``wordcount_chunked_source`` as the contract's consumer runs it:
    a fresh process in a foreign working directory, ``PYTHONPATH``
    unset, ``__spark_entry__`` imported by path and a vanilla session.
    A Python worker would not find the package there, so the scan
    must run in the JVM to match its oracle."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    code = (
        "import importlib.util, sys\n"
        "spec = importlib.util.spec_from_file_location(\n"
        f"    '__spark_entry__', {str(REPO / '__spark_entry__.py')!r})\n"
        "mod = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(mod)\n"
        "from pyspark.sql import SparkSession\n"
        "from tests.oracle import compare, duck_con\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .config('spark.driver.memory', '1g')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "name = 'wordcount_chunked_source'\n"
        f"df = mod.queries()[name](spark, {SF_SMALL!r})\n"
        f"bad = compare(df, duck_con({SF_SMALL!r}), "
        "mod.oracle_sql()[name], name)\n"
        "print(bad)\n"
        "sys.exit(1 if bad else 0)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", code],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, (r.stdout + r.stderr)[-3000:]


def test_chunked_source_query_is_one_jvm_scan(spark, monkeypatch):
    """The query's scan runs one task per 65536-byte grid range of the
    staged corpus, no plan it executes holds a Python node, and the
    split size does not outlive the call."""
    import math
    import uuid

    from distributed_mapreduce_p2p_spark import registry

    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    DataFrame = type(spark.range(1))  # the session's concrete class
    executed, real_checkpoint = [], DataFrame.localCheckpoint

    def local_checkpoint(self, *a, **kw):
        executed.append(self)
        return real_checkpoint(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "localCheckpoint", local_checkpoint)
    # stage the corpus outside the counted group
    corpus = registry._stage_corpus_txt(spark, SF_SMALL)  # noqa: SLF001
    sc = spark.sparkContext
    group = f"chunked-source-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df = registry.QUERIES["wordcount_chunked_source"](spark, SF_SMALL)
        df.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    assert spark.conf.get(key) == prev
    tracker = sc.statusTracker()
    tasks = sorted(
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    )
    grid = math.ceil(os.path.getsize(corpus) / 65536)
    assert grid > 1 and grid in tasks, (grid, tasks)

    plans = [
        d._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        for d in [*executed, df]
    ]
    assert len(plans) == 2
    assert "FileScan text" in plans[0], plans[0]
    for plan in plans:
        for node in ("BatchScan", "Python", "ArrowEvalPython"):
            assert node not in plan, plan
