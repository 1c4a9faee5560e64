"""Simulate the grading driver exactly: import __spark_entry__ BY
PATH, build a VANILLA SparkSession (none of session.py's tuned confs
— the driver does not use our factory), run entry() plus the first
50 queries() entries at sf0.01, and compare each against its
oracle_sql() through the driver-faithful harness.

This is the last-mile fidelity check the tuned-session sweeps can't
give: default shuffle partitions (200), default broadcast threshold
(10 MB), default everything.

Usage: python tools/driver_sim.py [sf_dir] [--all]

``--all`` verifies EVERY oracle-backed queries() entry instead of the
first-50 window — the pre-rotation check that out-of-window queries
will go green when promoted into a future round's window.

Every run uses a foreign working directory: the process changes
into a fresh temp dir and drops ``PYTHONPATH`` before it imports
``__spark_entry__``, so a Python worker that needs the package on its
path fails here as it does for any consumer that imports the entry
file by path.

A query that leaves a stream in ``spark.streams.active`` is a FAIL
row (LEAK); the stream is stopped so the next query starts clean. A
query that changes the session conf is a FAIL row (CONF); the conf
is restored.
"""

from __future__ import annotations

import atexit
import importlib.util
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tests.oracle import compare, duck_con  # noqa: E402


def _restore_conf(spark, before: dict[str, str]) -> list[str]:
    """Reset the session conf to ``before``; returns the changed keys
    as ``key: old -> new`` (``None`` for unset)."""
    after = spark.conf.getAll
    diffs = []
    for k in sorted(set(before) | set(after)):
        old, new = before.get(k), after.get(k)
        if old == new:
            continue
        diffs.append(f"{k}: {old} -> {new}")
        if old is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, old)
    return diffs


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--all"]
    run_all = "--all" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    cwd = tempfile.mkdtemp(prefix="driver_sim_cwd_")
    atexit.register(shutil.rmtree, cwd, True)
    os.chdir(cwd)
    os.environ.pop("PYTHONPATH", None)
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", str(REPO / "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    n = mod.entry(spark).count()
    print(f"entry(): {n} rows", flush=True)
    assert n > 0

    qs, osql = mod.queries(), mod.oracle_sql()
    if sf_dir.rstrip("/") != "/root/testdata/sf0.01":
        # oracle_sql() renders DYNAMIC (generated expected-value)
        # oracles for the driver's fixed sf0.01; when sweeping another
        # SF, re-render just those for the SF under test.
        from distributed_mapreduce_p2p_spark import registry as _reg

        dyn = _reg.finalize_oracles(sf_dir)
        osql = dict(osql)
        osql.update({k: dyn[k] for k in _reg.DYNAMIC_ORACLES if k in dyn})
    window = [n for n in qs if n in osql] if run_all else list(qs)[:50]
    total = len(window)
    con = duck_con(sf_dir)
    bad = []
    for i, name in enumerate(window):
        t0 = time.time()
        conf = spark.conf.getAll
        try:
            issues = compare(qs[name](spark, sf_dir), con, osql[name], name)
        except Exception as e:
            issues = [f"{name}: EXC {type(e).__name__}: {e}"]
        # no query may leave a stream running into the next one
        leaked = spark.streams.active
        if leaked:
            issues.append(f"{name}: LEAK {len(leaked)} active stream(s)")
            for q in leaked:
                q.stop()
        # nor any session conf
        changed = _restore_conf(spark, conf)
        if changed:
            issues.append(f"{name}: CONF {'; '.join(changed)}")
        print(
            f"[{i + 1}/{total}] {'ok' if not issues else 'FAIL'} {name}"
            f" ({time.time() - t0:.1f}s)",
            flush=True,
        )
        bad.extend(issues)
    scope = "FULL-REGISTRY" if run_all else "window"
    print(
        f"\n{total - len(bad)}/{total} {scope} parity under VANILLA session"
    )
    for b in bad:
        print("  ", b)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
