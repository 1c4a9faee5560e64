"""Round-11 optimization mechanism pins (OPTIMIZATION_r11.md).

Like test_r10_opt.py these pin the MECHANISM of each r11 change —
classifier behavior, source shapes, contract additions — so a later
edit that silently undoes an optimization (or reopens an audited
hazard class) fails here, not in a 100 TB run.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO / "tools") not in sys.path:
    sys.path.insert(0, str(REPO / "tools"))


# ------------------------------------------------------ verdict item 6
# Unpartitioned-window SOURCE audit: the classifier must catch every
# spec shape that creates a partition-less window (including the
# zero-arg Window.partitionBy() form the hits normalizer uses, which
# the r10 returned-plan audit could never see because it executes
# inside an eager loop checkpoint) and must NOT flag partitioned
# specs.

SYNTH = '''
from pyspark.sql import Window
from pyspark.sql import functions as F

def flagged_order():
    return Window.orderBy("x")

def flagged_frame():
    w = Window.rowsBetween(Window.unboundedPreceding, 0)
    return w

def flagged_range():
    return Window.rangeBetween(-1, 1)

def flagged_empty_pb():
    return F.max("raw").over(Window.partitionBy())

def ok_partitioned():
    return Window.partitionBy("k").orderBy("x")

def ok_partitioned_frame():
    return Window.partitionBy("k").rowsBetween(-1, 0)

def ok_chained_var(w):
    # extending an (elsewhere-partitioned) spec variable is not a
    # creation site — the base Window. call is what gets classified
    return w.orderBy("x")
'''


def test_window_source_classifier_pins():
    from audit_window_sources import (
        sql_over_empty_sites,
        unpartitioned_window_sites,
    )

    sites = unpartitioned_window_sites(SYNTH, "synth.py")
    funcs = sorted(fn for _, fn, _ in sites)
    assert funcs == [
        "flagged_empty_pb",
        "flagged_frame",
        "flagged_order",
        "flagged_range",
    ], f"classifier drift: {sites}"

    # nested creation (a Window. call inside an .over()) is caught
    assert any(fn == "flagged_empty_pb" for _, fn, _ in sites)

    # SQL-string OVER () scan: catches the AST-invisible shape
    sql = 'df.selectExpr("max(x) OVER () AS m")\n'
    assert sql_over_empty_sites(sql) == [1]
    assert sql_over_empty_sites(
        'df.selectExpr("max(x) OVER (PARTITION BY k) AS m")\n'
    ) == []


# ------------------------------------------------------ verdict item 5
# simhash_pairs signature checkpoint: the banded candidate join must
# consume the checkpointed (doc_id, simhash) table on BOTH sides —
# one fact-pipeline execution per action instead of two (probe +
# broadcast build re-running the corpus scan → token explode → two
# exchanges). dedup_detector_agreement composes this detector, so the
# same pin protects its plan.


def test_simhash_pairs_reads_checkpointed_signatures(spark):
    import re

    from distributed_mapreduce_p2p_spark import registry
    from distributed_mapreduce_p2p_spark.plans.explain import explain_str

    SF_SMALL = "/root/testdata/sf0.001"
    plan = explain_str(registry.QUERIES["simhash_pairs"](spark, SF_SMALL))
    assert "Scan parquet" not in plan and "FileScan" not in plan, (
        "simhash_pairs' returned plan re-grew a fact scan — the "
        "signature checkpoint (dedup.py::simhash_pairs) was dropped"
    )
    rdd_ids = re.findall(r"MapPartitionsRDD\[(\d+)\]", plan)
    assert len(rdd_ids) >= 2 and len(set(rdd_ids)) == 1, (
        f"both candidate-join sides must read the SAME checkpointed "
        f"signature RDD; saw ids {rdd_ids}"
    )


def test_window_source_audit_is_green():
    """The package's unpartitioned-window source sites are a CLOSED,
    adjudicated set: every site whitelisted with a structural bound,
    no stale rows, no SQL-string windows. Pure AST — no Spark, and
    the write-free sweep leaves the committed report untouched."""
    from audit_window_sources import sweep

    report = REPO / "AUDIT_WINDOW_SOURCES.md"
    before = report.read_bytes()
    rows, bad, n_sites, _ = sweep()
    assert not bad, bad
    assert rows and n_sites >= len(rows)
    assert f"**{n_sites} sites in " in before.decode()
    assert report.read_bytes() == before
