"""Round-10 OPTIMIZATION pass pins.

Three queries changed internals this round (results proven identical
against the DuckDB oracle at all three fixture SFs; see
OPTIMIZATION_r10.md):

- ``pca_power_iteration``: the per-round fact-scale r/u subplan is
  localCheckpointed BEFORE the max-abs normalizer attach, so it
  executes once per round instead of twice (broadcast build + v
  checkpoint each re-ran it). Measured −42% at sf0.1.
- ``boilerplate_ngrams``: within-doc gram dedup moved map-side
  (``array_distinct`` before the explode) — valid because doc_id is
  unique per input row — dropping the (doc_id, source, g) distinct
  exchange.
- ``markov_absorption``: the 3-row ``states`` distinct is
  checkpointed once instead of re-executing inside all 16 rounds.

These tests pin the MECHANISMS so a refactor that silently reverts
one fails loudly, not just slowly.
"""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import functions as F

from distributed_mapreduce_p2p_spark import registry
from distributed_mapreduce_p2p_spark.plans.explain import explain_str

REPO = Path(__file__).resolve().parent.parent
SF_SMALL = "/root/testdata/sf0.001"


def test_boilerplate_mapside_dedup_equals_explode_distinct(spark):
    """The map-side form (array_distinct before explode) must produce
    exactly the multiset the old explode-then-distinct form produced,
    including the edge cases: a gram repeated WITHIN one doc counts
    once, the same gram across docs counts per doc, and short texts
    produce no grams. Synthetic corpus, both pipelines side by side."""
    rows = [
        # doc 1: 8 tokens -> two 7-grams, crafted so the SAME gram
        # appears twice inside the doc (tokens all identical).
        (1, "s1", "x x x x x x x x"),
        # doc 2: same gram as doc 1's (cross-doc df=2 for 'x'*7)
        (2, "s1", "x x x x x x x"),
        # doc 3: distinct gram, different source
        (3, "s2", "a b c d e f g"),
        # doc 4: too short for a 7-gram
        (4, "s2", "a b c"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    gram_arr = (
        "CASE WHEN size(split(text, ' ')) >= 7 THEN"
        " transform(sequence(1, size(split(text, ' ')) - 6),"
        "   i -> concat_ws(' ', slice(split(text, ' '), i, 7)))"
        " ELSE array() END"
    )
    old = (
        d.select("doc_id", "source", F.explode(F.expr(gram_arr)).alias("g"))
        .distinct()
        .groupBy("source", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
    )
    new = (
        d.select(
            "source",
            F.explode(F.expr(f"array_distinct({gram_arr})")).alias("g"),
        )
        .groupBy("source", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
    )
    old_rows = sorted(tuple(r) for r in old.collect())
    new_rows = sorted(tuple(r) for r in new.collect())
    assert old_rows == new_rows
    # and the within-doc repeat really was collapsed: doc 1 has two
    # identical grams, so 'x'*7 has doc_freq 2 (docs 1+2), not 3.
    x7 = " ".join(["x"] * 7)
    assert (("s1", x7, 2) in new_rows), new_rows


def test_boilerplate_plan_single_gram_exchange(spark):
    """The gram path must plan exactly ONE Exchange before the
    per-source top-5 window (the doc-freq groupBy with map-side
    partial counts) — the former explicit .distinct() exchange is
    gone, and doc_id is pruned from the parquet scan."""
    plan = explain_str(registry.QUERIES["boilerplate_ngrams"](spark, SF_SMALL))
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 2, plan  # gram groupBy + per-source window
    assert "array_distinct" in plan
    read_schemas = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ]
    assert read_schemas and all("doc_id" not in s for s in read_schemas), (
        read_schemas
    )


def test_pca_returned_plan_reads_checkpointed_state(spark):
    """The returned plan must be the 1-row max-abs normalizer attach
    over the CHECKPOINTED 64-row iterate — two ExistingRDD scans of
    the same checkpoint and no fact-scale operator. If the per-round
    checkpoint on u is dropped, the full recursive r/u subplan
    (parquet scans + posexplode + joins) reappears here and this
    fails."""
    plan = explain_str(
        registry.QUERIES["pca_power_iteration"](spark, SF_SMALL)
    )
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)) == 2, plan
    assert "Scan parquet" not in plan
    assert "Generate" not in plan  # no posexplode in the final plan
    assert "BroadcastExchange" in plan  # the 1-row mx attach


def test_markov_absorption_states_checkpointed_once():
    """Source-level pin (the returned plan cannot show loop
    internals — every round ends in an eager localCheckpoint): the
    ``states`` distinct must be checkpointed BEFORE the 16-round
    loop, not recomputed per round."""
    src = (
        REPO / "distributed_mapreduce_p2p_spark" / "registry.py"
    ).read_text()
    body = src.split("def q_markov_absorption(", 1)[1].split("\ndef ", 1)[0]
    m = re.search(
        r"states = \(\s*\n\s*pmat\.select\(F\.col\(\"src\"\)\.alias\(\"t\"\)\)"
        r"\s*\n\s*\.distinct\(\)\s*\n\s*\.localCheckpoint\(eager=True\)",
        body,
    )
    assert m, "states distinct is no longer checkpointed before the loop"
    assert body.index("localCheckpoint") < body.index("for _ in range"), (
        "states checkpoint must precede the iteration loop"
    )


# ---------------------------------------------------------------------
# Second pass: the bounded-state conf scope (see _bounded_state_conf).

#: Queries whose bounded-state sections must run under the scope —
#: each was measured individually (numbers at the call sites and in
#: OPTIMIZATION_r10.md). trade_graph_components measured the scope
#: and REJECTED it (adjudicated at its call site), so it is absent.
#: kcore_decomposition, label_propagation_communities and
#: closeness_centrality no longer loop in Spark: their rounds run on
#: the driver in operators/graph.py (pinned by tests/test_graph.py).
SCOPED_LOOP_QUERIES = [
    "q_markov_stationary",
    "q_markov_absorption",
    "q_hits_hubs_authorities",
    "q_trade_graph_shortest_cost",
    "q_trade_graph_bfs_levels",
    "q_ipf_raking",
]


def _body(fn_name: str) -> str:
    src = (
        REPO / "distributed_mapreduce_p2p_spark" / "registry.py"
    ).read_text()
    return src.split(f"def {fn_name}(", 1)[1].split("\ndef ", 1)[0]


def test_bounded_state_scope_applied():
    """Source-level pin: every adjudicated bounded-state loop query
    enters _bounded_state_conf (a refactor that silently drops the
    scope reverts the measured job-count wins), and the REJECTED
    site (trade_graph_components) stays out."""
    for fn in SCOPED_LOOP_QUERIES:
        assert "with _bounded_state_conf(spark):" in _body(fn), fn
    assert "_bounded_state_conf" not in _body("q_trade_graph_components")


def test_bounded_state_scope_restores_session_conf(spark):
    """The scope must not leak: constructing a scoped query (which
    runs its eager loop actions under AQE-off / 1 shuffle partition)
    must leave the ambient session conf untouched — the returned
    lineage and every other query must plan under ambient conf."""
    before = (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"),
    )
    df = registry.QUERIES["markov_stationary"](spark, SF_SMALL)
    after = (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"),
    )
    assert before == after, (before, after)
    # and the returned lineage is the checkpoint-backed select: no
    # Exchange, no parquet scan — the loop ran at construction time.
    plan = explain_str(df)
    assert "Scan ExistingRDD" in plan and "Exchange" not in plan, plan
