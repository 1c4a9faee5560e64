#!/usr/bin/env python
"""SOURCE-level sweep of every unpartitioned-window SPEC the package
constructs — the r10 verdict's item 6, closing the one gap the
returned-plan audit (tools/audit_plans.py) structurally cannot:
windows executed INSIDE eager loop bodies (per-round normalizers,
checkpointed intermediates) never appear in any returned plan, so a
fact-scale single-partition window there would ship invisible to the
plan sweep — while the driver's stdout fills with
``WARN WindowExec: No Partition Defined``.

Classifier (unit-pinned in tests/test_r11_opt.py): a window spec is
UNPARTITIONED when it is created by
  - ``Window.orderBy(...)`` / ``Window.rowsBetween(...)`` /
    ``Window.rangeBetween(...)`` (order/frame with no partition), or
  - ``Window.partitionBy()`` with ZERO arguments (the explicit
    single-partition form, e.g. the hits window-max normalizer).
Chained specs (``Window.orderBy(..).rowsBetween(..)``) are counted
once at the base ``Window.`` call. SQL-string ``OVER ()`` windows
would evade an AST sweep; a string scan asserts the package has none
(it doesn't — every window is built through the Window API).

Every site must appear in ALLOWED below, keyed (file, function),
with a structural boundedness reason — the same standard as the plan
audit's WINDOW_WHITELIST (which still self-verifies the subset of
these that reach returned plans: Aggregate/TakeOrdered in the input
subtree). A new site, or a stale whitelist row, fails the sweep.

Run from the repo root: python tools/audit_window_sources.py
"""

from __future__ import annotations

import ast
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "distributed_mapreduce_p2p_spark"

#: (file relative to package, enclosing function) -> (expected site
#: count, structural boundedness reason). Counts make deletions and
#: additions both visible.
ALLOWED: dict[tuple[str, str], tuple[int, str]] = {
    ("operators/relational.py", "with_row_number"): (
        1,
        "documented single-partition demo (wordcount_numbered's "
        "reference-faithful twin; plan-audit whitelisted, the "
        "scalable path is numbered_result_scalable)",
    ),
    ("operators/relational.py", "detect_gaps"): (
        1,
        "per-partition max offset roll-up over n_parts rows (_pid "
        "two-phase pattern, auto-allowed by the plan audit)",
    ),
    ("operators/relational.py", "global_rank_scalable"): (
        1,
        "per-partition count offset roll-up over n_parts rows (_pid "
        "two-phase pattern)",
    ),
    ("operators/relational.py", "global_cumsum"): (
        2,
        "per-partition sum offset roll-up over n_parts rows (_psum "
        "two-phase pattern; both the offset window and its frame)",
    ),
    ("operators/text.py", "numbered_result"): (
        1,
        "documented reference-faithful demo (26k-row wordcount "
        "result; plan-pinned contrast with the scalable twin)",
    ),
    ("operators/text.py", "numbered_result_scalable"): (
        1,
        "per-partition count offset roll-up over pid rows (two-phase "
        "pattern)",
    ),
    ("registry.py", "q_pagerank_parts"): (
        1,
        "rank attach over TakeOrdered(limit=20) output",
    ),
    ("registry.py", "q_weekly_growth"): (
        1,
        "calendar-bounded week-cell series",
    ),
    ("registry.py", "q_bm25_scores"): (
        1,
        "rank attach over TakeOrdered(limit=k) df-probe output",
    ),
    ("registry.py", "q_event_path_topk"): (
        1,
        "rank attach over TakeOrdered(limit=k) path output",
    ),
    ("registry.py", "q_cumulative_distinct_users"): (
        1,
        "calendar-bounded day-cell series",
    ),
    ("registry.py", "q_cusum_changepoint"): (
        1,
        "calendar-bounded day-cell series",
    ),
    ("registry.py", "q_key_skew_report"): (
        1,
        "rank attach over TakeOrdered(limit=10) top-key output",
    ),
    ("registry.py", "q_trade_graph_shortest_cost"): (
        1,
        "seed pick over the <=|nations|^2=625-row bilateral "
        "aggregate (graph-family bounded state)",
    ),
    ("registry.py", "q_cart_root_split"): (
        1,
        "bounded model grid (features x thresholds) best-split "
        "argmax",
    ),
    ("registry.py", "q_log_rank_test"): (
        1,
        "calendar-bounded month-cell table (<= months x 2 cohorts)",
    ),
    ("registry.py", "q_cart_tree_depth2"): (
        1,
        "bounded model grid root-split argmax (features x "
        "thresholds; the depth-1 window is partitioned by node)",
    ),
    ("registry.py", "q_gains_table_deciles"): (
        2,
        "10-row decile cell table (cumulative + total frames; ranks "
        "come from global_cumsum)",
    ),
    ("registry.py", "q_vocab_coverage_curve"): (
        1,
        "rank attach over TakeOrdered(limit=250) top-vocab slice",
    ),
    ("registry.py", "q_churn_hazard_by_tenure"): (
        2,
        "tenure-month cells (bounded by max account age in months; "
        "cumulative + total frames)",
    ),
    ("registry.py", "q_isotonic_regression_monthly"): (
        2,
        "calendar-bounded month-cell table (PAVA intervals over "
        "<=~84 cells)",
    ),
    ("registry.py", "q_als_rank1_scores"): (
        1,
        "rank attach over TakeOrdered(limit=k) item output",
    ),
    ("registry.py", "q_mixture_reweight"): (
        1,
        "post-agg bucket table (sources x langs cells; empty-frame "
        "window beats agg+crossJoin here, see docstring)",
    ),
    ("registry.py", "q_temperature_mixture"): (
        1,
        "post-agg |sources|-row bucket table (the mixture_reweight "
        "convention)",
    ),
    # The loop-internal class this audit exists for: executed inside
    # eager checkpoints, never visible in any returned plan.
    ("registry.py", "_step"): (
        1,
        "hits_hubs_authorities per-half-round window-max normalizer "
        "over the <=|nations|=25-row state, executed inside "
        "_bounded_state_conf's single partition (r10 optimization; "
        "scale-independent by the nation bound)",
    ),
}

UNPARTITIONED_ATTRS = ("orderBy", "rowsBetween", "rangeBetween")


def unpartitioned_window_sites(
    source: str, rel: str
) -> list[tuple[str, str, int]]:
    """All (file, enclosing function, lineno) sites in ``source``
    that CREATE an unpartitioned window spec: ``Window.<order/frame>``
    base calls and zero-argument ``Window.partitionBy()``."""
    tree = ast.parse(source)
    sites: list[tuple[str, str, int]] = []

    def walk(node: ast.AST, fname: str) -> None:
        for child in ast.iter_child_nodes(node):
            nf = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else fname
            )
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and isinstance(child.func.value, ast.Name)
                and child.func.value.id == "Window"
            ):
                attr = child.func.attr
                if attr in UNPARTITIONED_ATTRS or (
                    attr == "partitionBy"
                    and not child.args
                    and not child.keywords
                ):
                    sites.append((rel, nf, child.lineno))
            walk(child, nf)

    walk(tree, "<module>")
    return sites


SQL_OVER = re.compile(r"""["'][^"']*\bOVER\s*\(\s*\)""", re.IGNORECASE)


def sql_over_empty_sites(source: str) -> list[int]:
    """Line numbers of SQL-string ``OVER ()`` windows (the shape an
    AST sweep cannot see; must stay empty in this package)."""
    return [
        i
        for i, line in enumerate(source.splitlines(), 1)
        if SQL_OVER.search(line)
    ]


def sweep() -> tuple[list[tuple[str, str, str, str]], list[str], int, int]:
    """Classify every source site against ALLOWED, writing nothing:
    (report rows, flag messages, site count, function count)."""
    found: dict[tuple[str, str], list[int]] = {}
    sql_sites: list[tuple[str, int]] = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        src = path.read_text()
        for f, fn, ln in unpartitioned_window_sites(src, rel):
            found.setdefault((f, fn), []).append(ln)
        for ln in sql_over_empty_sites(src):
            sql_sites.append((rel, ln))

    bad: list[str] = []
    rows: list[tuple[str, str, str, str]] = []
    for key in sorted(found):
        lines = found[key]
        if key not in ALLOWED:
            bad.append(f"NEW unpartitioned-window site {key} @ {lines}")
            rows.append((*key, str(lines), "FLAGGED — new site, adjudicate"))
            continue
        n, reason = ALLOWED[key]
        if len(lines) != n:
            bad.append(
                f"site count drift at {key}: found {len(lines)} @ {lines},"
                f" whitelisted {n}"
            )
            rows.append((*key, str(lines), f"FLAGGED — count {len(lines)} != {n}"))
        else:
            rows.append((*key, str(lines), f"ok: {reason}"))
    for key in sorted(set(ALLOWED) - set(found)):
        bad.append(f"STALE whitelist row {key} (no matching site)")
        rows.append((*key, "-", "FLAGGED — stale whitelist row"))
    for rel, ln in sql_sites:
        bad.append(f"SQL-string OVER () window at {rel}:{ln}")
        rows.append((rel, "<sql>", str(ln), "FLAGGED — SQL OVER () evades AST"))
    return rows, bad, sum(len(v) for v in found.values()), len(found)


def main() -> None:
    rows, bad, n_sites, n_funcs = sweep()
    out = [
        "# AUDIT — unpartitioned-window SOURCE sites (closed set)",
        "",
        "Generated by `tools/audit_window_sources.py` (r11, verdict",
        "item 6). Every `Window.orderBy/rowsBetween/rangeBetween` and",
        "zero-arg `Window.partitionBy()` spec the package constructs,",
        "keyed by enclosing function, each with a structural",
        "boundedness reason. This complements the returned-plan sweep",
        "in AUDIT.md: loop-internal windows (executed inside eager",
        "checkpoints) never reach a returned plan, so only a source",
        "sweep can keep that class closed.",
        "",
        "| file | function | lines | status |",
        "|---|---|---|---|",
    ]
    out += [f"| {f} | {fn} | {ls} | {st} |" for f, fn, ls, st in rows]
    out += [
        "",
        f"**{n_sites} sites in {n_funcs} functions; "
        f"{len(bad)} flagged"
        f"{': ' + '; '.join(bad) if bad else ''}.**",
        "",
    ]
    (REPO / "AUDIT_WINDOW_SOURCES.md").write_text("\n".join(out))
    print(
        f"wrote AUDIT_WINDOW_SOURCES.md ({n_sites} sites, "
        f"{len(bad)} flagged)"
    )
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
