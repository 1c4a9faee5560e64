#!/usr/bin/env python
"""Per-query bench regression gate.

Diffs the current BENCH_DETAIL.json against a previous detail file
(default BENCH_DETAIL.prev.json, which bench.py snapshots before each
run; any two detail files can be compared explicitly) and writes
BENCH_REGRESSIONS.md listing every query that got more than
``THRESH``x slower while costing more than ``MIN_SEC`` in either run.

Rounds 2-4 each shipped silent per-query outliers that only the
judge's manual diff caught (r4: trade_graph_triangles +56%,
tpch_q7 +63%); this makes them self-reporting at round close.

It also lists every shared query whose Spark job count (the detail
file's ``"jobs"`` key) rose or fell, with the job totals before and
after. Job counts are deterministic where seconds are noisy, so they
show a changed job shape that host load can neither fake nor hide.

Usage:
    python tools/bench_regress.py [prev.json [cur.json]]

Exit code is 0 even when regressions exist — the gate REPORTS (the
driver must still record the bench artifact); treating a regression
as fatal is the round-close reviewer's call, not the harness's.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
THRESH = 1.3
MIN_SEC = 0.5


def job_lines(prev: dict, cur: dict) -> tuple[list[str], str]:
    """The report's job-count section and a one-line summary, over
    the queries both detail files have a ``"jobs"`` count for."""
    pj, cj = prev.get("jobs") or {}, cur.get("jobs") or {}
    shared = sorted(set(pj) & set(cj))
    if not shared:
        return ["## Job counts", "", "Not in both detail files.", ""], "no job counts"
    changed = sorted(
        ((n, pj[n], cj[n]) for n in shared if pj[n] != cj[n]),
        key=lambda r: (r[1] - r[2], r[0]),
    )
    rose = sum(c > p for _, p, c in changed)
    tot_p, tot_c = sum(pj[n] for n in shared), sum(cj[n] for n in shared)
    summary = (
        f"jobs {tot_p} -> {tot_c} over {len(shared)} shared queries "
        f"({rose} rose, {len(changed) - rose} fell)"
    )
    lines = ["## Job counts", "", f"{summary}.", ""]
    if changed:
        lines += ["| query | prev jobs | cur jobs | change |", "|---|---|---|---|"]
        lines += [f"| {n} | {p} | {c} | {c - p:+d} |" for n, p, c in changed]
        lines.append("")
    return lines, summary


def main() -> int:
    prev_path = Path(sys.argv[1]) if len(sys.argv) > 1 else REPO / "BENCH_DETAIL.prev.json"
    cur_path = Path(sys.argv[2]) if len(sys.argv) > 2 else REPO / "BENCH_DETAIL.json"
    out_path = REPO / "BENCH_REGRESSIONS.md"
    if not prev_path.exists() or not cur_path.exists():
        out_path.write_text(
            "# Bench regressions\n\nNo previous detail file to diff "
            f"(looked for {prev_path.name}); gate skipped this run.\n"
        )
        print(f"skip: missing {prev_path if not prev_path.exists() else cur_path}")
        return 0
    prev_detail = json.loads(prev_path.read_text())
    cur_detail = json.loads(cur_path.read_text())
    prev, cur = prev_detail["queries"], cur_detail["queries"]
    shared = sorted(set(prev) & set(cur))
    regressed, improved = [], []
    for name in shared:
        p, c = prev[name], cur[name]
        if max(p, c) < MIN_SEC or p <= 0:
            continue
        ratio = c / p
        if ratio > THRESH:
            regressed.append((name, p, c, ratio))
        elif ratio < 1 / THRESH:
            improved.append((name, p, c, ratio))
    regressed.sort(key=lambda r: -r[3])
    improved.sort(key=lambda r: r[3])
    tot_p = sum(prev[n] for n in shared)
    tot_c = sum(cur[n] for n in shared)
    lines = [
        "# Bench regressions",
        "",
        f"Diff: `{prev_path.name}` -> `{cur_path.name}` | "
        f"{len(shared)} shared queries | shared-set total "
        f"{tot_p:.1f} s -> {tot_c:.1f} s "
        f"({tot_c / tot_p:.2f}x) | gate: >{THRESH}x on >{MIN_SEC} s",
        "",
    ]
    if regressed:
        lines += [
            f"## Regressions ({len(regressed)}) — explain or fix before round close",
            "",
            "| query | prev s | cur s | ratio |",
            "|---|---|---|---|",
        ]
        lines += [
            f"| {n} | {p:.2f} | {c:.2f} | {r:.2f}x |" for n, p, c, r in regressed
        ]
        lines.append("")
    else:
        lines += ["## Regressions: none", ""]
    if improved:
        lines += [
            f"## Improvements ({len(improved)})",
            "",
            "| query | prev s | cur s | ratio |",
            "|---|---|---|---|",
        ]
        lines += [
            f"| {n} | {p:.2f} | {c:.2f} | {r:.2f}x |" for n, p, c, r in improved
        ]
        lines.append("")
    jlines, jsummary = job_lines(prev_detail, cur_detail)
    lines += jlines
    only_new = sorted(set(cur) - set(prev))
    if only_new:
        lines += [f"New queries (no baseline): {', '.join(only_new)}", ""]
    out_path.write_text("\n".join(lines))
    print(
        f"{len(regressed)} regressions, {len(improved)} improvements; "
        f"{jsummary} -> {out_path.name}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
