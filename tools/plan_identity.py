#!/usr/bin/env python
"""Mechanical plan-identity check for hint removals (r9, closing the
r8 verdict's "prose adjudication" gap).

The standing rotation rule says a query whose PLAN changed since its
last driver-sampled row must rotate into the next window — its old
green row describes a dead plan. De-hinting a `broadcast()` that
size-based planning re-derives anyway changes NOTHING physical at
tested SFs, so rotating those rows wastes window slots; but until r9
that claim was prose. This tool makes it a measurement:

  snapshot:  plan every registry query through the shared registry
             sweep (tools/audit_plans.py: the session config, so
             size-based planning participates exactly as in the
             driver run), normalize the 'simple'-mode physical plan,
             write JSON.
  compare:   re-plan and diff against a snapshot; print the queries
             whose NORMALIZED physical plan differs. Exit 0 on all-
             identical, 1 otherwise.

Normalization strips only session-assigned identifiers — expression
ids (`#123`), plan/exchange ids (`[plan_id=42]`, `[id=#7]`), and
ExistingRDD attribute lists (localCheckpoint RDD lineage is
re-created per session) — never operator names, join strategies,
build sides, partitioning, or pushed filters. If a de-hint flips a
build side or turns a BroadcastHashJoin into a SortMergeJoin, the
diff shows it and the query takes a window slot.

Some plan TEXT is session-variant on IDENTICAL code: streaming
queries embed their tempfile staging dirs (normalized away below),
and Spark's RewriteDistinctAggregates / grouping-sets expansion
assigns `gid` slots through internal hash-map iteration keyed by
exprIds, so multi-distinct and cube/rollup plans permute their
Expand rows and aggregate key orderings across sessions (observed:
candidate_key_discovery, table_profile, source_dataset_card,
l_diversity_audit, benchmark_decontaminate, winnow_fingerprints,
tpch_q21_sole_returner, ...). Two mechanical defenses replace the
prose excuse:

  * GID-PERMUTED equivalence: two plans whose unified diff touches
    ONLY lines containing `gid#` differ solely in Spark's internal
    distinct-group numbering — same operators, same exchanges, same
    join strategies (a real strategy/build-side change always
    alters at least one gid-free line: the join node itself).
  * `judge` mode: a query counts CHANGED only when two same-code
    AFTER snapshots are equivalent to each other AND not equivalent
    to BEFORE; queries the two AFTER runs disagree on are reported
    UNSTABLE (residual same-code variance) and excluded.

Run:  python tools/plan_identity.py snapshot /tmp/plans_before.json
      python tools/plan_identity.py compare  /tmp/plans_before.json
      python tools/plan_identity.py judge    before.json a1.json a2.json
Optional trailing arg (snapshot/compare): comma-separated names.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

from audit_plans import sweep

SF = "/root/testdata/sf0.01"

_EXPR_ID = re.compile(r"#\d+[L]?")
_PLAN_ID = re.compile(r"\[(plan_id|id)=#?\d+\]")
_RDD_ATTRS = re.compile(r"(Scan ExistingRDD(?: \w+)?)\[[^\]]*\]")
_CODEGEN = re.compile(r"\*\(\d+\) ")
# streaming queries stage through scratch_dir temp dirs whose random
# suffix lands in FileScan Location strings
_TMP_PATH = re.compile(r"/tmp/[A-Za-z0-9_./=-]*")


def normalize(plan: str) -> str:
    plan = _EXPR_ID.sub("#", plan)
    plan = _PLAN_ID.sub("[id=]", plan)
    plan = _RDD_ATTRS.sub(r"\1[...]", plan)
    # codegen stage ids are derived from the plan but renumber when an
    # UPSTREAM query in the session planned differently; structure is
    # what identity means here.
    plan = _CODEGEN.sub("* ", plan)
    plan = _TMP_PATH.sub("/tmp/X", plan)
    return plan


def plan_all(names: list[str] | None) -> dict[str, str]:
    """Normalized session-config plans from the shared registry sweep
    (tools/audit_plans.py), at this tool's SF."""
    return {
        name: p.error or normalize(p.plan)
        for name, p in sweep(SF, names)
    }


def write_snapshot(path: Path, plans: dict[str, str]) -> None:
    """The one snapshot writer (plan_identity snapshot and plan_gate
    refresh), in PLAN_SNAPSHOT.json's committed format."""
    path.write_text(json.dumps(plans, indent=1))


def equivalent(p1: str, p2: str) -> bool:
    """Exact normalized equality, or gid-permutation equivalence:
    every differing line in the unified diff mentions `gid#`.

    Why a line-level heuristic and not a canonicalization: Spark's
    RewriteDistinctAggregates / grouping-sets planner permutes not
    just the gid NUMBERS but the whole column-to-slot LAYOUT of the
    Expand (rows, output attribute order, hashpartitioning key
    order) consistently across the subtree — an r9 attempt to
    canonicalize by neutralizing gid literals and sorting bracket/
    paren elements still false-flagged slot-permuted plans
    (table_profile, source_dataset_card), so undoing it textually
    would need real structural matching against the output schema.
    The heuristic's only mask risk is a same-line token change on an
    all-gid-line diff (e.g. a shuffle partition count inside
    `Exchange hashpartitioning(..., gid#, 8)`); this tool pins
    spark.sql.shuffle.partitions for every snapshot, so that token
    cannot drift between the runs being compared, and any strategy/
    build-side change always alters a gid-free line (the join node
    itself)."""
    if p1 == p2:
        return True
    import difflib

    body = [
        l
        for l in difflib.unified_diff(
            p1.splitlines(), p2.splitlines(), lineterm=""
        )
        if l.startswith(("+", "-"))
        and not l.startswith(("+++", "---"))
    ]
    return bool(body) and all("gid#" in l for l in body)


def _load(p: Path) -> dict[str, str]:
    # re-normalize on load: snapshots written before a normalization
    # rule landed stay comparable (normalize is idempotent)
    return {n: normalize(v) for n, v in json.loads(p.read_text()).items()}


def judge(before_p: Path, a1_p: Path, a2_p: Path) -> None:
    before = _load(before_p)
    a1 = _load(a1_p)
    a2 = _load(a2_p)
    # r10 ADVICE: a query present in BEFORE but absent from the AFTER
    # snapshots (deleted / renamed / failed to plan) must be reported,
    # not silently skipped — a rename would otherwise escape the
    # identity check entirely.
    gone = sorted(n for n in before if n not in a1 or n not in a2)
    unstable = sorted(
        n for n in a1 if not equivalent(a1[n], a2.get(n, ""))
    )
    changed = sorted(
        n for n in a1
        if n not in unstable
        and not equivalent(before.get(n, ""), a1[n])
    )
    for n in gone:
        print(f"GONE (in before, missing from after): {n}")
    for n in unstable:
        print(f"UNSTABLE (same-code session variance): {n}")
    for n in changed:
        print(f"CHANGED: {n}")
    print(
        f"judged {len(a1)} plans: {len(changed)} changed, "
        f"{len(unstable)} unstable, {len(gone)} gone, "
        f"{len(a1) - len(changed) - len(unstable)} "
        f"identical-or-gid-permuted"
    )
    sys.exit(1 if changed or gone else 0)


def main() -> None:
    mode, path = sys.argv[1], Path(sys.argv[2])
    if mode == "judge":
        judge(path, Path(sys.argv[3]), Path(sys.argv[4]))
        return
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    plans = plan_all(names)
    if mode == "snapshot":
        write_snapshot(path, plans)
        print(f"snapshot: {len(plans)} plans -> {path}")
        return
    # r10 ADVICE: compare shares judge's _load (idempotent
    # re-normalize, so snapshots written before a normalization rule
    # landed stay comparable) and equivalent() (gid-permutation
    # tolerance) instead of raw json + exact equality — the two modes
    # previously disagreed on gid-permuted same-code plans.
    before = _load(path)
    changed = sorted(
        n for n, p in plans.items()
        if not equivalent(before.get(n, ""), p)
    )
    missing = sorted(set(plans) - set(before))
    # only a FULL compare can adjudicate snapshot keys that were not
    # re-planned; with a names filter the remainder is intentionally
    # absent, not deleted
    gone = sorted(set(before) - set(plans)) if not names else []
    for n in changed:
        print(f"CHANGED: {n}")
    if missing:
        print(f"not in snapshot: {missing}")
    for n in gone:
        print(f"GONE (in snapshot, not registered now): {n}")
    print(
        f"compared {len(plans)} plans: {len(changed)} changed, "
        f"{len(gone)} gone, {len(plans) - len(changed)} "
        f"identical-or-gid-permuted"
    )
    sys.exit(1 if changed or gone else 0)


if __name__ == "__main__":
    main()
