#!/usr/bin/env python
"""Round-close plan-identity GATE (r10 verdict item 3).

The standing rotation rule — any query whose physical plan changed
since its last driver-sampled CORRECTNESS row must rotate into the
next round's `registry._FRONT` window — was mechanized for hint
edits by tools/plan_identity.py in r9, but running it stayed a
thing the builder had to remember. This tool makes it a standing
exit code, mirroring how the hinted-broadcast audit
(tools/audit_plans.py) mechanized the hint policy:

  check:    take TWO fresh same-code snapshots (subprocesses, so
            each gets its own Spark session — the judge-mode
            protocol that controls Spark's session-variant plan
            text), judge them against the COMMITTED baseline
            `PLAN_SNAPSHOT.json` (written at the previous round's
            close), and FAIL unless every CHANGED or NEW query is
            already in the next window (registry._FRONT) and no
            query silently disappeared. UNSTABLE queries (the two
            same-code snapshots disagree) are reported and excluded,
            as in judge mode.
  refresh:  rewrite `PLAN_SNAPSHOT.json` from the second snapshot of
            the check — reused only when that check ran at the
            current HEAD on a clean tree, else a fresh snapshot — run
            AFTER check passes at round close, then commit it; it
            becomes the next round's baseline.

Bootstrap: if `PLAN_SNAPSHOT.json` does not exist yet, check FAILS
with instructions to refresh first — a missing baseline must be a
loud one-time event, not a silent pass.

Run:  python tools/plan_gate.py check
      python tools/plan_gate.py refresh
Exit: 0 = every plan drift is windowed; nonzero otherwise.
"""

from __future__ import annotations

import json
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

SNAPSHOT = REPO / "PLAN_SNAPSHOT.json"
LAST = REPO / ".plan_gate_last.json"


def _fresh_snapshot(path: Path) -> None:
    subprocess.run(
        [
            sys.executable,
            str(REPO / "tools" / "plan_identity.py"),
            "snapshot",
            str(path),
        ],
        check=True,
    )


def check() -> int:
    from plan_identity import _load, equivalent

    if not SNAPSHOT.exists():
        print(
            "GATE FAIL: no committed PLAN_SNAPSHOT.json baseline — "
            "run `python tools/plan_gate.py refresh` once and commit "
            "the result (bootstrap must be explicit)"
        )
        return 2
    with tempfile.TemporaryDirectory(prefix="plan_gate_") as td:
        a1_p, a2_p = Path(td) / "a1.json", Path(td) / "a2.json"
        _fresh_snapshot(a1_p)
        _fresh_snapshot(a2_p)
        before, a1, a2 = _load(SNAPSHOT), _load(a1_p), _load(a2_p)
        # keep the freshest stable snapshot for a subsequent refresh,
        # stamped with the HEAD sha and the tree state so refresh can
        # refuse a snapshot of code that is not the committed HEAD
        # (r10 ADVICE: a lingering .plan_gate_last.json from an older
        # tree would silently become the committed baseline)
        LAST.write_text(
            json.dumps({**_stamp(), "plans": json.loads(a2_p.read_text())})
        )
    from distributed_mapreduce_p2p_spark import registry

    front = set(registry._FRONT)
    gone = sorted(n for n in before if n not in a1 or n not in a2)
    unstable = sorted(
        n for n in a1 if not equivalent(a1[n], a2.get(n, ""))
    )
    new = sorted(n for n in a1 if n not in before)
    changed = sorted(
        n
        for n in a1
        if n in before
        and n not in unstable
        and not equivalent(before[n], a1[n])
    )
    violations = []
    for n in gone:
        violations.append(
            f"GONE: {n} was in the committed snapshot but is not "
            f"registered/planable now — deleting or renaming a query "
            f"must update PLAN_SNAPSHOT.json in the same commit"
        )
    for n in changed:
        if n not in front:
            violations.append(
                f"UNROTATED DRIFT: {n} plan changed vs the committed "
                f"snapshot but is not in registry._FRONT — its green "
                f"driver row describes a dead plan (standing rotation "
                f"rule)"
            )
    for n in new:
        if n not in front:
            violations.append(
                f"UNWINDOWED ADDITION: {n} is new since the committed "
                f"snapshot but not in registry._FRONT — new queries "
                f"queue for the next driver window first"
            )
    for n in unstable:
        print(f"UNSTABLE (same-code session variance, excluded): {n}")
    for n in changed:
        mark = "windowed" if n in front else "NOT WINDOWED"
        print(f"CHANGED: {n} [{mark}]")
    for n in new:
        mark = "windowed" if n in front else "NOT WINDOWED"
        print(f"NEW: {n} [{mark}]")
    for v in violations:
        print(v)
    print(
        f"gate: {len(a1)} plans vs baseline ({len(before)}): "
        f"{len(changed)} changed, {len(new)} new, {len(gone)} gone, "
        f"{len(unstable)} unstable, {len(violations)} violation(s)"
    )
    return 1 if violations else 0


def _git(*args: str) -> str:
    try:
        return subprocess.run(
            ["git", *args], capture_output=True, text=True, cwd=str(REPO)
        ).stdout.strip()
    except OSError:
        return ""


def _stamp() -> dict:
    """HEAD sha, and whether the working tree differs from it (any
    `git status --porcelain` line)."""
    return {
        "head": _git("rev-parse", "HEAD"),
        "dirty": bool(_git("status", "--porcelain")),
    }


def refresh() -> int:
    from plan_identity import write_snapshot

    if LAST.exists():
        cached = json.loads(LAST.read_text())
        # Provenance check (r10 ADVICE): only reuse the cached
        # snapshot when it was taken at the CURRENT head on a clean
        # tree — a snapshot from before the last code change, or of
        # uncommitted edits, describes a tree that is not HEAD and
        # must not become the committed baseline. Legacy stampless
        # files (a bare plans dict) are treated as stale.
        head = _stamp()["head"]
        if (
            isinstance(cached, dict)
            and cached.get("head")
            and cached["head"] == head
            and cached.get("dirty") is False
        ):
            write_snapshot(SNAPSHOT, cached["plans"])
            LAST.unlink()
            print(
                f"PLAN_SNAPSHOT.json refreshed from the last gate "
                f"check at HEAD {head[:10]} "
                f"({len(cached['plans'])} plans) — commit it"
            )
            return 0
        LAST.unlink()
        print(
            "stale .plan_gate_last.json (taken at a different HEAD, on "
            "a dirty tree, or unstamped) — discarded; taking a fresh "
            "snapshot"
        )
    _fresh_snapshot(SNAPSHOT)
    print(
        f"PLAN_SNAPSHOT.json written fresh "
        f"({len(json.loads(SNAPSHOT.read_text()))} plans) — commit it"
    )
    return 0


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "check"
    if mode == "check":
        sys.exit(check())
    if mode == "refresh":
        sys.exit(refresh())
    # Anything else (a typo, --help) must NOT fall through to refresh:
    # refresh rewrites the committed baseline, and an accidental
    # rewrite from a stale .plan_gate_last.json would silently blind
    # the next round's drift check.
    print(
        "plan_gate: round-close plan-identity gate "
        "(see module docstring for the check/refresh protocol)"
    )
    print("usage: plan_gate.py [check|refresh]  (default: check)")
    sys.exit(2)


if __name__ == "__main__":
    main()
