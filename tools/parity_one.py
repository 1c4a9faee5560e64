#!/usr/bin/env python
"""Oracle parity (local replica of the driver compare) for named
queries or the whole registry, at any SF. Usage:

    python tools/parity_one.py [--sf SF_DIR] [name1 name2 ...]

Runs each named registry entry (default: every query with an oracle)
in Spark and its oracle in DuckDB on the same parquet, with the
driver's pandas canonicalization and dtype-sensitive hash inputs
(tests/oracle.py), and prints PASS/FAIL and the wall time per query.
A query that raises is a FAIL; the sweep continues. The pytest parity
sweep runs at sf0.001 for speed and the grading driver at sf0.01 (the
default here), so a full sweep at each SF surfaces sf-dependent
mismatches (tie-breaking, float accumulation order) before the round
is graded. Exit nonzero on any FAIL.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))

from oracle import compare, duck_con  # noqa: E402

from distributed_mapreduce_p2p_spark import registry  # noqa: E402
from distributed_mapreduce_p2p_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.01"
    if args and args[0] == "--sf":
        sf = args[1]
        args = args[2:]
    spark = get_spark(app_name="parity_one")
    con = duck_con(sf)
    # finalize_oracles = static ORACLES + the generated (dynamic)
    # oracles rendered for THIS sf (bpe_merges/tokenizer_apply_bpe)
    oracles = registry.finalize_oracles(sf)
    names = args or [n for n in registry.QUERIES if n in oracles]
    failed = []
    for i, name in enumerate(names, 1):
        t0 = time.time()
        try:
            df = registry.QUERIES[name](spark, sf)
            issues = compare(df, con, oracles[name], name)
            n = df.count()
        except Exception as e:  # noqa: BLE001 - report, keep sweeping
            issues = [f"{name}: EXC {type(e).__name__}: {e}"]
        head = f"[{i}/{len(names)}]"
        dt = time.time() - t0
        if issues:
            failed.append(name)
            print(f"{head} FAIL {name} ({dt:.1f}s): {issues}", flush=True)
        else:
            print(f"{head} PASS {name} ({n} rows, {dt:.1f}s)", flush=True)
    print(f"\n{len(names) - len(failed)}/{len(names)} parity at {sf}")
    if failed:
        print("failed:", ", ".join(failed))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
