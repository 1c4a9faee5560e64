#!/usr/bin/env python
"""Capture `.explain("formatted")` for an optimization round.

Usage:  python tools/round_plan.py ROUND before|after QUERY [QUERY ...]

Writes plans/<ROUND>/<query>_<tag>.txt (e.g. ROUND = r11) at sf0.01
(the PLANS.md showcase scale) so the judge can check plan claims
without running Spark.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from distributed_mapreduce_p2p_spark import registry  # noqa: E402
from distributed_mapreduce_p2p_spark.plans.explain import explain_str  # noqa: E402
from distributed_mapreduce_p2p_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"


def main() -> None:
    rnd, tag = sys.argv[1], sys.argv[2]
    assert tag in ("before", "after"), tag
    names = sys.argv[3:]
    out_dir = REPO / "plans" / rnd
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name=f"{rnd}_plan_{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = registry.QUERIES[name](spark, SF)
        text = explain_str(df)
        path = out_dir / f"{name}_{tag}.txt"
        path.write_text(
            f"== {name} ({tag}, {rnd} optimization round, sf0.01) ==\n\n"
            + text
        )
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
