"""Driver-materialization guard: the package's `.collect()` /
`toLocalIterator()` / `.toPandas()` call sites are a CLOSED,
adjudicated set (r7 verdict reviewed each one). A new site means a
new driver-side materialization of possibly fact-scale data — the
anti-pattern the whole engine is designed around — so it must show
up here as a deliberate diff with a written reason, not slip in
inside a 28k-line file.

Every allowlisted site is bounded or non-production:
- plans/explain.py          codegen_stage_count executes the plan to
                            read post-AQE codegen ids (test helper)
- streaming/replication.py  convergence_report: 1-row max aggregate
                            + the (bounded) gap list — the
                            reference's completeness contract output
- operators/text.py         BPE training: 1-row argmax pick per
                            merge round (vocabulary-bounded)
- operators/similarity.py   neardup_pairs baseline: limit(CAP+1)
                            caps the collect AND detects overflow;
                            the registered path is the blocked form
- operators/graph.py        bfs_levels / sssp_costs: one guarded
                            limit(_EDGE_CAP+1) edge-list collect;
                            registered callers feed at most 625 edges
- registry.py               _stage_corpus_txt toLocalIterator
                            (chunked-scan query's corpus staging — the
                            one adjudicated driver transit) + two
                            1-row scalar argmin picks (graph seeds)
- __main__.py               CLI result display (user-facing output)
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "distributed_mapreduce_p2p_spark"

#: file (relative to the package) -> exact number of call-site lines
ALLOWED = {
    "plans/explain.py": 1,
    "streaming/replication.py": 2,
    "operators/text.py": 1,
    "operators/similarity.py": 1,
    "operators/graph.py": 1,
    "registry.py": 3,
    "__main__.py": 1,
}

PATTERN = re.compile(r"\.collect\(\)|toLocalIterator\(|\.toPandas\(\)")


def test_driver_materialization_sites_are_pinned():
    found: dict[str, int] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        n = 0
        for line in path.read_text().splitlines():
            stripped = line.strip()
            if stripped.startswith("#"):
                continue
            if PATTERN.search(stripped.split("#")[0]):
                n += 1
        if n:
            found[rel] = n
    assert found == ALLOWED, (
        "driver-materialization call sites changed — if deliberate, "
        "adjudicate the new site in this test's docstring and update "
        f"ALLOWED. diff: found={found} allowed={ALLOWED}"
    )
