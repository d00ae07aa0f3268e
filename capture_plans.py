"""Capture .explain("formatted") for bench queries into plans/<round>/.

Usage: python capture_plans.py before|after [query...]
       python capture_plans.py refooter plans/r15/*.txt
Defaults to every bench HEADLINE query that lives in the REGISTRY.
``refooter`` recomputes the summary footer of already captured files.
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_PLANS_DIR (default plans/r15)

Each captured file ends with a ``== NORMALIZED SUMMARY ==`` footer
(r15, VERDICT r14 item 6): Spark's formatted explain inlines a
persisted frame's cached plan once PER CONSUMER, so raw substring
counts ("grep -c Exchange") inflate with every extra InMemoryTableScan
— the r14 DSIR capture read 30 -> 66 Exchange nodes for a change that
REMOVED duplicate evaluation.  The repeated subtrees reuse the same
operator ids, so the footer counts UNIQUE (id, operator) pairs from
the tree section; that is the number Catalyst will actually execute
once, and the number plan-diff claims should cite.
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

# tree-section lines look like "   :  +- SortMergeJoin Inner (90)";
# the details section repeats "(90) SortMergeJoin" — we parse the tree
# (id-suffixed) form only.  Scan nodes render with an empty table-name
# slot ("Scan parquet  (8)") or a dotted one ("Scan parquet
# spark_catalog.default.t (8)"), so words may be dotted and separated
# by runs of spaces; plan_summary collapses the runs.
_NODE = re.compile(r"([A-Za-z][\w.]*(?: +[\w.]+)*) +\((\d+)\)\s*$")
_FOOTER = "\n== NORMALIZED SUMMARY"

_SUMMARY_OPS = (
    "Exchange",
    "BroadcastExchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInArrow",
    "MapInPandas",
    "Window",
    "Generate",
    "InMemoryTableScan",
    "Scan parquet",
    "LocalTableScan",
)


def plan_summary(plan: str) -> str:
    """Unique-node operator counts for the tree section of a formatted
    explain — cached subtrees repeated per consumer collapse because
    they reuse operator ids."""
    seen: set[tuple[str, str]] = set()
    for line in plan.splitlines():
        if line.startswith("== Physical Plan =="):
            continue
        if line.startswith("("):  # details section reached
            break
        m = _NODE.search(line)
        if m:
            seen.add((" ".join(m.group(1).split()), m.group(2)))
    counts: Counter[str] = Counter()
    for name, _id in seen:
        for op in _SUMMARY_OPS:
            if name == op or name.startswith(op + " "):
                counts[op] += 1
                break
    lines = ["", _FOOTER.strip() + " (unique nodes; cached subtrees deduped) =="]
    for op in _SUMMARY_OPS:
        if counts.get(op):
            lines.append(f"{op}={counts[op]}")
    lines.append(f"total_unique_nodes={len(seen)}")
    return "\n".join(lines) + "\n"


def refooter(path: str) -> None:
    """Recompute the summary footer of a captured plan file in place."""
    with open(path) as f:
        plan = f.read().split(_FOOTER, 1)[0]
    with open(path, "w") as f:
        f.write(plan)
        f.write(plan_summary(plan))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    if suffix == "refooter":
        for path in sys.argv[2:]:
            refooter(path)
        return
    if suffix not in ("before", "after"):
        raise SystemExit(
            "usage: capture_plans.py before|after [query...] | refooter FILE..."
        )
    names = sys.argv[2:]

    from bench import HEADLINE

    from sayn_spark.functions import REGISTRY, release_persisted
    from sayn_spark.session import get_spark

    if not names:
        names = [n for n in HEADLINE if n in REGISTRY]

    out_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        os.environ.get("SPARK_GRAFT_PLANS_DIR", os.path.join("plans", "r15")),
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("sayn-spark-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
            f.write(plan_summary(plan))
        release_persisted()
        spark.catalog.clearCache()
        print(f"captured {name}_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
