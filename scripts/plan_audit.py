#!/usr/bin/env python
"""Plan audit: summarize the physical-plan scale properties of EVERY
registered query into PLANS.md (round 4 widened it from the 17
bench-flagged ids to the whole registry).

For each query: join strategies used, exchange (shuffle) count,
pushed filters, scan column counts, codegen span count, and any
cartesian products. This is the reviewable artifact behind the
'.explain and iterate until it's the plan you'd want' discipline —
regressions show up as a diff in PLANS.md.

Usage: python scripts/plan_audit.py > PLANS.md

Building the queries records statistics; they go to a temporary copy
of the statistics catalog, so the run leaves STATS_CACHE.json as it
was.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from database_join_spark import plans as P  # noqa: E402
from database_join_spark.queries import load_all  # noqa: E402
from database_join_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

JOIN_OPS = [
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
]


def audit(name, spec, spark) -> dict:
    df = spec.fn(spark, SF_DIR)
    plan = P.plan_string(df, mode="simple")
    joins = {op: plan.count(op) for op in JOIN_OPS if plan.count(op)}
    # true shuffles only — BroadcastExchange is not a shuffle
    shuffles = len(re.findall(r"(?<!Broadcast)Exchange (hash|range|Single)", plan))
    return {
        "name": name,
        "joins": ", ".join(f"{k}×{v}" for k, v in joins.items()) or "—",
        "exchanges": shuffles,
        "pushed": len(P.pushed_filters(df)),
        "scan_cols": "/".join(
            str(len(c)) for c in P.read_schema_columns(df)
        ) or "—",
        "wgl": "✓" if "WindowGroupLimit" in plan else "",
        "codegen": len(P.wholestage_codegen_ids(df)),
        # round-11 (VERDICT r10 #6): the inlining-trap scan runs
        # registry-wide, not just over the 9 families round 10 fixed
        "heavy_filters": len(P.heavy_inferred_filters(df)),
    }


def _use_stats_copy(tmp_dir: str) -> None:
    """Point the statistics catalog (and, through the env var, any
    subprocess) at a copy of the committed one under ``tmp_dir``."""
    from database_join_spark.plans import stats

    copy = Path(tmp_dir) / "STATS_CACHE.json"
    if stats.DEFAULT_PATH.exists():
        shutil.copyfile(stats.DEFAULT_PATH, copy)
    stats.DEFAULT_PATH = copy
    os.environ["SPARK_GRAFT_STATS_PATH"] = str(copy)


def main() -> None:
    with tempfile.TemporaryDirectory(prefix="plan-audit-") as tmp:
        _use_stats_copy(tmp)
        _audit_all()


def _audit_all() -> None:
    registry = load_all()
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for n, s in sorted(registry.items()):
        r = audit(n, s, spark)
        r["bench"] = "✓" if s.bench else ""
        rows.append(r)
    print("# PLANS — physical-plan audit of every registered query\n")
    print(f"Generated by scripts/plan_audit.py at sf0.01 (the gate's")
    print("scale). Columns: join strategies in the final plan; shuffle")
    print("(Exchange) count; predicates pushed to parquet; columns read")
    print("per scan (pruning proof); WindowGroupLimit present; executed")
    print("WholeStageCodegen span count; heavy-filter count (Catalyst")
    print("inlining-trap scan, plans.heavy_inferred_filters — a non-zero")
    print("value means an optimized Filter re-inlines a tokenizer/")
    print("transform-heavy expression per row; must be 0 everywhere,")
    print("hard-gated by tests/test_pipeline.py).\n")
    print("| query | bench | joins | shuffles | pushed filters | scan cols | topk-prune | codegen | heavy filters |")
    print("|---|---|---|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| `{r['name']}` | {r['bench']} | {r['joins']} "
            f"| {r['exchanges']} "
            f"| {r['pushed']} | {r['scan_cols']} | {r['wgl']} "
            f"| {r['codegen']} | {r['heavy_filters']} |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
