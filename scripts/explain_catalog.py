"""Generate PLANS.md: a physical-plan digest for every catalog query.

For each registered query, builds the plan at sf0.001 and counts the
execution-shaping nodes: parquet scans, shuffles (Exchange), sorts, join
strategies, window nodes, and whole-stage-codegen spans. The table makes
plan regressions reviewable in diffs — a query whose Exchange count jumps
shows up in version control, not in a 3am pager.

Run: python scripts/explain_catalog.py   (rewrites PLANS.md at repo root)
"""

from __future__ import annotations

import pathlib
import re
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from real_time_flight_data_pipeline_spark.plans import (
    ORIGINAL_ORDER,
    registry_source_hash,
)
from real_time_flight_data_pipeline_spark.plans.catalog import REGISTRY
from real_time_flight_data_pipeline_spark.session import get_spark

SF = "/root/testdata/sf0.001"

_COUNTS = [
    ("scans", r"FileScan parquet"),
    ("xchg", r"Exchange (?:hash|range|Single)"),
    ("bcast", r"BroadcastExchange"),
    ("sort", r"\bSort \["),
    ("bhj", r"BroadcastHashJoin"),
    ("smj", r"SortMergeJoin"),
    ("shj", r"ShuffledHashJoin"),
    ("bnlj", r"BroadcastNestedLoopJoin"),
    ("win", r"\bWindow(?:GroupLimit)? \["),
]


def _codegen_spans(plan: str) -> int:
    """Distinct whole-stage-codegen span ids. AQE plan strings mark spans
    as `*(n)` operator prefixes rather than WholeStageCodegen nodes."""
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def main() -> None:
    spark = get_spark(app_name="flightframe-explain")
    lines = [
        "# PLANS.md — physical-plan digest (auto-generated)",
        "",
        "`python scripts/explain_catalog.py` regenerates this file. Plans",
        "are FINAL adaptive plans (each query executed once at sf0.001 on",
        "the engine session, AQE on).",
        "Columns: parquet scans / shuffle exchanges / broadcast exchanges /",
        "sorts / broadcast-hash / sort-merge / shuffled-hash /",
        "broadcast-nested-loop joins / window nodes / whole-stage-codegen",
        "spans. BNLJ > 0 only on the documented bounded-broadcast",
        "allowlist (tests/test_plan_audit.py).",
        "",
        # Freshness key (r13 verdict #5): tests/test_plans_freshness.py
        # fails when any package source no longer matches this stamp.
        f"Registry source hash: `{registry_source_hash()}`",
        "",
        "| query | scans | xchg | bcast | sort | BHJ | SMJ | SHJ | BNLJ | win | WSC |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    failures: list[str] = []
    for name in ORIGINAL_ORDER:
        q = REGISTRY.get(name)
        if q is None:
            continue
        try:
            df = q.builder(spark, SF)
            # Execute THIS DataFrame's own QueryExecution (collect, not a
            # write — a write builds a separate QueryExecution and leaves
            # this one's AdaptiveSparkPlan un-finalized), then read the
            # FINAL adaptive plan: real join choices, codegen spans.
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # keep generating; record the failure
            failures.append(f"{name}: {type(e).__name__}")
            continue
        counts = [len(re.findall(pat, plan)) for _, pat in _COUNTS]
        counts.append(_codegen_spans(plan))
        lines.append("| " + " | ".join([name] + [str(c) for c in counts]) + " |")
        print(name, counts, file=sys.stderr)
    if failures:
        lines += ["", "Plan-build failures: " + ", ".join(failures)]
    out = pathlib.Path(__file__).resolve().parents[1] / "PLANS.md"
    out.write_text("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(lines)} lines, {len(failures)} failures)")


if __name__ == "__main__":
    main()
