"""Plan audit: physical-plan shape summary for every inventory query.

Prints, per query: exchange (shuffle) count, join strategies chosen,
whether parquet scans carry pushed filters, and the WholeStageCodegen
span count — the things that decide 100 TB behavior. Run after any
operator change; keep exchanges minimal and joins broadcast where a
side is dimension-sized.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from distributedqueryengine_spark.session import get_spark  # noqa: E402

JOIN_KINDS = [
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
]


def _node_depth(line: str) -> int:
    """Indent depth of a plan-tree line (position of the node text after
    the ':  +- ' drawing characters)."""
    return len(line) - len(line.lstrip(" :+-*("))


def _count_scans(plan: str) -> int:
    """Count EXECUTED parquet scans. A persisted subtree prints its
    FileScan inside every InMemoryTableScan that references it, but the
    cached plan materializes at most once — so FileScans nested under an
    InMemoryRelation are excluded and each DISTINCT cached relation
    contributes one scan instead."""
    direct = 0
    cached: set[str] = set()
    lines = plan.splitlines()
    i = 0
    while i < len(lines):
        line = lines[i]
        if "InMemoryRelation" in line:
            depth = _node_depth(line)
            sub = [re.sub(r"#\d+L?", "", line.strip(" :+-"))]
            i += 1
            while i < len(lines) and _node_depth(lines[i]) > depth:
                sub.append(re.sub(r"#\d+L?", "", lines[i].strip(" :+-")))
                i += 1
            cached.add("\n".join(sub))
            continue
        if "FileScan parquet" in line:
            direct += 1
        i += 1
    return direct + sum(s.count("FileScan parquet") for s in cached)


def audit(df, execute: bool = True) -> dict:
    """Inspect the physical plan. With AQE on, the pre-execution plan
    prints `AdaptiveSparkPlan isFinalPlan=false` with NO codegen
    annotations — so by default the query is executed (noop sink) first
    and the FINAL adaptive plan is audited; `execute=False` keeps the
    cheap static view (joins/scans are still meaningful there)."""
    if execute:
        try:
            # collect() (not a noop write: that clones the plan into a
            # fresh QueryExecution) drives THIS DataFrame's adaptive
            # plan to isFinalPlan=true with *(n) codegen annotations.
            df.collect()
        except Exception:
            pass  # fall back to the static plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # post-execution AQE toString prints Final AND Initial plans; keep
    # only the final section or every node double-counts.
    plan = plan.split("== Initial Plan ==")[0]
    joins = {k: plan.count(k) for k in JOIN_KINDS if plan.count(k)}
    scans = _count_scans(plan)
    pushed = len(re.findall(r"PushedFilters: \[(?!\])", plan))
    return {
        "exchanges": plan.count("Exchange "),
        "joins": joins,
        "parquet_scans": scans,
        "scans_with_pushdown": pushed,
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "has_python_stage": ("ArrowEvalPython" in plan)
        or ("MapInPandas" in plan)
        or ("FlatMapGroupsInPandas" in plan),
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("plan-audit")
    for name, fn in sorted(entry_mod.queries().items()):
        if only and name not in only:
            continue
        try:
            info = audit(fn(spark, sf_dir))
            joins = ",".join(f"{k}x{v}" for k, v in info["joins"].items()) or "-"
            py = " PY" if info["has_python_stage"] else ""
            print(
                f"{name:32s} exch={info['exchanges']:2d} joins={joins:40s} "
                f"scans={info['parquet_scans']}(pushed {info['scans_with_pushdown']}) "
                f"wsc={info['codegen_spans']}{py}"
            )
        except Exception as e:
            print(f"{name:32s} ERROR {e}")


if __name__ == "__main__":
    main()
