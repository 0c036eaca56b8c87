"""Logical/optimized/physical plan extraction.

The reference serializes its algebra tree to JSON twice — pre- and
post-optimization — for the jointjs UI (QueryService.asmx.cs:444-471,
index.js:86-100). Here the "original" plan is Catalyst's analyzed
logical plan and the "optimized" plan is the optimized logical +
executed physical plan, read from the JVM QueryExecution object.

The strings are version-sensitive (SURVEY §7 "hard parts"), so
extraction is defensive: any JVM access failure degrades to
``df.explain`` text rather than raising.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _jvm_plan_str(df: DataFrame, attr: str) -> str | None:
    try:
        qe = df._jdf.queryExecution()
        return str(getattr(qe, attr)())
    except Exception:
        return None


def plan_report(df: DataFrame, executed: DataFrame | None = None) -> dict[str, str]:
    """Return {original, optimized, physical} plan strings for a DataFrame.

    `original` ~ the reference's pre-optimization tree, `optimized` ~ its
    post-`AlgTreeOpt` tree (QueryService.asmx.cs:56-58), `physical` has
    no reference analogue (it never planned execution strategies).

    `physical` is read from `executed` when given: the Dataset that
    actually ran `df` (e.g. `df` under a guard limit), so the report
    names the plan that ran without planning `df` a second time.
    """
    ran = df if executed is None else executed
    analyzed = _jvm_plan_str(df, "analyzed")
    optimized = _jvm_plan_str(df, "optimizedPlan")
    physical = _jvm_plan_str(ran, "executedPlan")
    if analyzed is None:
        # Fallback: formatted explain only (still useful, never raises).
        try:
            physical = ran._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
                ran._jdf.queryExecution(), "formatted"
            )
        except Exception:
            physical = "<unavailable>"
        analyzed = optimized = "<unavailable>"
    return {
        "original": analyzed,
        "optimized": optimized or "<unavailable>",
        "physical": physical or "<unavailable>",
    }


def plan_tree(df: DataFrame, which: str = "optimized") -> dict:
    """Recursive plan tree as JSON-able dicts — parity with the
    reference's node JSON for its jointjs UI (QueryService.asmx.cs:
    444-471: OpType/Condition/Oprands per node). Spark analogue:
    nodeName + simpleString + children, walked over the JVM plan.
    """
    qe = df._jdf.queryExecution()
    root = {"analyzed": qe.analyzed, "optimized": qe.optimizedPlan, "physical": qe.executedPlan}[
        which
    ]()

    def walk(node) -> dict:
        children = node.children()
        out = {
            "op": node.nodeName(),
            "detail": node.simpleString(100),
            "children": [],
        }
        it = children.iterator()
        while it.hasNext():
            out["children"].append(walk(it.next()))
        return out

    return walk(root)
