"""Query API: sql → {rows, original_plan, optimized_plan, statistics}.

Restores the reference's web-service contract (Sql2AlgTree,
QueryService.asmx.cs:51-89) — which returned the two plan JSONs plus a
placeholder statistics string and DISCARDED the query result
(:85-88) — and fixes it: the result rows come back too, and
statistics are real (row count, Spark jobs, time split) instead of
"Ha Ha Ha" (:88).

`collect_limit` guards the driver: an API layer must never pull an
unbounded 100 TB result to one process (the reference materialized
everything on the coordinator, RPC.cs:225-246 — the anti-pattern).
"""

from __future__ import annotations

import time
import uuid
from typing import Any

from pyspark.sql import SparkSession

from distributedqueryengine_spark.plans import plan_report
from distributedqueryengine_spark.plans.extract import plan_tree


def bootstrap(sf_dir: str = "/root/testdata/sf0.001"):
    """One-call engine bring-up: session + fixture catalog + fragment
    views — the reference's InitSite/InitAlgTree handshake
    (QueryService.asmx.cs:61-69) collapsed to a function."""
    from distributedqueryengine_spark.fragments import register_fragment_views
    from distributedqueryengine_spark.session import get_spark, register_tables

    spark = get_spark()
    tables = register_tables(spark, sf_dir)
    register_fragment_views(spark, tables["customer"], tables["orders"])
    return spark


def query(
    spark: SparkSession,
    sql: str,
    collect_limit: int = 10_000,
    args: dict[str, Any] | list | None = None,
) -> dict[str, Any]:
    """Run SQL against the registered catalog; return rows + plans + stats.

    `args` binds named (:name) or positional (?) parameters through
    Spark's parameterized-SQL API — literals travel as typed values,
    never spliced into the query text. The reference concatenates user
    predicates straight into SQL strings (RPC.cs:316-320, the classic
    injection shape); this is the fixed contract.

    Plan contract: the query runs as ONE Dataset, `df.limit(
    collect_limit)`, planned once and collected. `physical_plan` is that
    Dataset's executed plan, read after the collect (on an AQE session,
    the final adaptive plan), so it is the plan that ran, guard limit
    included. `original_plan`, `optimized_plan` and `plan_tree` describe
    the user's query without the guard limit: the reference's pre- and
    post-optimization trees.

    `statistics`: `row_count`, `truncated`, `jobs` (Spark jobs the
    request ran) and the wall time split into `sql_s` (parse + analyze),
    `execute_s` (plan + run the limited Dataset + collect) and `plan_s`
    (optimize the user's plan and extract the plan strings and trees);
    `wall_seconds` is their sum. Jobs are counted under a job tag of
    this request, which leaves any job group the caller set in place.
    """
    sc = spark.sparkContext
    tag = f"api.query-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        t0 = time.monotonic()
        df = spark.sql(sql, args=args) if args is not None else spark.sql(sql)
        t1 = time.monotonic()
        limited = df.limit(collect_limit)
        rows = limited.collect()
        t2 = time.monotonic()
        plans = plan_report(df, executed=limited)
        try:
            tree = {
                "original": plan_tree(df, "analyzed"),
                "optimized": plan_tree(df, "optimized"),
            }
        except Exception:
            tree = None
        t3 = time.monotonic()
        # Read from the status store, which the listener bus fills
        # asynchronously: a job whose start event is still queued at
        # this point is not counted.
        jobs = len(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
    finally:
        sc.removeJobTag(tag)
    return {
        "rows": [r.asDict() for r in rows],
        "columns": df.columns,
        "original_plan": plans["original"],
        "optimized_plan": plans["optimized"],
        "physical_plan": plans["physical"],
        "plan_tree": tree,
        "statistics": {
            "row_count": len(rows),
            "truncated": len(rows) == collect_limit,
            "jobs": jobs,
            "sql_s": round(t1 - t0, 4),
            "execute_s": round(t2 - t1, 4),
            "plan_s": round(t3 - t2, 4),
            "wall_seconds": round(t3 - t0, 4),
        },
    }


def run_with_metrics(df, metrics, action=None):
    """Execute `df` ONCE while collecting aggregate metrics in the same
    pass, via Spark's Observation API: `metrics` maps name → aggregate
    Column (count/sum/avg/min/max over the observed frame). Returns
    (action_result, {name: value}).

    The point at 100 TB: pipeline telemetry (rows in, rows kept, mean
    quality, redaction counts) must NOT cost a second corpus scan — an
    observe() rides the existing job's accumulators. Default action
    writes to the noop sink (pure side-effect-free execution); pass
    e.g. `lambda d: d.write.parquet(...)` to observe a real sink job.
    """
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    if action is None:
        result = observed.write.format("noop").mode("overwrite").save()
    else:
        result = action(observed)
    return result, obs.get
