"""batch workload: one pass over relational and LLM-data curation
inventory entries in a fresh session, the way a batch job runs.

One run bootstraps the engine over the benchmark's tables, then
builds and collects every entry once, in a fixed order (in a cold JVM
the first entries pay for warming it, so a seed-dependent order would
move cost between entries), each under its own Spark job group after
`clearCache()`. The pass is timed as a whole and per entry (construction
and execution apart); the collected rows are compared with the entry's
DuckDB oracle after the pass. The pass is the run's only measurement:
it takes longer than the run's seconds, and a second pass in the same
JVM would measure a warmed engine no batch job sees.
"""

from __future__ import annotations

import importlib.util
import os
import time

import common
import setup

# One list, so that one cold pass carries both kinds of work and its
# wall and per-entry median rest on sixteen entries rather than on one
# slow entry each.
#
# The paper's operator algebra: scans/SPJ, fragments, joins, aggregates,
# windows, set operations, the SQL front end, the parquet write path and
# a TPC-H join.
RELATIONAL = [
    "agg_pricing_summary",
    "agg_top_nation_revenue",
    "fragment_horizontal_union",
    "fragment_transparent_join",
    "fragment_vertical_join",
    "io_roundtrip",
    "join_outer_suite",
    "leaf_scan_filter",
    "select_project_join",
    "set_ops_suite",
    "sql_frontend",
    "tpch_q3_shipping_priority",
    "window_suite",
]

# LLM-data curation: DataFrame construction in functions/ and
# pipeline.py (pipeline_curate runs dozens of jobs before its first
# action), persist/localCheckpoint and explode-and-shuffle stages.
CURATION = [
    "multimodal_pipeline",
    "pipeline_curate",
    "text_chunking",
]

# Top keys too slow for the timed pass: a traced run builds and runs each
# once after the pass, for per-query attribution only.
PROBES = [
    "agg_mixed_suite", "approx_sketches", "order_limit_suite",
    "dedup_near_suite", "sample_suite", "sim_bruteforce_topk", "text_doc_profile",
    "text_wordcount",
]


def _oracle_compare(root: str):
    """`compare(name, sdf, con, sql)` and `duck_connect(dir)` from the
    repository's correctness harness."""
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare, mod.duck_connect


def run(ctx) -> dict:
    import __spark_entry__ as entry_mod

    entries = RELATIONAL + CURATION
    probes = PROBES if ctx.trace else []
    compare, duck_connect = _oracle_compare(ctx.root)
    oracles = entry_mod.oracle_sql()
    inventory = entry_mod.queries()
    missing = [n for n in entries + probes if n not in inventory or n not in oracles]
    if missing:
        raise RuntimeError(f"no inventory entry or oracle for {missing}")
    con = _Oracle(duck_connect(ctx.data_dirs[-1]))  # fails early if the check cannot run

    spark, data_dir, setup_metrics = setup.bootstrap(ctx.data_dirs)
    try:
        sc = spark.sparkContext
        tracer = ctx.tracer
        tracer.enabled = ctx.trace
        spark.sql = tracer.wrap("session.sql", spark.sql)
        t0 = time.perf_counter()
        ops = [_run_op(spark, sc, tracer, name, inventory[name], data_dir, ctx.trace)
               for name in entries]
        wall = time.perf_counter() - t0
        probe_ops = [_run_op(spark, sc, tracer, name, inventory[name], data_dir, True)
                     for name in probes]
        tracer.enabled = False
        rss = common.peak_rss_mb(os.getpid())
    finally:
        setup.shutdown(spark)

    # An exception here means the check itself could not run: it ends the
    # run without a result.
    failures = [f"{r['name']}: {r['error']}" for r in ops + probe_ops if "error" in r]
    try:
        for r in ops + probe_ops:
            if "error" in r:
                continue
            problems = compare(r["name"], _Collected(r.pop("columns"), r.pop("rows")),
                               con, oracles[r["name"]])
            if problems:
                failures.append(f"{r['name']}: {problems[0]}")
    finally:
        con.close()

    done = [r for r in ops if "latency_s" in r]
    result = {
        "attempted": len(ops) + len(probe_ops),
        "failures": failures,
        "latencies_ms": [r["latency_s"] * 1000.0 for r in done],
        "min_samples": len(entries),
        "pass_walls_s": [wall - sum(r.get("trace_s", 0.0) for r in ops)],
        "throughput_qps": len(done) / wall,
        "ops_per_pass": len(entries),
        "peak_rss_mb": rss,
        "setup": setup_metrics,
    }
    if ctx.trace:
        # Tracing cost is the counter reads between operations.
        result["overhead_ratio"] = wall / result["pass_walls_s"][0]
        result["layer_ops"] = done
        result["detail"] = _per_query(done + [r for r in probe_ops if "latency_s" in r])
        result["ops"] = ops + probe_ops
    return result


class _Oracle:
    """A DuckDB connection that runs each oracle query once.

    `compare` executes the oracle SQL again for every column to read its
    Arrow type; here those calls get a zero-row result with the same
    schema, so a slow oracle query costs one execution, not one per
    column."""

    def __init__(self, con) -> None:
        self.con = con
        self.results: dict = {}

    def execute(self, sql: str):
        if sql not in self.results:
            res = self.con.execute(sql)
            self.results[sql] = _OracleResult(
                res.description, res.fetchall(), self.con.sql(sql).limit(0).arrow())
        return self.results[sql]

    def close(self) -> None:
        self.con.close()


class _OracleResult:
    def __init__(self, description, rows, schema_only) -> None:
        self.description = description
        self._rows = rows
        self._schema_only = schema_only

    def fetchall(self) -> list:
        return self._rows

    def arrow(self):
        return self._schema_only


class _Collected:
    """Rows already collected, shaped like the DataFrame `compare` takes."""

    def __init__(self, columns: list[str], rows: list) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


def _per_query(ops: list[dict]) -> dict:
    """query.<name>.{construct_s,execute_s,jobs,construct_jobs}."""
    out: dict = {}
    for r in ops:
        out[f"query.{r['name']}.construct_s"] = r["construct_s"]
        out[f"query.{r['name']}.execute_s"] = r["execute_s"]
        out[f"query.{r['name']}.jobs"] = r["spark"]["jobs"]
        out[f"query.{r['name']}.construct_jobs"] = r["construct_jobs"]
    return out


def _run_op(spark, sc, tracer, name, fn, data_dir, traced) -> dict:
    """Build one entry and collect it under its own job group; when
    traced also read its Spark counters and the cache around it, and
    record the time those reads took as `trace_s`."""
    rec: dict = {"name": name}
    sc.setJobGroup(name, name)
    spark.catalog.clearCache()
    tr = time.perf_counter()
    if traced:
        rec["rdds_before"], _ = common.cache_state(sc)
    trace_s = time.perf_counter() - tr
    try:
        with tracer.span("op", op=name):
            t0 = time.perf_counter()
            with tracer.span("construct"):
                df = fn(spark, data_dir)
            t1 = time.perf_counter()
            if traced:
                rec["construct_jobs"] = len(common.job_ids(sc, name))
            t2 = time.perf_counter()
            with tracer.span("execute"):
                rows = df.collect()
            t3 = time.perf_counter()
    except Exception as e:  # counted and named as a failure, never dropped
        rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
        return rec
    rec["columns"], rec["rows"] = df.columns, rows
    rec["construct_s"] = t1 - t0
    rec["execute_s"] = t3 - t2
    rec["latency_s"] = (t1 - t0) + (t3 - t2)
    if traced:
        rec["spark"] = common.spark_counters(sc, common.job_ids(sc, name))
        rec["rdds_after"], rec["storage_bytes"] = common.cache_state(sc)
        rec["trace_s"] = trace_s + (t2 - t1) + time.perf_counter() - t3
    return rec
