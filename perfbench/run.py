"""Benchmark of the query engine: one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

`--workload all` runs every workload in turn, each in its own process.

Workloads:
  sql_service       the paper's SQL -> plans -> rows service over HTTP,
                    two closed-loop clients (sqlservice.py)
  batch             one cold pass over relational and LLM-data curation
                    inventory entries (batch.py)

The first run in a checkout writes the tables (datagen.py, the same
for every seed) to `.perfbench_run/data/` in the current directory;
the seed chooses the service's query parameters. A run checks every
answer against DuckDB and prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The line
before it names any failures and gives the box calibration probe. A
traced run also writes its spans and counters to
`.perfbench_run/trace-*.json`.
It exits non-zero, printing no result, if the engine or an answer check
cannot run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import datagen  # noqa: E402

WORKLOADS = ("sql_service", "batch")
# Data scale per workload: the service looks up keys in sf0.01 tables;
# the batch pass is per-job-overhead bound at any small scale, and
# sf0.001 keeps a cold pass and its checks inside about a minute, so
# every run the benchmark makes fits its time budget.
SCALE = {"sql_service": 0.01, "batch": 0.001}
SETUP_REPS = 3
SPARK_CORES = "4"

E2E = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "throughput_qps": "1/s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "box.calibration_ms": "ms",
    "trace.overhead_ratio": "ratio",
    "session.get_spark_s": "s",
    "session.register_tables_s": "s",
    "fragments.register_views_s": "s",
    "construct_s": "s",
    "construct_jobs": "count",
    "execute_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "cache.persisted_rdds": "count",
    "cache.storage_bytes": "bytes",
}


class Context:
    """What a workload needs: its inputs, limits and tracer."""

    def __init__(self, workload, seed, seconds, trace, sf, root, workdir, data_dirs):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sf = sf
        self.root = root
        self.workdir = workdir
        self.data_dirs = data_dirs
        self.tracer = common.Tracer()


def prepare_env(root: str, workdir: str) -> None:
    """Keep every file Spark and the engine write inside `workdir`, and
    let Python UDF workers import the engine package."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = SPARK_CORES
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # The serial collector grows the heap by free-space ratios, not by
    # pause-time heuristics, so peak RSS follows the program's allocation
    # rather than the timing of one run (G1 moved it by 20% between runs).
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC"
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)


def tail(values: list[float], min_samples: int) -> tuple[float, float]:
    """(percentile, value): the highest of p50/p75/p80/p90/p95/p99 that has
    at least ten of `min_samples` beyond it. The percentile follows from
    the run's guaranteed sample count, so it is the same on every run of
    a workload."""
    pct = 50.0
    for p in (75.0, 80.0, 90.0, 95.0, 99.0):
        if min_samples * (100 - p) >= 1000:
            pct = p
    return pct, common.percentile(values, pct)


def end_to_end(res: dict) -> tuple[dict, dict]:
    lat = res["latencies_ms"]
    pct, tail_ms = tail(lat, res["min_samples"])
    metrics = {
        "setup_s": res["setup"]["setup_s"],
        "latency_p50_ms": common.percentile(lat, 50),
        "latency_tail_ms": tail_ms,
        "throughput_qps": res["throughput_qps"],
        "pass_s": statistics.median(res["pass_walls_s"]),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    info = {"tail_percentile": pct, "latency_samples": len(lat),
            "passes": len(res["pass_walls_s"])}
    return metrics, info


def per_layer(res: dict, calibration: float) -> dict:
    """Per-layer metrics of the traced operations, as sums per pass."""
    ops = res["layer_ops"]
    per_pass = res["ops_per_pass"] / len(ops)
    out = {
        "box.calibration_ms": calibration,
        "trace.overhead_ratio": res["overhead_ratio"],
        "session.get_spark_s": res["setup"]["session.get_spark_s"],
        "session.register_tables_s": res["setup"]["session.register_tables_s"],
        "fragments.register_views_s": res["setup"]["fragments.register_views_s"],
        "construct_s": sum(r["construct_s"] for r in ops) * per_pass,
        "construct_jobs": sum(r["construct_jobs"] for r in ops) * per_pass,
        "execute_s": sum(r["execute_s"] for r in ops) * per_pass,
        "cache.persisted_rdds": max(r["rdds_after"] for r in ops),
        "cache.storage_bytes": max(r["storage_bytes"] for r in ops),
    }
    for key in common.SPARK_COUNTERS:
        out[f"spark.{key}"] = sum(r["spark"][key] for r in ops) * per_pass
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="query-engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        for w in WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace)]
            rc = subprocess.call(cmd)
            if rc:
                return rc
        return 0

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "__spark_entry__.py")):
        print(f"no engine checkout in {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run_root = os.path.join(root, ".perfbench_run")
    workdir = os.path.join(run_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(root, workdir)
    calibration = common.calibration_ms()

    sf = SCALE[args.workload]
    data = datagen.ensure(os.path.join(run_root, "data"), sf)
    # Registration is memoised per directory path, so each set-up rep gets
    # its own link to the same tables and registers them cold.
    dirs = []
    for i in range(SETUP_REPS):
        dirs.append(os.path.join(workdir, f"data{i}"))
        os.symlink(data, dirs[-1])
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), sf, root, workdir,
                  dirs)

    try:
        if args.workload == "sql_service":
            import sqlservice

            res = sqlservice.run(ctx)
        else:
            import batch

            res = batch.run(ctx)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    metrics, info = end_to_end(res)
    info["failures"] = res["failures"]
    if args.trace:
        layers = per_layer(res, calibration)
        trace_path = os.path.join(run_root, f"trace-{args.workload}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "layers": layers,
                       "detail": res.get("detail", {}), "spans": ctx.tracer.spans,
                       "ops": res.get("ops", [])}, f)
        info["trace_file"] = os.path.relpath(trace_path, root)
        info["detail"] = res.get("detail", {})
        out = {k: layers[k] for k in PER_LAYER}
        units = PER_LAYER
    else:
        out = metrics
        units = E2E
    info["end_to_end"] = metrics
    info["box.calibration_ms"] = calibration
    print(json.dumps(info, sort_keys=True))
    failed = len(res["failures"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {k: {"value": out[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
