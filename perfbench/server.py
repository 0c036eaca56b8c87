"""Child process of the sql_service workload: the engine's query service.

    python3 perfbench/server.py DATA_DIR [DATA_DIR ...]

Bootstraps the engine once per data directory (the last one stays
registered), starts `service.serve` on an ephemeral port and prints one
JSON line with the port and the set-up times. It then reads commands
from stdin, one per line, and answers each with one JSON line:

  trace on | trace off   switch span and counter recording
  report                 spans and per-request Spark counters so far
  stop                   shut the service and the session down, exit

While tracing is on, `api.query`, `api.plan_report`, `api.plan_tree` and
the session's `sql` are recorded as spans, and every request runs under
its own Spark job group whose counters are read when it returns.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import setup  # noqa: E402


def instrument(spark, tracer: common.Tracer, records: list[dict]) -> None:
    """Wrap the service's layers with spans; give each traced request its
    own job group and record its Spark counters after it returns."""
    from distributedqueryengine_spark import api

    sc = spark.sparkContext
    ids = itertools.count(1)
    lock = threading.Lock()
    current = threading.local()
    query, sql = api.query, spark.sql

    def traced_query(spark_, text, collect_limit=10_000, args=None):
        if not tracer.enabled:
            return query(spark_, text, collect_limit=collect_limit, args=args)
        op = current.op = f"req{next(ids)}"
        current.construct_jobs = 0
        sc.setJobGroup(op, "sql_service")
        try:
            with tracer.span("api.query", op=op):
                out = query(spark_, text, collect_limit=collect_limit, args=args)
        finally:
            current.op = None
        rec = {"op": op, "sql": text, "construct_jobs": current.construct_jobs,
               "spark": common.spark_counters(sc, common.job_ids(sc, op))}
        rec["rdds_after"], rec["storage_bytes"] = common.cache_state(sc)
        with lock:
            records.append(rec)
        return out

    def traced_sql(*args, **kwargs):
        with tracer.span("session.sql"):
            df = sql(*args, **kwargs)
        if getattr(current, "op", None):
            current.construct_jobs = len(common.job_ids(sc, current.op))
        return df

    api.query = traced_query
    api.plan_report = tracer.wrap("plans.plan_report", api.plan_report)
    api.plan_tree = tracer.wrap("plans.plan_tree", api.plan_tree)
    spark.sql = traced_sql


def main(data_dirs: list[str]) -> int:
    from distributedqueryengine_spark import service

    spark, _, setup_metrics = setup.bootstrap(data_dirs)
    tracer = common.Tracer()
    records: list[dict] = []
    instrument(spark, tracer, records)
    server = service.serve(spark)
    print(json.dumps({"port": server.server_address[1], "setup": setup_metrics}), flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd in ("trace on", "trace off"):
            tracer.enabled = cmd == "trace on"
            reply = {"ok": True}
        elif cmd == "report":
            reply = {"spans": tracer.spans, "records": records,
                     "self": {str(k): v for k, v in tracer.self_times().items()}}
        elif cmd == "stop":
            break
        else:
            reply = {"error": f"unknown command {cmd!r}"}
        print(json.dumps(reply), flush=True)
    server.shutdown()
    server.server_close()
    setup.shutdown(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
