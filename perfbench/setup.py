"""Engine set-up, timed: `api.bootstrap` once per data directory.

The first call starts the session; every call registers the catalog and
the fragment views over its own directory path (links to the same
tables), so the registration is measured cold each time
(`register_tables` is memoised per directory path).
`setup_s` is the session start plus the median registration."""

from __future__ import annotations

import statistics
import time


def bootstrap(data_dirs: list[str]):
    """Return (spark, data dir the catalog now points at, set-up metrics)."""
    from distributedqueryengine_spark import api, fragments, session

    times: dict[str, list[float]] = {"get_spark": [], "register_tables": [], "register_views": []}

    def timed(key, fn):
        def call(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                times[key].append(time.perf_counter() - t0)

        return call

    saved = (session.get_spark, session.register_tables, fragments.register_fragment_views)
    session.get_spark = timed("get_spark", session.get_spark)
    session.register_tables = timed("register_tables", session.register_tables)
    fragments.register_fragment_views = timed("register_views", fragments.register_fragment_views)
    try:
        reps = []
        for d in data_dirs:
            t0 = time.perf_counter()
            spark = api.bootstrap(d)
            reps.append(time.perf_counter() - t0)
    finally:
        session.get_spark, session.register_tables, fragments.register_fragment_views = saved
    first_start = times["get_spark"][0]
    catalog = [r - g for r, g in zip(reps, times["get_spark"])]
    metrics = {
        "setup_s": first_start + statistics.median(catalog),
        "session.get_spark_s": first_start,
        "session.register_tables_s": statistics.median(times["register_tables"]),
        "fragments.register_views_s": statistics.median(times["register_views"]),
    }
    return spark, data_dirs[-1], metrics


def shutdown(spark) -> None:
    """Stop the session and wait until its JVM has exited; the JVM ends
    when its stdin closes."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
