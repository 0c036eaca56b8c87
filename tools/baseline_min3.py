"""Quiet-box min-of-3 bench A/B (VERDICT r8 item 1 / r9 item 1).

Runs the full Spark-vs-DuckDB side-by-side THREE times in one process
(each inner run is itself min-of-2 per query, same methodology as
`tools/baseline_duckdb.py`), takes the per-query MIN across runs, and
writes a BASELINE_r{N}.json-compatible summary plus a `drift` section
comparing named queries against prior-round BENCH values passed on the
command line. Min-of-3-of-min-of-2 strips scheduler/load noise: a
query whose min is stable across 6 executions but whose single-shot
value drifted in a round bench was noise, not a plan change.

Usage:
  python tools/baseline_min3.py [sf_dir] [out.json] [watch=q1,q2,...]
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


def one_pass(spark, con, qs, oracles, headline, sf_dir):
    per = {}
    for name in headline:
        if name not in qs:
            continue
        force(qs[name](spark, sf_dir))  # warm
        ts = float("inf")
        for _ in range(2):
            # clearCache: queries that persist() internal stages would
            # otherwise serve this execution from the CacheManager's
            # identical-plan match (bench.py's discipline, r12)
            spark.catalog.clearCache()
            t0 = time.monotonic()
            force(qs[name](spark, sf_dir))
            ts = min(ts, time.monotonic() - t0)
        td = None
        if name in oracles:
            td = float("inf")
            for _ in range(2):
                t0 = time.monotonic()
                con.execute(oracles[name]).fetchall()
                td = min(td, time.monotonic() - t0)
        per[name] = (ts, td)
    return per


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    watch = sys.argv[3].split(",") if len(sys.argv) > 3 else []
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    spark = get_spark("baseline-min3")
    qs, oracles = entry_mod.queries(), dict(entry_mod.oracle_sql())
    # result-identical scalable oracle substitutes (quadratic skyline
    # NOT-EXISTS costs DuckDB ~180s at sf0.1 — see baseline_duckdb.py)
    from distributedqueryengine_spark.inventory import BASELINE_ORACLE_OVERRIDES
    oracles.update(BASELINE_ORACLE_OVERRIDES)
    headline = HEADLINE if HEADLINE is not None else sorted(qs)

    runs = []
    for i in range(3):
        t0 = time.monotonic()
        runs.append(one_pass(spark, con, qs, oracles, headline, sf_dir))
        print(f"run {i + 1}/3 done in {time.monotonic() - t0:.1f}s",
              file=sys.stderr)

    per_query, spread = {}, {}
    tot_s = tot_d = oracled_s = 0.0
    for name in runs[0]:
        s_vals = [r[name][0] for r in runs]
        d_vals = [r[name][1] for r in runs if r[name][1] is not None]
        ts = min(s_vals)
        td = min(d_vals) if d_vals else None
        tot_s += ts
        spread[name] = round(max(s_vals) / max(ts, 1e-9), 2)
        if td is not None:
            tot_d += td
            oracled_s += ts
            per_query[name] = {
                "spark": round(ts, 3), "duckdb": round(td, 3),
                "ratio": round(ts / max(td, 1e-9), 2),
            }
        else:
            per_query[name] = {"spark": round(ts, 3), "duckdb": None,
                               "ratio": None}

    # Per-branch split with BOTH engines (r13 verdict item 7): the raw
    # aggregate drifts as suites absorb new ms-scale-in-DuckDB branches;
    # recording spark AND duckdb per branch makes next round's
    # attribution automatic instead of narrative. Spark side = the
    # BENCH_SPLITS standalone builders (min-of-2); DuckDB side = the
    # branch's standalone oracle where one exists (suite-embedded
    # branches share suite CTEs and have none — recorded as null).
    from distributedqueryengine_spark.inventory import (
        BENCH_SPLIT_ORACLES,
        BENCH_SPLITS,
    )

    branch_splits: dict[str, dict] = {}
    for suite, branches in BENCH_SPLITS.items():
        if suite not in per_query:
            continue
        split: dict[str, dict] = {}
        for bname, fn in branches.items():
            row: dict = {"spark": None, "duckdb": None}
            try:
                ts = float("inf")
                for _ in range(2):
                    spark.catalog.clearCache()
                    t0 = time.monotonic()
                    force(fn(spark, sf_dir))
                    ts = min(ts, time.monotonic() - t0)
                row["spark"] = round(ts, 3)
            except Exception:
                row["spark"] = -1.0  # branch failed; visible, not fatal
            sql = BENCH_SPLIT_ORACLES.get(suite, {}).get(bname)
            if sql is not None:
                try:
                    td = float("inf")
                    for _ in range(2):
                        t0 = time.monotonic()
                        con.execute(sql).fetchall()
                        td = min(td, time.monotonic() - t0)
                    row["duckdb"] = round(td, 3)
                except Exception:
                    row["duckdb"] = -1.0
            split[bname] = row
        branch_splits[suite] = split

    drift = {}
    for name in watch:
        if name in per_query:
            drift[name] = {
                "min3_spark": per_query[name]["spark"],
                "run_values": [round(r[name][0], 3) for r in runs],
                "max_over_min": spread[name],
            }

    # trimmed aggregate: drop DuckDB-sub-50ms rows, where the ratio
    # prices Spark's fixed local stage overhead against in-process
    # microseconds (see baseline_duckdb.py)
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
        "method": "min-of-3-runs x min-of-2-executions per query",
        "spark_total_sec": round(tot_s, 2),
        "spark_oracled_total_sec": round(oracled_s, 2),
        "duckdb_oracled_total_sec": round(tot_d, 2),
        "aggregate_ratio_oracled": round(oracled_s / max(tot_d, 1e-9), 2),
        "trimmed_spark_sec": round(tr_s, 2),
        "trimmed_duckdb_sec": round(tr_d, 2),
        "aggregate_ratio_trimmed": round(tr_s / max(tr_d, 1e-9), 2),
        "queries": per_query,
        "branch_splits": branch_splits,
        "noise_max_over_min": spread,
        "watched_drift": drift,
    }
    print(json.dumps({k: summary[k] for k in
                      ("spark_total_sec", "duckdb_oracled_total_sec",
                       "aggregate_ratio_oracled", "watched_drift")}))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(summary, f, indent=1)
        print(f"wrote {out_path}", file=sys.stderr)


if __name__ == "__main__":
    main()
