"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an oracle exists,
the matching SQL on DuckDB over the same parquet; compares row count,
column names, and order-insensitive values (exact for non-floats,
1e-6-relative for floats). Strictly at least as strict as the driver
on values; run at sf0.01 by default.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from distributedqueryengine_spark.session import TABLES, get_spark  # noqa: E402


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canonical = [tuple(canon(r[i]) for i in order) for r in rows]
    # None-safe, mixed-type-safe sort; equality still compared on values.
    return sorted(canonical, key=lambda row: tuple((v is None, str(v)) for v in row))


def compare(name, sdf, con, sql):
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    problems = []
    # The driver hashes values after a width-canonicalizing conversion
    # (round-1 evidence: uint32/int32/int64 all hash equal) but DuckDB
    # HUGEINT/DECIMAL columns surface as Decimal objects and break the
    # hash (fn_variant, round 1). Flag exactly that class.
    oracle_types = {d[0]: str(con.execute(sql).arrow().schema.field(d[0]).type)
                    for d in res.description}
    for col, otyp in oracle_types.items():
        if otyp.startswith("decimal") or "128" in otyp:
            problems.append(
                f"type: oracle column {col} is {otyp} (hashes as Decimal, "
                f"not int/float): CAST it in the oracle SQL"
            )
    if sorted(scols) != sorted(ocols):
        problems.append(f"schema: spark={sorted(scols)} oracle={sorted(ocols)}")
    if len(srows) != len(orows):
        problems.append(f"rowcount: spark={len(srows)} oracle={len(orows)}")
    if not problems:
        sk, ok = rows_key(scols, srows), rows_key(ocols, orows)
        if sk != ok:
            for i, (a, b) in enumerate(zip(sk, ok)):
                if a != b:
                    problems.append(f"values differ at sorted row {i}: spark={a} oracle={b}")
                    break
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("correctness-check")
    con = duck_connect(sf_dir)
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            if name not in oracles:
                n = sdf.count()
                n_rows_only += 1
                print(f"  ROWS-ONLY {name}: {n} rows ({time.monotonic()-t0:.1f}s)")
                continue
            problems = compare(name, sdf, con, oracles[name])
        except Exception:
            problems = [traceback.format_exc(limit=5)]
        dt = time.monotonic() - t0
        if problems:
            n_fail += 1
            print(f"  FAIL {name} ({dt:.1f}s)")
            for p in problems:
                print(f"       {p}")
        else:
            n_pass += 1
            print(f"  PASS {name} ({dt:.1f}s)")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only @ {sf_dir}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
