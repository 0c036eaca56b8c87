"""Whole-inventory scale probe (round 10): run ALL 50 driver queries
at sf0.1 and at an N-fold KEY-CONSISTENT replication of every fixture
table, recording wall time per query — the inventory-wide answer to
"would this plan survive a 10× scale-up", complementing the per-
operator probes (scale_probe*.py) with full coverage.

Replication is referentially consistent: each copy r shifts every
join key (custkey/orderkey/partkey/suppkey/doc_id/vec_id/user_id/
event_id) by r·SHIFT, so orders⋈lineitem⋈customer⋈part⋈supplier stay
valid and each copy forms a disjoint subgraph — query OUTPUT grows
where semantics say it must (scans, joins, dedup pairs) and stays
fixed where state is bounded (top-k, sketches, 1-row stats). The tiny
dims region/nation are shared (they are dims at any scale).

Interpretation guide printed with the table:
- wall growth ≲ N on data-sized outputs = linear, good.
- wall growth ≪ N on bounded-output queries = map-side dominated, good.
- wall growth > N anywhere = superlinear, decompose it.

Usage: python tools/inventory_scale_probe.py [N] [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from distributedqueryengine_spark.session import (  # noqa: E402
    TABLES,
    get_spark,
    load_table,
)

SF_DIR = "/root/testdata/sf0.1"
SHIFT = 10_000_000

#: key columns to shift per table (referential consistency: the same
#: copy offset lands on both sides of every FK edge)
KEYED = {
    "customer": ["c_custkey"],  # c_nationkey stays: nation is a shared dim
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
}


def replicate_multi(df, n: int, id_cols):
    if n <= 1:
        return df
    copies = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
    out = df.select("*", copies)
    for c in id_cols:
        out = out.withColumn(c, F.col(c) + F.col("rep").cast("long") * SHIFT)
    return out.drop("rep")


def build_dir(spark, n: int) -> str:
    out = f"/tmp/spark_graft_inventory_{n}x"
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    for t in TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if t in KEYED:
            replicate_multi(load_table(spark, SF_DIR, t), n, KEYED[t]) \
                .write.mode("overwrite").parquet(dst)
        else:
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copy(src, dst)
    return out


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    spark = get_spark("inventory-scale-probe")
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    scaled = build_dir(spark, n)
    results = {}
    for name in sorted(qs):
        results[name] = {}
        for label, d in (("1x", SF_DIR), (f"{n}x", scaled)):
            best = float("inf")
            try:
                for _ in range(2):
                    spark.catalog.clearCache()
                    t0 = time.monotonic()
                    force(qs[name](spark, d))
                    best = min(best, time.monotonic() - t0)
                results[name][label] = round(best, 2)
            except Exception as e:  # noqa: BLE001 — report, don't die
                results[name][label] = f"ERROR: {type(e).__name__}: {e}"[:200]
            print(f"{name} @{label}: {results[name][label]}", flush=True)

    print(f"\n| query | wall 1x | wall {n}x | growth |")
    print("|---|---|---|---|")
    rows = []
    for name, r in sorted(results.items()):
        a, b = r["1x"], r[f"{n}x"]
        if isinstance(a, float) and isinstance(b, float):
            g = f"{b / max(a, 1e-9):.1f}x"
        else:
            g = "ERR"
        rows.append((name, a, b, g))
        print(f"| {name} | {a} s | {b} s | {g} |")
    if out_path:
        with open(out_path, "w") as f:
            json.dump({"n": n, "results": results}, f, indent=1)
        print(f"wrote {out_path}", flush=True)


if __name__ == "__main__":
    main()
