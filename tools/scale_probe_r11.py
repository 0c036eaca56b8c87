"""Round-11 scale probe: the five heaviest operators at 1x/10x/100x
(VERDICT r10 item 5 — the 10x whole-inventory probe is measured; this
pushes the heavy tail two orders of magnitude), wall + UI-REST shuffle
deltas, min-of-2 with clearCache.

Targets and why they are the heavy tail:
- dedup_near_suite  — quadratic-by-semantics on duplicated data (each
  replica copy is an exact near-dup, so candidate pairs grow with the
  SQUARE of the copy count; at 100x each content group holds 100
  copies -> ~C(100,2) true pairs per group). The probe reports output
  rows next to wall so superlinearity can be attributed to output.
- decontam_suite    — eval-gram broadcast + corpus semi-join.
- window_suite      — 3 window partitionings over orders.
- skyline_orders    — two-phase Pareto frontier over orders.
- sim_ann_topk      — the fused single-pass ANN driver row, plus the
  AMORTIZED build/probe lifecycle (annbench.ann_lifecycle) at
  132k/1.3M/13.2M corpus rows. At 13.2M the IVF cell count is capped
  at 4096 (4*sqrt(n) would put the one-time driver k-means at ~1e11
  flops; the cap is a build-time knob and is recorded in the row).

Replication is key-shifted (disjoint copies, same scheme as
tools/inventory_scale_probe.py) over only the tables these operators
read: documents, orders, embeddings. Other tables are byte-copied at
1x — the probe queries never touch them at scale.

Usage: python tools/scale_probe_r11.py [op ...]
       ops: dedup decontam window skyline ann_fused ann_amortized
       (default: all; factors 1/10/100 built under /tmp)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

os.environ.setdefault("SPARK_GRAFT_UI", "true")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from distributedqueryengine_spark.session import (  # noqa: E402
    TABLES,
    get_spark,
    load_table,
)
from tools.scale_probe_pipelines import shuffle_write_bytes  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
SHIFT = 10_000_000
KEYED = {
    "documents": ["doc_id"],
    "orders": ["o_orderkey", "o_custkey"],
    "embeddings": ["vec_id"],
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
    out = f"/tmp/spark_graft_r11_{n}x"
    if os.path.isdir(out):
        return out  # reuse across invocations (deterministic build)
    os.makedirs(out)
    for t in TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if t in KEYED and n > 1:
            replicate_multi(load_table(spark, SF_DIR, t), n, KEYED[t]) \
                .repartition(32).write.mode("overwrite").parquet(dst)
        else:
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copy(src, dst)
    return out


def timed(spark, fn, runs: int = 2):
    """(best_wall_s, shuffle_mb_of_best, rows_of_best) for a callable
    returning a DataFrame; rows come from a count on the same plan."""
    best = (float("inf"), 0.0, -1)
    for _ in range(runs):
        spark.catalog.clearCache()
        s0 = shuffle_write_bytes(spark)
        t0 = time.monotonic()
        df = fn()
        df.write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        shuf = (shuffle_write_bytes(spark) - s0) / 1e6
        if wall < best[0]:
            nrows = df.count()
            best = (round(wall, 2), round(shuf, 1), nrows)
    return best


def main() -> None:
    only = set(sys.argv[1:])
    spark = get_spark("scale-probe-r11")
    assert spark.sparkContext.uiWebUrl, "needs SPARK_GRAFT_UI=true (fresh JVM)"
    import __spark_entry__ as entry_mod
    from distributedqueryengine_spark import queries as Q

    qs = entry_mod.queries()
    ops = {
        "dedup": qs["dedup_near_suite"],
        "decontam": qs["decontam_suite"],
        "window": qs["window_suite"],
        "skyline": Q.q_skyline_orders,
        "ann_fused": qs["sim_ann_topk"],
    }
    factors = [1, 10, 100]
    results: dict[str, dict] = {}
    for name, fn in ops.items():
        if only and name not in only:
            continue
        results[name] = {}
        for n in factors:
            d = build_dir(spark, n)
            wall, shuf, rows = timed(spark, lambda: fn(spark, d))
            results[name][f"{n}x"] = {
                "wall_s": wall, "shuffle_mb": shuf, "out_rows": rows,
            }
            print(f"{name} @{n}x: {wall}s, {shuf} MB shuffle, "
                  f"{rows} rows", flush=True)

    if "dedup_collapsed" in only:
        # The production pipeline shape for heavily duplicated corpora:
        # EXACT dedup first (fingerprint groupBy — one cheap shuffle),
        # then the near-dup spine on the collapsed corpus. At 100x
        # replication the raw spine is quadratic by semantics (~C(100,2)
        # true pairs per content group; the raw run documents where that
        # hits the local 8g heap) — the collapse removes the n² factor
        # BEFORE MinHash, which is why real cleans stage it this way.
        from distributedqueryengine_spark.functions.text import fingerprint

        for n in factors:
            d = build_dir(spark, n)
            t0 = time.monotonic()
            docs = load_table(spark, d, "documents")
            collapsed = (
                docs.withColumn("__fp", fingerprint(F.col("text")))
                .groupBy("__fp")
                .agg(F.min("doc_id").alias("doc_id"),
                     F.first("text").alias("text"),
                     F.count(F.lit(1)).alias("n_copies"))
                .drop("__fp")
            )
            cdir = f"/tmp/spark_graft_r11_collapsed_{n}x"
            shutil.rmtree(cdir, ignore_errors=True)
            os.makedirs(cdir)
            collapsed.write.parquet(os.path.join(cdir, "documents.parquet"))
            t_collapse = time.monotonic() - t0
            wall, shuf, rows = timed(
                spark, lambda: qs["dedup_near_suite"](spark, cdir)
            )
            results.setdefault("dedup_collapsed", {})[f"{n}x"] = {
                "collapse_s": round(t_collapse, 2),
                "near_dup_wall_s": wall, "shuffle_mb": shuf,
                "out_rows": rows,
            }
            print(f"dedup_collapsed @{n}x: collapse {t_collapse:.1f}s + "
                  f"near-dup {wall}s, {shuf} MB, {rows} rows", flush=True)

    if not only or "ann_amortized" in only:
        from distributedqueryengine_spark.annbench import ann_lifecycle

        results["ann_amortized"] = {}
        for n, corpus in ((1, 131072), (10, 1310720), (100, 13107200)):
            kw = {}
            if corpus > 4_000_000:
                # cap one-time driver k-means cost; recorded in the row
                kw = {"n_batches": 2, "n_cells": 4096}
            r = ann_lifecycle(spark, SF_DIR, corpus_rows=corpus, **kw)
            results["ann_amortized"][f"{n}x"] = r
            print(f"ann_amortized @{n}x: {json.dumps(r)}", flush=True)

    print("\n| operator | 1x wall/shuffle/rows | 10x | 100x |")
    print("|---|---|---|---|")
    for name, r in results.items():
        if name == "ann_amortized":
            continue
        cells = []
        for n in factors:
            c = r.get(f"{n}x")
            cells.append(
                f"{c['wall_s']}s / {c['shuffle_mb']}MB / {c['out_rows']}"
                if c else "—"
            )
        print(f"| {name} | " + " | ".join(cells) + " |")
    out_json = os.path.join(REPO, "SCALE_PROBE_r11.json")
    merged = {}
    if os.path.isfile(out_json):  # incremental op-by-op invocations merge
        with open(out_json) as f:
            merged = json.load(f)
    merged.update(results)
    with open(out_json, "w") as f:
        json.dump(merged, f, indent=1)
    print("wrote SCALE_PROBE_r11.json", flush=True)


if __name__ == "__main__":
    main()
