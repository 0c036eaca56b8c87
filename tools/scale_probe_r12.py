"""Round-12 scale probes (r11 verdict items 6 + 7).

1. `staged_default` — the near-dup API DEFAULT (minhash_near_duplicates
   staged=True: exact-collapse → LSH on survivors → map back) at
   1×/10×/100× replication of the sf0.1 documents table. The r11 probe
   measured the raw spine OOMing an 8 GB heap at 100× (85M true pairs,
   411.6s at 64 GB) and the collapsed spine at 9.3s — but that
   measurement dropped the map-back. This one runs the full
   default-path semantics (output = identical pair set to raw,
   including all within-group pairs), so it prices the expansion too.

2. `repetition` — functions/text.repetition_profile at 1×/10×/100×
   documents. It became the most expensive text operator in r11 and
   its scaling was never probed (the r11 probe predated it); r12 fixed
   its interpreted-HOF re-evaluation, so this records the post-fix
   scaling + shuffle shape.

Usage:  SPARK_GRAFT_UI=true python tools/scale_probe_r12.py [probe ...]
Writes SCALE_PROBE_r12.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from distributedqueryengine_spark.session import get_spark, load_table  # noqa: E402
from tools.scale_probe_pipelines import shuffle_write_bytes  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
SHIFT = 10_000_000
OUT = os.path.join(REPO, "SCALE_PROBE_r12.json")


def replicate_docs(spark, n: int) -> str:
    out = f"/tmp/spark_graft_r12_docs_{n}x"
    if os.path.isdir(out):
        return out
    df = load_table(spark, SF_DIR, "documents")
    if n > 1:
        copies = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
        df = (
            df.select("*", copies)
            .withColumn(
                "doc_id", F.col("doc_id") + F.col("rep").cast("long") * SHIFT
            )
            .drop("rep")
        )
    df.repartition(32).write.mode("overwrite").parquet(out)
    return out


def timed(spark, fn, runs: int = 2):
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
    only = set(sys.argv[1:]) or {"staged_default", "repetition"}
    spark = get_spark("scale-probe-r12")
    assert spark.sparkContext.uiWebUrl, "needs SPARK_GRAFT_UI=true (fresh JVM)"

    from distributedqueryengine_spark.functions import dedup as D
    from distributedqueryengine_spark.functions import text as T

    results: dict[str, dict] = {}
    for n in (1, 10, 100):
        path = replicate_docs(spark, n)
        docs = spark.read.parquet(path)
        if "staged_default" in only:
            wall, shuf, rows = timed(
                spark,
                lambda: D.minhash_near_duplicates(docs, "doc_id", "text"),
            )
            results.setdefault("staged_default", {})[f"{n}x"] = {
                "wall_s": wall, "shuffle_mb": shuf, "out_rows": rows,
            }
            print(f"staged_default @{n}x: {wall}s, {shuf} MB, {rows} pairs",
                  flush=True)
        if "repetition" in only:
            wall, shuf, rows = timed(
                spark,
                lambda: T.repetition_profile(docs, "doc_id", "text"),
            )
            results.setdefault("repetition", {})[f"{n}x"] = {
                "wall_s": wall, "shuffle_mb": shuf, "out_rows": rows,
            }
            print(f"repetition @{n}x: {wall}s, {shuf} MB, {rows} rows",
                  flush=True)
        if "dsir" in only:
            from distributedqueryengine_spark.functions.dsir import (
                importance_resample,
            )

            wall, shuf, rows = timed(
                spark,
                lambda: importance_resample(
                    docs, docs.filter(F.col("lang") == "en"),
                    "doc_id", "text", k=1000, num_buckets=4096,
                ),
            )
            results.setdefault("dsir", {})[f"{n}x"] = {
                "wall_s": wall, "shuffle_mb": shuf, "out_rows": rows,
            }
            print(f"dsir @{n}x: {wall}s, {shuf} MB, {rows} rows",
                  flush=True)

    merged = {}
    if os.path.isfile(OUT):  # partial re-runs extend, never clobber
        with open(OUT) as f:
            merged = json.load(f)
    merged.update(results)
    with open(OUT, "w") as f:
        json.dump(merged, f, indent=1)
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
