"""Zonemap at real file counts (VERDICT r10 item 7): the r10 probe ran
at 320 files; the listing+footer pass is linear in FILE COUNT and
`update_zonemap`/`prune_files` collect file LISTS to the driver. This
probe builds a ~20k-file range-clustered dataset and measures:

- full zonemap build (20k footers, distributed) wall;
- incremental refresh after appending a 1%-sized delta (must read ONLY
  the delta's footers — the point of update_zonemap);
- prune_files wall + selectivity for a narrow predicate;
- pruned read vs full-scan filter wall (does the win survive 20k-file
  listing overhead?).

Driver-list accounting: list_data_files is one os.walk (local FS; on
object stores this is the provider's LIST — same linear cost), and the
stats/prune path ships one file-name string per file to the driver.
At 20k files that is ~2 MB of strings — the metadata-table alternative
(store the zonemap keyed by file, anti-join new listings against it)
becomes necessary around the point where file names alone stop fitting
driver memory, i.e. tens of millions of files, not tens of thousands.

Usage: python tools/zonemap_files_probe.py [n_files] (default 20000)
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

from distributedqueryengine_spark.session import get_spark  # noqa: E402
from distributedqueryengine_spark.sources.zonemap import (  # noqa: E402
    list_data_files,
    prune_files,
    read_with_skipping,
    update_zonemap,
    write_zonemap,
)

PATH = "/tmp/spark_graft_zonemap_20k"


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    rows_per_file = 50
    spark = get_spark("zonemap-files-probe")
    out: dict[str, object] = {"n_files": n_files}

    if os.path.isdir(PATH):
        shutil.rmtree(PATH)
    # range-clustered: file i holds k in [i*rows, (i+1)*rows) — the
    # layout zonemaps exist for (each file spans a narrow k range)
    n = n_files * rows_per_file
    t0 = time.monotonic()
    (
        spark.range(n)
        .select(F.col("id").alias("k"), (F.col("id") % 97).alias("v"))
        .repartitionByRange(n_files, "k")
        .write.parquet(PATH)
    )
    out["write_dataset_s"] = round(time.monotonic() - t0, 1)
    got_files = len(list_data_files(PATH))
    out["files_written"] = got_files
    print(f"dataset: {got_files} files, {out['write_dataset_s']}s", flush=True)

    t0 = time.monotonic()
    write_zonemap(spark, PATH, ["k"])
    out["build_zonemap_s"] = round(time.monotonic() - t0, 1)
    print(f"build zonemap: {out['build_zonemap_s']}s", flush=True)

    # append a 1% delta, then refresh — must touch only delta footers
    delta = max(1, n_files // 100)
    (
        spark.range(n, n + delta * rows_per_file)
        .select(F.col("id").alias("k"), (F.col("id") % 97).alias("v"))
        .repartitionByRange(delta, "k")
        .write.mode("append").parquet(PATH)
    )
    t0 = time.monotonic()
    update_zonemap(spark, PATH, ["k"])
    out["refresh_after_1pct_append_s"] = round(time.monotonic() - t0, 1)
    print(f"incremental refresh (+{delta} files): "
          f"{out['refresh_after_1pct_append_s']}s", flush=True)

    # narrow predicate: ~10 files' worth of k range
    lo, hi = 500 * rows_per_file, 510 * rows_per_file - 1
    preds = [("k", "between", (lo, hi))]
    t0 = time.monotonic()
    kept = prune_files(spark, PATH, preds)
    out["prune_files_s"] = round(time.monotonic() - t0, 2)
    out["files_kept"] = len(kept)
    print(f"prune: kept {len(kept)}/{got_files + delta} files in "
          f"{out['prune_files_s']}s", flush=True)

    def best_of(fn, runs=2):
        best = float("inf")
        for _ in range(runs):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            fn()
            best = min(best, time.monotonic() - t0)
        return round(best, 2)

    out["pruned_read_s"] = best_of(
        lambda: read_with_skipping(spark, PATH, preds)
        .agg(F.count(F.lit(1)), F.sum("v")).collect()
    )
    out["full_scan_filter_s"] = best_of(
        lambda: spark.read.parquet(PATH)
        .where(F.col("k").between(lo, hi))
        .agg(F.count(F.lit(1)), F.sum("v")).collect()
    )
    print(f"pruned read {out['pruned_read_s']}s vs full-scan filter "
          f"{out['full_scan_filter_s']}s", flush=True)

    # equality spot check
    a = read_with_skipping(spark, PATH, preds).agg(F.sum("v")).collect()[0][0]
    b = (spark.read.parquet(PATH).where(F.col("k").between(lo, hi))
         .agg(F.sum("v")).collect()[0][0])
    assert a == b, (a, b)
    out["equality"] = "pruned == full-scan filter"

    with open(os.path.join(REPO, "ZONEMAP_FILES_PROBE_r11.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out), flush=True)
    shutil.rmtree(PATH, ignore_errors=True)


if __name__ == "__main__":
    main()
