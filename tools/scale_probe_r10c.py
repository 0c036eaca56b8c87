"""Scale probe for the round-10 additions (cont.): skyline (grouped +
ungrouped two-phase Pareto frontier) and mmr_select (per-cell greedy
MMR with cell count ∝ data so cell size stays constant).

Same method as tools/scale_probe_r10.py: key-shifted replication, UI
REST shuffle deltas, min-of-2 with clearCache. Prints a markdown table
for SCALING.md.

Usage: python tools/scale_probe_r10c.py [N]   (default 10)
"""

from __future__ import annotations

import os
import sys
import time

os.environ.setdefault("SPARK_GRAFT_UI", "true")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from distributedqueryengine_spark.session import get_spark, load_table  # noqa: E402
from tools.scale_probe_pipelines import (  # noqa: E402
    build_scaled_dir,
    force,
    replicate,
    shuffle_write_bytes,
)


def probes(n: int):
    from distributedqueryengine_spark.functions.diversity import mmr_select
    from distributedqueryengine_spark.operators.skyline import skyline

    def _li(spark, d):
        return load_table(spark, d, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_returnflag",
            "l_extendedprice", "l_quantity",
        )

    def p_skyline_grouped(spark, d):
        return skyline(
            _li(spark, d),
            maximize=["l_extendedprice"],
            minimize=["l_quantity"],
            by=["l_returnflag"],
        ).groupBy().count()

    def p_skyline_ungrouped(spark, d):
        return skyline(
            _li(spark, d),
            maximize=["l_extendedprice"],
            minimize=["l_quantity"],
        ).groupBy().count()

    def p_mmr_cells(spark, d):
        emb = load_table(spark, d, "embeddings")
        big = d != "/root/testdata/sf0.1"
        cells = 64 * (n if big else 1)  # cell size constant ≈ |emb|/cells
        cand = emb.select(
            (F.col("vec_id") % cells).alias("cell"),
            "vec_id", "embedding",
            ((F.col("vec_id") % 1000) / 1000.0).alias("cos"),
        )
        return mmr_select(cand, k=10, lam=0.5, by="cell").groupBy().count()

    return {
        "skyline_grouped": p_skyline_grouped,
        "skyline_ungrouped": p_skyline_ungrouped,
        "mmr_per_cell": p_mmr_cells,
    }


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("scale-probe-r10c")
    assert spark.sparkContext.uiWebUrl, "needs SPARK_GRAFT_UI=true (fresh JVM)"
    sf_dir = "/root/testdata/sf0.1"
    scaled = build_scaled_dir(spark, n)
    for t, key in (("embeddings", "vec_id"), ("lineitem", "l_orderkey")):
        out = os.path.join(scaled, f"{t}.parquet")
        replicate(load_table(spark, sf_dir, t), n, key).write.mode(
            "overwrite"
        ).parquet(out)

    results = {}
    for name, fn in probes(n).items():
        results[name] = {}
        for label, d in (("1x", sf_dir), (f"{n}x", scaled)):
            runs, shuf = [], []
            for _ in range(2):
                spark.catalog.clearCache()
                s0 = shuffle_write_bytes(spark)
                t0 = time.monotonic()
                force(fn(spark, d))
                runs.append(time.monotonic() - t0)
                shuf.append(shuffle_write_bytes(spark) - s0)
            best = min(range(2), key=lambda i: runs[i])
            results[name][label] = {
                "wall_s": round(runs[best], 2),
                "shuffle_mb": round(shuf[best] / 1e6, 1),
            }
            print(f"{name} @{label}: {results[name][label]}", flush=True)

    print(f"\n| operator | wall 1x | wall {n}x | growth | shuffle 1x | shuffle {n}x | growth |")
    print("|---|---|---|---|---|---|---|")
    for name, r in results.items():
        a, b = r["1x"], r[f"{n}x"]
        wg = b["wall_s"] / max(a["wall_s"], 1e-9)
        sg = (
            b["shuffle_mb"] / max(a["shuffle_mb"], 1e-9)
            if a["shuffle_mb"]
            else float("nan")
        )
        print(
            f"| {name} | {a['wall_s']} s | {b['wall_s']} s | {wg:.1f}x "
            f"| {a['shuffle_mb']} MB | {b['shuffle_mb']} MB | {sg:.1f}x |"
        )


if __name__ == "__main__":
    main()
