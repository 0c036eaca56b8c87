"""Round-10 scale probe: the previously-unprobed heavy operators at 1x
and Nx (VERDICT r9 item 5) — geo_radius_join, heavy_hitters,
triangle_count, roc_auc, logrank_test_df, and assign_dense_ids on a
planted 90%-skew order column. Same method as tools/scale_probe_r8.py:
events replicated with user_id-shifted copies (disjoint per copy), UI
REST shuffle deltas, min-of-2 with clearCache. Prints a markdown table
for SCALING.md.

Probe inputs are derived DETERMINISTICALLY from events columns so the
1x and Nx shapes differ only in volume:
- geo: right side = event points (lat from user_id, lng from event_id,
  both folded into legal ranges); left side = 2,000 fixed probe points.
- graph: unipartite edges (user_id, user_id + small event-derived
  offset) — local neighborhoods rich in triangles; user_id shifting
  keeps copies disjoint, so triangles scale ~linearly.
- roc/logrank: score/duration from event_id, label/group from user_id.
- dense ids: 90% of rows share order value 0.0 (the planted skew), the
  rest spread; tiebreak (user_id, event_id) lets the saturated bucket
  split; rows_per_bucket=20k forces the skew path even at 1x.

Usage: python tools/scale_probe_r10.py [N]   (default 10)
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


def _ev(spark, sf_dir):
    return load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )


def probes():
    from distributedqueryengine_spark.functions.graph import triangle_count
    from distributedqueryengine_spark.operators.aggregates import heavy_hitters
    from distributedqueryengine_spark.operators.geo import geo_radius_join
    from distributedqueryengine_spark.operators.mleval import roc_auc_df
    from distributedqueryengine_spark.operators.relational import (
        assign_dense_ids,
    )
    from distributedqueryengine_spark.operators.survival import logrank_test_df

    def p_geo(spark, sf_dir):
        right = _ev(spark, sf_dir).select(
            F.col("event_id").alias("rid"),
            ((F.pmod(F.col("user_id"), F.lit(12000)) / 100.0) - 60.0).alias("lat"),
            ((F.pmod(F.col("event_id"), F.lit(30000)) / 100.0) - 150.0).alias("lng"),
        )
        left = spark.range(2000).select(
            F.col("id").alias("lid"),
            ((F.pmod(F.col("id") * 37, F.lit(12000)) / 100.0) - 60.0).alias("lat"),
            ((F.pmod(F.col("id") * 91, F.lit(30000)) / 100.0) - 150.0).alias("lng"),
        )
        return geo_radius_join(left, right, 25.0)

    def p_hh(spark, sf_dir):
        ev = _ev(spark, sf_dir).select(
            F.concat(
                F.col("event_type"),
                F.lit("_"),
                F.pmod(F.col("event_id"), F.lit(500)).cast("string"),
            ).alias("item")
        )
        return heavy_hitters(ev, "item", k=100, top=20)

    def p_tri(spark, sf_dir):
        edges = _ev(spark, sf_dir).select(
            F.col("user_id").alias("src"),
            (
                F.col("user_id") + F.pmod(F.col("event_id"), F.lit(97)) + 1
            ).alias("dst"),
        )
        return triangle_count(edges, "src", "dst")

    def p_roc(spark, sf_dir):
        scored = _ev(spark, sf_dir).select(
            (F.pmod(F.col("event_id"), F.lit(100000)) / 1.0e5).alias("score"),
            F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("label"),
        )
        return roc_auc_df(scored, "score", "label")

    def p_logrank(spark, sf_dir):
        surv = _ev(spark, sf_dir).select(
            (F.pmod(F.col("event_id"), F.lit(5000)) / 50.0).alias("t"),
            (F.pmod(F.col("user_id"), F.lit(3)) > 0).cast("int").alias("e"),
            F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0, "A")
            .otherwise("B")
            .alias("grp"),
        )
        return logrank_test_df(surv, "t", "e", "grp", "A", "B", time_bucket=1.0)

    def p_dense(spark, sf_dir):
        ev = _ev(spark, sf_dir).select(
            "user_id",
            "event_id",
            F.when(F.pmod(F.col("event_id"), F.lit(10)) < 9, F.lit(0.0))
            .otherwise(F.col("event_id").cast("double"))
            .alias("v"),
        )
        stats: dict = {}
        out = assign_dense_ids(
            ev, "v", tiebreak=["user_id", "event_id"],
            rows_per_bucket=20_000, stats_out=stats,
        )
        return out, stats

    return {
        "geo_radius_join": p_geo,
        "heavy_hitters": p_hh,
        "triangle_count": p_tri,
        "roc_auc_df": p_roc,
        "logrank_test_df": p_logrank,
        "assign_dense_ids_90skew": p_dense,
    }


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("scale-probe-r10")
    assert spark.sparkContext.uiWebUrl, "needs SPARK_GRAFT_UI=true (fresh JVM)"
    sf_dir = "/root/testdata/sf0.1"
    scaled = build_scaled_dir(spark, n)
    ev = load_table(spark, sf_dir, "events")
    replicate(ev, n, "user_id").write.mode("overwrite").parquet(
        os.path.join(scaled, "events.parquet")
    )
    results = {}
    for name, fn in probes().items():
        results[name] = {}
        for label, d in (("1x", sf_dir), (f"{n}x", scaled)):
            runs, shuf, extra = [], [], None
            for _ in range(2):
                spark.catalog.clearCache()
                s0 = shuffle_write_bytes(spark)
                t0 = time.monotonic()
                r = fn(spark, d)
                if isinstance(r, tuple):
                    r, extra = r
                force(r)
                runs.append(time.monotonic() - t0)
                shuf.append(shuffle_write_bytes(spark) - s0)
            best = min(range(2), key=lambda i: runs[i])
            results[name][label] = {
                "wall_s": round(runs[best], 2),
                "shuffle_mb": round(shuf[best] / 1e6, 1),
            }
            if extra is not None:
                results[name][label]["stats"] = dict(extra)
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
