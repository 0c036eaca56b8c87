"""Round-14 probe: the skew-adaptive rank primitives on a TIE-HEAVY
corpus (the r13 verdict's realistic quality-score distribution — 40%
of rows share one exact value) at 1×/10×/100× sf0.1 documents, plus
the two-phase mixture materialization vs its old bare-group-window
form at 100×.

What the numbers must show:
- distributed_global_rank / select_until_budget walls stay near-linear
  on the tied corpus (pre-r14, every tied row hit ONE bucket's window);
- the refinement rounds' extra driver work is bounded (segment counts
  are recorded);
- apply_mixture_rates' two-phase path beats the #groups-tasks window
  at 100× (8 sources → 8 hot tasks in the old shape).

Methodology matches scale_probe_r13.py (same replicas, min-of-2 wall,
clearCache, shuffle-write from the UI API).

Usage:  SPARK_GRAFT_UI=true python tools/scale_probe_r14.py
Writes SCALE_PROBE_r14.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from distributedqueryengine_spark.session import get_spark  # noqa: E402
from tools.scale_probe_r13 import replicate_docs, timed  # noqa: E402

OUT = os.path.join(REPO, "SCALE_PROBE_r14.json")


def main() -> None:
    spark = get_spark("scale-probe-r14")
    assert spark.sparkContext.uiWebUrl, "needs SPARK_GRAFT_UI=true (fresh JVM)"

    from distributedqueryengine_spark.functions.sampling import (
        apply_mixture_rates,
        select_until_budget,
        temperature_mixture_rates,
    )
    from distributedqueryengine_spark.operators.windows import (
        distributed_global_rank,
    )

    results: dict[str, dict] = {}
    for n in (1, 10, 100):
        path = replicate_docs(spark, n)
        docs = spark.read.parquet(path)
        # tie-heavy score: 40% of rows collapse to exactly 0.0 (the
        # quality-heuristic shape), the rest spread over n_chars
        tied = docs.select(
            "doc_id",
            F.when(F.col("doc_id") % 5 < 2, F.lit(0.0))
            .otherwise(F.col("n_chars").cast("double"))
            .alias("score"),
            (F.col("n_chars") % 97 + 1).cast("long").alias("w"),
        )

        wall, shuf, rows = timed(
            spark,
            lambda: distributed_global_rank(tied, "score", "doc_id"),
        )
        results.setdefault("global_rank_tied", {})[f"{n}x"] = {
            "wall_s": wall, "shuffle_mb": shuf, "out_rows": rows,
        }
        print(f"global_rank_tied @{n}x: {wall}s, {shuf} MB, {rows} rows",
              flush=True)

        total_w = tied.agg(F.sum("w")).collect()[0][0]
        wall, shuf, rows = timed(
            spark,
            lambda: select_until_budget(
                tied, budget=int(total_w * 0.6),
                id_col="doc_id", weight_col="w", score_col="score",
            ),
        )
        results.setdefault("budget_tied", {})[f"{n}x"] = {
            "wall_s": wall, "shuffle_mb": shuf, "out_rows": rows,
        }
        print(f"budget_tied @{n}x: {wall}s, {shuf} MB, {rows} rows",
              flush=True)

        if n == 100:
            rates = temperature_mixture_rates(docs, "source", temperature=0.7)
            for key, cap in (("mixture_bucketed", 1024),
                             ("mixture_group_window", 0)):
                wall, shuf, rows = timed(
                    spark,
                    lambda c=cap: apply_mixture_rates(
                        docs, rates, "source", "doc_id", seed=0,
                        max_driver_groups=c,
                    ),
                )
                results[key] = {f"{n}x": {
                    "wall_s": wall, "shuffle_mb": shuf, "out_rows": rows,
                }}
                print(f"{key} @{n}x: {wall}s, {shuf} MB, {rows} rows",
                      flush=True)

    with open(OUT, "w") as f:
        json.dump(results, f, indent=2)
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
