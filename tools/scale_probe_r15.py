"""Round-15 probe: the single-pass primitives that replaced per-group
/ per-epoch driver loops, at 1x/10x/100x sf0.1 documents.

What the numbers must show:
- select_until_budget_grouped (single-pass composite segmentation)
  walls stay near-linear on an 8-group tie-heavy corpus, and its JOB
  COUNT is the same for 2 groups and 16 groups at 100x (the r14 form
  scheduled jobs proportional to #groups);
- training_order's combined-epoch rank walls stay near-linear with
  4 epochs (4x the rows of the corpus through ONE windowed pass);
- the composed curate_corpus (account=False, portable=False -- the
  production hash mode) stays near-linear end to end with the r15
  latency work (driver union-find CC, unstaged spine, epoch-combined
  order) in place.

Methodology matches scale_probe_r13/r14 (same replicas, min-of-2
wall, clearCache, shuffle-write from the UI API).

Usage:  SPARK_GRAFT_UI=true python tools/scale_probe_r15.py
Writes SCALE_PROBE_r15.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from distributedqueryengine_spark.session import get_spark  # noqa: E402
from tools.scale_probe_r13 import replicate_docs, timed  # noqa: E402

OUT = os.path.join(REPO, "SCALE_PROBE_r15.json")


def main() -> None:
    spark = get_spark("scale-probe-r15")
    assert spark.sparkContext.uiWebUrl, "needs SPARK_GRAFT_UI=true (fresh JVM)"
    sc = spark.sparkContext

    from distributedqueryengine_spark.functions.sampling import (
        select_until_budget_grouped,
        training_order,
    )
    from distributedqueryengine_spark.pipeline import curate_corpus

    results: dict[str, dict] = {}
    for n in (1, 10, 100):
        path = replicate_docs(spark, n)
        docs = spark.read.parquet(path)
        # 8 groups, tie-heavy scores (40% collapse to 0.0)
        base = docs.select(
            "doc_id",
            F.concat(F.lit("g"), (F.col("doc_id") % 8).cast("string")).alias("g"),
            F.when(F.col("doc_id") % 5 < 2, F.lit(0.0))
            .otherwise(F.col("n_chars").cast("double")).alias("score"),
            (F.col("n_chars") % 97 + 1).cast("long").alias("w"),
        )
        budgets = {f"g{i}": 40_000 * n for i in range(8)}
        wall, shuf, nrows = timed(
            spark,
            lambda: select_until_budget_grouped(
                base, budgets, group_col="g", id_col="doc_id",
                weight_col="w", score_col="score",
            ),
        )
        results.setdefault("budget_grouped_8g", {})[f"{n}x"] = {
            "wall_s": wall, "shuffle_mb": shuf, "rows": nrows,
        }
        wall, shuf, nrows = timed(
            spark,
            lambda: training_order(docs, "doc_id", n_epochs=4, seed=3),
        )
        results.setdefault("training_order_4ep", {})[f"{n}x"] = {
            "wall_s": wall, "shuffle_mb": shuf, "rows": nrows,
        }
        if n <= 100:
            # eval must be TEXT-disjoint from training or decontam
            # correctly drops everything (replicas share text): eval =
            # the base copies of base_id %% 97 == 0 docs, train = every
            # replica of the OTHER base texts (base_id = id mod SHIFT)
            base_id = F.pmod(F.col("doc_id"), F.lit(10_000_000))
            ev = docs.filter(
                (base_id % 97 == 0) & (F.col("doc_id") < 10_000_000)
            ).select("doc_id", "text")
            t0 = time.monotonic()
            m, _ = curate_corpus(
                docs.filter(base_id % 97 != 0), eval_df=ev,
                temperature=0.5, n_epochs=2, seed=0, account=False,
            )
            m.write.format("noop").mode("overwrite").save()
            results.setdefault("curate_corpus_e2e", {})[f"{n}x"] = {
                "wall_s": round(time.monotonic() - t0, 2),
                "rows": m.count(),
            }

    # job-count independence: same rows, 2 vs 16 budgeted groups
    docs1 = spark.read.parquet(replicate_docs(spark, 1))

    def jobs_for(k: int) -> int:
        b = docs1.select(
            "doc_id",
            F.concat(F.lit("g"), (F.col("doc_id") % k).cast("string")).alias("g"),
            F.col("n_chars").cast("double").alias("score"),
            F.lit(1).cast("long").alias("w"),
        )
        group = f"r15_jobs_{k}"
        sc.setJobGroup(group, "probe")
        try:
            select_until_budget_grouped(
                b, {f"g{i}": 10_000 for i in range(k)}, group_col="g",
                id_col="doc_id", weight_col="w", score_col="score",
            ).write.format("noop").mode("overwrite").save()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    results["budget_grouped_jobs"] = {"2_groups": jobs_for(2),
                                      "16_groups": jobs_for(16)}

    # 1000x (5M rows): the two rewritten primitives at the scale the
    # r14 verdict graded five families at — walls must stay near-linear
    # and the grouped stats collect stays (groups x segments)-bounded
    if "--thousand" in sys.argv:
        path = replicate_docs(spark, 1000)
        docs = spark.read.parquet(path)
        base = docs.select(
            "doc_id",
            F.concat(F.lit("g"), (F.col("doc_id") % 8).cast("string")).alias("g"),
            F.when(F.col("doc_id") % 5 < 2, F.lit(0.0))
            .otherwise(F.col("n_chars").cast("double")).alias("score"),
            (F.col("n_chars") % 97 + 1).cast("long").alias("w"),
        )
        budgets = {f"g{i}": 40_000_000 for i in range(8)}
        wall, shuf, nrows = timed(
            spark,
            lambda: select_until_budget_grouped(
                base, budgets, group_col="g", id_col="doc_id",
                weight_col="w", score_col="score",
            ),
        )
        results["budget_grouped_8g"]["1000x"] = {
            "wall_s": wall, "shuffle_mb": shuf, "rows": nrows,
        }
        wall, shuf, nrows = timed(
            spark,
            lambda: training_order(docs, "doc_id", n_epochs=4, seed=3),
        )
        results["training_order_4ep"]["1000x"] = {
            "wall_s": wall, "shuffle_mb": shuf, "rows": nrows,
        }
    with open(OUT, "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
