"""CLI for the amortized-ANN lifecycle benchmark (annbench.py).

Builds the LSH + IVF indexes once over a replicated sf0.1 embedding
corpus, then times per-batch probes vs per-batch exact brute force and
prints a markdown row per corpus size plus one JSON line per run —
the recorded evidence for the build-once/probe-many scale claim in
SCALING.md.

Usage: python tools/ann_amortized_bench.py [corpus_rows ...]
       (default: 32768 131072)
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from distributedqueryengine_spark.annbench import ann_lifecycle  # noqa: E402
from distributedqueryengine_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [32768, 131072]
    spark = get_spark("ann-amortized")
    print(
        "| corpus | build lsh | build ivf | probe lsh/batch | probe ivf/batch "
        "| brute/batch | recall lsh | recall ivf |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for rows in sizes:
        r = ann_lifecycle(spark, SF_DIR, corpus_rows=rows)
        print(
            f"| {r['corpus_rows']:,} | {r['build_lsh_s']} s | {r['build_ivf_s']} s "
            f"| {r['probe_lsh_batch_s']} s | {r['probe_ivf_batch_s']} s "
            f"| {r['bruteforce_batch_s']} s | {r['recall_lsh']} | {r['recall_ivf']} |"
        )
        print(json.dumps({"ann_amortized": r}))
    spark.stop()


if __name__ == "__main__":
    main()
