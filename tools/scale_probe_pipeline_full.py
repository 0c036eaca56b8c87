"""Round-14 probe: the COMPOSED curation pipeline
(pipeline.curate_corpus — quality → exact dedup → staged near-dup →
ExactSubstr strip → decontam → clf filter → temperature mixture →
pack → training order) at 1×/10×/100× sf0.1 documents, as ONE run per
scale: wall, shuffle-write, and the per-stage row accounting the
function itself emits.

The labeled seed and eval set stay FIXED across scales (labels are
expensive; eval suites don't grow with the crawl) — so the probe
prices exactly what grows: the corpus-sized stages.

Methodology matches scale_probe_r13.py (same replicas, min-of-1 here —
the composite itself runs every stage twice via accounting actions, so
a second full run doubles an already multi-minute probe; the per-stage
probes in earlier rounds carry the min-of-2 discipline).

Usage:  SPARK_GRAFT_UI=true python tools/scale_probe_pipeline_full.py
Writes SCALE_PROBE_PIPELINE_r14.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from distributedqueryengine_spark.pipeline import curate_corpus  # noqa: E402
from distributedqueryengine_spark.session import get_spark  # noqa: E402
from tools.scale_probe_pipelines import shuffle_write_bytes  # noqa: E402
from tools.scale_probe_r13 import replicate_docs  # noqa: E402

OUT = os.path.join(REPO, "SCALE_PROBE_PIPELINE_r14.json")


def main() -> None:
    spark = get_spark("scale-probe-pipeline-r14")
    assert spark.sparkContext.uiWebUrl, "needs SPARK_GRAFT_UI=true (fresh JVM)"

    scales = [int(s) for s in sys.argv[1:]] or [1, 10, 100]
    results: dict[str, dict] = {}
    for n in scales:
        path = replicate_docs(spark, n)
        docs = spark.read.parquet(path)
        # fixed-size seed/eval drawn from the BASE id range only (so
        # replicas never collide with them)
        ev = docs.filter((F.col("doc_id") % 97 == 0)
                         & (F.col("doc_id") < 10_000_000)).limit(200)
        lab = (
            docs.filter((F.col("doc_id") % 89 == 0)
                        & (F.col("doc_id") < 10_000_000))
            .limit(200)
            .select("doc_id", (F.col("doc_id") % 2).cast("int").alias("label"))
        )
        spark.catalog.clearCache()
        s0 = shuffle_write_bytes(spark)
        t0 = time.monotonic()
        manifest, acc = curate_corpus(
            docs, eval_df=ev, labeled=lab,
            clf_threshold=0.3, clf_iters=8, n_epochs=1, temperature=0.7,
        )
        manifest.write.format("noop").mode("overwrite").save()
        wall = round(time.monotonic() - t0, 2)
        shuf = round((shuffle_write_bytes(spark) - s0) / 1e6, 1)
        results[f"{n}x"] = {"wall_s": wall, "shuffle_mb": shuf, "stages": acc}
        print(f"pipeline @{n}x: {wall}s, {shuf} MB", flush=True)
        for a in acc:
            print(f"  {a['stage']}: {a['rows_in']} -> {a['rows_out']}",
                  flush=True)

    with open(OUT, "w") as f:
        json.dump({"curate_corpus": results}, f, indent=2)
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
