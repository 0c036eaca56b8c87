"""First 1000x datapoints (r13): scale-safe families at 5M documents /
5M embedding rows (sf0.1 replicated 1000x) — PMI collocations
(vocab-sized state), quality-classifier scoring (fused one-agg plan),
kNN label propagation (fixed query batch), the staged near-dup DEFAULT
(exact-first collapse), and the source overlap matrix (per-group
distinct). The point is the SHAPE one decade past the usual 100x
probes: state that is vocabulary-/batch-/group-sized must stay flat
while wall tracks the scan.

Usage: SPARK_GRAFT_UI=true python tools/scale_probe_1000x.py [family...]
Families: pmi qclf knn staged overlap (default: all).
Extends SCALE_PROBE_r13.json with "<family> -> 1000x" entries.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from distributedqueryengine_spark.session import get_spark, load_table  # noqa: E402
from tools.scale_probe_r13 import (  # noqa: E402
    OUT,
    SF_DIR,
    SHIFT,
    replicate_docs,
    replicate_embeddings,
    timed,
)


def main() -> None:
    spark = get_spark("scale-probe-1000x")
    assert spark.sparkContext.uiWebUrl, "needs SPARK_GRAFT_UI=true (fresh JVM)"
    only = set(sys.argv[1:]) or {"pmi", "qclf", "knn", "staged", "overlap"}
    results: dict[str, dict] = {}
    n = 1000

    def record(key: str, fn) -> None:
        wall, shuf, rows = timed(spark, fn)
        results.setdefault(key, {})["1000x"] = {
            "wall_s": wall, "shuffle_mb": shuf, "out_rows": rows,
        }
        print(f"{key} @1000x: {wall}s, {shuf} MB, {rows} rows", flush=True)

    docs = spark.read.parquet(replicate_docs(spark, n))

    if "pmi" in only:
        from distributedqueryengine_spark.functions.text import collocations_pmi

        record("pmi_collocations", lambda: collocations_pmi(docs, "text"))

    if "qclf" in only:
        from distributedqueryengine_spark.functions.quality_clf import (
            fit_hashed_logreg,
            score_hashed_logreg,
        )

        seed_docs = load_table(spark, SF_DIR, "documents").withColumn(
            "label", (F.col("doc_id") % 2 == 0).cast("int")
        )
        model = fit_hashed_logreg(
            seed_docs, "doc_id", "text", "label", num_buckets=2048, iters=5
        )
        record(
            "quality_clf_score",
            lambda: score_hashed_logreg(docs, "doc_id", "text", model),
        )

    if "knn" in only:
        from distributedqueryengine_spark.functions.classify import knn_classify

        emb = spark.read.parquet(replicate_embeddings(spark, n))
        q = emb.filter((F.col("vec_id") % 10 == 0) & (F.col("vec_id") < SHIFT))
        train = emb.filter(F.col("vec_id") % 10 != 0)
        record("knn_classify", lambda: knn_classify(q, train, k=5))

    if "staged" in only:
        from distributedqueryengine_spark.functions import dedup as D

        record(
            "staged_default",
            lambda: D.minhash_near_duplicates(docs, "doc_id", "text"),
        )

    if "overlap" in only:
        from distributedqueryengine_spark.functions.dedup import (
            source_overlap_matrix,
        )

        record(
            "source_overlap",
            lambda: source_overlap_matrix(docs, "source", "text", n=3),
        )

    merged = {}
    if os.path.isfile(OUT):
        with open(OUT) as f:
            merged = json.load(f)
    for k, v in results.items():
        merged.setdefault(k, {}).update(v)
    with open(OUT, "w") as f:
        json.dump(merged, f, indent=1)
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
