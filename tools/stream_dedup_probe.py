"""Ingestion-cost probe for the streaming near-dup operator: per-batch
candidate latency as the HISTORICAL INDEX grows.

The 100 TB claim under test (SCALING.md round-6): with the corpus held
as a persisted band-bucket index, the per-arriving-batch cost is
bounded by the batch's own banding work plus a pruned bucket join —
NOT by corpus size. Protocol: replicate the sf0.1 documents table
N-fold (key-shifted ids) into band indexes of increasing size, then
time the SAME fixed 200-document batch's candidate computation against
each index (batch banding + join + count), warm JVM, min of 2.

Usage: python tools/stream_dedup_probe.py [multiples...]  (default 1 4 8)
Prints a markdown table to paste into SCALING.md.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from distributedqueryengine_spark.session import get_spark, load_table  # noqa: E402
from distributedqueryengine_spark.streaming import dedup as SD  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def replicate(df, n: int, id_col: str, shift: int):
    if n == 1:
        return df
    copies = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
    return (
        df.select("*", copies)
        .withColumn(id_col, F.col(id_col) + F.col("rep").cast("long") * shift)
        .drop("rep")
    )


def main() -> None:
    multiples = [int(a) for a in sys.argv[1:]] or [1, 4, 8]
    spark = get_spark("stream-dedup-probe")
    docs = load_table(spark, SF_DIR, "documents")
    batch = docs.filter(F.col("doc_id") % 25 == 0).limit(200).persist()
    n_batch = batch.count()

    print("| index corpus | index rows | batch docs | candidates | s/batch |")
    print("|---|---|---|---|---|")
    for m in multiples:
        corpus = replicate(docs, m, "doc_id", 10_000_000)
        index = SD.build_band_index(corpus, "doc_id", "text").persist()
        n_index = index.count()  # materialize OUTSIDE the timed window
        n_corpus = corpus.count()
        runs = []
        n_cand = 0
        for _ in range(2):
            t0 = time.monotonic()
            cands = SD.stream_dedup_candidates(batch, index, "doc_id", "text")
            n_cand = cands.count()
            runs.append(time.monotonic() - t0)
        print(
            f"| {n_corpus:,} | {n_index:,} | {n_batch} | {n_cand:,} |"
            f" {min(runs):.2f} |",
            flush=True,
        )
        index.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
