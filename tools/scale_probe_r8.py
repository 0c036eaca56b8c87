"""Round-8 scale probe: the heaviest NEW operators at 1x and Nx
replicated fixtures, recording wall time and shuffle bytes (same
method as tools/scale_probe_pipelines.py — UI REST shuffle deltas,
min-of-2 with clearCache). Prints a markdown table for SCALING.md.

Probed: tfidf_top_terms and bm25_topk over documents, the bigram-LM
train+score loop over documents, session item co-occurrence over
events, and the TF-IDF-family's token aggregation is also what the
vocabulary/LM paths stress — together the token-table-sized shapes
introduced this round.

Usage: python tools/scale_probe_r8.py [N]   (default 10)
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
    shuffle_write_bytes,
)


def probes():
    from distributedqueryengine_spark.functions.lm import (
        score_perplexity,
        train_bigram_lm,
    )
    from distributedqueryengine_spark.functions.text import bm25_topk, tfidf_top_terms
    from distributedqueryengine_spark.operators.timeseries import (
        session_cooccurrence,
    )

    def p_tfidf(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        return tfidf_top_terms(docs, "text", "doc_id", k=5, min_df=2)

    def p_bm25(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        return bm25_topk(docs, ["the", "data", "first", "model"], "text", k=20)

    def p_lm(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        lm = train_bigram_lm(docs, "text", vocab_size=500)
        return score_perplexity(docs, "text", lm)

    def p_cooc(spark, sf_dir):
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "event_id", "ts", "event_type"
        )
        return session_cooccurrence(
            ev, ["user_id"], "ts", "event_type", 1800, tiebreak=["event_id"]
        )

    return {
        "tfidf_top_terms": p_tfidf,
        "bm25_topk": p_bm25,
        "bigram_lm_train_score": p_lm,
        "session_cooccurrence": p_cooc,
    }


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("scale-probe-r8")
    assert spark.sparkContext.uiWebUrl, "needs SPARK_GRAFT_UI=true (fresh JVM)"
    sf_dir = "/root/testdata/sf0.1"
    scaled = build_scaled_dir(spark, n)
    # the shared builder replicates documents/embeddings only; the
    # co-occurrence probe needs events scaled too (user_id-shifted
    # copies → key cardinality AND event volume both scale)
    from tools.scale_probe_pipelines import replicate

    ev = load_table(spark, sf_dir, "events")
    replicate(ev, n, "user_id").write.mode("overwrite").parquet(
        os.path.join(scaled, "events.parquet")
    )
    results = {}
    for name, fn in probes().items():
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
