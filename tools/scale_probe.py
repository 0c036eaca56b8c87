"""Synthetic scale-up probe for the round-5 training-pipeline operators.

Replicates the sf0.1 documents/embeddings fixtures N-fold with
key-shifted ids (so dedup/join cardinalities scale too), then times the
headline data-pipeline operators at each multiple: portable MinHash
near-dup candidates, decontamination, fused multi-index ANN, the
approximate embedding near-dup path, and greedy packing. `noop` sink,
warm JVM — the same discipline as bench.py.

Usage: python tools/scale_probe.py [multiples...]   (default: 1 4 8)
Appends nothing; prints a markdown table to paste into SCALING.md.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from distributedqueryengine_spark.session import get_spark, load_table  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def replicate(df, n: int, id_col: str, shift: int):
    """n key-shifted copies: ids stay unique, content repeats (so
    near-dup density scales with data size, the realistic regime)."""
    if n == 1:
        return df
    copies = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
    return (
        df.select("*", copies)
        .withColumn(id_col, F.col(id_col) + F.col("rep").cast("long") * shift)
        .drop("rep")
    )


def force(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def main() -> None:
    multiples = [int(a) for a in sys.argv[1:]] or [1, 4, 8]
    spark = get_spark("scale-probe")
    from distributedqueryengine_spark.functions import (
        decontam as DC,
        dedup as D,
        packing,
        similarity as S,
        text as T,
    )

    docs0 = load_table(spark, SF_DIR, "documents")
    emb0 = load_table(spark, SF_DIR, "embeddings")
    rows = []
    for n in multiples:
        docs = replicate(docs0, n, "doc_id", 1_000_000).persist()
        emb = replicate(emb0, n, "vec_id", 1_000_000).persist()
        nd, ne = docs.count(), emb.count()

        sh = D.shingles(docs, "doc_id", "text", 3, portable=True)
        sigs = D.minhash_signatures(sh, 32, portable=True)
        t_minhash = force(D.lsh_candidate_pairs(sigs, 32, 8, portable=True))

        ev = docs.filter(F.col("doc_id") % 97 == 0)
        t_decon = force(DC.contaminated_ids(docs, ev, "doc_id", "text", n=3))

        queries = emb.filter(F.col("vec_id") % 50 == 0)
        t_ann = force(S.multi_ann_topk(queries, emb, k=5, dim=64, n_probe=6))

        t_nd_approx = force(
            S.cosine_pairs_above_approx(emb, tau=0.85, dim=64)
        )

        t_pack = force(
            packing.greedy_pack(docs, tokens=T.token_count("text"), budget=512)
        )

        rows.append((nd, ne, t_minhash, t_decon, t_ann, t_nd_approx, t_pack))
        print(
            f"{n}x: docs={nd} emb={ne} minhash_cand={t_minhash:.2f}s "
            f"decontam={t_decon:.2f}s fused_ann={t_ann:.2f}s "
            f"nd_approx={t_nd_approx:.2f}s greedy_pack={t_pack:.2f}s",
            flush=True,
        )
        docs.unpersist()
        emb.unpersist()

    print("\n| docs | embeddings | MinHash-LSH candidates | decontam | fused ANN | approx embed near-dup | greedy pack |")
    print("|---|---|---|---|---|---|---|")
    for nd, ne, a, b, c, d, e in rows:
        print(f"| {nd:,} | {ne:,} | {a:.2f} s | {b:.2f} s | {c:.2f} s | {d:.2f} s | {e:.2f} s |")
    spark.stop()


if __name__ == "__main__":
    main()
