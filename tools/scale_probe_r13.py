"""Round-13 scale probe (r12 verdict item 7): DSIR importance
resampling at 1x/10x/100x documents, BOTH hash paths recorded side by
side — `portable=True` (md5-derived 60-bit hash, the oracle-parity
path the driver value-checks) and `portable=False` (xxhash64, the
production path a 100 TB pipeline would run). The number that matters
at scale is the xxhash row; recording both prices the md5 parity tax
explicitly.

Methodology matches scale_probe_r12.py: min-of-2 wall with
clearCache, shuffle-write bytes from the UI API, replicas key-shifted
so ids stay unique while content (and the en target subset) replicate.

Usage:  SPARK_GRAFT_UI=true python tools/scale_probe_r13.py
Writes SCALE_PROBE_r13.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from distributedqueryengine_spark.session import get_spark, load_table  # noqa: E402
from tools.scale_probe_pipelines import shuffle_write_bytes  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
SHIFT = 10_000_000
OUT = os.path.join(REPO, "SCALE_PROBE_r13.json")


def replicate_docs(spark, n: int) -> str:
    out = f"/tmp/spark_graft_r13_docs_{n}x"
    if os.path.isdir(out):
        return out
    df = load_table(spark, SF_DIR, "documents")
    if n > 1:
        copies = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
        df = (
            df.select("*", copies)
            .withColumn(
                "doc_id", F.col("doc_id") + F.col("rep").cast("long") * SHIFT
            )
            .drop("rep")
        )
    df.repartition(32).write.mode("overwrite").parquet(out)
    return out


def replicate_embeddings(spark, n: int) -> str:
    out = f"/tmp/spark_graft_r13_emb_{n}x"
    if os.path.isdir(out):
        return out
    df = load_table(spark, SF_DIR, "embeddings")
    if n > 1:
        copies = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
        df = (
            df.select("*", copies)
            .withColumn(
                "vec_id", F.col("vec_id") + F.col("rep").cast("long") * SHIFT
            )
            .drop("rep")
        )
    df.repartition(32).write.mode("overwrite").parquet(out)
    return out


def timed(spark, fn, runs: int = 2):
    best = (float("inf"), 0.0, -1)
    for _ in range(runs):
        spark.catalog.clearCache()
        s0 = shuffle_write_bytes(spark)
        t0 = time.monotonic()
        df = fn()
        df.write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        shuf = (shuffle_write_bytes(spark) - s0) / 1e6
        if wall < best[0]:
            nrows = df.count()
            best = (round(wall, 2), round(shuf, 1), nrows)
    return best


def main() -> None:
    spark = get_spark("scale-probe-r13")
    assert spark.sparkContext.uiWebUrl, "needs SPARK_GRAFT_UI=true (fresh JVM)"

    from distributedqueryengine_spark.functions.dsir import importance_resample
    from distributedqueryengine_spark.functions.substr_dedup import (
        strip_duplicated_spans,
    )

    only = set(sys.argv[1:]) or {
        "dsir", "substr", "lm", "bpe", "pmi", "classify",
        "overlap", "qclf", "budget",
    }
    results: dict[str, dict] = {}
    for n in (1, 10, 100):
        path = replicate_docs(spark, n)
        docs = spark.read.parquet(path)
        if "dsir" in only:
            for key, portable in (("dsir_xxhash", False), ("dsir_portable_md5", True)):
                wall, shuf, rows = timed(
                    spark,
                    lambda p=portable: importance_resample(
                        docs, docs.filter(F.col("lang") == "en"),
                        "doc_id", "text", k=1000, num_buckets=4096, portable=p,
                    ),
                )
                results.setdefault(key, {})[f"{n}x"] = {
                    "wall_s": wall, "shuffle_mb": shuf, "out_rows": rows,
                }
                print(f"{key} @{n}x: {wall}s, {shuf} MB, {rows} rows", flush=True)
        if "substr" in only:
            # ExactSubstr keep-first strip (r13 family), production
            # xxhash64 path. Replication is its adversarial worst case:
            # at 100x EVERY 8-gram is corpus-duplicated (100 copies),
            # so the removable-span volume is maximal — the probe
            # prices the per-hash count + per-doc window + token
            # reconstruction under total duplication, not a friendly
            # mostly-unique corpus.
            wall, shuf, rows = timed(
                spark,
                lambda: strip_duplicated_spans(
                    docs, "doc_id", "text", k=8, min_count=2, portable=False,
                ),
            )
            results.setdefault("substr_strip_xxhash", {})[f"{n}x"] = {
                "wall_s": wall, "shuffle_mb": shuf, "out_rows": rows,
            }
            print(f"substr_strip_xxhash @{n}x: {wall}s, {shuf} MB, {rows} rows",
                  flush=True)
        if "lm" in only:
            # stupid-backoff trigram (r13): train on the replica AND
            # score the whole replica — both halves scale with the
            # corpus (three count aggs; scoring joins against count
            # tables that stay vocabulary-sized regardless of scale).
            from distributedqueryengine_spark.functions.lm import (
                score_stupid_backoff,
                train_trigram_lm,
            )

            def lm_end_to_end():
                lm = train_trigram_lm(docs, "text", vocab_size=10_000)
                return score_stupid_backoff(docs, "text", lm)

            wall, shuf, rows = timed(spark, lm_end_to_end)
            results.setdefault("trigram_backoff_train_score", {})[f"{n}x"] = {
                "wall_s": wall, "shuffle_mb": shuf, "out_rows": rows,
            }
            print(f"trigram_backoff @{n}x: {wall}s, {shuf} MB, {rows} rows",
                  flush=True)
        if "bpe" in only:
            # BPE (r13): induction's corpus-sized half is the word
            # count (the merge loop sees only the capped type table —
            # constant in corpus size by design); application is the
            # memoized Arrow UDF over every document.
            from distributedqueryengine_spark.functions.bpe import (
                apply_bpe,
                learn_bpe,
            )

            merges = learn_bpe(docs, "text", n_merges=512)
            wall, shuf, rows = timed(
                spark, lambda: apply_bpe(docs, "doc_id", "text", merges)
            )
            results.setdefault("bpe_apply_512merges", {})[f"{n}x"] = {
                "wall_s": wall, "shuffle_mb": shuf, "out_rows": rows,
            }
            print(f"bpe_apply @{n}x: {wall}s, {shuf} MB, {rows} rows",
                  flush=True)

        if "pmi" in only:
            # PMI collocation mining (r13): one tokenize pass, two
            # vocab-sized count aggs. Replication multiplies counts but
            # NOT vocabulary, so shuffle should stay near-flat and wall
            # scan-dominated.
            from distributedqueryengine_spark.functions.text import (
                collocations_pmi,
            )

            wall, shuf, rows = timed(
                spark, lambda: collocations_pmi(docs, "text", min_count=5, k=20)
            )
            results.setdefault("pmi_collocations", {})[f"{n}x"] = {
                "wall_s": wall, "shuffle_mb": shuf, "out_rows": rows,
            }
            print(f"pmi_collocations @{n}x: {wall}s, {shuf} MB, {rows} rows",
                  flush=True)
        if "classify" in only:
            # Embedding classification (r13): the labeled corpus
            # replicates (vec ids shifted), the 500-query batch stays
            # fixed — the 100 TB shape is "propagate a label set to an
            # ever-bigger corpus". kNN's shuffled intermediate is
            # O(partitions x queries x k); centroid's is (labels x dim)
            # partial aggs — both should be corpus-scan-dominated.
            from distributedqueryengine_spark.functions.classify import (
                knn_classify,
                nearest_centroid,
            )

            epath = replicate_embeddings(spark, n)
            emb = spark.read.parquet(epath)
            q = emb.filter(
                (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < SHIFT)
            )
            train = emb.filter(F.col("vec_id") % 10 != 0)
            wall, shuf, rows = timed(spark, lambda: knn_classify(q, train, k=5))
            results.setdefault("knn_classify", {})[f"{n}x"] = {
                "wall_s": wall, "shuffle_mb": shuf, "out_rows": rows,
            }
            print(f"knn_classify @{n}x: {wall}s, {shuf} MB, {rows} rows",
                  flush=True)
            wall, shuf, rows = timed(spark, lambda: nearest_centroid(q, train))
            results.setdefault("nearest_centroid", {})[f"{n}x"] = {
                "wall_s": wall, "shuffle_mb": shuf, "out_rows": rows,
            }
            print(f"nearest_centroid @{n}x: {wall}s, {shuf} MB, {rows} rows",
                  flush=True)

        if "overlap" in only:
            # source overlap (r13): replication multiplies per-source
            # document counts but NOT distinct shingles (copies dedup in
            # the per-group distinct), so the self-join input is
            # scale-invariant past the scan.
            from distributedqueryengine_spark.functions.dedup import (
                source_overlap_matrix,
            )

            wall, shuf, rows = timed(
                spark,
                lambda: source_overlap_matrix(docs, "source", "text", n=3),
            )
            results.setdefault("source_overlap", {})[f"{n}x"] = {
                "wall_s": wall, "shuffle_mb": shuf, "out_rows": rows,
            }
            print(f"source_overlap @{n}x: {wall}s, {shuf} MB, {rows} rows",
                  flush=True)
        if "qclf" in only:
            # quality classifier (r13): train ONCE on the fixed sf0.1
            # seed (labels are expensive at any scale), score the
            # replica — the corpus-sized half is scoring.
            from distributedqueryengine_spark.functions.quality_clf import (
                fit_hashed_logreg,
                score_hashed_logreg,
            )

            seed_docs = load_table(spark, SF_DIR, "documents").withColumn(
                "label", (F.col("doc_id") % 2 == 0).cast("int")
            )
            model = fit_hashed_logreg(
                seed_docs, "doc_id", "text", "label",
                num_buckets=2048, iters=5,
            )
            wall, shuf, rows = timed(
                spark,
                lambda: score_hashed_logreg(docs, "doc_id", "text", model),
            )
            results.setdefault("quality_clf_score", {})[f"{n}x"] = {
                "wall_s": wall, "shuffle_mb": shuf, "out_rows": rows,
            }
            print(f"quality_clf_score @{n}x: {wall}s, {shuf} MB, {rows} rows",
                  flush=True)
        if "budget" in only:
            # token-budget selection (r13): budget scales with the
            # corpus (10% of tokens) so the selected prefix grows too;
            # the interesting number is how much the bucket pruning
            # saves when 90% of buckets start beyond the budget.
            from distributedqueryengine_spark.functions.sampling import (
                select_until_budget,
            )
            from distributedqueryengine_spark.functions.text import (
                quality_score,
                token_count,
            )

            scored_docs = docs.select(
                "doc_id",
                quality_score("text").alias("q"),
                token_count("text").cast("long").alias("nt"),
            )
            total_toks = scored_docs.agg(F.sum("nt")).collect()[0][0]
            wall, shuf, rows = timed(
                spark,
                lambda: select_until_budget(
                    scored_docs, int(total_toks * 0.1),
                    id_col="doc_id", weight_col="nt", score_col="q",
                ),
            )
            results.setdefault("budget_select_10pct", {})[f"{n}x"] = {
                "wall_s": wall, "shuffle_mb": shuf, "out_rows": rows,
            }
            print(f"budget_select @{n}x: {wall}s, {shuf} MB, {rows} rows",
                  flush=True)

    merged = {}
    if os.path.isfile(OUT):  # partial re-runs extend, never clobber
        with open(OUT) as f:
            merged = json.load(f)
    merged.update(results)
    with open(OUT, "w") as f:
        json.dump(merged, f, indent=1)
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
