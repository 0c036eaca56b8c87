"""Streaming near-duplicate detection: continuous-ingestion MinHash-LSH.

The 100 TB training-pipeline scenario the batch pipeline
(functions/dedup.py) cannot serve: documents arrive CONTINUOUSLY and
each new document must be checked against an existing corpus without
re-running corpus-wide dedup. Design:

1. `narrow_minhash_band_buckets` — the shingle → MinHash-signature →
   band pipeline re-expressed as per-row ARRAY expressions (transform /
   array_min / array_distinct) instead of explode + groupBy-min. Same
   values as the batch path (pytest-pinned, both hash modes), but with
   NO aggregation it is streaming-safe with ZERO state: watermarks,
   output modes, and state stores never enter the plan. Higher-order
   functions are CodegenFallback (interpreted per element) — the
   documented ~10× penalty vs the batch explode formulation is paid
   only on each micro-batch's NEW rows, never on the corpus, which is
   the right trade for ingestion.
2. The historical corpus is a band-bucket INDEX built once batch-side
   (`functions.dedup.band_buckets`, persisted or written as a table
   bucketed by (band, bh)). The stream joins it stream-static on
   (band, bh) — Spark re-plans the static side per micro-batch, the
   join is stateless, and with a bucketed static table it is
   shuffle-free on the corpus side.
3. Output is candidate pairs (new_id, corpus_id); exact-Jaccard
   verification belongs downstream (foreachBatch over
   `functions.dedup.jaccard_on_pairs`, or a periodic batch job),
   because verification needs the corpus shingle table — candidates
   are the part that must be LOW-LATENCY.

Reference anchor: extends the reference's batch-only surface
(RPC.cs:20-28 has no streaming at all); the operator class is the
north-star LLM-pipeline dedup requirement applied to ingestion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from distributedqueryengine_spark.functions.dedup import (
    P31,
    perm_coeffs,
    portable_hash64,
)
from distributedqueryengine_spark.functions.text import normalize_text


def _shingle_hash_array(
    text_col: str, ngram: int, portable: bool
) -> Column:
    """array<long> of DISTINCT word-n-gram shingle hashes for one row —
    the per-row equivalent of functions.dedup.shingles' exploded
    (id, sh) relation (which applies .distinct())."""
    toks = F.split(normalize_text(text_col), " ")
    n_grams = F.greatest(F.size(toks) - ngram + 1, F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice(toks, i + 1, n_grams).alias(f"t{i}") for i in range(ngram)]
    )
    def gram(z: Column) -> Column:
        g = F.concat_ws(" ", *[z[f"t{i}"] for i in range(ngram)])
        return portable_hash64(g) if portable else F.xxhash64(g)
    return F.array_distinct(F.transform(zipped, gram))


def narrow_minhash_band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """(id, band, bh) band buckets computed entirely with narrow
    per-row expressions — works identically on a batch DataFrame and an
    unbounded stream (no shuffle, no state).

    Value-identical to the batch pipeline
    shingles → minhash_signatures → band_buckets (pytest-pinned):
    min over a document's shingle multiset equals min over its distinct
    set, and documents with zero shingles (< ngram tokens) are excluded
    exactly as the batch explode naturally excludes them.
    """
    sh_arr = _shingle_hash_array(text_col, ngram, portable)
    src = df.select(F.col(id_col).alias("id"), sh_arr.alias("sh_arr")).filter(
        F.size("sh_arr") > 0
    )
    # single-arg lambda factories: a default-bound `lambda x, i=i:` has
    # ARITY 2, which F.transform interprets as (element, array_index) —
    # the index column silently shadows the binding
    def _perm_portable(a: int, b: int):
        return lambda x: (x % P31 * F.lit(a) + F.lit(b)) % P31

    def _perm_xx(i: int):
        return lambda x: F.xxhash64(x, F.lit(i))

    if portable:
        mins = [
            F.array_min(F.transform(F.col("sh_arr"), _perm_portable(a, b)))
            for (a, b) in perm_coeffs(num_perm)
        ]
    else:
        mins = [
            F.array_min(F.transform(F.col("sh_arr"), _perm_xx(i)))
            for i in range(num_perm)
        ]
    sig = src.select("id", F.array(*mins).alias("sig"))
    if num_perm <= 0 or bands <= 0 or num_perm % bands != 0:
        # mirror functions.dedup.band_buckets: a remainder would change
        # the band layout vs the batch index this stream joins against
        raise ValueError(f"bands={bands} must evenly divide num_perm={num_perm}")
    r = num_perm // bands
    band_hash = portable_hash64 if portable else F.xxhash64
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_hash(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[b * r + j].cast("string")
                                    for j in range(r)
                                ],
                            )
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bh")


def build_band_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """Batch-side historical index: (id, band, bh) over the corpus via
    the batch explode+aggregate pipeline (whole-stage codegen — the
    fast path for the BIG side). Persist it, or write it with
    sinks.write_bucketed bucketed by (band, bh), so each micro-batch's
    stream-static join prunes instead of rescanning."""
    from distributedqueryengine_spark.functions import dedup as D

    sh = D.shingles(corpus, id_col, text_col, ngram, portable=portable)
    sigs = D.minhash_signatures(sh, num_perm, portable=portable)
    return D.band_buckets(sigs, num_perm, bands, portable=portable)


def stream_dedup_candidates(
    stream_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """Candidate near-duplicate pairs for a document STREAM against a
    static corpus index: (new_id, corpus_id, band).

    Stream-static inner equi-join on (band, bh): stateless (no
    watermark needed — nothing is buffered), append-mode. The static
    side's FILE LISTING is fixed at query start (the analyzed plan
    holds its FileIndex — REFRESH TABLE/refreshByPath do NOT reach a
    running stream's static side; verified empirically r15), so use
    this form for a FROZEN index snapshot; an index that grows while
    the stream runs goes through the foreachBatch re-read pattern
    (`neardup_candidates_foreach_batch`), where each epoch builds a
    fresh DataFrame and therefore a fresh listing. A pair colliding in several bands
    appears once per band; dedup to distinct pairs downstream where
    the verification join wants unique (a, b) anyway (per-batch
    `dropDuplicates` inside foreachBatch — a streaming-global distinct
    would need state, which this operator deliberately avoids).
    """
    new_b = narrow_minhash_band_buckets(
        stream_docs, id_col, text_col, ngram, num_perm, bands, portable=portable
    ).withColumnRenamed("id", "new_id")
    idx = index.select(
        F.col("id").alias("corpus_id"), "band", "bh"
    )
    return (
        new_b.join(idx, ["band", "bh"])
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id", "band")
    )


def stream_exact_dedup(
    stream_docs: DataFrame,
    id_col: str,
    text_col: str,
    time_col: str,
    delay: str = "10 minutes",
) -> DataFrame:
    """Exact content dedup AT INGESTION with BOUNDED state: the
    streaming analogue of functions.dedup.dedup_exact, for the
    re-crawl/re-submit case where the same document arrives twice
    within a time window.

    content fingerprint (16-byte md5, functions/text.fingerprint) →
    event-time watermark → dropDuplicatesWithinWatermark on the
    fingerprint. The engine keeps one state row per fingerprint and
    EVICTS it once the watermark passes event_time + delay, so state is
    bounded by (arrival rate × delay) — never by corpus size, which is
    what makes this safe on an unbounded 100 TB/day feed. The trade is
    explicit: a duplicate arriving AFTER its original's state expired
    is re-emitted (pinned in tests/test_streaming_dedup.py); catching
    those is the job of the band-index path above / the batch exact
    pass, exactly like production dedup tiers.

    First-arrival-wins within the window (the engine keeps the row it
    saw first). Output: the input rows minus in-window duplicates,
    with the fingerprint attached as `fp`.
    """
    from distributedqueryengine_spark.functions.text import fingerprint

    return (
        stream_docs.select(
            F.col(id_col), F.col(time_col), fingerprint(text_col).alias("fp")
        )
        .withWatermark(time_col, delay)
        .dropDuplicatesWithinWatermark(["fp"])
    )


def compact_band_index(
    spark,
    index_dir: str,
    table: str,
    n_buckets: int = 32,
) -> None:
    """Periodic maintenance for the append-only index: rewrite the
    accumulated small per-epoch parquet files as ONE bucketed table on
    (band, bh) — the streaming-sink compaction every long-running
    ingestion pipeline needs. After compaction the per-batch candidate
    join reads a bucketed corpus side, so the join is shuffle-free on
    the index (the zero-Exchange bucketed-join property pinned in
    tests/test_sources_sinks.py), and the small-file count stops growing.
    Dedups (id, band, bh) — epoch replays append idempotent facts."""
    from distributedqueryengine_spark.sources.sinks import write_bucketed_table

    idx = spark.read.parquet(index_dir).dropDuplicates(["id", "band", "bh"])
    write_bucketed_table(
        idx, table, ["band", "bh"], n_buckets, sort_cols=["band", "bh"]
    )


# ---------------------------------------------------------------- lifecycle
# Persisted band-index layout (r15 — the dedup analogue of
# functions/ann_store.py's IVF lifecycle): `index/` holds the (id,
# band, bh) bucket rows, `meta/` the build parameters. Appends go to
# `index/` only.

_BAND_META_VERSION = 1


def save_band_index(
    index: DataFrame,
    path: str,
    ngram: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> None:
    """Persist a band-bucket index (from :func:`build_band_index`)
    with its build meta, so later sessions can probe it and append
    micro-batches to it."""
    base = path.rstrip("/")
    index.select("id", "band", "bh").write.mode("overwrite").parquet(
        base + "/index"
    )
    index.sparkSession.createDataFrame(
        [(int(_BAND_META_VERSION), int(ngram), int(num_perm), int(bands),
          bool(portable))],
        "version int, ngram int, num_perm int, bands int, portable boolean",
    ).coalesce(1).write.mode("overwrite").parquet(base + "/meta")


def append_to_band_index(
    batch_buckets: DataFrame, path: str, files_threshold: int = 64
) -> dict:
    """Append a micro-batch's (id, band, bh) bucket rows to a saved
    index layout. Parquet append is idempotent-fact semantics (a
    replayed epoch appends the same (id, band, bh) rows again, which
    compaction dedups); compact periodically with
    :func:`compact_band_index` over ``path + "/index"``.

    Returns {n_files, needs_compaction} (r16 — the lifecycle surfaces
    its own fragmentation instead of relying on a caller remembering):
    a listing-only file count of the flat index dir, flagged past
    ``files_threshold``. Compaction itself stays the caller's call
    here because compact_band_index targets a bucketed TABLE (a
    different object, needing a table name), unlike the in-place IVF
    auto-compact."""
    batch_buckets.select("id", "band", "bh").write.mode("append").parquet(
        path.rstrip("/") + "/index"
    )
    from distributedqueryengine_spark.functions.ann_store import (
        index_fragmentation,
    )

    frag = index_fragmentation(
        batch_buckets.sparkSession, path.rstrip("/") + "/index"
    )
    n_files = sum(frag.values())
    return {
        "n_files": int(n_files),
        "needs_compaction": bool(n_files > files_threshold),
    }


def load_band_index(spark, path: str) -> DataFrame:
    """The saved index as a DataFrame. NOTE: a DataFrame's file
    listing is fixed when it is read — a RUNNING streaming query
    holding this as its static join side will not see later appends
    (verified r15; REFRESH TABLE does not reach it either). For an
    index that grows under a live stream, re-call this per micro-batch
    inside foreachBatch (`neardup_candidates_foreach_batch`)."""
    return spark.read.parquet(path.rstrip("/") + "/index")


def neardup_candidates_foreach_batch(
    index_path: str,
    candidate_handler,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    portable: bool = False,
):
    """foreachBatch handler for the check-only near-dup tier of the
    streaming curation front: each epoch re-reads ``index_path`` (a
    save_band_index layout) FRESH — new appends are picked up on the
    next micro-batch with no refresh call, because the listing happens
    at read time inside the batch context — joins the micro-batch
    against it, and hands (epoch_id, candidates DataFrame) to
    ``candidate_handler``. It does NOT append the batch to the index:
    the curation front only FLAGS; index growth is the batch tier's
    decision (append verified survivors via append_to_band_index,
    compact with compact_band_index)."""

    def handle(batch_df, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        idx = load_band_index(spark, index_path)
        cands = stream_dedup_candidates(
            batch_df, idx, id_col, text_col, ngram, num_perm, bands,
            portable=portable,
        ).dropDuplicates(["new_id", "corpus_id"])
        candidate_handler(epoch_id, cands)

    return handle
