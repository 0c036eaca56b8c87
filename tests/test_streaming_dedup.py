"""Streaming near-dup candidates (streaming/dedup.py): the narrow
per-row MinHash formulation must equal the batch explode+aggregate
pipeline value-for-value, and the stream-static candidate join must
emit exactly the batch-computed candidates with a stateless plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributedqueryengine_spark.functions import dedup as D
from distributedqueryengine_spark.session import load_table
from distributedqueryengine_spark.streaming import dedup as SD
from distributedqueryengine_spark.streaming import windows as W

SF_DIR = "/root/testdata/sf0.001"


def _rows(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


@pytest.mark.parametrize("portable", [False, True])
def test_narrow_band_buckets_equal_batch_pipeline(spark, portable):
    """Per-row transform/array_min formulation ≡ explode + groupBy-min
    + banding, in both hash modes, including the zero-shingle-doc
    exclusion."""
    docs = load_table(spark, SF_DIR, "documents")
    narrow = SD.narrow_minhash_band_buckets(
        docs, "doc_id", "text", 3, 32, 8, portable=portable
    )
    sh = D.shingles(docs, "doc_id", "text", 3, portable=portable)
    sigs = D.minhash_signatures(sh, 32, portable=portable)
    batch = D.band_buckets(sigs, 32, 8, portable=portable)
    cols = ["id", "band", "bh"]
    got, expect = _rows(narrow, cols), _rows(batch, cols)
    assert got == expect
    assert len(got) > 0


def test_stream_candidates_equal_batch(spark):
    """End-to-end through the microbatch engine: odd-id documents
    streamed against a static index of even-id documents must emit
    exactly the batch-computed candidate set, with a STATELESS plan."""
    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    index = SD.build_band_index(corpus, "doc_id", "text").persist()
    index.count()

    stream = W.stream_from_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") % 2 == 1
    )
    cand = SD.stream_dedup_candidates(stream, index, "doc_id", "text")
    q = (
        cand.writeStream.outputMode("append")
        .format("memory")
        .queryName("sdedup_out")
        .start()
    )
    q.processAllAvailable()
    # stateless: the stream-static join must not create state operators
    progress = q.lastProgress
    assert progress is None or not progress.get("stateOperators"), (
        f"unexpected state operators: {progress.get('stateOperators')}"
    )
    q.stop()

    got = _rows(
        spark.sql("SELECT new_id, corpus_id, band FROM sdedup_out"),
        ["new_id", "corpus_id", "band"],
    )
    batch_cand = SD.stream_dedup_candidates(
        docs.filter(F.col("doc_id") % 2 == 1), index, "doc_id", "text"
    )
    expect = _rows(batch_cand, ["new_id", "corpus_id", "band"])
    assert got == expect
    index.unpersist()


def test_stream_candidates_find_planted_duplicate(spark, tmp_path):
    """A planted near-copy arriving on the stream must collide with its
    original in the static index; an unrelated document must not."""
    import pandas as pd

    corpus_pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [
                "the quick brown fox jumps over the lazy dog again and again today",
                "completely different content about distributed query engines at scale",
            ],
        }
    )
    corpus = spark.createDataFrame(corpus_pdf)
    index = SD.build_band_index(corpus, "doc_id", "text")

    new_pdf = pd.DataFrame(
        {
            "doc_id": [10, 11],
            "text": [
                # near-copy of doc 1 (one word changed at the end)
                "the quick brown fox jumps over the lazy dog again and again tomorrow",
                "unrelated text mentioning nothing shared with either corpus entry",
            ],
        }
    )
    d = str(tmp_path / "newdocs")
    spark.createDataFrame(new_pdf).coalesce(1).write.parquet(d)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).parquet(d)
    cand = SD.stream_dedup_candidates(stream, index, "doc_id", "text")
    q = (
        cand.writeStream.outputMode("append")
        .format("memory")
        .queryName("sdedup_plant")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    pairs = {
        (r.new_id, r.corpus_id)
        for r in spark.sql(
            "SELECT DISTINCT new_id, corpus_id FROM sdedup_plant"
        ).collect()
    }
    assert (10, 1) in pairs, f"planted near-copy not detected: {pairs}"
    assert all(nid != 11 for nid, _ in pairs), f"false positive: {pairs}"


def test_compacted_index_equals_raw_and_probes_identically(spark, tmp_path):
    """compact_band_index: the bucketed table holds exactly the raw
    index's distinct rows, and candidates probed against it equal
    candidates probed against the raw parquet dir."""
    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    raw_dir = str(tmp_path / "raw_index")
    # simulate several epoch appends (with a replayed epoch)
    b = SD.build_band_index(corpus, "doc_id", "text")
    b.filter(F.col("id") % 2 == 0).write.mode("append").parquet(raw_dir)
    b.filter(F.col("id") % 2 == 1).write.mode("append").parquet(raw_dir)
    b.filter(F.col("id") % 2 == 1).write.mode("append").parquet(raw_dir)  # replay

    table = "band_index_compact_test"
    SD.compact_band_index(spark, raw_dir, table)
    try:
        compact = spark.table(table)
        raw = spark.read.parquet(raw_dir).dropDuplicates(["id", "band", "bh"])
        cols = ["id", "band", "bh"]
        assert _rows(compact, cols) == _rows(raw, cols)

        batch = docs.filter(F.col("doc_id") % 3 == 1).limit(50)
        got = _rows(
            SD.stream_dedup_candidates(batch, compact, "doc_id", "text"),
            ["new_id", "corpus_id", "band"],
        )
        expect = _rows(
            SD.stream_dedup_candidates(batch, raw, "doc_id", "text"),
            ["new_id", "corpus_id", "band"],
        )
        assert got == expect
        assert expect, "no candidates — fixture too sparse"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_exact_dedup_within_watermark(spark, tmp_path):
    """stream_exact_dedup: in-window duplicates are dropped, state is
    EVICTED once the watermark passes (a later re-arrival of the same
    content is re-emitted — the documented bounded-state trade), and
    distinct contents always pass."""
    import glob
    import os
    import shutil

    import pandas as pd

    def _stage(name, rows):
        src = str(tmp_path / ("src_" + name))
        pd_df = pd.DataFrame(rows)
        pd_df["ts"] = pd.to_datetime(pd_df["ts"])
        spark.createDataFrame(pd_df).coalesce(1).write.mode("overwrite").parquet(src)
        for f in glob.glob(src + "/*.parquet"):
            shutil.copy(f, stage_dir + f"/{name}.parquet")
        return src

    stage_dir = str(tmp_path / "stream_in")
    os.makedirs(stage_dir)
    first = _stage(
        "b1",
        {
            "doc_id": [1, 2, 3],
            "text": ["alpha beta", "alpha  BETA", "gamma delta"],  # 1≡2 after normalize
            "ts": ["2024-01-01 10:00:00", "2024-01-01 10:00:30", "2024-01-01 10:01:00"],
        },
    )
    schema = spark.read.parquet(first).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage_dir)
    out = SD.stream_exact_dedup(stream, "doc_id", "text", "ts", delay="10 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("exact_dedup_out")
        .start()
    )
    q.processAllAvailable()
    got1 = {r.fp for r in spark.sql("SELECT * FROM exact_dedup_out").collect()}
    n1 = spark.sql("SELECT count(*) AS n FROM exact_dedup_out").first().n
    assert n1 == 2, "batch 1: the in-batch duplicate must be dropped"
    assert len(got1) == 2

    # batch 2: same content as doc 1, still inside the watermark window
    # (watermark after b1 = 10:01 - 10min < 10:00) → dropped as dup.
    _stage(
        "b2",
        {
            "doc_id": [4],
            "text": ["ALPHA beta"],
            "ts": ["2024-01-01 10:05:00"],
        },
    )
    q.processAllAvailable()
    n2 = spark.sql("SELECT count(*) AS n FROM exact_dedup_out").first().n
    assert n2 == 2, "batch 2: in-window re-arrival must be dropped"

    # batch 3: watermark jumps far ahead; batch 4 re-sends the same
    # content — its state row was evicted, so it is re-emitted.
    _stage(
        "b3",
        {"doc_id": [5], "text": ["epsilon zeta"], "ts": ["2024-01-01 14:00:00"]},
    )
    q.processAllAvailable()
    _stage(
        "b4",
        {"doc_id": [6], "text": ["alpha beta"], "ts": ["2024-01-01 14:00:05"]},
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT doc_id, fp FROM exact_dedup_out").collect()
    assert len(rows) == 4, f"expired-state re-arrival must re-emit, got {rows}"
    assert {r.doc_id for r in rows} >= {3, 5, 6}


def test_stream_candidates_with_index_refresh_between_batches(spark, tmp_path):
    """r15: two micro-batches with an index APPEND in between — the
    near-dup tier's foreachBatch re-read must see corpus rows appended
    after the stream started (no restart, no refresh call), and each
    batch's candidate set must equal the batch-mode join against the
    index content current at that batch."""
    import pandas as pd

    base_txt = ("the quick brown fox jumps over the lazy dog "
                "again and again every single day in the sunny meadow")
    alt_txt = ("distributed query engines shuffle partitioned data "
               "across many executor nodes to answer analytical joins")
    corpus_a = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": [base_txt]})
    )
    corpus_b = spark.createDataFrame(
        pd.DataFrame({"doc_id": [2], "text": [alt_txt]})
    )
    ipath = str(tmp_path / "bandidx")
    SD.save_band_index(
        SD.build_band_index(corpus_a, "doc_id", "text"), ipath
    )

    b1 = pd.DataFrame({
        "doc_id": [10, 11],
        "text": [base_txt.replace("sunny", "rainy"),
                 "unrelated nothing shared with either corpus entry here"],
    })
    b2 = pd.DataFrame({
        "doc_id": [20],
        "text": [alt_txt.replace("joins", "queries")],
    })
    src = str(tmp_path / "arrivals")
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    per_epoch: dict[int, set] = {}

    def handler(epoch_id, cands):
        per_epoch.setdefault(epoch_id, set()).update(
            (r.new_id, r.corpus_id) for r in cands.collect()
        )

    qn = stream.writeStream.foreachBatch(
        SD.neardup_candidates_foreach_batch(ipath, handler)
    ).start()
    qn.processAllAvailable()
    got1 = set().union(*per_epoch.values()) if per_epoch else set()
    assert (10, 1) in got1 and all(n != 20 for n, _ in got1), got1

    # index grows out-of-band; NO refresh call, NO restart
    SD.append_to_band_index(
        SD.build_band_index(corpus_b, "doc_id", "text"), ipath
    )
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(src)
    qn.processAllAvailable()
    qn.stop()
    got2 = set().union(*per_epoch.values())
    assert (20, 2) in got2, f"appended index not seen by batch 2: {got2}"
    # batch-mode mirrors per batch state
    expect_b1 = {(r.new_id, r.corpus_id) for r in SD.stream_dedup_candidates(
        spark.createDataFrame(b1),
        SD.build_band_index(corpus_a, "doc_id", "text"),
        "doc_id", "text").collect()}
    expect_b2 = {(r.new_id, r.corpus_id) for r in SD.stream_dedup_candidates(
        spark.createDataFrame(b2), SD.load_band_index(spark, ipath),
        "doc_id", "text").collect()}
    assert got2 == expect_b1 | expect_b2, (got2, expect_b1, expect_b2)


def test_band_index_fragmentation_flag(spark, tmp_path):
    """r16: append_to_band_index returns {n_files, needs_compaction}
    from a listing-only count — the lifecycle surfaces its own
    small-file health."""
    docs = load_table(spark, SF_DIR, "documents").limit(120)
    ipath = str(tmp_path / "bidx_frag")
    idx = SD.build_band_index(docs, "doc_id", "text")
    SD.save_band_index(idx, ipath)
    batch = spark.createDataFrame(
        [(200000 + i, i % 8, 12345 + i) for i in range(40)],
        "id long, band int, bh long",
    )
    r1 = SD.append_to_band_index(batch, ipath, files_threshold=100_000)
    assert r1["n_files"] >= 1 and not r1["needs_compaction"], r1
    r2 = SD.append_to_band_index(batch, ipath, files_threshold=1)
    assert r2["n_files"] > r1["n_files"] and r2["needs_compaction"], (r1, r2)
