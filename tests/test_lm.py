"""Bigram LM training + perplexity scoring: full DuckDB differential
over the documents fixture, plus fluency-ordering sanity."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    return con


def test_bigram_lm_matches_duckdb(spark, tables, duck):
    """Train on the documents corpus and score the SAME corpus; every
    per-doc (n_bigrams, avg_neg_logprob) must equal the DuckDB mirror
    of the identical vocab cutoff / unk mapping / add-one math."""
    from distributedqueryengine_spark.functions.lm import (
        score_perplexity,
        train_bigram_lm,
    )

    docs = tables["documents"].select("doc_id", "text")
    lm = train_bigram_lm(docs, "text", vocab_size=200)
    got = sorted(
        (r.doc_id, r.n_bigrams, r.avg_neg_logprob)
        for r in score_perplexity(docs, "text", lm).collect()
    )
    v = lm["v"]
    expect = sorted(
        tuple(r)
        for r in duck.execute(
            f"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 t -> length(t) > 0) AS toks
              FROM documents
            ), vocab AS (
              SELECT w FROM (
                SELECT unnest(toks) AS w FROM tok
              ) GROUP BY w ORDER BY count(*) DESC, w ASC LIMIT 200
            ), vocab_list AS (
              SELECT list(w) AS vs FROM vocab
            ), framed AS (
              SELECT doc_id,
                     ['<s>'] ||
                     list_transform(toks,
                        t -> CASE WHEN list_contains(vs, t) THEN t
                                  ELSE '<unk>' END) ||
                     ['</s>'] AS toks
              FROM tok, vocab_list
            ), pairs AS (
              SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
              FROM framed, unnest(range(1, len(toks))) AS t(i)
            ), bigrams AS (
              SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY 1, 2
            ), unigrams AS (
              SELECT w1 AS w, count(*) AS cu FROM pairs GROUP BY 1
            )
            SELECT p.doc_id,
                   count(*) AS n_bigrams,
                   round(-avg(ln((b.cb + 1.0) / (u.cu + {v}))), 6) AS nlp
            FROM pairs p
            JOIN bigrams b USING (w1, w2)
            JOIN unigrams u ON p.w1 = u.w
            GROUP BY p.doc_id
            """
        ).fetchall()
    )
    assert [g[:2] for g in got] == [e[:2] for e in expect]
    assert all(abs(g[2] - e[2]) <= 1e-6 for g, e in zip(got, expect))


def test_perplexity_orders_fluency(spark, tables):
    """A model trained on real documents scores a sentence built from
    common corpus phrases lower (more fluent) than shuffled gibberish
    of unseen tokens; empty text degrades gracefully."""
    from distributedqueryengine_spark.functions.lm import (
        score_perplexity,
        train_bigram_lm,
    )

    docs = tables["documents"].select("doc_id", "text")
    lm = train_bigram_lm(docs, "text", vocab_size=500)
    # pull a real phrase from the corpus so bigrams are in-model
    sample_text = docs.first().text
    phrase = " ".join(sample_text.lower().split()[:12])
    probes = spark.createDataFrame(
        [
            (1, phrase),
            (2, "zqx vnm plk wrt qqj xxo zzb yyp qwv jjk"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in score_perplexity(probes, "text", lm).collect()}
    assert got[1].perplexity < got[2].perplexity
    assert got[3].n_bigrams == 1  # <s> -> </s> only
    assert all(got[i].avg_neg_logprob > 0 for i in (1, 2, 3))


def _py_backoff(train_docs, score_docs, vocab_size, alpha=0.4):
    """Pure-python stupid-backoff reference mirroring train_trigram_lm
    + score_stupid_backoff exactly (framing, UNK, tie-broken vocab,
    add-one unigram floor)."""
    import math

    def toks(t):
        return [w for w in " ".join(t.lower().split()).split(" ") if w]

    raw = {}
    for t in train_docs.values():
        for w in toks(t):
            raw[w] = raw.get(w, 0) + 1
    vocab = set(
        w for w, _ in sorted(raw.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    )

    def frame(t):
        return ["<s>", "<s>"] + [w if w in vocab else "<unk>" for w in toks(t)] + ["</s>"]

    tri, bi, uni = {}, {}, {}
    for t in train_docs.values():
        f = frame(t)
        for w in f:
            uni[w] = uni.get(w, 0) + 1
        for p in zip(f, f[1:]):
            bi[p] = bi.get(p, 0) + 1
        for p in zip(f, f[1:], f[2:]):
            tri[p] = tri.get(p, 0) + 1
    n_tok, v = sum(uni.values()), len(vocab) + 3
    out = {}
    for i, t in score_docs.items():
        f = frame(t)
        ss = []
        for w1, w2, w3 in zip(f, f[1:], f[2:]):
            if (w1, w2, w3) in tri and (w1, w2) in bi:
                s = tri[(w1, w2, w3)] / bi[(w1, w2)]
            elif (w2, w3) in bi and w2 in uni:
                s = alpha * bi[(w2, w3)] / uni[w2]
            else:
                s = alpha * alpha * (uni.get(w3, 0) + 1) / (n_tok + v)
            ss.append(-math.log(s))
        out[i] = (len(ss), round(sum(ss) / len(ss), 6))
    return out


def test_stupid_backoff_matches_python_reference(spark):
    """Randomized differential: train on corpus A, score corpus B
    (overlapping + novel vocab, empty and whitespace-only docs, tokens
    that spell the <s>/</s>/<unk> markers) — every per-doc
    (n_trigrams, avg_neg_logscore) must match the reference, at
    several vocab cutoffs and alphas."""
    import random

    from distributedqueryengine_spark.functions.lm import (
        score_stupid_backoff,
        train_trigram_lm,
    )

    for seed in range(4):
        rng = random.Random(seed * 7907 + 1)
        vocab = [f"t{j}" for j in range(25)] + ["<s>", "</s>", "<unk>"]
        train = {
            i: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25)))
            for i in range(25)
        }
        train[25] = "  \t  "
        score = {
            100 + i: " ".join(
                rng.choice(vocab + ["novelword", "zzz"]) for _ in range(rng.randint(0, 15))
            )
            for i in range(12)
        }
        vs = rng.choice([5, 12, 100])
        alpha = rng.choice([0.4, 0.7])
        tdf = spark.createDataFrame(list(train.items()), "doc_id long, text string")
        sdf = spark.createDataFrame(list(score.items()), "doc_id long, text string")
        lm = train_trigram_lm(tdf, "text", vocab_size=vs)
        got = {
            r.doc_id: (r.n_trigrams, r.avg_neg_logscore)
            for r in score_stupid_backoff(sdf, "text", lm, alpha=alpha).collect()
        }
        exp = _py_backoff(train, score, vs, alpha)
        assert got == exp, f"seed={seed} vs={vs} alpha={alpha}"


def test_stupid_backoff_orders_fluency(spark, tables):
    """Trained on real documents, text stitched from the corpus's own
    common phrases must out-score (lower pseudo-perplexity than)
    shuffled gibberish of the same tokens."""
    from distributedqueryengine_spark.functions.lm import (
        score_stupid_backoff,
        train_trigram_lm,
    )

    docs = tables["documents"]
    lm = train_trigram_lm(docs, "text", vocab_size=2000)
    sample = " ".join(
        r.text for r in docs.select("text").limit(3).collect()
    ).split()[:40]
    fluent = " ".join(sample)
    import random

    shuf = sample[:]
    random.Random(5).shuffle(shuf)
    gibberish = " ".join(shuf)
    probe = spark.createDataFrame(
        [(1, fluent), (2, gibberish)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.pseudo_perplexity
        for r in score_stupid_backoff(probe, "text", lm).collect()
    }
    assert got[1] < got[2]


def test_stupid_backoff_validation(spark, tables):
    from distributedqueryengine_spark.functions.lm import (
        score_stupid_backoff,
        train_trigram_lm,
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        train_trigram_lm(tables["documents"], "text", vocab_size=0)
    lm = train_trigram_lm(tables["documents"].limit(20), "text", vocab_size=50)
    with _pytest.raises(ValueError):
        score_stupid_backoff(tables["documents"], "text", lm, alpha=0.0)
