"""N-gram language-model scoring: the perplexity-filter shape.

Production corpus curation (CCNet, RefinedWeb, Gopher) filters
documents by perplexity under a small n-gram LM trained on a trusted
corpus — fluent text scores low, boilerplate/gibberish scores high.
The real systems use KenLM (not in this container); this module
implements the same pipeline shape with an interpolation-free
add-one-smoothed BIGRAM model whose math is SQL-portable, so training
AND scoring are DuckDB-differentiable end to end: the distributed
plumbing (vocab cutoff, <unk> mapping, bigram join layout) is exactly
what a KenLM-backed variant would need, with the scorer swappable.

Model: vocabulary = top `vocab_size` tokens (count desc, token asc —
deterministic); everything else maps to '<unk>'. Documents are framed
as <s> w1 ... wn </s>. p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V) where
V = |vocab| + 2 (unk + </s> can follow; <s> only precedes). Score =
mean over a doc's bigrams of -ln p; perplexity = exp(score).

Scale shape: training is two map-side-combinable counts (unigram,
bigram) over one tokenize pass; the model is vocabulary-sized, never
corpus-sized. Scoring explodes each doc's bigrams once and LEFT-joins
the bigram/unigram count tables on their natural keys (broadcast when
the model is small, shuffle-hash otherwise — Spark picks); unseen
bigrams hit the smoothing floor via coalesce, no special-casing. Zero
UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributedqueryengine_spark.functions.text import tokens

BOS = "<s>"
EOS = "</s>"
UNK = "<unk>"


def _normalized_tokens(
    df: DataFrame,
    text_col: str,
    id_col: str,
    tokens_col: str | None = None,
) -> DataFrame:
    """(id, toks array<string>) lowercased whitespace tokens, empty-safe.

    When ``tokens_col`` names an existing array<string> column of raw
    whitespace tokens (e.g. a suite-shared ``split(normalize_text(...))``
    projection), the tokenize pass is skipped and only the empty-token
    filter applies — identical output, one less scan of the raw text
    (the r15 shared-projection discipline)."""
    src = F.col(tokens_col) if tokens_col is not None else tokens(text_col)
    toks = F.filter(src, lambda t: F.length(t) > 0)
    return df.select(F.col(id_col).alias("id"), toks.alias("toks"))


def _map_unk(toks_col, vocab_array):
    """Map out-of-vocabulary tokens to UNK with a JVM-side transform
    against a broadcast-literal vocab array (sorted, so array_contains
    is a scan of a small constant array riding the closure)."""
    return F.transform(
        toks_col,
        lambda t: F.when(F.array_contains(vocab_array, t), t).otherwise(F.lit(UNK)),
    )


def train_bigram_lm(
    corpus: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    vocab_size: int = 10_000,
) -> dict:
    """Fit the model: returns {'vocab': [tokens...], 'v': smoothing V,
    'unigrams': DataFrame(w, c), 'bigrams': DataFrame(w1, w2, c)}.
    The count frames stay DISTRIBUTED (persist or write them next to
    the pipeline); only the vocabulary list — bounded by vocab_size —
    is collected to ride scoring closures."""
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    base = _normalized_tokens(corpus, text_col, id_col)
    counts = (
        base.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab_rows = counts.orderBy(F.col("c").desc(), F.col("w").asc()).limit(
        vocab_size
    ).collect()  # bounded by vocab_size BY CONTRACT
    vocab = sorted(r.w for r in vocab_rows)
    vocab_arr = F.array(*[F.lit(w) for w in vocab])

    framed = base.select(
        F.concat(
            F.array(F.lit(BOS)), _map_unk(F.col("toks"), vocab_arr), F.array(F.lit(EOS))
        ).alias("toks")
    )
    pairs = framed.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                F.slice(F.col("toks"), 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    )
    bigrams = (
        pairs.select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    unigrams = (
        pairs.select(F.col("bg.w1").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return {
        "vocab": vocab,
        "v": len(vocab) + 2,  # + unk + eos
        "unigrams": unigrams,
        "bigrams": bigrams,
    }


def score_perplexity(
    docs: DataFrame,
    text_col: str,
    lm: dict,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_bigrams, avg_neg_logprob, perplexity) per document under
    the fitted model — filter on perplexity > threshold to drop
    gibberish, < threshold to drop boilerplate-like near-copies of the
    training domain. One explode + two LEFT joins against the count
    frames + one doc-keyed aggregate."""
    vocab_arr = F.array(*[F.lit(w) for w in lm["vocab"]])
    v = int(lm["v"])
    framed = _normalized_tokens(docs, text_col, id_col).select(
        "id",
        F.concat(
            F.array(F.lit(BOS)), _map_unk(F.col("toks"), vocab_arr), F.array(F.lit(EOS))
        ).alias("toks"),
    )
    pairs = framed.select(
        "id",
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                F.slice(F.col("toks"), 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("id", "bg.w1", "bg.w2")
    joined = (
        pairs.join(lm["bigrams"].withColumnRenamed("c", "__cb"), ["w1", "w2"], "left")
        .join(lm["unigrams"].withColumnRenamed("c", "__cu"), F.col("w1") == F.col("w"), "left")
        .drop("w")
    )
    logp = F.log(
        (F.coalesce(F.col("__cb"), F.lit(0)) + 1)
        / (F.coalesce(F.col("__cu"), F.lit(0)) + v)
    )
    return (
        joined.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(-F.avg(logp), 6).alias("avg_neg_logprob"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_bigrams",
            "avg_neg_logprob",
            F.round(F.exp("avg_neg_logprob"), 6).alias("perplexity"),
        )
    )


def _grams(framed: DataFrame, n: int, names: list[str]) -> DataFrame:
    """(id, <names...>) — one row per n-gram of the framed tokens,
    via the zip_with/slice codegen formulation (no HOF re-evaluation,
    no python)."""
    size = F.size("toks") - (n - 1)
    cols = [F.slice(F.col("toks"), i + 1, size) for i in range(n)]
    if n == 2:
        z = F.zip_with(cols[0], cols[1],
                       lambda a, b: F.struct(a.alias(names[0]), b.alias(names[1])))
    else:
        z = F.zip_with(
            F.zip_with(cols[0], cols[1],
                       lambda a, b: F.struct(a.alias("x"), b.alias("y"))),
            cols[2],
            lambda ab, c: F.struct(
                ab["x"].alias(names[0]), ab["y"].alias(names[1]), c.alias(names[2])
            ),
        )
    return framed.select("id", F.explode(z).alias("g")).select(
        "id", *[F.col(f"g.{m}") for m in names]
    )


# framing markers used INTERNALLY by the trigram model: tokens are
# whitespace-split, so no raw token can contain a space — a leading
# space makes the marker collision-proof against corpus tokens that
# literally spell "<s>"/"</s>" (which must go through the vocab test
# like any other token)
_BOS_MARK = " <s>"
_EOS_MARK = " </s>"


def _marker_framed(base: DataFrame) -> DataFrame:
    """(id, toks) framed as two BOS markers, the raw tokens, one EOS."""
    return base.select(
        "id",
        F.concat(
            F.array(F.lit(_BOS_MARK), F.lit(_BOS_MARK)),
            F.col("toks"),
            F.array(F.lit(_EOS_MARK)),
        ).alias("toks"),
    )


def _remap_gram_cols(df: DataFrame, cols: list[str], keep: DataFrame) -> DataFrame:
    """Map raw gram columns onto the model alphabet with broadcast
    left joins against the vocab frame (`keep`, one column `kw`):
    framing markers normalize to BOS/EOS, in-vocab tokens stay, the
    rest become UNK. Value-identical to _map_unk's literal-array test
    — one hash probe per gram column instead of an O(|vocab|) array
    scan per token."""
    out = df
    for c in cols:
        m = f"__m_{c}"
        out = (
            out.join(
                F.broadcast(keep.select(F.col("kw").alias(m))),
                out[c] == F.col(m),
                "left",
            )
            .withColumn(
                c,
                F.when(F.col(c) == _BOS_MARK, F.lit(BOS))
                .when(F.col(c) == _EOS_MARK, F.lit(EOS))
                .when(F.col(m).isNotNull(), F.col(c))
                .otherwise(F.lit(UNK)),
            )
            .drop(m)
        )
    return out


def train_trigram_lm(
    corpus: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    vocab_size: int = 10_000,
    tokens_col: str | None = None,
) -> dict:
    """Stupid-backoff trigram model (Brants et al. 2007, "Large
    Language Models in Machine Translation" — the score the web-scale
    MT LMs used precisely BECAUSE it needs only raw counts, no
    discounting pass): returns {'vocab', 'v', 'n_tokens',
    'trigrams'/'bigrams'/'unigrams' count DataFrames}. All three
    count tables come from ONE tokenize+frame pass (two BOS + one EOS
    so every real token heads exactly one trigram) and stay
    distributed.

    The vocabulary never collects (r17): it stays a top-`vocab_size`
    frame, and the UNK mapping runs as broadcast hash joins on the
    (small) gram COUNT tables instead of a per-token O(|vocab|)
    literal-array scan — grams count over raw tokens first, each gram
    column remaps via the vocab frame, and a re-aggregate merges the
    mapped keys, so each count is the sum over its preimage (pinned
    against a pure-python reference in tests/test_lm.py, including
    tokens that spell the markers and blank docs). Zero
    construction-time jobs: 'vocab' in the returned dict is the frame,
    and 'v' and 'n_tokens' are one 1-row meta frame that scoring
    broadcast-crosses into the floor term."""
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    # Tokenize ONCE: `base` feeds the vocab count AND the framed-gram
    # pass, and `framed` feeds three count tables (tri/bi/uni). The
    # persists ride dedup's bounded FIFO.
    from distributedqueryengine_spark.functions.dedup import _scoped_persist

    base = _normalized_tokens(corpus, text_col, id_col, tokens_col)
    # if the corpus arrives as a near-single-partition scan (one small
    # file), widen to a small floor so the gram passes parallelize —
    # small, because per-task overhead swamps tiny cached partitions
    # (measured).
    if base.rdd.getNumPartitions() < 4:
        base = base.repartition(4)
    base = _scoped_persist(base)
    counts = (
        base.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab_df = _scoped_persist(
        counts.orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(vocab_size)
        .select(F.col("w").alias("kw"))
    )
    framed = _scoped_persist(_marker_framed(base))

    def _counted(n: int, names: list[str]) -> DataFrame:
        raw = (
            _grams(framed, n, names)
            .groupBy(*names)
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return (
            _remap_gram_cols(raw, names, vocab_df)
            .groupBy(*names)
            .agg(F.sum("c").alias("c"))
        )

    # The count tables are vocab-sized; scoring joins bigrams and
    # unigrams TWICE each (bi12/bi23, uni2/uni3), so persist them too.
    tri = _scoped_persist(_counted(3, ["w1", "w2", "w3"]))
    bi = _scoped_persist(_counted(2, ["w1", "w2"]))
    uni = _scoped_persist(
        _remap_gram_cols(
            framed.select(F.explode("toks").alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("c")),
            ["w"],
            vocab_df,
        )
        .groupBy("w")
        .agg(F.sum("c").alias("c"))
    )
    # V = |vocab| + unk + bos + eos
    meta = uni.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("__lm_ntok")
    ).crossJoin(
        F.broadcast(
            vocab_df.agg((F.count(F.lit(1)) + F.lit(3)).alias("__lm_v"))
        )
    )
    return {
        "vocab": vocab_df,
        "v": meta,
        "n_tokens": meta,
        "trigrams": tri,
        "bigrams": bi,
        "unigrams": uni,
    }


def score_stupid_backoff(
    docs: DataFrame,
    text_col: str,
    lm: dict,
    id_col: str = "doc_id",
    alpha: float = 0.4,
    tokens_col: str | None = None,
) -> DataFrame:
    """(id, n_trigrams, avg_neg_logscore, pseudo_perplexity) under the
    fitted trigram model with stupid backoff:

        S(w3|w1,w2) = c(w1w2w3)/c(w1w2)            if trigram seen
                    = a * c(w2w3)/c(w2)            elif bigram seen
                    = a^2 * (c(w3)+1)/(N+V)        else (add-one floor
                                                   keeps unseen finite)

    The backoff score is NOT a normalized probability (the paper's
    point — hence "pseudo"-perplexity), but it ranks fluent vs
    gibberish text the same way and trains/score with nothing but the
    three count joins below: trigram (w1,w2,w3), its context (w1,w2),
    backoff bigram (w2,w3) + its context (w2), and the unigram floor
    (w3). Spark broadcasts the count tables when small; everything
    stays JVM-side."""
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    # marker framing, gram columns remapped via the vocab frame, and
    # the 1-row (n_tokens, v) meta frame broadcast-crossed into the
    # floor term
    framed = _marker_framed(
        _normalized_tokens(docs, text_col, id_col, tokens_col)
    )
    g = _remap_gram_cols(
        _grams(framed, 3, ["w1", "w2", "w3"]),
        ["w1", "w2", "w3"],
        lm["vocab"],
    ).crossJoin(F.broadcast(lm["n_tokens"]))
    floor_den = F.col("__lm_ntok") + F.col("__lm_v")

    tri = lm["trigrams"].withColumnRenamed("c", "__ct")
    bi12 = lm["bigrams"].withColumnRenamed("c", "__cb12")
    bi23 = (
        lm["bigrams"]
        .select(F.col("w1").alias("w2"), F.col("w2").alias("w3"),
                F.col("c").alias("__cb23"))
    )
    uni2 = lm["unigrams"].select(F.col("w").alias("w2"), F.col("c").alias("__cu2"))
    uni3 = lm["unigrams"].select(F.col("w").alias("w3"), F.col("c").alias("__cu3"))
    joined = (
        g.join(tri, ["w1", "w2", "w3"], "left")
        .join(bi12, ["w1", "w2"], "left")
        .join(bi23, ["w2", "w3"], "left")
        .join(uni2, ["w2"], "left")
        .join(uni3, ["w3"], "left")
    )
    a = F.lit(float(alpha))
    score = (
        F.when(
            F.col("__ct").isNotNull() & F.col("__cb12").isNotNull(),
            F.col("__ct") / F.col("__cb12"),
        )
        .when(
            F.col("__cb23").isNotNull() & F.col("__cu2").isNotNull(),
            a * F.col("__cb23") / F.col("__cu2"),
        )
        .otherwise(
            a * a * (F.coalesce(F.col("__cu3"), F.lit(0)) + 1) / floor_den
        )
    )
    return (
        joined.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trigrams"),
            F.round(-F.avg(F.log(score)), 6).alias("avg_neg_logscore"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_trigrams",
            "avg_neg_logscore",
            F.round(F.exp("avg_neg_logscore"), 6).alias("pseudo_perplexity"),
        )
    )
