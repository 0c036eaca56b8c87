"""Text analysis for training-data pipelines: stats, quality, lang-ID,
token counts, fingerprints.

No analogue exists in the reference (scalar-only relational engine,
RPC.cs:20-28); these are the north-star extensions (BASELINE.json)
that make the engine useful for LLM-data curation at 100 TB.

Everything here is built from JVM-side `pyspark.sql.functions`
(regexp / split / higher-order array functions) — no Python UDFs, so
the hot path stays inside whole-stage codegen and scales linearly with
partitions. Each helper returns Column expressions usable in any
select/filter.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small closed English stopword list — shared with the DuckDB oracle
# (oracles.py) so both engines classify identically.
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "on", "for", "with", "as", "at", "by", "from", "it", "this",
)


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of lowercased text (empty-safe)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c)), r"\s+")


def token_count(col: Column | str) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(tokens(c))
    )


def stopword_ratio(col: Column | str) -> Column:
    """Fraction of tokens that are English stopwords (0.0 if no tokens)."""
    toks = tokens(col)
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))
    )
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / F.size(toks).cast("double")
    )


def punct_ratio(col: Column | str) -> Column:
    """Punctuation chars / total chars (0.0 for empty text)."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[.!?,;:'\"()-]", ""))
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        n_punct.cast("double") / F.length(c).cast("double")
    )


def mean_word_len(col: Column | str) -> Column:
    """Average token length in chars (0.0 if no tokens)."""
    toks = tokens(col)
    total = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(toks).cast("double")
    )


def quality_score(col: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic: rewards moderate length,
    some stopwords (real prose), plausible word lengths.

    The formula is intentionally simple and SQL-portable — the point is
    the distributed evaluation pattern, not linguistic sophistication.
    """
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c).cast("double")
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    stop_score = F.least(stopword_ratio(c) * 5.0, F.lit(1.0))
    wl = mean_word_len(c)
    wl_score = F.when((wl >= 3.0) & (wl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.3))
    return F.round((len_score + stop_score + wl_score) / F.lit(3.0), 4)


def lang_id(col: Column | str, threshold: float = 0.08) -> Column:
    """N-gram-free heuristic language ID: English iff the stopword ratio
    clears `threshold`, else 'other'. Deterministic + SQL-portable;
    a production pipeline would swap in fastText via mapInPandas
    (see multimodal.py for the stub pattern)."""
    return F.when(stopword_ratio(col) >= threshold, F.lit("en")).otherwise(
        F.lit("other")
    )


def normalize_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


# ---------------------------------------------------------------------------
# Token-materialized variants (r17). quality_score/lang_id/token_count
# inline re-tokenize the raw text once per HOF sub-expression
# (interpreted higher-order functions defeat codegen subexpression
# elimination — measured 0.27→0.20 s per site at sf0.1), so multi-
# signal projections evaluate split(trim(lower(text))) 4-6×. These
# variants take the ALREADY-projected `tokens(text)` array column —
# project it once (Catalyst keeps a multi-referenced non-cheap alias
# as its own Project instead of re-inlining it) and derive every
# signal from the array. Value-identical to the text forms:
# `tokens()` of blank text is [''] and of non-blank text contains no
# empty tokens (trim before split), so size(filter(len>0)) ≡ the
# blank-guarded size, and '' never matches a stopword.
# ---------------------------------------------------------------------------


def token_count_of(toks: Column) -> Column:
    """token_count() over a pre-projected tokens(text) array."""
    return F.size(F.filter(toks, lambda t: F.length(t) > 0))


def stopword_ratio_of(toks: Column) -> Column:
    """stopword_ratio() over a pre-projected tokens(text) array."""
    hits = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / F.size(toks).cast("double")
    )


def mean_word_len_of(toks: Column) -> Column:
    """mean_word_len() over a pre-projected tokens(text) array."""
    total = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(toks).cast("double")
    )


def quality_score_of(toks: Column) -> Column:
    """quality_score() over a pre-projected tokens(text) array —
    identical rounding and branch structure."""
    n_tok = token_count_of(toks).cast("double")
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    stop_score = F.least(stopword_ratio_of(toks) * 5.0, F.lit(1.0))
    wl = mean_word_len_of(toks)
    wl_score = F.when((wl >= 3.0) & (wl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.3))
    return F.round((len_score + stop_score + wl_score) / F.lit(3.0), 4)


def lang_id_of(toks: Column, threshold: float = 0.08) -> Column:
    """lang_id() over a pre-projected tokens(text) array."""
    return F.when(
        stopword_ratio_of(toks) >= threshold, F.lit("en")
    ).otherwise(F.lit("other"))


def fingerprint(col: Column | str) -> Column:
    """Deterministic 128-bit content fingerprint (md5 of normalized text).

    md5 is engine-portable (identical in DuckDB), making exact-dup
    detection oracle-checkable; rolling/simhash variants live in
    dedup.py.
    """
    return F.md5(normalize_text(col))


# GPT-2-style pre-tokenizer pattern, restricted to constructs with
# identical semantics in Java regex (Spark) and RE2 (DuckDB): no
# lookarounds, leftmost-first alternation. Contractions split off,
# letter runs, 1-3 digit chunks (BPE-ish digit grouping), then any
# punctuation run.
BPE_TOKEN_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]"


def regex_tokens(col: Column | str) -> Column:
    """BPE-ish subword-boundary tokenization (GPT-2 pre-tokenizer
    shape) of lowercased text — pure JVM `regexp_extract_all`, no UDF.
    This is the token-count estimator a training-data pipeline uses
    for budget accounting; exact BPE merges need the model's vocab and
    belong in a pandas UDF, but the pre-tokenizer is where >95% of the
    count signal is."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(BPE_TOKEN_PATTERN), F.lit(0))


def bpe_token_count(col: Column | str) -> Column:
    """Count of BPE-ish pre-tokens; 0 for empty/blank text."""
    return F.size(regex_tokens(col))


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Split documents into overlapping fixed-width character chunks
    (LLM context-window preparation).

    Chunk i covers characters [i*stride, i*stride + chunk_size) with
    stride = chunk_size - overlap; the last chunk may be shorter. A
    document shorter than chunk_size yields exactly one chunk.

    Scale shape: a narrow `explode(sequence(...))` — the chunk count is
    a pure function of the document length, so there is NO join and NO
    shuffle; output partitioning inherits the scan. The reference has
    no text operators at all (closed enum RPC.cs:20-28); this is
    north-star pipeline surface.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError(f"need 0 <= overlap < chunk_size, got {overlap}/{chunk_size}")
    stride = chunk_size - overlap
    n_chunks = F.when(F.length(text_col) <= chunk_size, F.lit(1)).otherwise(
        F.ceil((F.length(text_col) - chunk_size) / F.lit(float(stride))) + 1
    )
    return (
        df.select(
            F.col(id_col),
            F.col(text_col),
            F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("ci"),
        )
        .select(
            F.col(id_col),
            F.col("ci").cast("long").alias("chunk_idx"),
            F.substring(
                F.col(text_col), F.col("ci") * stride + 1, chunk_size
            ).alias("chunk"),
        )
        .withColumn("chunk_chars", F.length("chunk").cast("long"))
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full stats column set — one JVM-side projection."""
    return df.select(
        "*",
        token_count(text_col).alias("n_tokens"),
        F.length(F.col(text_col)).cast("int").alias("n_chars_actual"),
        F.round(stopword_ratio(text_col), 4).alias("stop_ratio"),
        F.round(punct_ratio(text_col), 4).alias("punct_ratio"),
        F.round(mean_word_len(text_col), 4).alias("mean_word_len"),
        quality_score(text_col).alias("quality"),
        lang_id(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fp"),
    )


# ---------------------------------------------------------- PII scrubbing

# Redaction patterns restricted to constructs with identical semantics
# in Java regex (Spark) and RE2 (DuckDB): no lookarounds, no
# backreferences — the same portability rule as the BPE tokenizer
# pattern above. Order matters: URLs first (they may contain '@' and
# digit runs that the later patterns would mangle).
PII_PATTERNS: dict[str, str] = {
    "url": r"https?://\S+",
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # Two phone shapes, NOT a free-form digit-run: (a) international —
    # leading '+' then digits with fillers; (b) structured 3-3-4 with
    # optional () and [ .-] separators. A bare space-joined digit run
    # ("2020 2021 2022", numeric columns in prose) matches neither, so
    # year lists / number tables survive the scrub; the cost is missing
    # unprefixed non-3-3-4 groupings ("01522 343333") — an accepted
    # precision/recall trade for a training-corpus scrub.
    "phone": r"\+[0-9][0-9() .-]{5,}[0-9]|\(?[0-9]{3}\)?[ .-]?[0-9]{3}[ .-]?[0-9]{4}",
}


def redact_pii(col: Column | str, token: str = "[PII]") -> Column:
    """Replace URLs, emails, and phone-shaped digit runs with `token` —
    the standard scrubbing pass before a corpus ships to training.
    Chained JVM regexp_replace: one projection, codegen, zero shuffle,
    linear scan at any corpus size. Idempotent (the token matches none
    of the patterns)."""
    c = F.col(col) if isinstance(col, str) else col
    for pat in PII_PATTERNS.values():
        c = F.regexp_replace(c, pat, token)
    return c


def pii_counts(col: Column | str, token: str = "[PII]") -> Column:
    """Struct of per-class PII match counts (url, email, phone) — the
    audit side of redaction: aggregate it corpus-wide to report what
    scrubbing removed. Each class is counted on the text AFTER the
    earlier classes were redacted — exactly the text redact_pii's
    chained regexp_replace sees — so a URL containing an '@' or a digit
    run is counted once as a URL, never double-counted as email/phone,
    and sum(counts) == number of token insertions redact_pii makes.
    regexp_count is JVM-side and portable to the DuckDB oracle via
    len(regexp_extract_all(...)) over the same chained replacements."""
    c = F.col(col) if isinstance(col, str) else col
    counts = []
    for name, pat in PII_PATTERNS.items():
        counts.append(F.regexp_count(c, F.lit(pat)).cast("int").alias(name))
        c = F.regexp_replace(c, pat, token)
    return F.struct(*counts)


# ------------------------------------------- boilerplate line removal

def line_doc_frequency(
    df: DataFrame, id_col: str, text_col: str, sep: str = "\n"
) -> DataFrame:
    """(lf, n_docs): document frequency of every distinct line across
    the corpus — the substrate for CCNet/RefinedWeb-style boilerplate
    detection (navigation chrome, cookie banners, license footers
    repeat across documents; real prose does not).

    Lines are keyed by the 16-byte md5 of their trimmed text, so the
    corpus-wide shuffle carries fingerprints, never line bodies. One
    explode + one hash aggregate; countDistinct(id) is the same
    partial-aggregatable expand Spark uses for any distinct-agg.

    `sep` is treated as a LITERAL separator (escaped before F.split,
    whose pattern argument is a Java regex) so '|' or '.' split on the
    character, not on every position.
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), re.escape(sep))).alias("line"),
    ).filter(F.length(F.trim("line")) > 0)
    return (
        lines.select("id", F.md5(F.trim("line")).alias("lf"))
        .groupBy("lf")
        .agg(F.count_distinct("id").alias("n_docs"))
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_doc_freq: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Rewrite each document with its boilerplate lines removed: a line
    is boilerplate when it appears (trimmed-identical) in MORE than
    `max_doc_freq` distinct documents. Returns the input schema with
    `text_col` rewritten (line order preserved; blank/whitespace-only
    lines are NEVER boilerplate and pass through untouched, so
    paragraph structure survives; documents whose every line is
    boilerplate keep an empty string — filter them with token_count
    downstream). `sep` is a literal separator (regex-escaped for
    F.split), matching line_doc_frequency.

    Distributed shape: explode lines with their position → left-semi
    join against the <=max_doc_freq fingerprints (16-byte keys; the
    frequent side is TINY by definition — boilerplate is what repeats —
    but the join carries no broadcast hint: the semi-join side is
    corpus-lines-sized and AQE picks the strategy) → one groupBy(id)
    reassembly via array_sort(collect_list(struct(pos, line))). The
    only stage that shuffles line TEXT is the final per-document
    reassembly, which any rewrite-the-corpus operator must pay; the
    frequency analysis itself shuffles fingerprints only
    (line_doc_frequency above).
    """
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias(
            "pos", "line"
        ),
    )
    keep_lf = (
        line_doc_frequency(df, id_col, text_col, sep)
        .filter(F.col("n_docs") <= max_doc_freq)
        .select("lf")
    )
    # Blank lines bypass the frequency check entirely (they are
    # structure, not boilerplate) — only non-blank lines face the
    # semi-join; the union restores the blanks before reassembly.
    blank = lines.filter(F.length(F.trim("line")) == 0)
    nonblank = (
        lines.filter(F.length(F.trim("line")) > 0)
        .withColumn("lf", F.md5(F.trim("line")))
        .join(keep_lf, "lf", "left_semi")
        .drop("lf")
    )
    kept = nonblank.unionByName(blank)
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            sep,
        ).alias("__new_text")
    )
    out_cols = [
        F.coalesce("__new_text", F.lit("")).alias(c)
        if c == text_col
        else F.col(c)
        for c in df.columns
    ]
    return (
        df.join(rebuilt, df[id_col] == rebuilt["__id"], "left")
        .select(*out_cols)
    )


def repetition_ratio(col: Column | str, n: int = 3) -> Column:
    """Intra-document n-gram repetition ratio — the Gopher/FineWeb
    quality signal that catches keyword-stuffed and boilerplate-looped
    pages: 1 − distinct_ngrams/total_ngrams, 0.0 for documents shorter
    than n tokens. Pure per-row array expressions (same caveat as
    stopword_ratio: higher-order fns are CodegenFallback — fine for a
    per-document scorer, which is output-row-bound, not corpus-bound);
    filter with e.g. repetition_ratio(text) < 0.2 alongside
    quality_score in a cleaning pipeline."""
    toks = tokens(col)
    total = F.greatest(F.size(toks) - n + 1, F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(total, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(total <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0)
        - F.size(F.array_distinct(grams)).cast("double") / total.cast("double")
    )


def gopher_quality_flags(
    col: Column | str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
) -> Column:
    """Struct of the Gopher repetition-free quality rules (Rae et al.
    2021, table A1) as boolean flags plus an overall `passes` — the
    document-level filter battery large web-corpus cleans run before
    any model-based scoring. All pure JVM expressions over one pass of
    the text (no UDFs): per-rule regexp_count/split arithmetic, so the
    battery composes into a cleaning pipeline's single corpus scan.

    Rules: word count in [min_words, max_words]; mean word length in
    [3, 10]; hash/ellipsis symbol-to-word ratio <= 0.1; < 90% of lines
    start with a bullet; < 30% of lines end with an ellipsis; >= 80%
    of words contain an alphabetic character. (The companion
    repetition gates live in `repetition_ratio`; stopword presence in
    `stopword_ratio` — compose as needed.)"""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n_words = F.size(toks).cast("double")
    mwl = mean_word_len(c)
    n_sym = (F.regexp_count(c, F.lit(r"#")) + F.regexp_count(c, F.lit(r"\.\.\.|…"))).cast("double")
    lines = F.split(c, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    n_bullet = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"^([-*•‣▪]|\d+[.)])\s"))
    ).cast("double")
    n_ellipsis = F.size(
        F.filter(lines, lambda ln: F.rtrim(ln).rlike(r"(\.\.\.|…)$"))
    ).cast("double")
    n_alpha = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-zÀ-ÿ]"))
    ).cast("double")
    flags = {
        "word_count_ok": (n_words >= min_words) & (n_words <= max_words),
        "mean_word_len_ok": (mwl >= min_mean_word_len) & (mwl <= max_mean_word_len),
        "symbol_ratio_ok": n_sym / F.greatest(n_words, F.lit(1.0)) <= max_symbol_word_ratio,
        "bullet_lines_ok": n_bullet / n_lines < max_bullet_line_frac,
        "ellipsis_lines_ok": n_ellipsis / n_lines < max_ellipsis_line_frac,
        "alpha_words_ok": n_alpha / F.greatest(n_words, F.lit(1.0)) >= min_alpha_word_frac,
    }
    passes = F.lit(True)
    for v in flags.values():
        passes = passes & v
    return F.struct(
        *[v.alias(k) for k, v in flags.items()], passes.alias("passes")
    )


def repetition_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: Sequence[int] = (2, 3, 4),
    dup_ns: Sequence[int] = (5, 10),
) -> DataFrame:
    """Gopher-style WITHIN-document repetition battery (Rae et al. 2021
    table A1, repetition rows; also RefinedWeb/FineWeb): per document —

    - dup_line_frac / dup_line_char_frac: fraction of non-empty trimmed
      lines (split on newline) that are repeats of an earlier-seen line
      (1 − distinct/total), and the fraction of line characters inside
      lines occurring more than once;
    - dup_para_frac / dup_para_char_frac: same over paragraphs (split
      on blank lines, '\\n{2,}');
    - top_{n}gram_char_frac for n in top_ns: characters covered by the
      MOST FREQUENT word n-gram (count·len, ties broken toward larger
      coverage — deterministic) / total document characters;
    - dup_{n}gram_char_frac for n in dup_ns: characters inside n-grams
      occurring more than once / total characters. Overlapping
      occurrences are counted per occurrence (the standard shuffle-
      friendly approximation of Gopher's span-union), capped at 1.0.

    Distributed shape — the 100 TB formulation: lines, paragraphs and
    EVERY n-gram order are tagged (n, unit) structs concatenated into
    one array and exploded ONCE; one hash groupBy(id, n, unit) counts
    occurrences (map-side partial), one groupBy(id) folds the per-n
    metrics with conditional aggregates. Two shuffles total for the
    whole battery, no UDFs, no per-row quadratic distinct scans (the
    in-row array_distinct alternative is O(units²) per document on
    adversarial repeated content — exactly the documents this filter
    exists to catch). Tokenization matches tokens() (lowercased
    whitespace split), mirrored in the DuckDB oracle."""
    top_ns, dup_ns = list(top_ns), list(dup_ns)
    ns = sorted(set(top_ns) | set(dup_ns))
    did, c = F.col(id_col), F.col(text_col)

    # Fan out under-partitioned input before the CPU-heavy gram stage:
    # a small corpus file arrives as one input split, which would pin
    # the interpreted-HOF Generate to a single core while the rest of
    # the executor idles (measured 6.1s -> 3.7s at sf0.1 on local[32]).
    # Gated so a 100 TB scan — already thousands of splits — pays no
    # extra shuffle.
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        nparts = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - plan types without RDD conv
        nparts = target
    if nparts < target:
        df = df.repartition(target)

    def _tag(arr: Column, n: int) -> Column:
        return F.transform(
            arr,
            lambda g: F.struct(
                F.lit(n).cast("int").alias("n"), g.alias("g")
            ),
        )

    # Materialize the three unit arrays as REAL columns in a first
    # Project before any n-gram lambda touches them. Interpreted
    # higher-order-function evaluation re-computes a subexpression
    # referenced inside a lambda on EVERY lambda invocation — with the
    # split→transform→filter chains inlined, each of the ~|toks| gram
    # slices per n re-ran the whole tokenize pipeline (measured 10× the
    # DuckDB oracle at sf0.1; materializing cut the battery 18.3s→4.3s).
    # CollapseProject will not inline these back: each array is a
    # non-cheap expression referenced from multiple downstream lambdas.
    #
    # drop boundary empties: Spark trim strips spaces only and split
    # keeps leading/trailing empty fields, so whitespace-containing
    # edges would otherwise mint phantom '' tokens (and '' grams)
    mat = df.select(
        did.alias("__id"),
        F.greatest(F.length(c), F.lit(1)).alias("__tc"),
        F.filter(
            F.transform(F.split(c, "\n"), F.trim), lambda l: F.length(l) > 0
        ).alias("__lines"),
        F.filter(
            F.transform(F.split(c, r"\n{2,}"), F.trim),
            lambda p: F.length(p) > 0,
        ).alias("__paras"),
        F.filter(tokens(c), lambda t: F.length(t) > 0).alias("__toks"),
    )
    toks = F.col("__toks")
    parts = [_tag(F.col("__lines"), -1), _tag(F.col("__paras"), -2)]
    empty_s = F.array().cast("array<string>")
    for n in ns:
        total_n = F.size(toks) - n + 1
        grams = F.when(total_n >= 1, F.transform(
            F.sequence(F.lit(1), F.greatest(total_n, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )).otherwise(empty_s)
        parts.append(_tag(grams, n))

    units = mat.select(
        "__id",
        "__tc",
        F.explode(F.concat(*parts)).alias("u"),
    ).select("__id", "__tc", F.col("u.n").alias("__n"), F.col("u.g").alias("__g"))

    counts = units.groupBy("__id", "__n", "__g").agg(
        F.count(F.lit(1)).alias("cnt"), F.max("__tc").alias("tc")
    ).select(
        "__id", "__n", "cnt", "tc", F.length("__g").alias("len")
    )

    cl = F.col("cnt") * F.col("len")
    per_n = counts.groupBy("__id", "__n").agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("dist"),
        F.sum(cl).alias("tchars"),
        F.sum(F.when(F.col("cnt") > 1, cl).otherwise(F.lit(0))).alias("dchars"),
        # max struct = max cnt, then max coverage among the tied — the
        # deterministic top-gram coverage without a second pass
        F.max(F.struct(F.col("cnt").alias("c"), cl.alias("cl")))["cl"].alias("top_cl"),
        F.max("tc").alias("tc"),
    )

    def _per(n: int, expr: Column) -> Column:
        return F.round(
            F.coalesce(F.max(F.when(F.col("__n") == n, expr)), F.lit(0.0)), 6
        )

    frac_dup_units = F.lit(1.0) - F.col("dist").cast("double") / F.col("total")
    frac_dup_chars = F.col("dchars").cast("double") / F.col("tchars")
    agg_cols = [
        _per(-1, frac_dup_units).alias("dup_line_frac"),
        _per(-1, frac_dup_chars).alias("dup_line_char_frac"),
        _per(-2, frac_dup_units).alias("dup_para_frac"),
        _per(-2, frac_dup_chars).alias("dup_para_char_frac"),
    ]
    for n in top_ns:
        agg_cols.append(
            _per(n, F.col("top_cl").cast("double") / F.col("tc"))
            .alias(f"top_{n}gram_char_frac")
        )
    for n in dup_ns:
        agg_cols.append(
            _per(n, F.least(F.col("dchars").cast("double") / F.col("tc"),
                            F.lit(1.0)))
            .alias(f"dup_{n}gram_char_frac")
        )
    prof = per_n.groupBy("__id").agg(*agg_cols)

    # documents whose every unit list is empty (blank text) drop out of
    # the explode — restore them with all-zero metrics
    base = df.select(did.alias("__id"))
    out = base.join(prof, "__id", "left").na.fill(0.0)
    return out.withColumnRenamed("__id", id_col)


# ------------------------------------------------- URL / domain analysis

#: Public-suffix heuristic: common two-level suffixes where the
#: registered domain is the THIRD label from the right. A production
#: pipeline swaps in the full Mozilla public-suffix list (broadcast
#: lookup table, same expression shape); this closed subset keeps the
#: operator dependency-free and deterministic.
TWO_LEVEL_SUFFIXES = (
    "co.uk", "ac.uk", "gov.uk", "org.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "com.br", "com.cn", "com.mx",
    "co.in", "co.kr", "co.za", "com.tr", "com.ar", "com.sg",
)

_URL_RE = r"https?://[^\s/$.?#].[^\s]*"


def extract_urls(col: Column | str) -> Column:
    """array<string> of http(s) URLs appearing in the text (JVM
    regexp_extract_all; same pattern family as PII_PATTERNS['url'])."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(_URL_RE), F.lit(0))


def url_host(col: Column | str) -> Column:
    """Lowercased hostname of a URL (port and credentials stripped);
    NULL if the value does not parse as an http(s) URL."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.lower(
        F.regexp_extract(c, r"^https?://(?:[^@/]+@)?([^:/?#]+)", 1)
    )
    return F.when(F.length(h) > 0, h)


def registered_domain(
    col: Column | str, suffixes: "Sequence[str] | None" = None
) -> Column:
    """eTLD+1 of a hostname column. The C4/RefinedWeb grouping key for
    per-site quotas and blocklists — grouping by raw host over-splits
    (www./cdn./m. subdomains), by bare TLD under-splits.

    `suffixes` is an optional user-supplied public-suffix list (plain
    suffix strings of any label depth — 'co.uk', 'github.io',
    'pref.aichi.jp'); pass the full Mozilla PSL for completeness. The
    longest matching suffix wins (the PSL algorithm) and the
    registered domain is that suffix plus one more label; a host with
    no matching suffix falls back to its last two labels (the PSL's
    implicit '*' default rule). The list rides the expression as a
    literal lookup per label depth — one isin() per distinct depth, no
    join, no UDF — so it broadcasts with the plan closure.

    The default (suffixes=None) is the built-in TWO_LEVEL_SUFFIXES
    subset: dependency-free and deterministic, but knowingly incomplete
    (github.io, com.hk, multi-level suffixes) — supply a real list when
    grouping the open web."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    parts = F.split(c, r"\.")
    n = F.size(parts)

    def last_k(k: int) -> Column:
        # try_element_at: AND conditions don't short-circuit per-operand,
        # so a 1-label host must not throw under ANSI when probing -k.
        return F.concat_ws(
            ".", *[F.try_element_at(parts, F.lit(-i)) for i in range(k, 0, -1)]
        )

    if suffixes is None:
        return (
            F.when(n <= 2, c)
            .when(last_k(2).isin(*TWO_LEVEL_SUFFIXES) & (n >= 3), last_k(3))
            .otherwise(last_k(2))
        )
    by_depth: dict[int, list[str]] = {}
    for s in suffixes:
        s = s.strip().lower().lstrip(".")
        if s:
            by_depth.setdefault(s.count(".") + 1, []).append(s)
    expr = None
    for k in sorted(by_depth, reverse=True):  # longest suffix wins
        cond = (n >= k + 1) & last_k(k).isin(*by_depth[k])
        expr = F.when(cond, last_k(k + 1)) if expr is None else expr.when(
            cond, last_k(k + 1)
        )
    fallback = F.when(n <= 2, c).otherwise(last_k(2))
    return fallback if expr is None else expr.otherwise(fallback)


def domain_frequency(
    df: DataFrame,
    url_col: str,
    weight_col: str | None = None,
    suffixes: Sequence[str] | None = None,
) -> DataFrame:
    """(domain, n_docs): registered-domain histogram over a URL column
    — the substrate for per-site quotas (cap any one domain's share of
    the corpus) and blocklist auditing. One hash aggregate on the
    short domain string; rows with unparseable URLs are dropped.
    `suffixes` forwards to registered_domain."""
    d = registered_domain(url_host(F.col(url_col)), suffixes=suffixes)
    w = F.col(weight_col) if weight_col else F.lit(1)
    return (
        df.select(d.alias("domain"), w.alias("w"))
        .filter(F.col("domain").isNotNull())
        .groupBy("domain")
        .agg(F.sum("w").cast("long").alias("n_docs"))
    )


def cap_domain_share(
    df: DataFrame,
    url_col: str,
    max_docs_per_domain: int,
    tiebreak_col: str | None = None,
    suffixes: Sequence[str] | None = None,
) -> DataFrame:
    """Keep at most `max_docs_per_domain` rows per registered domain —
    deterministic (hash-ranked within domain, tiebroken by
    `tiebreak_col` when given) so reruns select identical survivors.
    One window shuffle on the (short) domain key; rows without a
    parseable URL are kept unconditionally (no domain to cap).
    `suffixes` forwards to registered_domain."""
    from pyspark.sql.window import Window

    if max_docs_per_domain <= 0:
        raise ValueError(f"max_docs_per_domain must be positive, got {max_docs_per_domain}")
    d = registered_domain(url_host(F.col(url_col)), suffixes=suffixes)
    order = (
        [F.xxhash64(F.col(url_col)).asc()]
        + ([F.col(tiebreak_col).asc()] if tiebreak_col else [])
    )
    w = Window.partitionBy("__dom").orderBy(*order)
    tagged = df.withColumn("__dom", d)
    capped = (
        tagged.filter(F.col("__dom").isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_docs_per_domain)
        .drop("__rn")
    )
    return capped.unionByName(tagged.filter(F.col("__dom").isNull())).drop("__dom")


# -------------------------------------------------- vocabulary building

def build_vocabulary(
    df: DataFrame,
    text_col: str,
    top_k: int | None = None,
    min_count: int = 1,
    use_bpe_pretokens: bool = True,
    ngram: int = 1,
) -> DataFrame:
    """(token, count, rank): corpus token vocabulary by descending
    frequency (ties broken by token text, so ranks are deterministic) —
    the substrate for tokenizer training, frequency-based filtering,
    and OOV auditing.

    One explode + one map-side-combinable count; `top_k` truncates via
    TakeOrderedAndProject (never a full global sort of the vocabulary),
    and ranking happens on the already-truncated (driver-bounded)
    result. With top_k=None the rank window runs over the full distinct
    vocabulary — fine for word-level vocabs (≤ millions of rows), which
    is one partition-sized table, not corpus-sized. `ngram` > 1 counts
    word n-gram PHRASES instead of unit tokens (phrase mining /
    collocation discovery — always whitespace words, since BPE
    pre-tokens straddling word boundaries are not phrases); the
    n-gram arrays build with the same codegen-friendly
    arrays_zip+slice construction as dedup.shingles."""
    from pyspark.sql.window import Window

    from distributedqueryengine_spark.session import ensure_parallelism

    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1, got {ngram}")
    if ngram == 1:
        tok = regex_tokens(text_col) if use_bpe_pretokens else tokens(text_col)
    else:
        toks = tokens(text_col)
        n_grams = F.greatest(F.size(toks) - ngram + 1, F.lit(0))
        zipped = F.arrays_zip(
            *[F.slice(toks, i + 1, n_grams).alias(f"t{i}") for i in range(ngram)]
        )
        tok = F.transform(
            zipped, lambda z: F.concat_ws(" ", *[z[f"t{i}"] for i in range(ngram)])
        )
    counts = (
        ensure_parallelism(df)
        .select(F.explode(tok).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
    )
    if top_k is not None:
        if top_k <= 0:
            raise ValueError(f"top_k must be positive, got {top_k}")
        counts = counts.orderBy(F.col("count").desc(), F.col("token").asc()).limit(top_k)
    w = Window.orderBy(F.col("count").desc(), F.col("token").asc())
    return counts.select(
        "token", "count", F.row_number().over(w).cast("int").alias("rank")
    )


def oov_stats(
    df: DataFrame,
    text_col: str,
    vocab: DataFrame,
    use_bpe_pretokens: bool = True,
) -> DataFrame:
    """1-row (total_tokens, oov_tokens, oov_rate): what fraction of the
    corpus' token OCCURRENCES fall outside `vocab` (a frame with a
    `token` column, e.g. build_vocabulary of another corpus) — the
    domain-shift / tokenizer-coverage audit. The corpus aggregates to
    per-token counts FIRST, so the vocab join touches distinct tokens
    (vocabulary-sized), not token occurrences (corpus-sized)."""
    tok = regex_tokens(text_col) if use_bpe_pretokens else tokens(text_col)
    counts = (
        df.select(F.explode(tok).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    flagged = counts.join(
        vocab.select("token").withColumn("__in", F.lit(1)), "token", "left"
    )
    return flagged.agg(
        F.sum("n").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("__in").isNull(), F.col("n")).otherwise(0))
        .cast("long")
        .alias("oov_tokens"),
        F.round(
            F.sum(F.when(F.col("__in").isNull(), F.col("n")).otherwise(0))
            / F.greatest(F.sum("n"), F.lit(1)),
            6,
        ).alias("oov_rate"),
    )


# -------------------------------------------- dataset content fingerprint

def dataset_fingerprint(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """1-row (n_rows, fingerprint): an ORDER-INVARIANT content checksum
    of the selected columns — bit_xor of a per-row 60-bit md5-derived
    integer. The reproducibility primitive: 'did this pipeline produce
    byte-for-byte the same logical output as yesterday' becomes one
    cheap aggregate instead of a full sort-and-diff, and it holds
    across row order, partitioning, and file layout (none of which are
    stable on a cluster).

    Engine-portable BY CONSTRUCTION for string/int/date/decimal
    columns (md5 + hex→int + xor are identical in DuckDB — pinned in
    tests); float columns should be rounded/cast to decimal first
    (binary-to-string formatting differs across engines, which is a
    fact about floats, not the checksum). Row encoding: columns cast
    to string, NULL → a reserved sentinel, joined on an unprintable
    separator so ('ab','c') never collides with ('a','bc').

    XOR caveat (documented, inherent): a row appearing an EVEN number
    of times cancels out — n_rows is part of the fingerprint precisely
    to catch the whole-multiset size, and duplicate-sensitive auditing
    should fingerprint (row, count) aggregates instead."""
    use = list(cols) if cols else list(df.columns)
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL\x00")) for c in use
    ]
    row_hex = F.substring(F.md5(F.concat_ws("\x1f", *parts)), 1, 15)
    row_int = F.conv(row_hex, 16, 10).cast("bigint")
    return df.select(row_int.alias("h")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.bit_xor(F.col("h")), F.lit(0)).alias("fingerprint"),
    )


# ------------------------------------------------------- BM25 ranking

def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    text_col: str,
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    use_bpe_pretokens: bool = False,
) -> DataFrame:
    """Okapi BM25 document ranking for a term query: (id, score, rnk)
    for the top `k` documents — the lexical-retrieval standard that
    TF-IDF approximates, with saturation (k1) and length
    normalization (b):

        score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) /
                         (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
        idf(t)   = ln( (N − df(t) + 0.5) / (df(t) + 0.5) + 1 )

    (the Lucene-style +1 keeps idf positive for very common terms).

    Scale shape: ONE tokenize pass — per-doc (term, tf) counts
    restricted to the query's terms via an isin filter pushed before
    the aggregate (a q-term query touches q-term rows per doc, not the
    vocabulary); doc lengths come from the same pass; N/avgdl are a
    broadcast 1-row aggregate and df(t) a broadcast q-row aggregate;
    top-k is TakeOrdered-shaped via row_number + filter. Everything
    JVM-side. The query side is a LITERAL list by contract (ad-hoc
    search); for query BATCHES, join a query-term table instead."""
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    terms = sorted({t.lower() for t in query_terms if t and t.strip()})
    if not terms:
        raise ValueError("query_terms must contain at least one non-empty term")
    toks = regex_tokens(text_col) if use_bpe_pretokens else tokens(text_col)
    base = df.select(
        F.col(id_col).alias("id"),
        F.filter(toks, lambda t: F.length(t) > 0).alias("toks"),
    ).select("id", "toks", F.size("toks").cast("double").alias("dl"))

    stats = base.agg(
        F.count(F.lit(1)).alias("__n"), F.avg("dl").alias("__avgdl")
    )
    hits = (
        base.select(
            "id", "dl", F.explode("toks").alias("t")
        )
        .filter(F.col("t").isin(*terms))
        .groupBy("id", "dl", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = hits.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        hits.join(F.broadcast(dfreq), "t")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("__avgdl"))
            ),
        )
        .groupBy("id")
        .agg(F.round(F.sum("term_score"), 6).alias("score"))
    )
    w = Window.orderBy(F.col("score").desc(), F.col("id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select(F.col("id").alias(id_col), "score", "rnk")
    )


def collocations_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
    tokens_col: str | None = None,
) -> DataFrame:
    """Corpus-level collocation mining: top-k adjacent bigrams by PMI.

    PMI(a,b) = ln( P(ab) / (P(a) P(b)) ) with P(ab) over the corpus
    bigram total and P(a), P(b) over the unigram total — the classic
    phrase-mining statistic (Church & Hanks 1990) used to seed
    tokenizer merge lists and multiword vocab entries. Extends the
    reference's aggregation surface (RPC.cs:343-375 scan->agg) with a
    corpus-statistics operator it never had.

    Scale shape: one tokenize pass; bigrams come from
    arrays_zip(slice, slice) — pure codegen, no interpreted HOF lambda
    (the r11/r12 repetition-profile lesson applied proactively). Both
    count tables are partial-aggregated hash aggs (vocab-sized, not
    corpus-sized, after the map-side combine); the two corpus totals
    are 1-row broadcasts; unigram lookups join the bigram table against
    the (smaller) unigram table keyed by token. Nothing corpus-sized is
    ever reshuffled, so the plan is scan-dominated at 100 TB.

    Determinism: PMI rounds to 6dp BEFORE ranking on both engines (the
    DSIR Gumbel lesson — a 1-ulp ln() spread cannot flip the rank-k
    boundary); residual ties break lexicographically.

    Returns ``(term, n, score)`` — term is "a b", n the bigram count,
    score the rounded PMI — ordered by (score desc, term asc), k rows.
    """
    # tokens_col: pre-split raw-token projection (suite-shared persist)
    # — skips both tokenize passes below; semantics identical.
    tok_arr = (
        F.col(tokens_col) if tokens_col is not None
        else F.split(normalize_text(text_col), " ")
    )
    toks = df.select(tok_arr.alias("t")).filter(F.size("t") >= 2)
    # adjacent pairs via two slices zipped — codegen'd, no HOF lambda
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, F.size("t") - 1).alias("a"),
                F.slice("t", 2, F.size("t") - 1).alias("b"),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    big = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab"))
    uni = (
        df.select(F.explode(tok_arr).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    tot_b = big.agg(F.sum("n_ab").alias("__nb"))
    tot_u = uni.agg(F.sum("n_tok").alias("__nu"))
    scored = (
        big.filter(F.col("n_ab") >= min_count)
        .join(F.broadcast(uni.withColumnRenamed("tok", "a")
                          .withColumnRenamed("n_tok", "n_a")), "a")
        .join(F.broadcast(uni.withColumnRenamed("tok", "b")
                          .withColumnRenamed("n_tok", "n_b")), "b")
        .crossJoin(F.broadcast(tot_b))
        .crossJoin(F.broadcast(tot_u))
        .select(
            F.concat_ws(" ", "a", "b").alias("term"),
            F.col("n_ab").alias("n"),
            F.round(
                F.log(
                    (F.col("n_ab") / F.col("__nb"))
                    / ((F.col("n_a") / F.col("__nu")) * (F.col("n_b") / F.col("__nu")))
                ),
                6,
            ).alias("score"),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col("term").asc()).limit(k)


def dataset_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """Snapshot-over-snapshot corpus diff: per group (or one __all__
    row), how many documents were added / removed / changed /
    unchanged between two corpus versions, plus the token-count delta
    — the dataset-versioning report run between crawl N and N+1 before
    a retrain ("dump X gained 4M docs and 1.2B tokens, 3% of carried
    docs changed content").

    Change detection is by normalized content fingerprint
    (:func:`fingerprint` — md5 of lowercased collapsed-whitespace
    text), so formatting-only edits don't count as changes. One
    full-outer join on the id — both sides project to (id, fp,
    n_tokens, group) first, so the join moves fingerprints and counts,
    never text — then a partial-aggregated count per group. At 100 TB
    both projections are one scan each and the join is the only
    shuffle.

    Returns (group, n_added, n_removed, n_changed, n_unchanged,
    tokens_delta) where tokens_delta = Σnew - Σold over all rows in
    the group (additions count +, removals −, changes net).
    """
    def prep(df: DataFrame, side: str) -> DataFrame:
        cols = [
            F.col(id_col).alias("id"),
            fingerprint(text_col).alias(f"{side}_fp"),
            token_count(text_col).cast("long").alias(f"{side}_nt"),
        ]
        if group_col is not None:
            cols.append(F.col(group_col).alias(f"{side}_grp"))
        return df.select(*cols)

    j = prep(old, "o").join(prep(new, "n"), "id", "full_outer")
    grp = (
        F.coalesce(F.col("n_grp"), F.col("o_grp"))
        if group_col is not None
        else F.lit("__all__")
    )
    status = (
        F.when(F.col("o_fp").isNull(), F.lit("added"))
        .when(F.col("n_fp").isNull(), F.lit("removed"))
        .when(F.col("o_fp") == F.col("n_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.select(
            grp.alias("group"),
            status.alias("status"),
            (F.coalesce(F.col("n_nt"), F.lit(0))
             - F.coalesce(F.col("o_nt"), F.lit(0))).alias("dt"),
        )
        .groupBy("group")
        .agg(
            F.sum(F.when(F.col("status") == "added", 1).otherwise(0)).alias("n_added"),
            F.sum(F.when(F.col("status") == "removed", 1).otherwise(0)).alias("n_removed"),
            F.sum(F.when(F.col("status") == "changed", 1).otherwise(0)).alias("n_changed"),
            F.sum(F.when(F.col("status") == "unchanged", 1).otherwise(0)).alias("n_unchanged"),
            F.sum("dt").alias("tokens_delta"),
        )
    )
