"""Text-analysis functions + multimodal plumbing tests."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from distributedqueryengine_spark.functions import multimodal as M
from distributedqueryengine_spark.functions import text as X


@pytest.fixture(scope="module")
def sample(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=0, text="The cat and the dog are in the house"),
            Row(doc_id=1, text="xyzzy plugh qwerty"),
            Row(doc_id=2, text="   "),
            Row(doc_id=3, text="word"),
        ]
    )


def test_token_count(sample):
    got = {r.doc_id: r.n for r in sample.select("doc_id", X.token_count("text").alias("n")).collect()}
    assert got == {0: 9, 1: 3, 2: 0, 3: 1}


def test_stopword_ratio_and_langid(sample):
    rows = sample.select(
        "doc_id",
        X.stopword_ratio("text").alias("sr"),
        X.lang_id("text").alias("lang"),
    ).collect()
    got = {r.doc_id: (round(r.sr, 4), r.lang) for r in rows}
    assert got[0] == (round(6 / 9, 4), "en")  # the×3, and, are, in → 6 of 9
    assert got[1] == (0.0, "other")
    assert got[2] == (0.0, "other")


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [Row(doc_id=0, text="Hello  World"), Row(doc_id=1, text=" hello world ")]
    )
    fps = [r.fp for r in df.select(X.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]
    assert fps[0] == hashlib.md5(b"hello world").hexdigest()


def test_quality_score_bounds(tables):
    scores = (
        tables["documents"].select(X.quality_score("text").alias("q")).collect()
    )
    assert all(0.0 <= r.q <= 1.0 for r in scores)


def test_multimodal_pipeline(sample):
    media = M.attach_payload(sample, "doc_id", "text")
    assert [f.name for f in media.schema.fields] == ["media_id", "payload", "meta"]
    feats = M.decode_batch(media, fake=True).collect()
    by_id = {r.media_id: r for r in feats}
    raw = "The cat and the dog are in the house".encode()
    assert by_id[0].n_bytes == len(raw)
    assert by_id[0].digest == hashlib.sha256(raw).hexdigest()
    assert len(by_id[0].features) == 8
    assert all(0.0 <= f <= 1.0 for f in by_id[0].features)


def test_multimodal_real_decode_is_marked_stub(sample):
    media = M.attach_payload(sample, "doc_id", "text")
    with pytest.raises(Exception, match="NotImplementedError|media codecs"):
        M.decode_batch(media, fake=False).collect()


def test_redact_pii_planted_fixtures(spark):
    from pyspark.sql import functions as F

    from distributedqueryengine_spark.functions import text as T

    df = spark.createDataFrame(
        [
            (1, "contact john.doe+x@example.co.uk or call +1 (555) 123-4567 now"),
            (2, "see https://example.com/a?b=c#frag and http://t.co/xyz for info"),
            (3, "plain text with no sensitive content at all"),
            # digit runs that are NOT phones: year lists / numeric prose
            (4, "revenue for 2020 2021 2022 was 3 500 and 12 45 resp"),
            # a URL embedding an email-shaped and digit-run substring:
            # must count as ONE url, zero email/phone (chained semantics)
            (5, "ref https://x.io/a@b.com/555-123-4567?y=1 cited"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.red, r.cnt)
        for r in df.select(
            "doc_id",
            T.redact_pii("text").alias("red"),
            T.pii_counts("text").alias("cnt"),
        ).collect()
    }
    red1, cnt1 = out[1]
    assert "@" not in red1 and "555" not in red1 and "[PII]" in red1
    assert cnt1.email == 1 and cnt1.phone == 1 and cnt1.url == 0
    red2, cnt2 = out[2]
    assert "http" not in red2 and cnt2.url == 2
    red3, cnt3 = out[3]
    assert red3 == "plain text with no sensitive content at all"
    assert (cnt3.url, cnt3.email, cnt3.phone) == (0, 0, 0)
    red4, cnt4 = out[4]
    assert red4 == "revenue for 2020 2021 2022 was 3 500 and 12 45 resp"
    assert (cnt4.url, cnt4.email, cnt4.phone) == (0, 0, 0)
    red5, cnt5 = out[5]
    assert (cnt5.url, cnt5.email, cnt5.phone) == (1, 0, 0)
    assert red5 == "ref [PII] cited"
    # audit counts reconcile with redaction: sum of per-class counts ==
    # number of [PII] tokens the redacted text contains, per row
    recon = df.select(
        T.pii_counts("text").alias("cnt"),
        T.redact_pii("text").alias("red"),
    ).select(
        (F.col("cnt.url") + F.col("cnt.email") + F.col("cnt.phone")).alias("n"),
        F.regexp_count(F.col("red"), F.lit(r"\[PII\]")).alias("k"),
    ).collect()
    assert all(r.n == r.k for r in recon)
    # idempotent: redacting the redacted text changes nothing
    again = df.select(
        T.redact_pii(T.redact_pii("text")).alias("r2"),
        T.redact_pii("text").alias("r1"),
    ).collect()
    assert all(r.r1 == r.r2 for r in again)


def _ref_remove_boilerplate(rows, max_df, sep="\n"):
    """Driver-side reference: same semantics, plain Python."""
    from collections import Counter

    df_count = Counter()
    for _id, text in rows:
        seen = {ln.strip() for ln in text.split(sep) if ln.strip()}
        for ln in seen:
            df_count[ln] += 1
    out = {}
    for _id, text in rows:
        kept = [
            ln
            for ln in text.split(sep)
            if not ln.strip() or df_count[ln.strip()] <= max_df
        ]
        out[_id] = sep.join(kept)
    return out


def test_remove_boilerplate_lines_matches_reference(spark):
    """Planted cookie-banner/footer lines repeating across documents
    must be stripped; unique prose must survive in order; the operator
    must agree line-for-line with the driver-side reference and be
    idempotent."""
    from distributedqueryengine_spark.functions.text import (
        line_doc_frequency,
        remove_boilerplate_lines,
    )

    banner = "accept all cookies to continue"
    footer = "copyright 2024 example corp all rights reserved"
    rows = [
        (1, f"{banner}\nthe quick brown fox\njumps over the dog\n{footer}"),
        (2, f"{banner}\na completely different sentence\n{footer}"),
        (3, f"{banner}\nthird document unique line\n  {footer}  "),
        (4, "no boilerplate here at all\njust two plain lines"),
        (5, f"{banner}\n{footer}"),  # all-boilerplate doc → empty text
        (6, "shared twice only\nsome unique tail"),
        (7, "shared twice only\nanother unique tail"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    freq = {r.lf: r.n_docs for r in line_doc_frequency(df, "doc_id", "text").collect()}
    assert max(freq.values()) == 4  # banner appears in docs 1,2,3,5
    assert sorted(freq.values(), reverse=True)[1] == 4  # footer too (trim-identical)

    got_df = remove_boilerplate_lines(df, "doc_id", "text", max_doc_freq=2)
    got = {r.doc_id: r.text for r in got_df.collect()}
    expect = _ref_remove_boilerplate(rows, max_df=2)
    assert got == expect, f"{got} != {expect}"
    assert got[5] == ""  # all-boilerplate doc survives as a row, empty
    assert got[1] == "the quick brown fox\njumps over the dog"  # order kept
    assert "shared twice only" in got[6]  # df == max_doc_freq ⇒ kept

    # idempotence: running the rewrite again changes nothing
    again = {
        r.doc_id: r.text
        for r in remove_boilerplate_lines(
            got_df, "doc_id", "text", max_doc_freq=2
        ).collect()
    }
    assert again == got


def test_remove_boilerplate_preserves_blank_lines(spark):
    """Blank/whitespace-only lines are paragraph structure, not
    boilerplate: the rewrite must keep them in place even when every
    surrounding non-blank line survives or is removed (ADVICE r6)."""
    from distributedqueryengine_spark.functions.text import (
        remove_boilerplate_lines,
    )

    banner = "accept cookies"
    rows = [
        (1, f"{banner}\n\npara one\n\npara two"),
        (2, f"{banner}\nother text"),
        (3, f"{banner}\nmore text"),
        (4, f"{banner}\n\n{banner}"),  # boilerplate split by a blank
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.text
        for r in remove_boilerplate_lines(
            df, "doc_id", "text", max_doc_freq=2
        ).collect()
    }
    expect = _ref_remove_boilerplate(rows, max_df=2)
    assert got == expect, f"{got} != {expect}"
    assert got[1] == "\npara one\n\npara two"  # blanks survive in place
    assert got[4] == ""  # single surviving blank joins to empty


def test_remove_boilerplate_regex_metachar_separator(spark):
    """`sep` is a literal, not a Java regex: '|' must split on the pipe
    character, not on every position (ADVICE r6)."""
    from distributedqueryengine_spark.functions.text import (
        line_doc_frequency,
        remove_boilerplate_lines,
    )

    rows = [
        (1, "repeated chrome|unique alpha text"),
        (2, "repeated chrome|unique beta text"),
        (3, "repeated chrome|unique gamma text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    freq = line_doc_frequency(df, "doc_id", "text", sep="|")
    assert freq.count() == 4  # chrome + 3 unique lines, NOT per-char
    got = {
        r.doc_id: r.text
        for r in remove_boilerplate_lines(
            df, "doc_id", "text", max_doc_freq=2, sep="|"
        ).collect()
    }
    expect = _ref_remove_boilerplate(rows, max_df=2, sep="|")
    assert got == expect, f"{got} != {expect}"
    assert got[1] == "unique alpha text"


def test_repetition_ratio_matches_reference(spark):
    """Gopher-style repetition ratio vs a driver-side reference over
    planted fixtures and real corpus docs."""
    from distributedqueryengine_spark.functions.text import repetition_ratio

    rows = [
        (1, "spam spam spam spam spam spam"),          # one distinct 3-gram
        (2, "all words here are fully distinct okay"),  # no repeats
        (3, "a b c a b c a b c"),                       # heavy loop
        (4, "too short"),                               # < n tokens → 0.0
        (5, ""),                                        # empty → 0.0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: round(r.rr, 6)
        for r in df.select(
            "doc_id", repetition_ratio("text", 3).alias("rr")
        ).collect()
    }

    def ref(text, n=3):
        t = text.lower().split()
        grams = [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]
        if not grams:
            return 0.0
        return round(1.0 - len(set(grams)) / len(grams), 6)

    expect = {i: ref(t) for i, t in rows}
    assert got == expect, f"{got} != {expect}"
    assert got[1] > 0.7 and got[3] > 0.5 and got[2] == 0.0

    # real corpus: defined for every document, in [0, 1)
    from distributedqueryengine_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    stats = docs.select(
        F.min(repetition_ratio("text")).alias("lo"),
        F.max(repetition_ratio("text")).alias("hi"),
    ).first()
    assert 0.0 <= stats.lo <= stats.hi < 1.0


def test_unicode_fingerprints_agree_with_duckdb(spark):
    """Content fingerprints on non-ASCII text: md5 over UTF-8 bytes
    must agree byte-for-byte with DuckDB (and hashlib) for CJK,
    accents, emoji, and mixed scripts — the fixed corpus is ASCII-only
    so nothing else pins this. Also: the 60-bit portable hash derived
    from it stays non-negative and engine-portable."""
    import duckdb

    from distributedqueryengine_spark.functions.dedup import portable_hash64
    from distributedqueryengine_spark.functions.text import fingerprint

    texts = [
        "数据 去重 流水线",
        "déjà vu naïve café",
        "смесь scripts 混合 text",
        "🚀 emoji in corpus 🚀",
        "tab\tand  double space",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = {
        r.id: (r.fp, r.ph)
        for r in df.select(
            "id",
            fingerprint("text").alias("fp"),
            portable_hash64(F.lower(F.trim("text"))).alias("ph"),
        ).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        norm = " ".join(t.lower().strip().split())
        exp_fp, exp_ph = con.execute(
            "SELECT md5(?), CAST(('0x' || substr(md5(?), 1, 15)) AS BIGINT)",
            [norm, t.lower().strip()],
        ).fetchone()
        assert got[i][0] == exp_fp, f"md5 mismatch on {t!r}"
        assert got[i][1] == exp_ph >= 0, f"portable hash mismatch on {t!r}"


def test_gopher_quality_flags_match_reference(spark, tables):
    """The Gopher rule battery vs a driver-side Python reference over
    planted pathological docs + real corpus docs; `passes` is the AND
    of every flag."""
    import re as _re

    from distributedqueryengine_spark.functions.text import (
        gopher_quality_flags,
    )

    prose = " ".join(
        "the quick brown fox jumps over a lazy dog near the old river bank".split()
        * 8
    )  # 96 words of stopword-rich prose
    planted = [
        (9001, prose),                                    # clean: passes
        (9002, "short text only"),                        # too few words
        (9003, " ".join(["###"] * 60)),                   # symbols, no alpha
        (9004, "\n".join(f"- bullet {i} item here" for i in range(10))),  # all bullets
        (9005, "\n".join(f"line {i} trailing off..." for i in range(10))),  # ellipsis
        (9006, " ".join(["a"] * 60)),                     # mean word len 1
    ]
    df = tables["documents"].select("doc_id", "text").limit(40).unionByName(
        spark.createDataFrame(planted, "doc_id long, text string")
    )
    got = {
        r.doc_id: r.q.asDict()
        for r in df.select(
            "doc_id", gopher_quality_flags("text").alias("q")
        ).collect()
    }

    def ref(text):
        toks = _re.split(r"\s+", text.strip().lower()) if text.strip() else [""]
        n_words = len(toks)
        mwl = sum(len(t) for t in toks) / max(n_words, 1)
        n_sym = text.count("#") + len(_re.findall(r"\.\.\.|…", text))
        lines = text.split("\n")
        n_bullet = sum(
            1 for ln in lines
            if _re.match(r"^([-*•‣▪]|\d+[.)])\s", ln.strip())
        )
        n_ellipsis = sum(
            1 for ln in lines if _re.search(r"(\.\.\.|…)$", ln.rstrip())
        )
        n_alpha = sum(1 for t in toks if _re.search(r"[A-Za-zÀ-ÿ]", t))
        f = {
            "word_count_ok": 50 <= n_words <= 100_000,
            "mean_word_len_ok": 3.0 <= mwl <= 10.0,
            "symbol_ratio_ok": n_sym / max(n_words, 1) <= 0.1,
            "bullet_lines_ok": n_bullet / max(len(lines), 1) < 0.9,
            "ellipsis_lines_ok": n_ellipsis / max(len(lines), 1) < 0.3,
            "alpha_words_ok": n_alpha / max(n_words, 1) >= 0.8,
        }
        f["passes"] = all(f.values())
        return f

    for r in df.collect():
        assert got[r.doc_id] == ref(r.text), f"doc {r.doc_id}"
    assert got[9001]["passes"]
    for bad in (9002, 9003, 9004, 9005, 9006):
        assert not got[bad]["passes"], bad


def test_url_domain_extraction_and_caps(spark):
    """URL → host → registered-domain chain on planted fixtures
    (credentials, ports, two-level public suffixes, bare hosts), the
    domain histogram, and the deterministic per-domain cap."""
    from distributedqueryengine_spark.functions.text import (
        cap_domain_share,
        domain_frequency,
        extract_urls,
        registered_domain,
        url_host,
    )

    rows = [
        (1, "https://www.Example.com/path?q=1"),
        (2, "http://user:pw@sub.example.com:8080/x"),
        (3, "https://news.bbc.co.uk/story"),
        (4, "https://cdn.example.com/asset.js"),
        (5, "not a url at all"),
        (6, "https://example.com/"),
        (7, "https://m.example.com/page"),
        (8, "http://localhost/dev"),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    hosts = {
        r.id: r.h for r in df.select("id", url_host("url").alias("h")).collect()
    }
    assert hosts[1] == "www.example.com"
    assert hosts[2] == "sub.example.com"  # credentials + port stripped
    assert hosts[5] is None
    assert hosts[8] == "localhost"

    doms = {
        r.id: r.d
        for r in df.select(
            "id", registered_domain(url_host("url")).alias("d")
        ).collect()
    }
    assert doms[1] == doms[2] == doms[4] == doms[6] == doms[7] == "example.com"
    assert doms[3] == "bbc.co.uk"  # two-level public suffix
    assert doms[8] == "localhost"  # single label kept whole

    freq = {r.domain: r.n_docs for r in domain_frequency(df, "url").collect()}
    assert freq["example.com"] == 5 and freq["bbc.co.uk"] == 1

    capped = cap_domain_share(df, "url", 2, tiebreak_col="id")
    kept = {r.id for r in capped.collect()}
    assert 5 in kept  # unparseable rows always survive
    by_dom = {}
    for r in capped.filter("url like 'http%'").select(
        registered_domain(url_host("url")).alias("d")
    ).collect():
        by_dom[r.d] = by_dom.get(r.d, 0) + 1
    assert by_dom["example.com"] == 2 and by_dom["bbc.co.uk"] == 1
    # deterministic: same survivors on rerun
    again = {r.id for r in cap_domain_share(df, "url", 2, tiebreak_col="id").collect()}
    assert again == kept

    # extract_urls finds embedded links
    txt = spark.createDataFrame(
        [(1, "see https://a.io/x and http://b.co.uk/y?z=1 end")],
        "id long, text string",
    )
    urls = txt.select(extract_urls("text").alias("u")).first().u
    assert urls == ["https://a.io/x", "http://b.co.uk/y?z=1"]


def test_build_vocabulary_matches_counter(spark, tables):
    """Vocabulary counts/ranks vs a driver-side Counter over the same
    BPE pre-tokenization; top_k truncation keeps exactly the heaviest
    (deterministically tie-broken) tokens."""
    from collections import Counter
    import re as _re

    from distributedqueryengine_spark.functions.text import (
        BPE_TOKEN_PATTERN,
        build_vocabulary,
        oov_stats,
    )

    docs = tables["documents"].select("text").limit(100)
    ref = Counter()
    for r in docs.collect():
        ref.update(t for t in _re.findall(BPE_TOKEN_PATTERN, r.text.lower()) if t)

    vocab = build_vocabulary(docs, "text").collect()
    got = {r.token: r["count"] for r in vocab}
    assert got == dict(ref)
    # ranks: descending count, ties by token text
    ordered = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [(r.token, r.rank) for r in sorted(vocab, key=lambda r: r.rank)] == [
        (t, i + 1) for i, (t, _) in enumerate(ordered)
    ]

    top = build_vocabulary(docs, "text", top_k=10).collect()
    assert [(r.token, r["count"]) for r in sorted(top, key=lambda r: r.rank)] == ordered[:10]

    # OOV against the top-10 vocab: exact occurrence accounting
    vocab10 = build_vocabulary(docs, "text", top_k=10)
    s = oov_stats(docs, "text", vocab10).first()
    total = sum(ref.values())
    in_vocab = sum(c for t, c in ordered[:10])
    assert s.total_tokens == total
    assert s.oov_tokens == total - in_vocab
    assert abs(s.oov_rate - round((total - in_vocab) / total, 6)) < 1e-9

    # full-vocab OOV is zero
    s2 = oov_stats(docs, "text", build_vocabulary(docs, "text")).first()
    assert s2.oov_tokens == 0 and s2.oov_rate == 0.0


def test_build_vocabulary_ngrams_match_counter(spark, tables):
    """Phrase mining: bigram/trigram vocabularies vs a driver-side
    Counter over the same whitespace tokenization."""
    import re as _re
    from collections import Counter

    from distributedqueryengine_spark.functions.text import build_vocabulary

    docs = tables["documents"].select("text").limit(60)
    texts = [r.text for r in docs.collect()]
    for n in (2, 3):
        ref = Counter()
        for t in texts:
            ws = [w for w in _re.split(r"\s+", t.strip().lower()) if w]
            ref.update(
                " ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)
            )
        got = {
            r.token: r["count"]
            for r in build_vocabulary(docs, "text", ngram=n).collect()
        }
        assert got == dict(ref), f"ngram={n}"
        top = build_vocabulary(docs, "text", ngram=n, top_k=5).collect()
        expect_top = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        assert [
            (r.token, r["count"]) for r in sorted(top, key=lambda r: r.rank)
        ] == expect_top


def test_registered_domain_custom_suffix_list(spark):
    """A user-supplied public-suffix list (any label depth) drives the
    grouping: longest suffix wins, unmatched hosts fall back to the
    last-two-labels default rule — the cases the built-in closed
    heuristic knowingly gets wrong (github.io, com.hk, multi-level)."""
    from pyspark.sql import functions as F

    from distributedqueryengine_spark.functions.text import registered_domain

    psl = ["github.io", "com.hk", "co.uk", "aichi.jp", "pref.aichi.jp"]
    hosts = [
        ("user.github.io", "user.github.io"),        # suffix + 1 label
        ("cdn.user.github.io", "user.github.io"),    # deep subdomain
        ("www.example.com.hk", "example.com.hk"),
        ("foo.pref.aichi.jp", "foo.pref.aichi.jp"),  # 3-level beats 2-level
        ("bar.aichi.jp", "bar.aichi.jp"),
        ("www.example.org", "example.org"),          # fallback: last 2
        ("deep.sub.example.org", "example.org"),
        ("localhost", "localhost"),                  # single label passthrough
        ("WWW.Example.CO.UK", "example.co.uk"),      # case-folded
    ]
    df = spark.createDataFrame([(h,) for h, _ in hosts], "host string")
    got = {
        r.host: r.d
        for r in df.select(
            "host", registered_domain(F.col("host"), suffixes=psl).alias("d")
        ).collect()
    }
    for h, want in hosts:
        assert got[h] == want, (h, got[h], want)

    # default heuristic still behaves identically to before
    base = {
        r.host: r.d
        for r in df.select(
            "host", registered_domain(F.col("host")).alias("d")
        ).collect()
    }
    assert base["www.example.org"] == "example.org"
    assert base["WWW.Example.CO.UK"] == "example.co.uk"
    assert base["user.github.io"] == "github.io"  # the documented gap


def test_dataset_fingerprint_portable_and_invariant(spark, tables):
    """Order/partitioning-invariant, value-sensitive, and byte-identical
    to the DuckDB mirror of the same md5/xor arithmetic."""
    import duckdb

    from distributedqueryengine_spark.functions.text import dataset_fingerprint

    nation = tables["nation"].select("n_nationkey", "n_name", "n_regionkey")
    base = dataset_fingerprint(nation).first()

    # invariant to row order and partitioning
    shuffled = nation.orderBy(F.rand(7)).repartition(13)
    again = dataset_fingerprint(shuffled).first()
    assert (base.n_rows, base.fingerprint) == (again.n_rows, again.fingerprint)

    # sensitive to any single value change
    mutated = nation.withColumn(
        "n_name",
        F.when(F.col("n_nationkey") == 3, F.lit("MUTATED")).otherwise(F.col("n_name")),
    )
    assert dataset_fingerprint(mutated).first().fingerprint != base.fingerprint

    # NULL vs the string 'NULL' do not collide
    a = spark.createDataFrame([(1, None)], "i long, s string")
    b = spark.createDataFrame([(1, "NULL")], "i long, s string")
    assert (
        dataset_fingerprint(a).first().fingerprint
        != dataset_fingerprint(b).first().fingerprint
    )

    # engine-portable: DuckDB computes the identical checksum
    got = duckdb.sql(
        """
        SELECT count(*) AS n,
               bit_xor(('0x' || substr(md5(
                   concat_ws(chr(31),
                       coalesce(CAST(n_nationkey AS VARCHAR), chr(0)||'NULL'||chr(0)),
                       coalesce(n_name, chr(0)||'NULL'||chr(0)),
                       coalesce(CAST(n_regionkey AS VARCHAR), chr(0)||'NULL'||chr(0))
                   )), 1, 15))::BIGINT) AS fp
        FROM read_parquet('/root/testdata/sf0.001/nation.parquet')
        """
    ).fetchone()
    assert (base.n_rows, base.fingerprint) == got


# --------------------------------------------------------------------------
# PMI collocation mining (r13, functions/text.collocations_pmi)
# --------------------------------------------------------------------------

def _py_pmi(texts, min_count=2, k=5):
    """Pure-python reference of the identical PMI math."""
    import math
    from collections import Counter

    uni, big = Counter(), Counter()
    for t in texts:
        # mirrors normalize_text: lowercase + collapse whitespace
        toks = " ".join(t.lower().split()).split(" ")
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
    nu = sum(uni.values())
    nb = sum(big.values())
    scored = []
    for (a, b), n in big.items():
        if n < min_count:
            continue
        pmi = round(math.log((n / nb) / ((uni[a] / nu) * (uni[b] / nu))), 6)
        scored.append((f"{a} {b}", n, pmi))
    scored.sort(key=lambda r: (-r[2], r[0]))
    return scored[:k]


def test_collocations_pmi_matches_python_reference(spark):
    from distributedqueryengine_spark.functions.text import collocations_pmi

    texts = [
        "new york is a big city",
        "new york has new parks",
        "big city life in new york",
        "the city is big and the parks are new",
        "york is not new but new york is",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = [(r["term"], r["n"], r["score"])
           for r in collocations_pmi(df, "text", min_count=2, k=5).collect()]
    assert got == _py_pmi(texts, min_count=2, k=5)


def test_collocations_pmi_randomized_differential(spark):
    import random

    from distributedqueryengine_spark.functions.text import collocations_pmi

    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    for seed in range(5):
        rng = random.Random(seed)
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 30)))
            for _ in range(40)
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "id long, text string"
        )
        got = [(r["term"], r["n"], r["score"])
               for r in collocations_pmi(df, "text", min_count=3, k=10).collect()]
        assert got == _py_pmi(texts, min_count=3, k=10), f"seed {seed}"


def test_collocations_pmi_planted_phrase_wins(spark):
    from distributedqueryengine_spark.functions.text import collocations_pmi

    # 'foo bar' always adjacent and exclusive; filler words are common
    # everywhere — the planted phrase must take rank 1 by PMI.
    texts = ["foo bar " + " ".join(["the"] * 5) for _ in range(10)]
    texts += [" ".join(["the", "a"] * 10) for _ in range(10)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    top = collocations_pmi(df, "text", min_count=5, k=3).collect()
    assert top[0]["term"] == "foo bar"


# --------------------------------------------------------------------------
# dataset_diff (r13): snapshot-over-snapshot corpus diff
# --------------------------------------------------------------------------

def test_dataset_diff_planted(spark):
    from distributedqueryengine_spark.functions.text import dataset_diff

    old = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "a"),       # unchanged
            (2, "delta eps", "a"),              # changed content
            (3, "to be removed entirely", "b"), # removed
            (4, "Same   TEXT here", "b"),       # unchanged modulo normalization
        ],
        "doc_id long, text string, src string",
    )
    new = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "a"),
            (2, "delta eps zeta eta", "a"),     # +2 tokens
            (4, "same text  HERE", "b"),        # normalized-equal: unchanged
            (5, "brand new doc", "b"),          # added (3 tokens)
        ],
        "doc_id long, text string, src string",
    )
    got = {r["group"]: r.asDict() for r in
           dataset_diff(old, new, "doc_id", "text", group_col="src").collect()}
    assert got["a"]["n_added"] == 0 and got["a"]["n_removed"] == 0
    assert got["a"]["n_changed"] == 1 and got["a"]["n_unchanged"] == 1
    assert got["a"]["tokens_delta"] == 2
    assert got["b"]["n_added"] == 1 and got["b"]["n_removed"] == 1
    assert got["b"]["n_changed"] == 0 and got["b"]["n_unchanged"] == 1
    assert got["b"]["tokens_delta"] == 3 - 4  # +new doc(3) -removed(4)


def test_dataset_diff_all_group_and_identity(spark, tables):
    from distributedqueryengine_spark.functions.text import dataset_diff

    docs = tables["documents"].select("doc_id", "text")
    same = dataset_diff(docs, docs).collect()
    assert len(same) == 1
    r = same[0]
    assert r["group"] == "__all__"
    assert r["n_added"] == r["n_removed"] == r["n_changed"] == 0
    assert r["n_unchanged"] == docs.count()
    assert r["tokens_delta"] == 0


def test_dataset_diff_python_differential(spark):
    import random

    from distributedqueryengine_spark.functions.text import dataset_diff

    rng = random.Random(11)
    vocab = ["aa", "bb", "cc", "dd"]
    mk = lambda: " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 8)))
    old_rows = {i: mk() for i in range(80)}
    new_rows = {}
    for i, t in old_rows.items():
        p = rng.random()
        if p < 0.2:
            continue                 # removed
        new_rows[i] = mk() if p < 0.5 else t  # maybe changed
    for i in range(80, 100):
        new_rows[i] = mk()           # added
    tok = lambda t: len(t.split())
    exp = {"added": 0, "removed": 0, "changed": 0, "unchanged": 0, "dt": 0}
    for i in set(old_rows) | set(new_rows):
        o, n = old_rows.get(i), new_rows.get(i)
        if o is None:
            exp["added"] += 1; exp["dt"] += tok(n)
        elif n is None:
            exp["removed"] += 1; exp["dt"] -= tok(o)
        elif o == n:
            exp["unchanged"] += 1
        else:
            exp["changed"] += 1; exp["dt"] += tok(n) - tok(o)
    old_df = spark.createDataFrame(list(old_rows.items()), "doc_id long, text string")
    new_df = spark.createDataFrame(list(new_rows.items()), "doc_id long, text string")
    r = dataset_diff(old_df, new_df).collect()[0]
    assert (r["n_added"], r["n_removed"], r["n_changed"], r["n_unchanged"],
            r["tokens_delta"]) == (
        exp["added"], exp["removed"], exp["changed"], exp["unchanged"], exp["dt"])
