"""Dedup pipeline tests: exact semantics + LSH recall vs exact Jaccard."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from distributedqueryengine_spark.functions import dedup as D


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        Row(doc_id=0, text=base),
        Row(doc_id=1, text=base),  # exact dup of 0
        Row(doc_id=2, text=base.replace("lazy", "sleepy")),  # near dup of 0
        Row(doc_id=3, text="completely different content about query engines and spark"),
        Row(doc_id=4, text="  The   quick brown fox jumps over the lazy dog again and again today "),  # normalized dup
    ]
    return spark.createDataFrame(rows)


def test_exact_duplicates_groups(docs):
    groups = D.exact_duplicates(docs, "doc_id", "text").collect()
    by_canonical = {r.canonical_id: r.n_copies for r in groups}
    # 0,1,4 share a normalized fingerprint; 2 and 3 are singletons.
    assert by_canonical[0] == 3
    assert by_canonical[2] == 1 and by_canonical[3] == 1


def test_dedup_exact_survivors(docs):
    kept = sorted(r.doc_id for r in D.dedup_exact(docs, "doc_id", "text").collect())
    assert kept == [0, 2, 3]


def test_minhash_finds_near_dup(docs):
    pairs = D.minhash_near_duplicates(
        docs, "doc_id", "text", ngram=3, num_perm=32, bands=8, min_jaccard=0.3
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # The exact/normalized dups (jaccard 1.0) must be found; the
    # one-word-substitution near-dup should be too.
    assert (0, 1) in found and (0, 4) in found and (1, 4) in found
    assert (0, 2) in found
    assert all(3 not in p for p in found)


def test_lsh_recall_vs_exact_jaccard(spark, tables):
    """On the real documents fixture: every pair with true Jaccard >=
    0.7 must be produced by the banded LSH (b=8, r=4 → ~0.59 S-curve
    threshold; >=0.7 pairs have capture prob > 99%)."""
    d = tables["documents"]
    sh = D.shingles(d, "doc_id", "text", 3)
    # exact all-pairs Jaccard via shingle co-occurrence (fixture-sized)
    co = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    truth = (
        co.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("j", F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")))
        .filter(F.col("j") >= 0.7)
    )
    true_pairs = {(r.id_a, r.id_b) for r in truth.collect()}
    lsh_pairs = {
        (r.id_a, r.id_b)
        for r in D.minhash_near_duplicates(d, "doc_id", "text", min_jaccard=0.0).collect()
    }
    missed = true_pairs - lsh_pairs
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"


def test_simhash_deterministic_and_symmetric(docs):
    fp1 = {r.id: r.simhash for r in D.simhash(docs, "doc_id", "text").collect()}
    fp2 = {r.id: r.simhash for r in D.simhash(docs, "doc_id", "text").collect()}
    assert fp1 == fp2
    # identical content → identical fingerprint
    assert fp1[0] == fp1[1] == fp1[4]
    pairs = D.simhash_near_duplicates(docs, "doc_id", "text", max_hamming=3).collect()
    found = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert found[(0, 1)] == 0 and found[(0, 4)] == 0


def test_winnow_matches_reference_window_min(spark, tables):
    """Spark winnowing ≡ a driver-side reference implementation run on
    the same positional k-gram hashes (sliding full-window min, short
    docs take the global min)."""
    from distributedqueryengine_spark.functions.dedup import (
        positional_ngram_hashes,
        winnow_fingerprints,
    )

    docs = tables["documents"].limit(40)
    k, w = 3, 4
    ph = positional_ngram_hashes(docs, "doc_id", "text", k).collect()
    by_doc: dict[int, list[tuple[int, int]]] = {}
    for r in ph:
        by_doc.setdefault(r.id, []).append((r.pos, r.h))
    expected: set[tuple[int, int]] = set()
    for doc, rows in by_doc.items():
        hs = [h for _, h in sorted(rows)]
        if len(hs) <= w:
            expected.add((doc, min(hs)))
        else:
            for i in range(len(hs) - w + 1):
                expected.add((doc, min(hs[i : i + w])))
    got = {
        (r.id, r.fp)
        for r in winnow_fingerprints(docs, "doc_id", "text", k, w).collect()
    }
    assert got == expected


def test_winnow_guarantee_shared_passage(spark):
    """Schleimer et al. guarantee: documents sharing w+k-1 consecutive
    tokens share at least one fingerprint; disjoint docs share none."""
    from distributedqueryengine_spark.functions.dedup import winnow_fingerprints

    passage = "the quick brown fox jumps over the lazy dog tonight"  # 10 tokens >= w+k-1=6
    df = spark.createDataFrame(
        [
            (1, "intro words here " + passage + " and a unique ending one"),
            (2, "completely different opening text " + passage + " closing remarks two"),
            (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, "doc_id", "text", k=3, w=4).collect()
    sets: dict[int, set[int]] = {}
    for r in fps:
        sets.setdefault(r.id, set()).add(r.fp)
    assert sets[1] & sets[2], "shared passage must yield a shared fingerprint"
    assert not (sets[1] & sets[3]) and not (sets[2] & sets[3])


def test_connected_components_vs_union_find(spark):
    """Distributed min-label CC ≡ driver-side union-find on an
    adversarial graph: a path (slow label flow), a star, a triangle
    with cross edge, and singleton-pair islands."""
    from distributedqueryengine_spark.functions.dedup import connected_components

    edges = (
        [(i, i + 1) for i in range(10, 17)]      # path 10-17
        + [(100, x) for x in (101, 102, 103)]     # star
        + [(200, 201), (201, 202), (202, 200), (202, 203)]  # triangle + tail
        + [(300, 301), (400, 401)]                # islands
    )
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {(r.id, r.component) for r in connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {(x, find(x)) for x in parent}
    assert got == expected


def test_dedup_clusters_on_fixture(spark, tables):
    """Cluster representative is the cluster min id; every clustered
    doc appears exactly once."""
    from distributedqueryengine_spark.functions.dedup import dedup_clusters

    docs = tables["documents"]
    cc = dedup_clusters(docs, "doc_id", "text").collect()
    ids = [r.id for r in cc]
    assert len(ids) == len(set(ids))
    by_comp: dict[int, set[int]] = {}
    for r in cc:
        by_comp.setdefault(r.component, set()).add(r.id)
    for comp, members in by_comp.items():
        assert comp == min(members)


def test_jaccard_shuffle_path_matches_broadcast(spark, tables):
    """Above broadcast_limit candidate pairs, jaccard_on_pairs degrades
    to shuffled hash joins — results must be identical to the broadcast
    plan (broadcast_limit=0 forces the shuffle path)."""
    from distributedqueryengine_spark.functions.dedup import (
        jaccard_on_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    docs = tables["documents"]
    sh = shingles(docs, "doc_id", "text").persist()
    pairs = lsh_candidate_pairs(minhash_signatures(sh, 32), 32, 8)
    bcast = jaccard_on_pairs(pairs, sh).collect()
    shuf = jaccard_on_pairs(pairs, sh, broadcast_limit=0).collect()
    assert sorted(map(tuple, bcast)) == sorted(map(tuple, shuf))
    assert len(bcast) > 0


def test_connected_components_raises_on_non_convergence(spark):
    """A 6-hop chain cannot converge in 2 rounds — the truncation must
    be loud, not silently-wrong labels."""
    import pytest as _pytest

    from distributedqueryengine_spark.functions.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    # driver_edge_cap=0 forces the distributed propagation path (the
    # r15 union-find fast path would absorb this tiny chain otherwise)
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2, driver_edge_cap=0)
    # and with enough rounds the same chain is one component
    ok = connected_components(chain, max_iter=10, driver_edge_cap=0).collect()
    assert {r.component for r in ok} == {0}


def test_near_suite_branches_match_standalone_queries(spark):
    """q_dedup_near_suite shares ONE shingle->sign->band->score pipeline
    across its minhash / ngram_jaccard / clusters branches; each branch
    must stay value-identical to the standalone building-block query
    run in the same (portable) hashing mode."""
    from distributedqueryengine_spark import queries as Q
    from distributedqueryengine_spark.inventory import q_dedup_near_suite

    sf_dir = "/root/testdata/sf0.001"
    suite = q_dedup_near_suite(spark, sf_dir).persist()

    def branch(v, cols):
        return sorted(
            tuple(r[c] for c in cols)
            for r in suite.filter(F.col("variant") == v).collect()
        )

    mh = sorted(
        (r["id_a"], r["id_b"], float(r["jaccard"]))
        for r in Q.q_dedup_minhash(spark, sf_dir, portable=True).collect()
    )
    assert branch("minhash", ["a", "b", "v"]) == mh
    ng = sorted(
        (r["id_a"], r["id_b"], float(r["jaccard"]))
        for r in Q.q_dedup_ngram_jaccard(spark, sf_dir, portable=True).collect()
    )
    assert branch("ngram_jaccard", ["a", "b", "v"]) == ng
    cl = sorted(
        (r["rep_id"], r["cluster_size"], float(r["component"]))
        for r in Q.q_dedup_clusters(spark, sf_dir, portable=True).collect()
    )
    assert branch("clusters", ["a", "b", "v"]) == cl
    suite.unpersist()


def test_portable_mode_matches_default_semantics(spark, tables):
    """Portable (md5 + universal-hash) and default (xxhash64) modes are
    the SAME algorithm under different hash families: exact-Jaccard
    verification makes the high-confidence pairs agree. Every pair
    scored >= 0.5 by both pipelines' candidate stages must carry the
    IDENTICAL exact jaccard value (verification is hash-independent)."""
    from distributedqueryengine_spark.functions import dedup as D

    d = tables["documents"]
    a = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.minhash_near_duplicates(d, "doc_id", "text").collect()
    }
    b = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.minhash_near_duplicates(d, "doc_id", "text", portable=True).collect()
    }
    shared = set(a) & set(b)
    assert shared, "no overlapping pairs between hash modes"
    for k in shared:
        assert a[k] == b[k]


def test_winnow_random_params_match_reference(spark, tables):
    """Winnowing over randomized (k, w): the window math (full-window
    slide, short-doc global min, the pos ≤ n−w ∨ pos = 0 filter) must
    match the driver-side reference for every parameterization, not
    just the default (3, 4)."""
    from distributedqueryengine_spark.functions.dedup import (
        positional_ngram_hashes,
        winnow_fingerprints,
    )

    docs = tables["documents"].limit(25)
    for k, w in [(2, 2), (2, 7), (4, 3), (5, 8), (3, 5)]:
        ph = positional_ngram_hashes(docs, "doc_id", "text", k).collect()
        by_doc: dict[int, list[tuple[int, int]]] = {}
        for r in ph:
            by_doc.setdefault(r.id, []).append((r.pos, r.h))
        expected: set[tuple[int, int]] = set()
        for doc, rows in by_doc.items():
            hs = [h for _, h in sorted(rows)]
            if len(hs) <= w:
                expected.add((doc, min(hs)))
            else:
                for i in range(len(hs) - w + 1):
                    expected.add((doc, min(hs[i : i + w])))
        got = {
            (r.id, r.fp)
            for r in winnow_fingerprints(docs, "doc_id", "text", k, w).collect()
        }
        assert got == expected, f"winnow mismatch at k={k} w={w}"


def test_simhash_banding_recall_at_higher_hamming(spark, tables):
    """The pigeonhole guarantee must hold for EVERY max_hamming, not
    just the default 3: candidates at d=5 (6 bands) must contain every
    pair a brute-force hamming scan finds, and the default d=3 layout
    stays byte-identical to the classic 4-band split."""
    from itertools import combinations

    from distributedqueryengine_spark.functions.dedup import (
        simhash,
        simhash_near_duplicates,
    )

    docs = tables["documents"].limit(120)
    for d in (3, 5):
        got = {
            (r.id_a, r.id_b)
            for r in simhash_near_duplicates(
                docs, "doc_id", "text", max_hamming=d, portable=True
            ).collect()
        }
        fps = {r.id: r.simhash for r in simhash(docs, "doc_id", "text", portable=True).collect()}
        brute = {
            (a, b)
            for a, b in combinations(sorted(fps), 2)
            if bin(fps[a] ^ fps[b]).count("1") <= d
        }
        assert got == brute, f"d={d}: {got ^ brute}"


def test_simhash_exact_match_d0_64bit(spark, tables):
    """max_hamming=0 in default 64-bit mode makes ONE band of width 64;
    the old (1<<64)-1 LongType mask overflowed F.lit (ADVICE r6) — the
    full-width band must now skip masking and return exactly the
    fingerprint-identical pairs."""
    from itertools import combinations

    from distributedqueryengine_spark.functions.dedup import (
        simhash,
        simhash_near_duplicates,
    )

    base = tables["documents"].limit(60).select("doc_id", "text")
    # plant exact simhash collisions: duplicate texts under shifted ids
    from pyspark.sql import functions as F

    dup = base.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    docs = base.unionByName(dup)
    got = {
        (r.id_a, r.id_b)
        for r in simhash_near_duplicates(
            docs, "doc_id", "text", max_hamming=0
        ).collect()
    }
    fps = {r.id: r.simhash for r in simhash(docs, "doc_id", "text").collect()}
    brute = {
        (a, b) for a, b in combinations(sorted(fps), 2) if fps[a] == fps[b]
    }
    assert got == brute
    assert len(got) >= 60  # every planted duplicate pair found


def test_band_layout_guards_reject_bad_params(spark, tables):
    """bands must evenly divide num_perm: a silent remainder would
    weaken the S-curve, and bands > num_perm would hash empty slices
    (one global bucket → quadratic self-join). Both formulations —
    batch and streaming — must raise, with the dividing case green."""
    import pytest as _pytest

    from distributedqueryengine_spark.functions.dedup import (
        band_buckets,
        minhash_signatures,
        shingles,
    )
    from distributedqueryengine_spark.streaming.dedup import (
        narrow_minhash_band_buckets,
    )

    docs = tables["documents"].limit(10)
    sigs = minhash_signatures(shingles(docs, "doc_id", "text"), 32)
    for bad in (5, 48, 0):
        with _pytest.raises(ValueError, match="evenly divide"):
            band_buckets(sigs, 32, bad)
        with _pytest.raises(ValueError, match="evenly divide"):
            narrow_minhash_band_buckets(docs, "doc_id", "text", 3, 32, bad)
    assert band_buckets(sigs, 32, 16).count() > 0


def test_staged_near_duplicates_parity(spark, tables):
    """staged=True (exact-collapse -> LSH on survivors -> map back)
    must return EXACTLY the unstaged pipeline's pairs — same ids, same
    jaccard values — on the real documents fixture (which contains
    both exact and near duplicates)."""
    from distributedqueryengine_spark.functions import dedup as D

    d = tables["documents"]
    raw = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in D.minhash_near_duplicates(
            d, "doc_id", "text", staged=False
        ).collect()
    )
    stg = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in D.minhash_near_duplicates(
            d, "doc_id", "text", staged=True
        ).collect()
    )
    assert stg == raw
    assert len(raw) > 0


def test_staged_parity_with_planted_exact_groups(spark, tables):
    """Adversarial parity: replicate part of the corpus so exact
    groups of size 3 exist, plus keep singletons and sub-shingle-length
    docs. Staged must equal unstaged including all within-group
    (jaccard 1.0) and cross-group member pairs."""
    from pyspark.sql import functions as F

    from distributedqueryengine_spark.functions import dedup as D

    base = tables["documents"].limit(120).select("doc_id", "text")
    copies = base.limit(40).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    ).union(
        base.limit(40).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
        )
    )
    shorty = spark.createDataFrame(
        [(9_000_001, "one two"), (9_000_002, "one two")],  # < 3 tokens
        "doc_id long, text string",
    )
    d = base.union(copies).union(shorty)
    raw = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in D.minhash_near_duplicates(
            d, "doc_id", "text", staged=False
        ).collect()
    )
    stg = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in D.minhash_near_duplicates(
            d, "doc_id", "text", staged=True
        ).collect()
    )
    assert stg == raw
    # the planted replicas guarantee within-group pairs exist
    assert any(j == 1.0 for _, _, j in stg)
    # and the zero-shingle exact pair must NOT appear
    assert not any(a == 9_000_001 for a, _, _ in stg)


def test_pipeline_cache_bounded(spark, tables):
    """Repeated near-dup constructions must not accumulate cached
    partitions: the internal persists register in a bounded FIFO
    (<=16 live), so a long-lived session's cache footprint is flat."""
    from distributedqueryengine_spark.functions import dedup as D

    D._drain_pipeline_cache()
    base = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    d = tables["documents"].limit(150)
    for _ in range(6):
        D.minhash_near_duplicates(d, "doc_id", "text").write.format(
            "noop"
        ).mode("overwrite").save()
        assert len(D._PIPELINE_CACHE) <= D._PIPELINE_CACHE_MAX
        assert (
            spark.sparkContext._jsc.sc().getPersistentRDDs().size()
            <= base + D._PIPELINE_CACHE_MAX
        )
    D._drain_pipeline_cache()
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() <= base


def test_staged_parity_randomized_sweep(spark):
    """r12 verdict item 6: property-differential the staged default —
    10 seeded corpora sweeping (num_perm, bands, min_jaccard incl. the
    degenerate >1.0, planted exact-group sizes incl. sub-shingle and
    empty docs, near-dup mutations). staged must equal unstaged pair
    for pair, jaccard for jaccard, on every configuration."""
    import random

    from distributedqueryengine_spark.functions.dedup import (
        minhash_near_duplicates,
    )

    vocab = [f"tok{j}" for j in range(18)]
    perm_bands = [(8, 2), (16, 4), (32, 8), (16, 8), (8, 8)]
    thresholds = [0.0, 0.3, 0.7, 1.0, 1.2]

    for seed in range(10):
        rng = random.Random(seed * 104729 + 7)
        rows, nid = [], 0
        for base in range(10):
            # lengths below ngram=3 (0,1,2) plant zero-shingle docs
            n = rng.choice([0, 1, 2, 3, 4, 8, 14])
            text = " ".join(rng.choice(vocab) for _ in range(n))
            gsize = rng.choice([1, 1, 2, 3, 5])
            for _ in range(gsize):  # exact-duplicate group
                rows.append((nid, text))
                nid += 1
            if n >= 4 and rng.random() < 0.7:  # near-dup variant
                toks = text.split(" ")
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
                rows.append((nid, " ".join(toks)))
                nid += 1
        df = spark.createDataFrame(rows, "doc_id long, text string")
        num_perm, bands = perm_bands[seed % len(perm_bands)]
        mj = thresholds[seed % len(thresholds)]
        portable = seed % 2 == 0

        def pairs(staged):
            got = minhash_near_duplicates(
                df, "doc_id", "text", ngram=3, num_perm=num_perm,
                bands=bands, min_jaccard=mj, portable=portable,
                staged=staged,
            ).collect()
            return {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in got}

        un, st = pairs(False), pairs(True)
        assert st == un, (
            f"seed={seed} perm={num_perm} bands={bands} mj={mj} "
            f"portable={portable}: staged^unstaged={st ^ un}"
        )
        if mj > 1.0:
            assert st == set()


# --------------------------------------------------------------------------
# source_overlap_matrix (r13): pairwise distinct-ngram Jaccard by group
# --------------------------------------------------------------------------

def _py_overlap(rows, n=3):
    """(group, text) rows -> {(a,b): (na, nb, common, jaccard)}."""
    sets: dict[str, set] = {}
    for g, t in rows:
        toks = " ".join(t.lower().split()).split(" ")
        grams = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
        sets.setdefault(g, set()).update(grams)
    out = {}
    for a in sorted(sets):
        for b in sorted(sets):
            if a < b and sets[a] & sets[b]:
                c = len(sets[a] & sets[b])
                jac = round(c / (len(sets[a]) + len(sets[b]) - c), 6)
                out[(a, b)] = (len(sets[a]), len(sets[b]), c, jac)
    return out


def test_source_overlap_matches_python_reference(spark):
    import random

    from distributedqueryengine_spark.functions.dedup import (
        source_overlap_matrix,
    )

    vocab = ["w%d" % i for i in range(30)]
    for seed in range(4):
        rng = random.Random(seed)
        rows = []
        for g in ["ga", "gb", "gc"]:
            for _ in range(15):
                rows.append(
                    (g, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 25))))
                )
        df = spark.createDataFrame(rows, "src string, text string")
        got = {
            (r["src_a"], r["src_b"]): (r["n_a"], r["n_b"], r["n_common"], r["jaccard"])
            for r in source_overlap_matrix(df, "src", "text", n=3).collect()
        }
        assert got == _py_overlap(rows), f"seed {seed}"


def test_source_overlap_disjoint_and_identical(spark):
    from distributedqueryengine_spark.functions.dedup import (
        source_overlap_matrix,
    )

    rows = [
        ("a", "one two three four"),
        ("b", "one two three four"),   # identical to a
        ("c", "five six seven eight"), # disjoint from both
    ]
    df = spark.createDataFrame(rows, "src string, text string")
    got = {(r["src_a"], r["src_b"]): r["jaccard"]
           for r in source_overlap_matrix(df, "src", "text", n=3).collect()}
    assert got == {("a", "b"): 1.0}  # disjoint pairs are absent, identical = 1.0


def test_source_overlap_shingle_reuse_path_identical(spark, tables):
    """The suite's reuse path (per-group distinct derived from the
    cached doc-level shingle pass) must equal the direct tokenize."""
    from distributedqueryengine_spark.functions import dedup as D

    d = tables["documents"]
    direct = D.source_overlap_matrix(d, "source", "text", n=3, portable=True)
    sh = D.shingles(d, "doc_id", "text", 3, portable=True)
    src_sh = (
        sh.join(d.select(F.col("doc_id").alias("id"), "source"), "id")
        .select(F.col("source").alias("id"), "sh")
        .distinct()
    )
    reused = D.source_overlap_matrix(group_shingles=src_sh)
    a = sorted(map(tuple, direct.collect()))
    b = sorted(map(tuple, reused.collect()))
    assert a == b
    # r14 contract: df XOR group_shingles — passing both (or neither)
    # raises instead of silently ignoring n/portable
    import pytest as _pytest

    with _pytest.raises(ValueError, match="XOR"):
        D.source_overlap_matrix(d, "source", "text", group_shingles=src_sh)
    with _pytest.raises(ValueError, match="needs"):
        D.source_overlap_matrix(n=3)


def test_connected_components_driver_path_equals_distributed(spark):
    """r15 size gate: the union-find fast path must return exactly the
    distributed min-label result on the same adversarial graph."""
    from distributedqueryengine_spark.functions.dedup import connected_components

    edges = (
        [(i, i + 1) for i in range(10, 17)]
        + [(100, x) for x in (101, 102, 103)]
        + [(200, 201), (201, 202), (202, 200), (202, 203)]
        + [(300, 301), (400, 401), (500, 500)]  # self-loop dropped
    )
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {(r.id, r.component)
            for r in connected_components(df).collect()}
    slow = {(r.id, r.component)
            for r in connected_components(df, driver_edge_cap=0).collect()}
    assert fast == slow and fast
    # over-cap input falls back to the distributed path (same answer)
    mixed = {(r.id, r.component)
             for r in connected_components(df, driver_edge_cap=3).collect()}
    assert mixed == slow
