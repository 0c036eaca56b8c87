"""Similarity search: brute-force correctness + LSH recall (SURVEY §7.5)."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from distributedqueryengine_spark.functions import similarity as S


def test_cosine_expression(spark):
    df = spark.createDataFrame(
        [Row(a=[1.0, 0.0], b=[1.0, 0.0]), Row(a=[1.0, 0.0], b=[0.0, 1.0]), Row(a=[1.0, 2.0], b=[2.0, 4.0])]
    )
    out = df.select(S.cosine(F.col("a"), F.col("b")).alias("c")).collect()
    assert abs(out[0].c - 1.0) < 1e-12
    assert abs(out[1].c - 0.0) < 1e-12
    assert abs(out[2].c - 1.0) < 1e-12


def test_brute_force_topk_matches_numpy(spark, tables):
    import numpy as np

    emb = tables["embeddings"]
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = M @ M.T
    out = S.brute_force_topk(emb.filter(F.col("vec_id") == 7), emb, k=5).collect()
    got = [(r.neighbor_id, r.cos) for r in sorted(out, key=lambda r: r.rnk)]
    qi = int(np.where(ids == 7)[0][0])
    order = np.argsort(-sims[qi])
    expect = [(int(ids[j]), sims[qi][j]) for j in order if ids[j] != 7][:5]
    assert [g[0] for g in got] == [e[0] for e in expect]
    for g, e in zip(got, expect):
        assert math.isclose(g[1], e[1], abs_tol=1e-5)


def test_lsh_topk_recall(spark, tables):
    """Recall@5 of LSH vs brute force over the fixture queries must
    clear 0.5 — random 64-dim vectors are a worst case for LSH, so the
    bar is deliberately moderate; the contract is 'good candidates
    without the cross product', not exactness."""
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    bf = S.brute_force_topk(queries, emb, k=5).collect()
    ap = S.lsh_topk(queries, emb, k=5, dim=64).collect()
    truth: dict[int, set[int]] = {}
    for r in bf:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set[int]] = {}
    for r in ap:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total >= 0.5, f"LSH recall too low: {hits}/{total}"


def test_lsh_candidates_subset_of_corpus(spark, tables):
    emb = tables["embeddings"]
    out = S.lsh_topk(emb.filter(F.col("vec_id") == 0), emb, k=3, dim=64)
    rows = out.collect()
    assert all(r.query_id == 0 and r.neighbor_id != 0 for r in rows)
    assert len(rows) <= 3


def test_ivf_topk_recall_and_determinism(spark, tables):
    """IVF recall@5 vs brute force on the fixture; random vectors are
    also an IVF worst case (no cluster structure), so the bar is
    moderate. Determinism: two runs produce identical rows (hash-
    ordered sample → same centroids → same candidates)."""
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    bf = S.brute_force_topk(queries, emb, k=5).collect()
    a = S.ivf_topk(queries, emb, k=5, n_cells=16, n_probe=6).collect()
    b = S.ivf_topk(queries, emb, k=5, n_cells=16, n_probe=6).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    truth: dict[int, set[int]] = {}
    for r in bf:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set[int]] = {}
    for r in a:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total >= 0.5, f"IVF recall too low: {hits}/{total}"


def test_ivf_join_strategies_agree(spark, tables):
    """broadcast_queries=True (map-side scoring) and =False (ids-only
    cell join + vector re-fetch) are two physical plans for the SAME
    logical result — rows must match exactly."""
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    a = S.ivf_topk(queries, emb, k=5, n_cells=16, n_probe=4, broadcast_queries=True).collect()
    b = S.ivf_topk(queries, emb, k=5, n_cells=16, n_probe=4, broadcast_queries=False).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_cosine_pairs_block_invariance(spark, tables):
    """Exact block-pair all-pairs must be invariant to the block count
    (1 block ≡ n² in one task; 7 blocks ≡ 28 distributed tasks)."""
    emb = tables["embeddings"]
    a = S.cosine_pairs_above(emb, tau=0.45, n_blocks=1).collect()
    b = S.cosine_pairs_above(emb, tau=0.45, n_blocks=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) > 0


def test_multi_ann_lsh_branch_equals_standalone(spark, tables):
    """The fused multi-index pass must not change LSH results: its lsh
    branch uses the same tables/seed/probes as standalone lsh_topk."""
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    fused = S.multi_ann_topk(queries, emb, k=5, dim=64).collect()
    lsh_rows = sorted(
        (r.query_id, r.neighbor_id, r.cos, r.rnk)
        for r in fused if r.method == "lsh"
    )
    standalone = sorted(
        (r.query_id, r.neighbor_id, r.cos, r.rnk)
        for r in S.lsh_topk(queries, emb, k=5, dim=64).collect()
    )
    assert lsh_rows == standalone


def test_multi_ann_ivf_branch_recall(spark, tables):
    """The query-trained IVF branch of the fused pass still clears the
    recall bar vs brute force (queries are drawn from the corpus
    distribution, so query-trained centroids are representative)."""
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    bf = S.brute_force_topk(queries, emb, k=5).collect()
    fused = S.multi_ann_topk(queries, emb, k=5, dim=64, n_probe=6).collect()
    truth: dict[int, set[int]] = {}
    for r in bf:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set[int]] = {}
    for r in fused:
        if r.method == "ivf":
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total >= 0.5, f"fused IVF recall too low: {hits}/{total}"


def test_cosine_pairs_approx_subset_and_recall(spark, tables):
    """Approximate near-dup pairs must be a SUBSET of the exact result
    (verification is exact — only misses, no false positives); on
    planted high-cos near-dups (the regime the approx path targets)
    recall must clear 0.9."""
    import numpy as np

    from pyspark.sql import Row

    rng = np.random.default_rng(7)
    base = rng.normal(size=(60, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
        # planted near-duplicate: small perturbation → cos ≈ 0.99
        w = v + rng.normal(scale=0.05, size=16)
        rows.append(Row(vec_id=1000 + i, embedding=[float(x) for x in w]))
    df = spark.createDataFrame(rows)
    exact = {
        (r.id_a, r.id_b)
        for r in S.cosine_pairs_above(df, tau=0.9, id_col="vec_id").collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in S.cosine_pairs_above_approx(df, tau=0.9, dim=16, id_col="vec_id").collect()
    }
    assert approx <= exact
    assert len(exact) >= 60  # the planted pairs are really there
    assert len(approx) / len(exact) >= 0.9, f"recall {len(approx)}/{len(exact)}"


def test_cosine_pairs_scaled_gate(spark, tables):
    """Below the threshold the gate returns the exact block-pair plan
    (block-replication explode present); above it (threshold=0) the
    approximate plan — no block replication, no n² anywhere."""
    emb = tables["embeddings"]
    exact_plan = S.cosine_pairs_above_scaled(
        emb, tau=0.45, dim=64
    )._jdf.queryExecution().executedPlan().toString()
    approx_plan = S.cosine_pairs_above_scaled(
        emb, tau=0.45, dim=64, exact_threshold=0
    )._jdf.queryExecution().executedPlan().toString()
    # exact path: block-pair applyInPandas over replicated blocks
    assert "score_block_pair" in exact_plan
    # approx path: no block-pair stage, bucket self-join instead
    assert "score_block_pair" not in approx_plan
    assert "bucketize" in approx_plan


def test_lsh_index_build_probe_equals_direct(spark, tables):
    """probe_lsh_index over a prebuilt (and persisted) index must equal
    the direct ids-only join path row for row, and the probe plan must
    not re-bucketize the corpus (exactly one python bucketize stage —
    the query side)."""
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    direct = sorted(map(tuple, S.lsh_topk(
        queries, emb, k=5, dim=64, broadcast_queries=False).collect()))
    index = S.build_lsh_index(emb, dim=64).persist()
    index.count()  # materialize: probes below reuse, never rebuild
    probed_df = S.probe_lsh_index(index, emb, queries, k=5, dim=64)
    probed = sorted(map(tuple, probed_df.collect()))
    assert probed == direct
    # The corpus-side buckets must be served from the persisted index
    # (InMemoryTableScan), not recomputed: the only bucketize mention
    # left in the final plan is the cosmetic InMemoryRelation echo of
    # how the cache was originally built.
    plan = probed_df._jdf.queryExecution().executedPlan().toString()
    final_plan = plan.split("== Initial Plan ==")[0]
    assert "InMemoryTableScan" in final_plan
    before_cache = final_plan.split("InMemoryRelation")[0]
    assert "bucketize" not in before_cache
    index.unpersist()


def test_ivf_index_build_probe_equals_direct(spark, tables):
    """probe_ivf_index over a prebuilt index with shared centroids must
    equal the direct ids-only path (which is now its composition)."""
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    direct = sorted(map(tuple, S.ivf_topk(
        queries, emb, k=5, n_cells=16, n_probe=4, broadcast_queries=False).collect()))
    cent = S.train_ivf_centroids(emb, n_cells=16)
    index = S.build_ivf_index(emb, cent).persist()
    index.count()
    probed = sorted(map(tuple, S.probe_ivf_index(
        index, emb, queries, cent, k=5, n_probe=4).collect()))
    assert probed == direct
    index.unpersist()


def test_lsh_pair_params_sizing():
    """Planes grow with log2(n) (constant bucket occupancy); tables
    grow when recall demands it and shrink when tau is easier."""
    p1, t1 = S.lsh_pair_params(1_000, 0.85)
    p2, t2 = S.lsh_pair_params(1_000_000, 0.85)
    assert p2 > p1  # occupancy normalization
    assert p2 == max(8, min(24, __import__("math").ceil(__import__("math").log2(1_000_000 / 4))))
    _, t_hi = S.lsh_pair_params(100_000, 0.85, recall=0.99)
    _, t_lo = S.lsh_pair_params(100_000, 0.85, recall=0.80)
    assert t_hi >= t_lo
    _, t_easy = S.lsh_pair_params(100_000, 0.99)
    _, t_hard = S.lsh_pair_params(100_000, 0.80)
    assert t_easy <= t_hard


def test_ivf_probe_monotone_recall(spark, tables):
    """Probing every cell makes IVF exhaustive — results must equal
    brute force exactly (same rounding, same tie order)."""
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    bf = S.brute_force_topk(queries, emb, k=3).collect()
    full = S.ivf_topk(queries, emb, k=3, n_cells=8, n_probe=8).collect()
    assert sorted(map(tuple, bf)) == sorted(map(tuple, full))


def test_clustered_embeddings_prune_and_recall(spark):
    """On CLUSTERED embeddings (the realistic regime — the iid-random
    fixture is LSH's worst case, every pair near the 68° median angle)
    the LSH index must do what indexes are for: score a small fraction
    of the corpus and still find the true neighbors. Mixture of 32
    Gaussians in 64-d, 4096 corpus points: assert the probe's scored
    candidates are < 5% of |corpus|x|queries| at recall >= 0.8 — the
    measured evidence behind SCALING.md's 'clustered real embeddings
    prune 10-100x' claim."""
    import numpy as np

    rng = np.random.default_rng(7)
    n_clusters, per, dim = 32, 128, 64
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    # 0.05/dim noise → ‖noise‖≈0.4 vs unit centers → intra-cluster
    # cos ≈ 0.86 (≈31°) against ≈90° between clusters: clearly
    # clustered but far from degenerate-duplicate.
    pts = np.repeat(centers, per, axis=0) + 0.05 * rng.normal(
        size=(n_clusters * per, dim)
    )
    n = len(pts)  # 4096
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") % 64 == 0)  # 64, 2 per cluster
    n_q = queries.count()

    # Finer than the occupancy rule (log2(n/4)=10): clustered data
    # concentrates in few buckets, so extra planes cut candidates
    # (11%→3.8% measured from 10→14 planes here) while multi-probe
    # keeps cluster-mates reachable (recall 0.98 at 14).
    n_planes = max(8, math.ceil(math.log2(n / 4))) + 4
    index = S.build_lsh_index(corpus, dim=dim, n_planes=n_planes).persist()
    index.count()

    cand = S.probe_lsh_candidates(index, queries, dim=dim, n_planes=n_planes)
    n_cand = cand.count()
    frac = n_cand / (n * n_q)
    assert frac < 0.05, f"scored {frac:.1%} of corpus x queries (want <5%)"

    bf = S.brute_force_topk(queries, corpus, k=5).collect()
    ap = S.probe_lsh_index(index, corpus, queries, k=5, dim=dim,
                           n_planes=n_planes).collect()
    truth: dict[int, set[int]] = {}
    for r in bf:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set[int]] = {}
    for r in ap:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    assert recall >= 0.8, f"clustered recall {recall:.2f} (want >=0.8)"
    index.unpersist()


def test_quantized_topk_recall_and_bytes(spark, tables):
    """int8-quantized brute force: packed rows are exactly dim bytes
    (the 8x shuffle-byte claim vs array<double>), recall@5 vs exact
    clears 0.9 on the fixture, and matched pairs' cosines agree within
    the rounding-error bound."""
    import numpy as np

    emb = tables["embeddings"]
    dim = len(emb.select("embedding").first()[0])
    q = S.quantize_embeddings(emb).persist()
    sizes = q.select(F.length("qvec").alias("n")).distinct().collect()
    assert [r.n for r in sizes] == [dim]

    queries = emb.filter(F.col("vec_id") % 40 == 0)
    exact = S.brute_force_topk(queries, emb, k=5)
    qq = q.filter(F.col("vec_id") % 40 == 0)
    approx = S.brute_force_topk(qq, q, k=5, vec_col="qvec", quantized=True)
    ex = {(r.query_id, r.neighbor_id): r.cos for r in exact.collect()}
    ap = {(r.query_id, r.neighbor_id): r.cos for r in approx.collect()}
    assert ex and ap
    hits = set(ex) & set(ap)
    recall = len(hits) / len(ex)
    assert recall >= 0.9, f"quantized recall {recall}"
    for key in hits:
        assert abs(ex[key] - ap[key]) < 0.02, (key, ex[key], ap[key])
    q.unpersist()


def test_quantize_dequantize_error_bound(spark, tables):
    """Per-element reconstruction error of scale * q is bounded by
    scale/2 (symmetric round-to-nearest)."""
    import numpy as np

    emb = tables["embeddings"].limit(50)
    orig = {r.vec_id: np.array(r.embedding) for r in emb.collect()}
    for r in S.quantize_embeddings(emb).collect():
        qv = np.frombuffer(r.qvec, dtype=np.int8).astype(np.float64)
        err = np.abs(qv * r.scale - orig[r.vec_id])
        assert err.max() <= r.scale / 2 + 1e-12, (r.vec_id, err.max(), r.scale)


def test_quantize_edge_vectors(spark):
    """Zero, constant, negative, and tiny-magnitude vectors must
    quantize without NaN/overflow and dequantize within bound."""
    import numpy as np
    from pyspark.sql import Row

    rows = [
        Row(vec_id=1, embedding=[0.0, 0.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[5.0, 5.0, 5.0, 5.0]),
        Row(vec_id=3, embedding=[-1.0, 2.0, -3.0, 4.0]),
        Row(vec_id=4, embedding=[1e-12, -1e-12, 0.0, 1e-12]),
    ]
    df = spark.createDataFrame(rows)
    out = {r.vec_id: r for r in S.quantize_embeddings(df).collect()}
    assert set(out) == {1, 2, 3, 4}
    for vid, r in out.items():
        q = np.frombuffer(r.qvec, dtype=np.int8).astype(np.float64)
        assert len(q) == 4
        assert np.isfinite(r.scale) and r.scale > 0
        orig = np.array(rows[vid - 1].embedding)
        assert np.abs(q * r.scale - orig).max() <= r.scale / 2 + 1e-12
    # the zero vector stays exactly zero
    assert not np.frombuffer(out[1].qvec, dtype=np.int8).any()


def test_quantized_multi_ann_recall(spark, tables):
    """Fused LSH+IVF ANN over the int8-packed corpus: recall vs the
    FLOAT fused path clears 0.85 per branch (bucket signs/argmax are
    scale-invariant; only rounding moves boundary cases)."""
    emb = tables["embeddings"]
    q = S.quantize_embeddings(emb).persist()
    queries_f = emb.filter(F.col("vec_id") % 40 == 0)
    queries_q = q.filter(F.col("vec_id") % 40 == 0)
    flt = S.multi_ann_topk(queries_f, emb, k=5, dim=64, n_probe=6)
    qnt = S.multi_ann_topk(
        queries_q, q, k=5, dim=64, n_probe=6, vec_col="qvec", quantized=True
    )
    for branch in ("lsh", "ivf"):
        fset = {
            (r.query_id, r.neighbor_id)
            for r in flt.filter(F.col("method") == branch).collect()
        }
        qset = {
            (r.query_id, r.neighbor_id)
            for r in qnt.filter(F.col("method") == branch).collect()
        }
        assert fset and qset
        recall = len(fset & qset) / len(fset)
        assert recall >= 0.85, f"{branch}: quantized ANN recall {recall}"
    q.unpersist()


def test_mean_embedding_matches_numpy(spark):
    """Element-wise group centroids == numpy mean, dimension order
    preserved, singleton groups pass through."""
    import numpy as np

    from distributedqueryengine_spark.functions.similarity import mean_embedding
    from distributedqueryengine_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").withColumn(
        "grp", (F.col("vec_id") % 7).cast("int")
    )
    got = {
        r.grp: (np.array(r.centroid), r.n_members)
        for r in mean_embedding(emb, ["grp"], "embedding").collect()
    }
    rows = emb.select("grp", "embedding").collect()
    by_grp: dict[int, list] = {}
    for r in rows:
        by_grp.setdefault(r.grp, []).append(np.array(r.embedding))
    assert set(got) == set(by_grp)
    for g, vecs in by_grp.items():
        expect = np.mean(vecs, axis=0)
        cent, n = got[g]
        assert n == len(vecs)
        assert cent.shape == expect.shape
        np.testing.assert_allclose(cent, expect, rtol=1e-9, atol=1e-12)


def test_zero_vector_does_not_poison_topk(spark):
    """A zero embedding in corpus or queries must not inject NaN into
    the top-k (eps-floored normalization): scores stay finite, the zero
    corpus vector scores ~0 against everything, and a zero query still
    returns k well-defined neighbors."""
    import math

    from distributedqueryengine_spark.functions.similarity import brute_force_topk

    rows = [(0, [0.0, 0.0, 0.0, 0.0])] + [
        (i, [float(i), 1.0, 0.0, float(i % 3)]) for i in range(1, 12)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = brute_force_topk(corpus.limit(3), corpus, k=4).collect()
    assert out, "top-k must return rows"
    for r in out:
        assert r.cos is not None and math.isfinite(r.cos), r
    zero_q = [r for r in out if r.query_id == 0]
    assert len(zero_q) == 4  # zero query still yields k finite results
    assert all(abs(r.cos) < 1e-6 for r in zero_q)


def test_mine_hard_negatives_semantics(spark):
    """Hard negatives = top-k most similar EXCLUDING positives; max_cos
    drops false-negative near-duplicates; overfetch auto-sizes to the
    max positives per query."""
    import math

    from distributedqueryengine_spark.functions.similarity import (
        mine_hard_negatives,
    )

    def vec(theta):
        return [math.cos(theta), math.sin(theta)] + [0.0] * 6

    # corpus on a circle: similarity decays with angle from the query
    corpus = spark.createDataFrame(
        [(i, vec(i * 0.1)) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") == 0)
    positives = spark.createDataFrame(
        [(0, 1), (0, 2)], "query_id long, positive_id long"
    )
    got = [
        (r.neighbor_id, r.rnk)
        for r in mine_hard_negatives(queries, corpus, positives, k=3)
        .orderBy("rnk")
        .collect()
    ]
    # nearest non-positive, non-self neighbors by angle: 3, 4, 5
    assert got == [(3, 1), (4, 2), (5, 3)]

    # max_cos guard: drop anything closer than cos(0.35 rad)
    guard = [
        r.neighbor_id
        for r in mine_hard_negatives(
            queries, corpus, positives, k=3,
            max_cos=math.cos(0.35), overfetch=9,
        ).orderBy("rnk").collect()
    ]
    assert guard == [4, 5, 6]

    import pytest as _pytest

    bad = spark.createDataFrame([(0, 1)], "query_id long, wrong long")
    with _pytest.raises(ValueError, match="positives"):
        mine_hard_negatives(queries, corpus, bad, k=1)


def test_mine_hard_negatives_candidates_reuse(spark):
    """The candidates reuse path equals the direct path and validates
    its input columns."""
    import math

    from distributedqueryengine_spark.functions.similarity import (
        brute_force_topk,
        mine_hard_negatives,
    )

    def vec(theta):
        return [math.cos(theta), math.sin(theta)] + [0.0] * 6

    corpus = spark.createDataFrame(
        [(i, vec(i * 0.1)) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") % 5 == 0)
    cands = brute_force_topk(queries, corpus, k=6)
    positives = cands.filter(F.col("rnk") == 1).select(
        "query_id", F.col("neighbor_id").alias("positive_id")
    )
    direct = sorted(
        tuple(r)
        for r in mine_hard_negatives(queries, corpus, positives, k=3).collect()
    )
    reused = sorted(
        tuple(r)
        for r in mine_hard_negatives(
            queries, corpus, positives, k=3, candidates=cands
        ).collect()
    )
    assert direct == reused and len(direct) == 6  # 2 queries x 3

    import pytest as _pytest

    with _pytest.raises(ValueError, match="candidates is missing"):
        mine_hard_negatives(
            queries, corpus, positives, k=1,
            candidates=cands.drop("cos"),
        )


def test_ivf_build_probe_shape(spark):
    """The fresh-JVM canonical-build probe (bench.py r13) reports the
    same sizing ann_lifecycle uses and a fully-populated stage split."""
    import math

    from distributedqueryengine_spark.annbench import ivf_build_probe

    r = ivf_build_probe(spark, "/root/testdata/sf0.001", corpus_rows=2000)
    assert r["corpus_rows"] >= 2000
    assert r["n_cells"] == max(16, int(4 * math.sqrt(r["corpus_rows"])))
    assert 0 < r["train_ivf_s"] <= r["build_ivf_s"]
    st = r["ivf_train_stats"]
    assert {"sample_rows", "kmeans_iters", "kmeans_s"} <= set(st)


def test_saved_ivf_index_roundtrip_and_pruned_probe(spark, tables, tmp_path):
    """functions/ann_store.py: a saved IVF index probes identically to
    the in-memory build across a save/load boundary, and the per-batch
    probe reads only the probed cells' files (verified via
    inputFiles), never the whole index."""
    import numpy as np

    from distributedqueryengine_spark.functions import ann_store as AS
    from distributedqueryengine_spark.functions.similarity import (
        build_ivf_index,
        probe_ivf_index,
        train_ivf_centroids,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    centroids = train_ivf_centroids(emb, n_cells=16, sample_per_cell=8)
    idx = build_ivf_index(emb, centroids)
    path = str(tmp_path / "ivf_store")
    AS.save_ivf_index(idx, centroids, path, n_buckets=8)

    # load: centroids bit-identical, index row set identical
    idx2, cent2 = AS.load_ivf_index(spark, path)
    assert np.array_equal(centroids, cent2)
    a = {(r.neighbor_id, r.cell) for r in idx.select("neighbor_id", "cell").collect()}
    b = {(r.neighbor_id, r.cell) for r in idx2.select("neighbor_id", "cell").collect()}
    assert a == b

    queries = emb.filter(F.col("vec_id") % 17 == 0).limit(24)
    mem = {
        (r.query_id, r.neighbor_id, r.cos)
        for r in probe_ivf_index(idx, emb, queries, centroids, 5).collect()
    }
    saved = {
        (r.query_id, r.neighbor_id, r.cos)
        for r in AS.probe_saved_ivf_index(spark, path, queries, 5).collect()
    }
    assert saved == mem and saved

    # pruning: the probe's index slice reads a strict subset of files
    full_files = set(spark.read.parquet(path + "/index").inputFiles())
    from distributedqueryengine_spark.functions.similarity import (
        _nearest_cells_udf,
        as_double,
    )

    qc = _nearest_cells_udf(cent2, 4)
    cells = sorted(
        r["cell"]
        for r in queries.select(F.explode(qc(as_double("embedding"))).alias("cell"))
        .distinct().collect()
    )
    buckets = sorted({c % 8 for c in cells})
    pruned = spark.read.parquet(path + "/index").filter(
        F.col("cell_bucket").isin(buckets) & F.col("cell").isin(cells)
    )
    if len(buckets) < 8:  # the batch usually misses some buckets
        assert set(pruned.inputFiles()) < full_files


def test_saved_ivf_index_rejects_vectorless_and_future_version(spark, tables, tmp_path):
    import pytest as _pytest

    from distributedqueryengine_spark.functions import ann_store as AS
    from distributedqueryengine_spark.functions.similarity import (
        build_ivf_index,
        train_ivf_centroids,
    )

    emb = tables["embeddings"].select("vec_id", "embedding").limit(200)
    centroids = train_ivf_centroids(emb, n_cells=4, sample_per_cell=8)
    bare = build_ivf_index(emb, centroids, with_vectors=False)
    with _pytest.raises(ValueError, match="vector-carrying"):
        AS.save_ivf_index(bare, centroids, str(tmp_path / "x"))

    path = str(tmp_path / "ok")
    AS.save_ivf_index(build_ivf_index(emb, centroids), centroids, path)
    # simulate a future-format index: reader must refuse, not misread
    spark.createDataFrame(
        [(64, 4, 8, True, 99)],
        "dim int, n_cells int, n_buckets int, with_vectors boolean, version int",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/meta")
    with _pytest.raises(ValueError, match="version"):
        AS.load_ivf_index(spark, path)


def test_saved_ivf_index_file_uri(spark, tables, tmp_path):
    """The ann_store layout works on scheme-qualified lake paths (the
    r13 zonemap/monitor-state theme): save, load, and the cell-pruned
    probe all through a file: URI."""
    import numpy as np

    from distributedqueryengine_spark.functions import ann_store as AS
    from distributedqueryengine_spark.functions.similarity import (
        build_ivf_index,
        probe_ivf_index,
        train_ivf_centroids,
    )

    emb = tables["embeddings"].select("vec_id", "embedding").limit(400)
    centroids = train_ivf_centroids(emb, n_cells=8, sample_per_cell=8)
    idx = build_ivf_index(emb, centroids)
    uri = "file://" + str(tmp_path / "ivf_uri")
    AS.save_ivf_index(idx, centroids, uri, n_buckets=4)
    idx2, cent2 = AS.load_ivf_index(spark, uri)
    assert np.array_equal(centroids, cent2)
    queries = emb.limit(8)
    mem = {
        (r.query_id, r.neighbor_id, r.cos)
        for r in probe_ivf_index(idx, emb, queries, centroids, 3).collect()
    }
    got = {
        (r.query_id, r.neighbor_id, r.cos)
        for r in AS.probe_saved_ivf_index(spark, uri, queries, 3).collect()
    }
    assert got == mem and got


def test_saved_ivf_probe_with_preloaded_centroids(spark, tables, tmp_path):
    """A probe-many service loads centroids once and passes them back
    in; results must equal the self-loading path exactly."""
    import numpy as np  # noqa: F401

    from distributedqueryengine_spark.functions import ann_store as AS
    from distributedqueryengine_spark.functions.similarity import (
        build_ivf_index,
        train_ivf_centroids,
    )

    emb = tables["embeddings"].select("vec_id", "embedding").limit(500)
    centroids = train_ivf_centroids(emb, n_cells=8, sample_per_cell=8)
    path = str(tmp_path / "ivf_pre")
    AS.save_ivf_index(build_ivf_index(emb, centroids), centroids, path, n_buckets=4)
    _, cent2 = AS.load_ivf_index(spark, path)
    queries = emb.limit(10)
    a = {tuple(r) for r in AS.probe_saved_ivf_index(spark, path, queries, 3).collect()}
    b = {
        tuple(r)
        for r in AS.probe_saved_ivf_index(
            spark, path, queries, 3, centroids=cent2, n_buckets=4
        ).collect()
    }
    assert a == b and a


def test_ivf_append_equals_fresh_build(spark, tables, tmp_path):
    """r14 incremental maintenance: probing a (saved + appended) index
    returns EXACTLY the rows of a fresh full build over the combined
    corpus with the same centroids — appends extend the layout, never
    change semantics — and the pre-append baseline occupancy plus
    meta stay intact."""
    import numpy as np

    from distributedqueryengine_spark.functions import ann_store as AS
    from distributedqueryengine_spark.functions.similarity import (
        build_ivf_index,
        train_ivf_centroids,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    base_c = emb.filter(F.col("vec_id") % 3 != 0)   # initial corpus
    newc = emb.filter(F.col("vec_id") % 3 == 0)     # ingested batch
    centroids = train_ivf_centroids(base_c, n_cells=16, sample_per_cell=8)

    path = str(tmp_path / "ivf_inc")
    AS.save_ivf_index(build_ivf_index(base_c, centroids), centroids, path,
                      n_buckets=8)
    occ_before = {
        r["cell"]: r["n"]
        for r in spark.read.parquet(path + "/occupancy").collect()
    }
    touched = AS.append_to_ivf_index(path, newc)
    assert touched >= 1

    path2 = str(tmp_path / "ivf_full")
    AS.save_ivf_index(build_ivf_index(emb, centroids), centroids, path2,
                      n_buckets=8)

    queries = emb.filter(F.col("vec_id") % 13 == 0).limit(24)
    inc = {
        (r.query_id, r.neighbor_id, r.cos)
        for r in AS.probe_saved_ivf_index(spark, path, queries, 5).collect()
    }
    full = {
        (r.query_id, r.neighbor_id, r.cos)
        for r in AS.probe_saved_ivf_index(spark, path2, queries, 5).collect()
    }
    assert inc == full and inc
    # centroids and the build-time baseline are untouched by appends
    _, cent_after = AS.load_ivf_index(spark, path)
    assert np.array_equal(centroids, cent_after)
    occ_after = {
        r["cell"]: r["n"]
        for r in spark.read.parquet(path + "/occupancy").collect()
    }
    assert occ_after == occ_before


def test_ivf_staleness_fires_on_planted_shift(spark, tables, tmp_path):
    """r14 staleness signal: appending a batch concentrated in one
    region moves the occupancy distribution — tvd rises and `retrain`
    fires — while a no-append index reads as fresh (tvd = 0)."""
    from distributedqueryengine_spark.functions import ann_store as AS
    from distributedqueryengine_spark.functions.similarity import (
        build_ivf_index,
        train_ivf_centroids,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    centroids = train_ivf_centroids(emb, n_cells=16, sample_per_cell=8)
    path = str(tmp_path / "ivf_drift")
    AS.save_ivf_index(build_ivf_index(emb, centroids), centroids, path,
                      n_buckets=8)

    fresh = AS.ivf_index_staleness(spark, path)
    assert fresh["tvd"] == 0.0 and fresh["growth"] == 0.0
    assert not fresh["retrain"]

    # planted shift: clone ONE existing vector many times with new ids
    # — every appended row lands in a single cell
    donor = emb.limit(1).collect()[0]
    n0 = fresh["n_base"]
    shift = spark.createDataFrame(
        [(10_000_000 + i, donor["embedding"]) for i in range(n0)],
        "vec_id long, embedding array<float>",
    )
    AS.append_to_ivf_index(path, shift)
    stale = AS.ivf_index_staleness(spark, path)
    assert stale["n_now"] == 2 * n0
    assert stale["tvd"] > 0.2 and stale["retrain"]
    assert stale["max_cell_share"] > 0.5


def test_ivf_staleness_empty_index_raises(spark, tmp_path):
    """r15: staleness over an empty/corrupt occupancy baseline raises
    a diagnosable ValueError, not ZeroDivisionError."""
    import pyspark.sql.functions as F

    from distributedqueryengine_spark.functions import ann_store as AS

    path = str(tmp_path / "ivf_empty")
    # fabricate a v2 layout whose occupancy sums to zero
    spark.createDataFrame([(0, 0)], "cell int, n long").filter(
        F.lit(False)
    ).write.parquet(path + "/occupancy")
    spark.createDataFrame([(0,)], "cell int").write.parquet(path + "/index")
    spark.createDataFrame(
        [(2,)], "version int"
    ).coalesce(1).write.mode("overwrite").parquet(path + "/meta")
    try:
        AS.ivf_index_staleness(spark, path)
    except ValueError as e:
        assert "empty" in str(e)
    except Exception as e:  # pragma: no cover
        raise AssertionError(f"expected ValueError, got {type(e)}") from e
    else:  # pragma: no cover
        raise AssertionError("expected ValueError")


def test_ivf_compaction_preserves_probe_and_prunes(spark, tables, tmp_path):
    """r15 lifecycle: after several appends fragment the cell-bucketed
    layout, compact_ivf_index must (a) reduce the data-file count,
    (b) leave probe results bit-identical, and (c) keep probes
    cell-bucket-pruned (inputFiles() touches only probed buckets)."""
    import glob

    from distributedqueryengine_spark.functions import ann_store as AS
    from distributedqueryengine_spark.functions.similarity import (
        build_ivf_index,
        train_ivf_centroids,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    base_c = emb.filter(F.col("vec_id") % 4 == 0)
    centroids = train_ivf_centroids(base_c, n_cells=16, sample_per_cell=8)
    path = str(tmp_path / "ivf_cmp")
    AS.save_ivf_index(build_ivf_index(base_c, centroids), centroids, path,
                      n_buckets=4)
    for m in (1, 2, 3):  # three append batches -> small files pile up
        AS.append_to_ivf_index(path, emb.filter(F.col("vec_id") % 4 == m))

    def data_files():
        return [f for f in glob.glob(path + "/index/**/*.parquet",
                                     recursive=True)]

    queries = emb.filter(F.col("vec_id") % 13 == 0).limit(24)
    before_files = len(data_files())
    before = {
        (r.query_id, r.neighbor_id, r.cos)
        for r in AS.probe_saved_ivf_index(spark, path, queries, 5).collect()
    }
    stats = AS.compact_ivf_index(spark, path, target_file_mb=128)
    after_files = len(data_files())
    assert after_files < before_files, (before_files, after_files, stats)
    assert stats["partitions_compacted"] >= 1
    after = {
        (r.query_id, r.neighbor_id, r.cos)
        for r in AS.probe_saved_ivf_index(spark, path, queries, 5).collect()
    }
    assert after == before and after
    # pruning still static after the rewrite: the probe's index scan
    # plans a PartitionFilters entry on cell_bucket (partition dirs
    # survived the swap) and a pushed cell filter for row-group stats
    pruned = spark.read.parquet(path + "/index").filter(
        F.col("cell_bucket").isin([2, 3]) & F.col("cell").isin([2, 3, 6, 7])
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_bucket" in plan, plan
    assert "PushedFilters" in plan and "cell" in plan, plan


def test_ivf_auto_compaction_and_staleness_flag(spark, tables, tmp_path):
    """r16 lifecycle closure: the append path can watch its OWN
    fragmentation — staleness reports max_files_per_bucket /
    needs_compaction, and an append with auto_compact_files_per_bucket
    set compacts in place once a bucket crosses the threshold, with
    probe results bit-identical through the whole sequence."""
    import glob

    from distributedqueryengine_spark.functions import ann_store as AS
    from distributedqueryengine_spark.functions.similarity import (
        build_ivf_index,
        train_ivf_centroids,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    base_c = emb.filter(F.col("vec_id") % 4 == 0)
    centroids = train_ivf_centroids(base_c, n_cells=16, sample_per_cell=8)
    path = str(tmp_path / "ivf_auto")
    AS.save_ivf_index(build_ivf_index(base_c, centroids), centroids, path,
                      n_buckets=4)
    frag0 = AS.index_fragmentation(spark, path + "/index")
    assert frag0 and all(k.startswith("cell_bucket=") for k in frag0)

    # two appends below the threshold: flagged but not compacted
    for m in (1, 2):
        AS.append_to_ivf_index(
            path, emb.filter(F.col("vec_id") % 4 == m),
            auto_compact_files_per_bucket=10_000,
        )
    rep = AS.ivf_index_staleness(spark, path, files_per_bucket_threshold=1)
    assert rep["max_files_per_bucket"] > 1 and rep["needs_compaction"]
    assert not AS.ivf_index_staleness(
        spark, path, files_per_bucket_threshold=10_000
    )["needs_compaction"]

    queries = emb.filter(F.col("vec_id") % 13 == 0).limit(24)
    before = {
        (r.query_id, r.neighbor_id, r.cos)
        for r in AS.probe_saved_ivf_index(spark, path, queries, 5).collect()
    }
    n_before = len(glob.glob(path + "/index/**/*.parquet", recursive=True))
    # threshold-crossing append triggers the in-place auto-compact
    AS.append_to_ivf_index(
        path, emb.filter(F.col("vec_id") % 4 == 3),
        auto_compact_files_per_bucket=1,
    )
    n_after = len(glob.glob(path + "/index/**/*.parquet", recursive=True))
    assert n_after < n_before + 4, (n_before, n_after)
    after = {
        (r.query_id, r.neighbor_id, r.cos)
        for r in AS.probe_saved_ivf_index(spark, path, queries, 5).collect()
    }
    # the appended batch only ADDS candidate rows; the pre-append
    # queries' neighbors must still be found identically or better —
    # compare against a fresh full build for exactness
    path2 = str(tmp_path / "ivf_auto_full")
    AS.save_ivf_index(build_ivf_index(emb, centroids), centroids, path2,
                      n_buckets=4)
    full = {
        (r.query_id, r.neighbor_id, r.cos)
        for r in AS.probe_saved_ivf_index(spark, path2, queries, 5).collect()
    }
    assert after == full and after
