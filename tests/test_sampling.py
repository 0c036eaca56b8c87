"""Weighted-sampling tests (functions/sampling.py): determinism, exact
size, weight-proportional inclusion, and degenerate-weight handling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributedqueryengine_spark.functions.sampling import weighted_sample_n


@pytest.fixture(scope="module")
def weighted(spark):
    # 2000 light rows (w=1) and 2000 heavy rows (w=9)
    rows = [(i, 1.0 if i < 2000 else 9.0) for i in range(4000)]
    return spark.createDataFrame(rows, "id long, w double").persist()


def test_weighted_sample_deterministic_exact_size(weighted):
    s1 = {r.id for r in weighted_sample_n(weighted, "w", 400, ["id"]).collect()}
    s2 = {r.id for r in weighted_sample_n(weighted, "w", 400, ["id"]).collect()}
    assert s1 == s2 and len(s1) == 400
    s3 = {r.id for r in weighted_sample_n(weighted, "w", 400, ["id"], seed=7).collect()}
    assert s3 != s1  # a different seed draws a different sample


def test_weighted_sample_overrepresents_heavy(weighted):
    got = weighted_sample_n(weighted, "w", 400, ["id"]).collect()
    heavy = sum(1 for r in got if r.w == 9.0)
    light = len(got) - heavy
    # equal populations, 9x weight: heavy inclusion must dominate hard
    # (ES inclusion odds ratio ~ w ratio at small sampling fractions)
    assert heavy > 4 * light, (heavy, light)
    assert light > 0  # ...but light rows are not excluded outright


def test_weighted_sample_ignores_nonpositive_and_null(spark):
    rows = [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 5.0)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = {r.id for r in weighted_sample_n(df, "w", 10, ["id"]).collect()}
    assert got == {1, 5}  # only positive-weight rows, even when n > |eligible|


def test_weighted_sample_guards(spark):
    df = spark.createDataFrame([(1, 1.0)], "id long, w double")
    with pytest.raises(ValueError, match="positive"):
        weighted_sample_n(df, "w", 0, ["id"])
    with pytest.raises(ValueError, match="key_cols"):
        weighted_sample_n(df, "w", 1, [])


def test_leakage_safe_split_keeps_clusters_together(spark, tables):
    """Near-duplicate pairs must land in the SAME split; fractions hold
    approximately; the split is deterministic; and a planted near-dup
    pair that a naive id-hash split separates stays together here."""
    from pyspark.sql import functions as F

    from distributedqueryengine_spark.functions.dedup import (
        minhash_near_duplicates,
    )
    from distributedqueryengine_spark.functions.sampling import (
        leakage_safe_split,
    )

    base = tables["documents"].select("doc_id", "text").limit(300)
    # plant 30 near-identical copies under distant ids
    copies = base.limit(30).select(
        (F.col("doc_id") + 700_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzyextra")).alias("text"),
    )
    docs = base.unionByName(copies).persist()

    out = leakage_safe_split(docs, "doc_id", "text").persist()
    split_of = {r.doc_id: r.split for r in out.collect()}
    assert set(split_of) == {r.doc_id for r in docs.collect()}

    pairs = minhash_near_duplicates(docs, "doc_id", "text", min_jaccard=0.5).collect()
    assert len(pairs) >= 30
    for p in pairs:
        assert split_of[p.id_a] == split_of[p.id_b], (p.id_a, p.id_b)

    # fractions approximately hold over CLUSTERS (binomial slack)
    n = len(split_of)
    train_frac = sum(1 for s in split_of.values() if s == "train") / n
    assert 0.65 < train_frac < 0.95

    again = {
        r.doc_id: r.split
        for r in leakage_safe_split(docs, "doc_id", "text").collect()
    }
    assert again == split_of  # deterministic

    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive"):
        leakage_safe_split(docs, "doc_id", "text", fractions={"a": 0.0})
    out.unpersist()
    docs.unpersist()


def test_leakage_safe_split_embeddings(spark, tables):
    """Planted near-identical embeddings (tiny perturbations under
    distant ids) must land in the SAME split; determinism holds."""
    from pyspark.sql import functions as F

    from distributedqueryengine_spark.functions.sampling import (
        leakage_safe_split_embeddings,
    )
    from distributedqueryengine_spark.functions.similarity import (
        cosine_pairs_above_scaled,
    )

    base = tables["embeddings"].select("vec_id", "embedding").limit(300)
    near = base.limit(25).select(
        (F.col("vec_id") + 800_000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x * 1.0001
        ).cast("array<float>").alias("embedding"),
    )
    emb = base.unionByName(near).persist()

    out = leakage_safe_split_embeddings(emb, "vec_id", "embedding", dim=64, tau=0.99)
    split_of = {r.vec_id: r.split for r in out.collect()}
    assert set(split_of) == {r.vec_id for r in emb.collect()}

    pairs = cosine_pairs_above_scaled(emb, 0.99, 64).collect()
    assert len(pairs) >= 25
    for p in pairs:
        assert split_of[p.id_a] == split_of[p.id_b], (p.id_a, p.id_b)
    again = {
        r.vec_id: r.split
        for r in leakage_safe_split_embeddings(
            emb, "vec_id", "embedding", dim=64, tau=0.99
        ).collect()
    }
    assert again == split_of
    emb.unpersist()


# --------------------------------------------------------------------------
# select_until_budget (r13): maximal-prefix token-budget selection
# --------------------------------------------------------------------------

def _py_budget(rows, budget):
    """(id, score, w) rows -> selected [(id, score, w, cum)] reference."""
    out, cum = [], 0
    for i, s, w in sorted(rows, key=lambda r: (-r[1], r[0])):
        cum += w
        if cum > budget:
            break
        out.append((i, s, w, cum))
    return out


def test_budget_matches_python_reference_randomized(spark):
    import random

    from distributedqueryengine_spark.functions.sampling import (
        select_until_budget,
    )

    for seed in range(6):
        rng = random.Random(seed)
        n = rng.randint(1, 400)
        rows = [
            (i, round(rng.random() * rng.choice([1, 1, 5]), 2), rng.randint(1, 50))
            for i in range(n)
        ]
        budget = rng.randint(0, sum(w for _, _, w in rows))
        df = spark.createDataFrame(rows, "id long, score double, w long")
        got = sorted(
            (r["id"], r["score"], r["weight"], r["cum"])
            for r in select_until_budget(df, budget, n_buckets=7).collect()
        )
        assert got == sorted(_py_budget(rows, budget)), f"seed {seed}"


def test_budget_all_scores_equal_uses_id_order(spark):
    from distributedqueryengine_spark.functions.sampling import (
        select_until_budget,
    )

    rows = [(i, 1.0, 10) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, score double, w long")
    got = select_until_budget(df, 55, n_buckets=4).collect()
    # ids 0..4 fit (50 tokens); id 5 would overflow to 60
    assert sorted(r["id"] for r in got) == [0, 1, 2, 3, 4]
    assert max(r["cum"] for r in got) == 50


def test_budget_boundary_and_empty(spark):
    from distributedqueryengine_spark.functions.sampling import (
        select_until_budget,
    )

    df = spark.createDataFrame(
        [(1, 0.9, 5), (2, 0.8, 5), (3, 0.7, 5)], "id long, score double, w long"
    )
    assert select_until_budget(df, 0).count() == 0  # nothing fits
    exact = select_until_budget(df, 15).collect()  # exactly all
    assert sorted(r["id"] for r in exact) == [1, 2, 3]
    empty = spark.createDataFrame([], "id long, score double, w long")
    out = select_until_budget(empty, 100)
    assert out.count() == 0
    assert out.columns == ["id", "score", "weight", "cum"]


def test_budget_big_first_doc_blocks_prefix(spark):
    """Strict-prefix semantics: an oversized best doc blocks everything
    after it (this is take-until-overflow, not knapsack skip)."""
    from distributedqueryengine_spark.functions.sampling import (
        select_until_budget,
    )

    df = spark.createDataFrame(
        [(1, 0.9, 1000), (2, 0.8, 5)], "id long, score double, w long"
    )
    assert select_until_budget(df, 100).count() == 0


# --------------------------------------------------------------------------
# temperature_mixture_rates + training_order (r13)
# --------------------------------------------------------------------------

def test_temperature_rates_match_python(spark):
    import math

    from distributedqueryengine_spark.functions.sampling import (
        temperature_mixture_rates,
    )

    counts = {"big": 800, "mid": 150, "small": 50}
    rows = [(g, i) for g, n in counts.items() for i in range(n)]
    df = spark.createDataFrame(rows, "src string, id long")
    for T in (1.0, 2.0, 5.0, 0.5):
        got = {r["group"]: (r["n_rows"], r["p_target"], r["rate"])
               for r in temperature_mixture_rates(df, "src", T).collect()}
        z = sum(n ** (1.0 / T) for n in counts.values())
        tot = sum(counts.values())
        for g, n in counts.items():
            p = n ** (1.0 / T) / z
            assert got[g][0] == n
            assert abs(got[g][1] - round(p, 6)) < 1e-9, (T, g)
            assert abs(got[g][2] - round(min(p * tot / n, 1.0), 6)) < 1e-9
    # T=1 reproduces natural proportions: every rate is exactly 1.0
    nat = temperature_mixture_rates(df, "src", 1.0).collect()
    assert all(r["rate"] == 1.0 for r in nat)
    # higher T downweights the head, upweights (capped) the tail
    t5 = {r["group"]: r["rate"]
          for r in temperature_mixture_rates(df, "src", 5.0).collect()}
    assert t5["big"] < 1.0 and t5["small"] == 1.0


def test_temperature_rates_guards(spark):
    import pytest as _pytest

    from distributedqueryengine_spark.functions.sampling import (
        temperature_mixture_rates,
    )

    df = spark.createDataFrame([("a", 1)], "src string, id long")
    with _pytest.raises(ValueError):
        temperature_mixture_rates(df, "src", 0.0)


def test_training_order_permutation_and_determinism(spark):
    from distributedqueryengine_spark.functions.sampling import training_order

    df = spark.createDataFrame([(i,) for i in range(200)], "doc long")
    a = training_order(df, "doc", n_epochs=3, seed=7).collect()
    b = training_order(df, "doc", n_epochs=3, seed=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    by_epoch: dict[int, list] = {}
    for r in a:
        by_epoch.setdefault(r["epoch"], []).append((r["pos"], r["id"]))
    assert set(by_epoch) == {0, 1, 2}
    orders = []
    for e, rows in by_epoch.items():
        rows.sort()
        assert [p for p, _ in rows] == list(range(200))  # complete 0..n-1
        assert len({i for _, i in rows}) == 200           # a permutation
        orders.append(tuple(i for _, i in rows))
    assert len(set(orders)) == 3  # epochs reshuffle
    c = training_order(df, "doc", n_epochs=1, seed=8).collect()
    assert tuple(r["id"] for r in sorted(c, key=lambda r: r["pos"])) != orders[0]


def test_training_order_curriculum_first_epochs_sorted(spark):
    from distributedqueryengine_spark.functions.sampling import training_order

    rows = [(i, float(i % 10)) for i in range(100)]
    df = spark.createDataFrame(rows, "doc long, difficulty double")
    out = training_order(
        df, "doc", n_epochs=2, seed=3,
        curriculum_col="difficulty", curriculum_epochs=1,
    ).collect()
    difficulty = {i: float(i % 10) for i in range(100)}
    e0 = [difficulty[r["id"]] for r in sorted(
        (r for r in out if r["epoch"] == 0), key=lambda r: r["pos"])]
    assert e0 == sorted(e0)  # curriculum epoch: easy -> hard
    e1 = [difficulty[r["id"]] for r in sorted(
        (r for r in out if r["epoch"] == 1), key=lambda r: r["pos"])]
    assert e1 != sorted(e1)  # later epoch: fully shuffled


def test_budget_null_and_nan_rows_dropped(spark):
    from distributedqueryengine_spark.functions.sampling import (
        select_until_budget,
    )

    rows = [
        (1, 0.9, 10),
        (2, None, 10),            # null score: unrankable
        (3, float("nan"), 10),    # NaN score: unrankable
        (4, 0.8, None),           # null weight: unsummable
        (5, 0.7, 10),
    ]
    df = spark.createDataFrame(rows, "id long, score double, w long")
    got = sorted(r["id"] for r in select_until_budget(df, 100).collect())
    assert got == [1, 5]


def test_apply_mixture_rates_exact_quotas_and_determinism(spark):
    from distributedqueryengine_spark.functions.sampling import (
        apply_mixture_rates,
        temperature_mixture_rates,
    )

    counts = {"big": 400, "mid": 100, "small": 20}
    rows = [(g, g + str(i)) for g, n in counts.items() for i in range(n)]
    df = spark.createDataFrame(
        [(g, i, k) for i, (g, k) in enumerate(rows)],
        "src string, id long, key string",
    )
    rates = temperature_mixture_rates(df, "src", temperature=3.0)
    out = apply_mixture_rates(df, rates, "src", "id", seed=5)
    got = {r["src"]: 0 for r in out.select("src").distinct().collect()}
    for r in out.groupBy("src").count().collect():
        got[r["src"]] = r["count"]
    rmap = {r["group"]: r["rate"] for r in rates.collect()}
    import math

    for g, n in counts.items():
        assert got[g] == math.ceil(rmap[g] * n), g
    # deterministic: identical selection on rerun
    a = sorted(r["id"] for r in out.collect())
    b = sorted(
        r["id"] for r in apply_mixture_rates(df, rates, "src", "id", seed=5).collect()
    )
    assert a == b
    # different seed selects a different (same-sized) subset
    c = sorted(
        r["id"] for r in apply_mixture_rates(df, rates, "src", "id", seed=6).collect()
    )
    assert len(c) == len(a) and c != a


def test_apply_mixture_rates_edge_rates(spark):
    from distributedqueryengine_spark.functions.sampling import (
        apply_mixture_rates,
    )

    df = spark.createDataFrame(
        [("a", i) for i in range(10)] + [("b", 100 + i) for i in range(10)],
        "src string, id long",
    )
    rates = spark.createDataFrame(
        [("a", 1.0)], "group string, rate double"  # b absent → dropped
    )
    out = apply_mixture_rates(df, rates, "src", "id")
    assert sorted(r["id"] for r in out.collect()) == list(range(10))


# --------------------------------------------------------------------------
# r14: tie-skew + native-id-type contracts for select_until_budget
# --------------------------------------------------------------------------

def test_budget_tie_skew_dominant_score(spark):
    """40%-of-the-corpus-scores-exactly-0.0 shape (the r13 verdict's
    realistic quality-heuristic distribution): the tied mass must rank
    through balanced refined segments and still produce the exact
    maximal prefix."""
    import random

    from distributedqueryengine_spark.functions.sampling import (
        select_until_budget,
    )

    rng = random.Random(11)
    rows = []
    for i in range(3000):
        s = 0.0 if rng.random() < 0.4 else round(rng.random(), 3)
        rows.append((i, s, rng.randint(1, 5)))
    budget = sum(w for _, _, w in rows) * 2 // 3
    df = spark.createDataFrame(rows, "id long, score double, w long")
    got = sorted(
        (r["id"], r["score"], r["weight"], r["cum"])
        for r in select_until_budget(
            df, budget, n_buckets=16, min_heavy=64).collect()
    )
    assert got == sorted(_py_budget(rows, budget))


def test_budget_string_ids_native_type(spark):
    """r13 ADVICE: the old implementation cast ids to long and silently
    dropped every row with a string id (empty selection). Native-typed
    ids must now select correctly, ties ordered by string id."""
    from distributedqueryengine_spark.functions.sampling import (
        select_until_budget,
    )

    rows = [(f"doc-{i:04d}", 1.0, 10) for i in range(100)]
    df = spark.createDataFrame(rows, "id string, score double, w long")
    got = select_until_budget(df, 55, min_heavy=64).collect()
    assert sorted(r["id"] for r in got) == [f"doc-{i:04d}" for i in range(5)]
    assert max(r["cum"] for r in got) == 50
    assert dict(df.dtypes)["id"] == "string"
    assert {type(r["id"]) for r in got} == {str}


def test_sample_budget_oracle_parity_with_blank_docs(spark, tmp_path):
    """r13 ADVICE: blank text made the sample_budget oracle diverge
    (DuckDB split('') is [''] len 1; Spark token_count is 0). The
    oracle now carries the same blank-guard as pack_sequences — pin
    the parity on a planted corpus WITH blank/whitespace docs."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributedqueryengine_spark.oracles import ORACLES
    from distributedqueryengine_spark.queries import q_sample_budget

    rows = [
        (1, "the cat sat on the mat and it was a fine day for all of us", "en"),
        (2, "", "en"),
        (3, "   ", "xx"),
        (4, "short text with a few words in it for the test", "en"),
        (5, "another document of reasonable prose that is long enough", "xx"),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows]),
                "lang": pa.array([r[2] for r in rows]),
                "source": pa.array(["s1"] * len(rows)),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    got = sorted(
        (r["doc_id"], r["lang"], round(r["quality"], 4), r["cum_tokens"])
        for r in q_sample_budget(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    ref = sorted(
        (r[0], r[1], round(r[2], 4), r[3])
        for r in con.execute(ORACLES["sample_budget"]).fetchall()
    )
    # all five docs fit the 8000-token budget, so the blank docs ARE in
    # the compared output — the pre-fix oracle diverges on them
    assert len(got) == 5
    assert got == ref


def test_apply_mixture_bucketed_equals_window_path(spark):
    """r14: the driver-bounded two-phase mixture rank (hash-range
    sub-buckets per group — no corpus-through-#groups-tasks window)
    must return EXACTLY the window path's rows, including quota
    boundaries, empty groups, rate >= 1, and absent-group drops."""
    import random

    from distributedqueryengine_spark.functions.sampling import (
        apply_mixture_rates,
    )

    rng = random.Random(5)
    rows = [(i, f"src{rng.randint(0, 4)}") for i in range(800)]
    df = spark.createDataFrame(rows, "id long, g string")
    rates = spark.createDataFrame(
        [("src0", 0.25), ("src1", 1.0), ("src2", 1.5), ("src3", 0.001)],
        "group string, rate double",
    )  # src4 absent → dropped entirely
    bucketed = apply_mixture_rates(df, rates, "g", "id", seed=7)
    windowed = apply_mixture_rates(
        df, rates, "g", "id", seed=7, max_driver_groups=0
    )
    a = sorted((r["id"], r["g"]) for r in bucketed.collect())
    b = sorted((r["id"], r["g"]) for r in windowed.collect())
    assert a == b and a
    # exact quotas per group
    from collections import Counter
    import math as _m

    n_by_g = Counter(g for _, g in rows)
    got_by_g = Counter(g for _, g in a)
    assert got_by_g["src0"] == _m.ceil(0.25 * n_by_g["src0"])
    assert got_by_g["src1"] == n_by_g["src1"]
    assert got_by_g["src2"] == n_by_g["src2"]  # rate >= 1 keeps all
    assert got_by_g["src3"] == 1               # ceil(0.001 · n) = 1
    assert "src4" not in got_by_g


def test_apply_mixture_no_group_window_in_plan(spark):
    """The two-phase path's plan must not window-partition by the bare
    group column (the #groups-tasks hot shape) — only by
    (group, sub-bucket)."""
    from distributedqueryengine_spark.functions.sampling import (
        apply_mixture_rates,
    )

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(300)], "id long, g string"
    )
    rates = spark.createDataFrame(
        [(f"s{j}", 0.5) for j in range(3)], "group string, rate double"
    )
    out = apply_mixture_rates(df, rates, "g", "id", seed=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = [p.strip() for p in spec.split(",")[:2]]
        assert any("__mb" in h for h in head), spec


def test_curriculum_epoch_no_single_partition_window(spark):
    """r14: curriculum epochs rank through the skew-adaptive segment
    machinery — the plan must not contain a SinglePartition exchange
    (the old per-epoch global window), and a FEW-distinct-levels
    difficulty column (maximally tie-heavy) must still order
    easy→hard with a deterministic within-level shuffle."""
    from distributedqueryengine_spark.functions.sampling import training_order

    rows = [(i, float(i % 3)) for i in range(900)]
    df = spark.createDataFrame(rows, "doc long, difficulty double")
    out = training_order(
        df, "doc", n_epochs=1, seed=11,
        curriculum_col="difficulty", curriculum_epochs=1,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    got = out.collect()
    assert sorted(r["pos"] for r in got) == list(range(900))
    by_pos = [r["id"] for r in sorted(got, key=lambda r: r["pos"])]
    levels = [i % 3 for i in by_pos]
    assert levels == sorted(levels)  # easy -> hard, every tied level
    # deterministic: same seed reproduces the identical order
    again = training_order(
        df, "doc", n_epochs=1, seed=11,
        curriculum_col="difficulty", curriculum_epochs=1,
    ).collect()
    assert {(r["id"], r["pos"]) for r in again} == {
        (r["id"], r["pos"]) for r in got
    }
    # and within a level the order is shuffled, not id order
    lvl0 = [i for i in by_pos if i % 3 == 0]
    assert lvl0 != sorted(lvl0)


def test_grouped_budget_matches_per_group_python(spark):
    """select_until_budget_grouped: each group's selection must equal
    the python maximal-prefix reference for that group's budget;
    unbudgeted groups select nothing; budget 0 selects nothing."""
    import random

    from distributedqueryengine_spark.functions.sampling import (
        select_until_budget_grouped,
    )

    rng = random.Random(17)
    rows = [
        (i, f"lang{rng.randint(0, 3)}", round(rng.random(), 3),
         rng.randint(1, 20))
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "id long, lang string, score double, w long")
    budgets = {"lang0": 400, "lang1": 0, "lang2": 10_000_000}
    got = {}
    for r in select_until_budget_grouped(
        df, budgets, group_col="lang", min_heavy=64
    ).collect():
        got.setdefault(r["lang"], []).append(
            (r["id"], r["score"], r["weight"], r["cum"])
        )
    for g, budget in budgets.items():
        grows = [(i, s, w) for i, lg, s, w in rows if lg == g]
        exp = _py_budget(grows, budget)
        assert sorted(got.get(g, [])) == sorted(exp), g
    assert "lang3" not in got          # unbudgeted → nothing
    assert "lang1" not in got          # zero budget → nothing
    assert len(got["lang2"]) == sum(1 for r in rows if r[1] == "lang2")


def test_grouped_budget_group_cap(spark):
    from distributedqueryengine_spark.functions.sampling import (
        select_until_budget_grouped,
    )

    df = spark.createDataFrame([(1, "a", 1.0, 1)], "id long, g string, score double, w long")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_driver_groups"):
        select_until_budget_grouped(
            df, {f"g{i}": 1 for i in range(99)}, group_col="g",
            max_driver_groups=10,
        )


def test_grouped_budget_job_count_independent_of_groups(spark):
    """r15 single-pass contract: the number of Spark jobs
    select_until_budget_grouped schedules must NOT scale with the
    number of budgeted groups (the r14 driver loop paid per-group
    stats + window jobs). Same data, same rows-per-group — only the
    group count differs."""
    from distributedqueryengine_spark.functions.sampling import (
        select_until_budget_grouped,
    )

    sc = spark.sparkContext

    def jobs_for(n_groups):
        rows = [
            (g * 1000 + i, f"g{g}", float((i * 7) % 13), 1 + (i % 5))
            for g in range(n_groups)
            for i in range(50)
        ]
        df = spark.createDataFrame(rows, "id long, g string, score double, w long")
        budgets = {f"g{g}": 60 for g in range(n_groups)}
        group = f"grouped_budget_jobs_{n_groups}"
        sc.setJobGroup(group, "grouped budget job-count probe")
        try:
            select_until_budget_grouped(df, budgets, group_col="g").collect()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        j2, j8 = jobs_for(2), jobs_for(8)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert j2 == j8, (j2, j8)


def test_grouped_budget_refinement_path_matches(spark):
    """Tie-heavy corpus across several groups with a tiny min_heavy so
    the (group, segment) refinement actually fires: results must still
    equal the per-group python reference (boundaries move load, never
    values), and heavy tied cells must have been split."""
    import random

    from distributedqueryengine_spark.functions.sampling import (
        select_until_budget_grouped,
    )

    rng = random.Random(5)
    rows = []
    for g in range(3):
        for i in range(400):
            # 70% of each group tied at score 0.0 — the adversarial
            # quality-heuristic distribution
            score = 0.0 if rng.random() < 0.7 else round(rng.random(), 3)
            rows.append((g * 10_000 + i, f"lang{g}", score, rng.randint(1, 9)))
    df = spark.createDataFrame(rows, "id long, lang string, score double, w long")
    budgets = {"lang0": 700, "lang1": 1200, "lang2": 10_000_000}
    got = {}
    out = select_until_budget_grouped(
        df, budgets, group_col="lang", n_buckets=8, min_heavy=32
    )
    for r in out.collect():
        got.setdefault(r["lang"], []).append(
            (r["id"], r["score"], r["weight"], r["cum"])
        )
    for g, budget in budgets.items():
        grows = [(i, s, w) for i, lg, s, w in rows if lg == g]
        assert sorted(got.get(g, [])) == sorted(_py_budget(grows, budget)), g


def test_budget_fractional_weights_double_path(spark):
    """r15 weight-dtype contract: fractional weight columns flow
    through the prefix machinery as double (no silent truncation to
    long) and match the python reference; integral weights still
    return a long cum."""
    import math
    import random

    from distributedqueryengine_spark.functions.sampling import (
        select_until_budget,
        select_until_budget_grouped,
    )

    rng = random.Random(23)
    # weights are multiples of 0.25 and the budget sits 0.1 off any
    # reachable running total, so float addition order can never flip
    # the cutoff
    rows = [
        (i, round(rng.random(), 3), rng.randint(1, 40) * 0.25)
        for i in range(300)
    ]
    budget = 37.6
    df = spark.createDataFrame(rows, "id long, score double, w double")
    sel = select_until_budget(df, budget, n_buckets=7)
    assert dict(sel.dtypes)["cum"] == "double"
    got = sorted(
        (r["id"], r["score"], r["weight"], r["cum"]) for r in sel.collect()
    )
    exp = []
    cum = 0.0
    for i, s, w in sorted(rows, key=lambda r: (-r[1], r[0])):
        cum += w
        if cum > budget:
            break
        exp.append((i, s, w, cum))
    assert len(got) == len(exp)
    for (gi, gs, gw, gc), (ei, es, ew, ec) in zip(got, sorted(exp)):
        assert (gi, gs, gw) == (ei, es, ew)
        assert math.isclose(gc, ec, rel_tol=1e-9), (gi, gc, ec)
    # grouped variant carries the same dtype contract
    gdf = df.withColumn("g", (F.col("id") % 2).cast("string"))
    gsel = select_until_budget_grouped(
        gdf, {"0": 19.6, "1": 11.1}, group_col="g"
    )
    assert dict(gsel.dtypes)["cum"] == "double"
    assert gsel.count() > 0
    # integral path unchanged
    ldf = spark.createDataFrame(
        [(i, float(i), i + 1) for i in range(20)], "id long, score double, w long"
    )
    assert dict(select_until_budget(ldf, 30).dtypes)["cum"] == "bigint"


def test_training_order_rejects_non_numeric_curriculum(spark):
    """r15: a string curriculum that cast("double")s to NULL must fail
    loudly instead of silently degrading to a pure shuffle."""
    from distributedqueryengine_spark.functions.sampling import (
        training_order,
    )

    df = spark.createDataFrame(
        [(1, "easy"), (2, "hard")], "doc long, tier string"
    )
    with pytest.raises(ValueError, match="numeric-castable"):
        training_order(
            df, "doc", n_epochs=1, curriculum_col="tier",
            curriculum_epochs=1,
        )
    # numeric-as-string is castable and fine
    ok = spark.createDataFrame(
        [(1, "1.5"), (2, "0.5")], "doc long, tier string"
    )
    got = training_order(
        ok, "doc", n_epochs=1, curriculum_col="tier", curriculum_epochs=1
    ).collect()
    by_pos = [r["id"] for r in sorted(got, key=lambda r: r["pos"])]
    assert by_pos == [2, 1]


def test_training_order_empty_input_keeps_native_id_type(spark):
    """r15: the empty all-curriculum fallback must carry the input's
    id type (long here), not a hardcoded string."""
    from distributedqueryengine_spark.functions.sampling import (
        training_order,
    )

    df = spark.createDataFrame([], "doc long, difficulty double")
    out = training_order(
        df, "doc", n_epochs=1, curriculum_col="difficulty",
        curriculum_epochs=1,
    )
    assert out.count() == 0
    assert dict(out.dtypes) == {"epoch": "bigint", "id": "bigint",
                                "pos": "bigint"}


def test_apply_mixture_rates_rejects_duplicate_groups(spark):
    """r15: duplicate group rows in `rates` raise on BOTH rank paths
    (driver-dict and window) instead of silently diverging."""
    from distributedqueryengine_spark.functions.sampling import (
        apply_mixture_rates,
    )

    df = spark.createDataFrame(
        [(i, f"s{i % 2}") for i in range(20)], "id long, src string"
    )
    dup = spark.createDataFrame(
        [("s0", 0.5), ("s0", 1.0), ("s1", 0.5)], "group string, rate double"
    )
    with pytest.raises(ValueError, match="duplicate"):
        apply_mixture_rates(df, dup, "src", "id").collect()
    with pytest.raises(ValueError, match="duplicate"):
        apply_mixture_rates(df, dup, "src", "id", max_driver_groups=1).collect()


def test_apply_temperature_mixture_equals_split_form(spark):
    """r15 fused form: apply_temperature_mixture must return EXACTLY
    temperature_mixture_rates ∘ apply_mixture_rates, on skewed group
    sizes, several temperatures, and both seeds."""
    from distributedqueryengine_spark.functions.sampling import (
        apply_mixture_rates,
        apply_temperature_mixture,
        temperature_mixture_rates,
    )

    rows = [(i, f"s{min(i % 10, i % 7, 3)}") for i in range(900)]
    df = spark.createDataFrame(rows, "id long, src string")
    for temp in (0.5, 1.0, 2.0):
        for seed in (0, 9):
            rates = temperature_mixture_rates(
                df.withColumnRenamed("src", "group"), "group",
                temperature=temp,
            )
            split = {(r.id, r.src) for r in apply_mixture_rates(
                df, rates, "src", "id", seed=seed).collect()}
            fused = {(r.id, r.src) for r in apply_temperature_mixture(
                df, "src", "id", temperature=temp, seed=seed).collect()}
            assert fused == split and fused, (temp, seed)


def test_grouped_budget_plan_partitions_by_group_segment(spark):
    """r15 plan pin: the single-pass grouped budget's window
    partitions by (group, segment) — never SinglePartition — so no
    group ever serializes through one task."""
    from distributedqueryengine_spark.functions.sampling import (
        select_until_budget_grouped,
    )

    rows = [(i, f"g{i % 3}", float(i % 13), 1 + (i % 5)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, g string, score double, w long")
    out = select_until_budget_grouped(
        df, {"g0": 100, "g1": 100, "g2": 100}, group_col="g"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(grp" in plan and "__seg" in plan, plan


def test_categorical_curriculum_orders_tiers(spark):
    """r15: string difficulty tiers flow into curriculum epochs via
    categorical_curriculum — easy before medium before hard, unknown
    tiers first (NULL difficulty trains early), and the mapping
    rejects empty/duplicate tier lists."""
    from distributedqueryengine_spark.functions.sampling import (
        categorical_curriculum,
        training_order,
    )

    tiers = ["easy", "medium", "hard"]
    rows = [(i, ["hard", "easy", "??", "medium"][i % 4]) for i in range(120)]
    df = spark.createDataFrame(rows, "doc long, tier string")
    out = training_order(
        df, "doc", n_epochs=1, seed=2,
        curriculum_col=categorical_curriculum("tier", tiers),
        curriculum_epochs=1,
    ).collect()
    by_pos = [r["id"] for r in sorted(out, key=lambda r: r["pos"])]
    lvl = {i: t for i, t in rows}
    seq = [lvl[i] for i in by_pos]
    # unknown first, then easy, medium, hard — each block contiguous
    import itertools
    blocks = [k for k, _ in itertools.groupby(seq)]
    assert blocks == ["??", "easy", "medium", "hard"], blocks
    import pytest as _pytest
    with _pytest.raises(ValueError, match="at least one"):
        categorical_curriculum("tier", [])
    with _pytest.raises(ValueError, match="duplicate"):
        categorical_curriculum("tier", ["a", "a"])


def test_mixture_bounded_collect_fallback_protects_driver(spark):
    """The fused mixture broadcasts groups × n_buckets quota rows, so
    its group catalog is bounded by max_driver_groups inside the plan:
    40 groups over a cap of 8 fail when the plan runs (naming the
    high-cardinality alternative, apply_mixture_rates), and the same
    40 groups under the default cap return the split form's rows."""
    from distributedqueryengine_spark.functions.sampling import (
        apply_mixture_rates,
        apply_temperature_mixture,
        temperature_mixture_rates,
    )

    rows = [(i, f"g{i % 40}") for i in range(400)]
    df = spark.createDataFrame(rows, "id long, src string")
    lo = apply_temperature_mixture(
        df, "src", "id", temperature=0.7, seed=3, max_driver_groups=8
    )
    with pytest.raises(Exception, match="apply_mixture_rates"):
        lo.collect()
    hi = apply_temperature_mixture(df, "src", "id", temperature=0.7, seed=3)
    rates = temperature_mixture_rates(
        df.withColumnRenamed("src", "group"), "group", temperature=0.7
    )
    split = apply_mixture_rates(df, rates, "src", "id", seed=3)
    a = sorted((r["id"], r["src"]) for r in hi.collect())
    b = sorted((r["id"], r["src"]) for r in split.collect())
    assert a == b and a


def test_budget_lazy_prefix_equals_collect_path(spark):
    """r17: the zero-collect lazy prefix plan returns EXACTLY the
    collect path's rows — long and double weight families, ties,
    boundary budgets, empty-group cases."""
    from distributedqueryengine_spark.functions.sampling import (
        select_until_budget,
        select_until_budget_grouped,
    )

    rows = [
        (i, f"g{i % 3}", float((i * 7) % 13) / 3.0, 1 + (i % 5))
        for i in range(700)
    ] + [(900, "g0", 2.0, 3), (901, "g1", 2.0, 3)]  # score ties
    df = spark.createDataFrame(rows, "id long, g string, score double, w long")
    for budget in (0, 1, 57, 400, 10**6):
        a = sorted(
            tuple(r) for r in select_until_budget(
                df, budget, id_col="id", weight_col="w", score_col="score"
            ).collect()
        )
        b = sorted(
            tuple(r) for r in select_until_budget(
                df, budget, id_col="id", weight_col="w", score_col="score",
                lazy_prefix=True,
            ).collect()
        )
        assert a == b, budget
    budgets = {"g0": 120, "g1": 7, "gX": 50}  # gX absent from data
    a = sorted(
        tuple(r) for r in select_until_budget_grouped(
            df, budgets, group_col="g", id_col="id",
            weight_col="w", score_col="score",
        ).collect()
    )
    b = sorted(
        tuple(r) for r in select_until_budget_grouped(
            df, budgets, group_col="g", id_col="id",
            weight_col="w", score_col="score", lazy_prefix=True,
        ).collect()
    )
    assert a == b and a
    # double-weight family keeps the double cum end to end
    dd = df.withColumn("w", df["w"] / 3.0)
    a = sorted(
        tuple(r) for r in select_until_budget(
            dd, 50, id_col="id", weight_col="w", score_col="score"
        ).collect()
    )
    b = sorted(
        tuple(r) for r in select_until_budget(
            dd, 50, id_col="id", weight_col="w", score_col="score",
            lazy_prefix=True,
        ).collect()
    )
    assert a == b and a
