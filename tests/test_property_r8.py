"""Round-8 differentials: TF-IDF top terms, Markov event transitions,
and RFM segmentation, each mirrored by the identical SQL in DuckDB
over the real fixture tables (documents / events / orders)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("documents", "events", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def test_event_transitions_matches_duckdb(spark, tables, duck):
    """First-order transition matrix over real event sequences vs the
    DuckDB lead-window mirror, with and without terminal rows; each
    from_event's outgoing p sums to 1."""
    from distributedqueryengine_spark.operators.timeseries import event_transitions

    ev = tables["events"].select("user_id", "event_id", "ts", "event_type")
    for terminal in (False, True):
        got = list(
            (r.from_event, r.to_event, r.n, r.p)
            for r in event_transitions(
                ev, ["user_id"], "ts", "event_type",
                tiebreak=["event_id"], include_terminal=terminal,
            ).collect()
        )
        where = "" if terminal else "WHERE to_event IS NOT NULL"
        expect = list(
            tuple(r)
            for r in duck.execute(
                f"""
                WITH paired AS (
                  SELECT event_type AS from_event,
                         lead(event_type) OVER (
                             PARTITION BY user_id ORDER BY ts, event_id
                         ) AS to_event
                  FROM events
                ), counts AS (
                  SELECT from_event, to_event, count(*) AS n
                  FROM paired {where} GROUP BY 1, 2
                )
                SELECT from_event, to_event, n,
                       round(n / CAST(sum(n) OVER (PARTITION BY from_event) AS DOUBLE), 6) AS p
                FROM counts
                """
            ).fetchall()
        )

        def nkey(t):
            return tuple((v is None, v) for v in t[:2])

        got = sorted(got, key=nkey)
        expect = sorted(expect, key=nkey)
        assert [g[:3] for g in got] == [e[:3] for e in expect], terminal
        assert all(abs(g[3] - e[3]) <= 1e-6 for g, e in zip(got, expect))
        # outgoing probabilities sum to 1 per from_event
        sums: dict = {}
        for f_ev, _t, _n, p in got:
            sums[f_ev] = sums.get(f_ev, 0.0) + p
        assert all(abs(s - 1.0) < 1e-4 for s in sums.values()), sums


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(n_bins=st.integers(min_value=2, max_value=12))
def test_quantile_discretize_matches_duckdb(spark, tables, duck, n_bins):
    """Value-deterministic quantile binning over o_totalprice vs the
    DuckDB quantile_cont mirror — per-ROW bin equality (the
    reproducible-feature contract ntile cannot give)."""
    from distributedqueryengine_spark.operators.aggregates import quantile_discretize

    orders = tables["orders"].select("o_orderkey", "o_totalprice")
    got = sorted(
        (r.o_orderkey, r.o_totalprice_bin)
        for r in quantile_discretize(orders, "o_totalprice", n_bins).collect()
    )
    ps = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    expect = sorted(
        tuple(r)
        for r in duck.execute(
            f"""
            WITH edges AS (
              SELECT quantile_cont(CAST(o_totalprice AS DOUBLE), [{ps}]) AS es
              FROM orders
            )
            SELECT o_orderkey,
                   CASE WHEN o_totalprice IS NULL THEN NULL
                        ELSE CAST(1 + len(list_filter(es,
                                 e -> CAST(o_totalprice AS DOUBLE) > e)) AS INTEGER)
                   END AS bin
            FROM orders, edges
            """
        ).fetchall()
    )
    assert got == expect
    # bins are balanced to within interpolation ties
    from collections import Counter

    c = Counter(b for _, b in got)
    assert set(c) <= set(range(1, n_bins + 1))


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(k=st.integers(min_value=3, max_value=200))
def test_heavy_hitters_guarantees(spark, tables, duck, k):
    """Misra-Gries invariants against DuckDB exact counts at random k:
    every item with true count > n/(k+1) is present, and
    count_lo <= true <= count_hi for every reported item."""
    from distributedqueryengine_spark.operators.aggregates import heavy_hitters

    ev = tables["events"].select("event_type")
    n = ev.count()
    got = {
        r.item: (r.count_lo, r.count_hi)
        for r in heavy_hitters(ev, "event_type", k=k).collect()
    }
    truth = dict(
        duck.execute(
            "SELECT event_type, count(*) FROM events GROUP BY 1"
        ).fetchall()
    )
    threshold = n / (k + 1)
    for item, true_n in truth.items():
        if true_n > threshold:
            assert item in got, (item, true_n, threshold)
    for item, (lo, hi) in got.items():
        assert lo <= truth[item] <= hi, (item, lo, truth[item], hi)


def test_heavy_hitters_skewed_and_top(spark):
    """A planted 80%-mass hot item dominates; `top` truncation keeps it
    first; memory stays k counters per partition by construction."""
    from pyspark.sql import functions as F

    from distributedqueryengine_spark.operators.aggregates import heavy_hitters

    df = spark.range(100_000).select(
        F.when(F.col("id") % 5 < 4, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold_"), (F.col("id") % 997).cast("string")))
        .alias("v")
    )
    out = heavy_hitters(df, "v", k=10, top=3).collect()
    assert out[0].item == "hot"
    assert out[0].count_lo <= 80_000 <= out[0].count_hi


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    bucket=st.sampled_from([900, 3600, 7200, 21600]),
    min_history=st.integers(min_value=2, max_value=6),
)
def test_seasonal_deviation_matches_duckdb(spark, tables, duck, bucket, min_history):
    """Random (bucket, min_history) through seasonal_deviation over real
    events vs the identical same-phase expanding-window SQL in DuckDB."""
    from distributedqueryengine_spark.operators.timeseries import seasonal_deviation

    season = 7 * 86400
    n_phases = season // bucket
    ev = tables["events"].select("user_id", "event_id", "ts", "value")
    got = sorted(
        (r.user_id, r.event_id, r.phase, r.seasonal_z)
        for r in seasonal_deviation(
            ev, ["user_id"], "ts", "value",
            season_seconds=season, bucket_seconds=bucket,
            min_history=min_history, tiebreak=["event_id"],
        ).collect()
    )
    expect = sorted(
        tuple(r)
        for r in duck.execute(
            f"""
            WITH e AS (
              SELECT user_id, event_id, value,
                     epoch_us(ts)//1000000 AS sec
              FROM events
            ), p AS (
              SELECT *, CAST((sec // {bucket}) % {n_phases} AS INTEGER) AS phase
              FROM e
            )
            SELECT user_id, event_id, phase,
                   CASE WHEN count(value) OVER w >= {min_history}
                             AND stddev_samp(value) OVER w > 0
                        THEN round((value - avg(value) OVER w)
                                   / stddev_samp(value) OVER w, 6)
                   END AS z
            FROM p
            WINDOW w AS (PARTITION BY user_id, phase ORDER BY sec, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            """
        ).fetchall()
    )
    assert [g[:3] for g in got] == [e[:3] for e in expect]
    for g, e in zip(got, expect):
        if g[3] is None or e[3] is None:
            assert g[3] == e[3], (g, e)
        else:
            assert abs(g[3] - e[3]) <= 1e-6, (g, e)


def test_item_cooccurrence_matches_duckdb(spark, tables, duck):
    """Pair counts, marginals, lift, and PMI over sessionized real
    events vs the DuckDB mirror (sessions precomputed identically by
    the already-differentialed sessionize operator)."""
    from distributedqueryengine_spark.operators.timeseries import (
        item_cooccurrence,
        sessionize,
    )

    ev = tables["events"].select("user_id", "event_id", "ts", "event_type")
    sess = sessionize(ev, ["user_id"], "ts", 1800, tiebreak=["event_id"])
    got = sorted(
        (r.item_a, r.item_b, r.n_both, r.n_a, r.n_b, r.n_sessions, r.lift, r.pmi)
        for r in item_cooccurrence(sess, "session_id", "event_type").collect()
    )
    duck.register("sess_r8", sess.select("session_id", "event_type").toPandas())
    try:
        expect = sorted(
            tuple(r)
            for r in duck.execute(
                """
                WITH baskets AS (
                  SELECT DISTINCT session_id AS s, event_type AS i FROM sess_r8
                ), ns AS (
                  SELECT count(DISTINCT s) AS n_sessions FROM baskets
                ), marg AS (
                  SELECT i, count(*) AS n_i FROM baskets GROUP BY 1
                ), pairs AS (
                  SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_both
                  FROM baskets a JOIN baskets b ON a.s = b.s AND a.i < b.i
                  GROUP BY 1, 2
                )
                SELECT p.item_a, p.item_b, p.n_both, ma.n_i AS n_a,
                       mb.n_i AS n_b, ns.n_sessions,
                       round((p.n_both * ns.n_sessions) /
                             CAST(ma.n_i * mb.n_i AS DOUBLE), 6) AS lift,
                       round(ln((p.n_both * ns.n_sessions) /
                             CAST(ma.n_i * mb.n_i AS DOUBLE)), 6) AS pmi
                FROM pairs p
                JOIN marg ma ON p.item_a = ma.i
                JOIN marg mb ON p.item_b = mb.i, ns
                """
            ).fetchall()
        )
    finally:
        duck.unregister("sess_r8")
    assert [g[:6] for g in got] == [e[:6] for e in expect]
    for g, e in zip(got, expect):
        assert abs(g[6] - e[6]) <= 1e-6 and abs(g[7] - e[7]) <= 1e-6


def test_item_cooccurrence_basket_cap(spark):
    """A bot session with hundreds of distinct items contributes only
    its first N items — the quadratic pair fan-out is guarded."""
    from distributedqueryengine_spark.operators.timeseries import item_cooccurrence

    rows = [("bot", f"item_{i:04d}") for i in range(300)] + [
        ("s1", "a"), ("s1", "b"), ("s2", "a"), ("s2", "b"),
    ]
    df = spark.createDataFrame(rows, "session_id string, item string")
    out = item_cooccurrence(
        df, "session_id", "item", max_items_per_session=10
    ).collect()
    bot_pairs = [r for r in out if r.item_a.startswith("item_")]
    assert len(bot_pairs) == 10 * 9 // 2  # capped prefix only
    ab = [r for r in out if (r.item_a, r.item_b) == ("a", "b")][0]
    assert ab.n_both == 2 and ab.n_a == 2 and ab.n_b == 2


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    k1=st.floats(min_value=0.5, max_value=2.0),
    b=st.floats(min_value=0.0, max_value=1.0),
)
def test_bm25_topk_matches_duckdb(spark, tables, duck, k1, b):
    """Random (k1, b) through bm25_topk over the documents table vs the
    identical Okapi math in DuckDB — scores and the tie-broken ranking."""
    from distributedqueryengine_spark.functions.text import bm25_topk

    terms = ["the", "data", "first", "zzzzunseen"]
    got = sorted(
        (r.doc_id, r.score, r.rnk)
        for r in bm25_topk(
            tables["documents"].select("doc_id", "text"),
            terms, "text", k=15, k1=k1, b=b,
        ).collect()
    )
    tlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    expect = sorted(
        tuple(r)
        for r in duck.execute(
            f"""
            WITH base AS (
              SELECT doc_id AS id,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 t -> length(t) > 0) AS toks
              FROM documents
            ), lens AS (
              SELECT id, CAST(len(toks) AS DOUBLE) AS dl FROM base
            ), stats AS (
              SELECT count(*) AS n, avg(dl) AS avgdl FROM lens
            ), hits AS (
              SELECT b.id, l.dl, t.t, count(*) AS tf
              FROM base b JOIN lens l ON b.id = l.id,
                   unnest(b.toks) AS t(t)
              WHERE t.t IN ({tlist})
              GROUP BY 1, 2, 3
            ), dfreq AS (
              SELECT t, count(*) AS df FROM hits GROUP BY 1
            ), scored AS (
              SELECT h.id,
                     round(sum(
                       ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
                       * (h.tf * ({k1} + 1))
                       / (h.tf + {k1} * (1.0 - {b} + {b} * h.dl / s.avgdl))
                     ), 6) AS score
              FROM hits h JOIN dfreq d ON h.t = d.t, stats s
              GROUP BY h.id
            )
            SELECT id, score,
                   CAST(row_number() OVER (ORDER BY score DESC, id ASC) AS INTEGER) AS rnk
            FROM scored QUALIFY rnk <= 15
            """
        ).fetchall()
    )
    assert [(g[0], g[2]) for g in got] == [(e[0], e[2]) for e in expect]
    assert all(abs(g[1] - e[1]) <= 1e-6 for g, e in zip(got, expect))


def test_condition_streaks_matches_duckdb(spark, tables, duck):
    """Value-driven islands over real events (condition: value > its
    key's median-ish threshold) vs the identical two-row_number SQL."""
    from distributedqueryengine_spark.operators.timeseries import condition_streaks

    ev = tables["events"].select("user_id", "event_id", "ts", "value")
    got = sorted(
        (r.user_id, int(r.streak_start.timestamp()), int(r.streak_end.timestamp()), r.length)
        for r in condition_streaks(
            ev, ["user_id"], "ts", F.col("value") > 50.0,
            tiebreak=["event_id"], min_length=2,
        ).collect()
    )
    expect = sorted(
        tuple(r)
        for r in duck.execute(
            """
            WITH e AS (
              SELECT user_id, event_id, epoch_us(ts)//1000000 AS sec,
                     value > 50.0 AS c
              FROM events
            ), m AS (
              SELECT *,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY sec, event_id)
                   - row_number() OVER (PARTITION BY user_id, c
                                        ORDER BY sec, event_id) AS grp
              FROM e
            )
            SELECT user_id, min(sec) AS s, max(sec) AS t,
                   CAST(count(*) AS INTEGER) AS len
            FROM m WHERE c GROUP BY user_id, grp
            HAVING count(*) >= 2
            """
        ).fetchall()
    )
    assert got == expect
    assert got, "fixture should produce streaks"


def test_mutual_information_semantics(spark, tables):
    """MI ≡ python reference on real columns; ~0 for independent
    columns; equals the entropy for a deterministic function."""
    import math
    from collections import Counter

    from distributedqueryengine_spark.operators.aggregates import mutual_information

    ev = tables["events"].select("event_type", "user_id").limit(3000)
    rows = [(r.event_type, r.user_id % 7) for r in ev.collect()]
    df = spark.createDataFrame(rows, "a string, b long")
    got = mutual_information(df, "a", "b")

    joint = Counter(rows)
    n = len(rows)
    ca, cb = Counter(a for a, _ in rows), Counter(b for _, b in rows)
    ref = sum(
        (c / n) * math.log((c / n) / ((ca[a] / n) * (cb[b] / n)))
        for (a, b), c in joint.items()
    )
    assert abs(got - ref) < 1e-9
    assert got < 0.05  # user_id%7 is independent of event_type

    # deterministic function: I(A; f(A)) = H(A)
    fdf = spark.createDataFrame(
        [(a, a.upper()) for a, _ in rows], "a string, b string"
    )
    h_a = -sum((c / n) * math.log(c / n) for c in ca.values())
    assert abs(mutual_information(fdf, "a", "b") - h_a) < 1e-9


def test_robust_zscore_matches_duckdb_and_resists_outliers(spark, tables, duck):
    """Median/MAD scores ≡ the DuckDB mirror per group; a planted
    extreme outlier scores huge robustly while barely moving other
    rows' scores (the property the mean/stddev z-score lacks)."""
    from distributedqueryengine_spark.operators.timeseries import robust_zscore

    li = tables["lineitem"].select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    duck.execute(
        "CREATE OR REPLACE VIEW li_r8 AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/lineitem.parquet')"
    )
    got = sorted(
        (r.l_orderkey, r.l_linenumber, r.robust_z)
        for r in robust_zscore(li, "l_extendedprice", by=["l_returnflag"]).collect()
    )
    expect = sorted(
        tuple(r)
        for r in duck.execute(
            """
            WITH med AS (
              SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS m
              FROM li_r8 GROUP BY 1
            ), mad AS (
              SELECT l.l_returnflag,
                     quantile_cont(abs(l.l_extendedprice - med.m), 0.5) AS d
              FROM li_r8 l JOIN med USING (l_returnflag) GROUP BY 1
            )
            SELECT l.l_orderkey, l.l_linenumber,
                   CASE WHEN mad.d > 0 THEN
                     round(0.6745 * (l.l_extendedprice - med.m) / mad.d, 6)
                   END AS z
            FROM li_r8 l JOIN med USING (l_returnflag) JOIN mad USING (l_returnflag)
            """
        ).fetchall()
    )
    assert [g[:2] for g in got] == [e[:2] for e in expect]
    for g, e in zip(got, expect):
        assert (g[2] is None) == (e[2] is None) and (
            g[2] is None or abs(g[2] - e[2]) <= 1e-6
        ), (g, e)

    # robustness: one 10^9 outlier among 100 normal points
    rows = [(i, float(100 + (i % 7))) for i in range(100)] + [(999, 1e9)]
    df = spark.createDataFrame(rows, "i long, v double")
    rz = {r.i: r.robust_z for r in robust_zscore(df, "v").collect()}
    assert rz[999] > 1e6            # the outlier screams
    assert all(abs(rz[i]) < 3 for i in range(100))  # everyone else calm


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    window_rows=st.integers(min_value=3, max_value=40),
    min_points=st.integers(min_value=2, max_value=8),
)
def test_rolling_corr_matches_duckdb(spark, tables, duck, window_rows, min_points):
    """Random window sizes through rolling_corr over real events
    (value vs epoch-seconds) vs the identical DuckDB window SQL."""
    from distributedqueryengine_spark.operators.timeseries import rolling_corr

    min_points = min(min_points, window_rows)
    ev = tables["events"].select(
        "user_id", "event_id", "ts", "value",
        (F.unix_timestamp("ts") % 1000).cast("double").alias("x2"),
    )
    got = sorted(
        (r.user_id, r.event_id, r.rolling_corr)
        for r in rolling_corr(
            ev, ["user_id"], "ts", "value", "x2",
            window_rows=window_rows, min_points=min_points,
            tiebreak=["event_id"],
        ).collect()
    )
    expect = sorted(
        tuple(r)
        for r in duck.execute(
            f"""
            WITH e AS (
              SELECT user_id, event_id, epoch_us(ts)//1000000 AS sec, value,
                     CAST((epoch_us(ts)//1000000) % 1000 AS DOUBLE) AS x2
              FROM events
            )
            SELECT user_id, event_id,
                   CASE WHEN count(CASE WHEN value IS NOT NULL
                                        AND x2 IS NOT NULL THEN 1 END)
                             OVER w >= {min_points}
                             AND corr(value, x2) OVER w IS NOT NULL
                        THEN round(corr(value, x2) OVER w, 6)
                   END AS c
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id
                         ROWS BETWEEN {window_rows} PRECEDING AND 1 PRECEDING)
            """
        ).fetchall()
    )
    assert [g[:2] for g in got] == [e[:2] for e in expect]
    for g, e in zip(got, expect):
        if g[2] is None or e[2] is None:
            assert g[2] == e[2], (g, e)
        else:
            assert abs(g[2] - e[2]) <= 1e-6, (g, e)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_steps=st.integers(min_value=2, max_value=4),
    within=st.one_of(st.none(), st.integers(min_value=600, max_value=7 * 86400)),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_funnel_random_steps_match_reference(spark, tables, duck, n_steps, within, seed):
    """Random step sequences (with repeats allowed) and window sizes
    through the batch funnel over real events vs the driver-side greedy
    reference fold — the same semantics the streaming funnel pins."""
    import random

    from distributedqueryengine_spark.operators.timeseries import funnel
    from distributedqueryengine_spark.streaming.stateful import _greedy_funnel

    rng = random.Random(seed)
    kinds = sorted(
        r.event_type for r in tables["events"].select("event_type").distinct().collect()
    )
    steps = [rng.choice(kinds) for _ in range(n_steps)]
    ev = tables["events"].select("user_id", "ts", "event_type")
    got = {
        r.user_id: (r.max_step, list(r.step_times))
        for r in funnel(
            ev, "user_id", "ts", "event_type", steps, within_seconds=within
        ).collect()
    }
    raw = duck.execute(
        "SELECT user_id, epoch_us(ts)//1000000, event_type FROM events"
    ).fetchall()
    per_user: dict = {}
    for u, t, e in raw:
        if e in set(steps):
            per_user.setdefault(u, []).append((t, e))
    for u, evs in per_user.items():
        times = _greedy_funnel(sorted(evs), steps, within)
        n = 0
        for t in times:
            if t is None:
                break
            n += 1
        assert got[u] == (n, times), (u, steps, within)
