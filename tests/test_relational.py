"""Unit tests for the relational operator core (SURVEY §5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from distributedqueryengine_spark.operators import relational


@pytest.fixture(scope="module")
def ab(spark):
    a = spark.createDataFrame([Row(k=1, x="a"), Row(k=2, x="b"), Row(k=2, x="b2"), Row(k=3, x="c")])
    b = spark.createDataFrame([Row(k=2, y="B"), Row(k=3, y="C"), Row(k=4, y="D")])
    return a, b


def test_select_where(spark):
    df = spark.createDataFrame([Row(i=i, s=str(i)) for i in range(10)])
    out = relational.select_where(df, columns=["i"], predicate=F.col("i") > 7)
    assert out.columns == ["i"]
    assert sorted(r.i for r in out.collect()) == [8, 9]


def test_join_types(ab):
    a, b = ab
    on = a["k"] == b["k"]
    assert relational.join_tables(a, b, on, "inner").count() == 3
    assert relational.join_tables(a, b, on, "left").count() == 4
    assert relational.join_tables(a, b, on, "right").count() == 4
    assert relational.join_tables(a, b, on, "full").count() == 5
    assert relational.join_tables(a, b, on, "left_semi").count() == 3
    semi = relational.join_tables(a, b, on, "left_semi")
    assert semi.columns == ["k", "x"]
    anti = relational.join_tables(a, b, on, "left_anti")
    assert sorted(r.k for r in anti.collect()) == [1]
    assert relational.join_tables(a, b, on, "cross").count() == 12


def test_join_bad_type(ab):
    a, b = ab
    with pytest.raises(ValueError):
        relational.join_tables(a, b, a["k"] == b["k"], "sideways")


def test_union_all_bag_semantics(spark):
    df = spark.createDataFrame([Row(v=1), Row(v=2)])
    out = relational.union_all([df, df, df])
    assert out.count() == 6  # duplicates preserved (reference RPC.cs:330-342)


def test_set_ops(spark):
    l = spark.createDataFrame([Row(v=1), Row(v=1), Row(v=2), Row(v=3)])
    r = spark.createDataFrame([Row(v=1), Row(v=3), Row(v=4)])
    assert sorted(x.v for x in relational.set_op(l, r, "union").collect()) == [1, 2, 3, 4]
    assert relational.set_op(l, r, "union_all").count() == 7
    assert sorted(x.v for x in relational.set_op(l, r, "intersect").collect()) == [1, 3]
    assert sorted(x.v for x in relational.set_op(l, r, "except").collect()) == [2]
    # except_all keeps multiplicity: {1,1,2,3} - {1,3,4} = {1,2}
    assert sorted(x.v for x in relational.set_op(l, r, "except_all").collect()) == [1, 2]


def test_sampling_deterministic_with_seed(tables):
    li = tables["lineitem"]
    n = li.count()
    s1 = li.sample(fraction=0.1, seed=7)
    s2 = li.sample(fraction=0.1, seed=7)
    c1, c2 = s1.count(), s2.count()
    assert c1 == c2  # same seed + partitioning → same sample
    assert 0.05 * n < c1 < 0.15 * n  # Bernoulli bounds


def test_sql_broadcast_hint(spark, tables):
    from distributedqueryengine_spark.plans import plan_report

    tables["orders"].createOrReplaceTempView("o_h")
    tables["customer"].createOrReplaceTempView("c_h")
    df = spark.sql(
        "SELECT /*+ BROADCAST(c_h) */ o_orderkey, c_name "
        "FROM o_h JOIN c_h ON o_custkey = c_custkey"
    )
    assert "BroadcastHashJoin" in plan_report(df)["physical"]


def test_explode_outer_keeps_empty(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    df = spark.createDataFrame([Row(i=1, xs=[10, 20]), Row(i=2, xs=[])])
    plain = df.select("i", F.explode("xs").alias("x"))
    outer = df.select("i", F.explode_outer("xs").alias("x"))
    assert plain.count() == 2            # row with empty array dropped
    assert outer.count() == 3            # kept as null
    assert outer.filter(F.col("x").isNull()).collect()[0].i == 2


def test_cache_table_reused_in_plan(spark, tables):
    from distributedqueryengine_spark.plans import plan_report

    tables["nation"].createOrReplaceTempView("nation_c")
    spark.catalog.cacheTable("nation_c")
    try:
        df = spark.table("nation_c").groupBy("n_regionkey").count()
        df.collect()
        assert "Scan In-memory table nation_c" in plan_report(df)["physical"]
    finally:
        spark.catalog.uncacheTable("nation_c")


def test_null_join_keys_never_match(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    l = spark.createDataFrame([Row(k=1), Row(k=None)])
    r = spark.createDataFrame([Row(k=1), Row(k=None)])
    inner = l.join(r, l["k"] == r["k"], "inner")
    assert inner.count() == 1  # SQL semantics: NULL = NULL is not true


def test_approx_quantile_error_bound(tables):
    from pyspark.sql import functions as F

    o = tables["orders"]
    exact = o.agg(F.percentile("o_totalprice", 0.5).alias("m")).collect()[0].m
    approx = o.approxQuantile("o_totalprice", [0.5], 0.01)[0]
    assert abs(approx - exact) / exact < 0.05


def test_approx_count_distinct_error_bound(tables):
    from pyspark.sql import functions as F

    o = tables["orders"]
    exact = o.select(F.countDistinct("o_custkey")).collect()[0][0]
    approx = o.select(F.approx_count_distinct("o_custkey", rsd=0.02)).collect()[0][0]
    assert abs(approx - exact) / exact < 0.06  # 3x rsd


def test_approx_percentile_within_rank_error(spark, tables):
    """Sketch percentiles must land within a tight rank-error window of
    the exact order statistics (GK accuracy=10000 ⇒ ε=1e-4 rank error;
    allow a generous 0.005 rank margin against the exact ranks)."""
    import numpy as np
    from pyspark.sql import functions as F

    li = tables["lineitem"]
    got = {
        r.l_returnflag: (r.p50, r.p90, r.p99)
        for r in __import__("distributedqueryengine_spark.queries", fromlist=["q_approx_percentiles"])
        .q_approx_percentiles(spark, "/root/testdata/sf0.001")
        .collect()
    }
    vals = li.select("l_returnflag", "l_extendedprice").collect()
    by_flag: dict[str, list[float]] = {}
    for r in vals:
        by_flag.setdefault(r.l_returnflag, []).append(r.l_extendedprice)
    for flag, (p50, p90, p99) in got.items():
        xs = np.sort(np.array(by_flag[flag]))
        n = len(xs)
        for q, approx in ((0.5, p50), (0.9, p90), (0.99, p99)):
            rank = np.searchsorted(xs, approx, side="right") / n
            assert abs(rank - q) <= 0.005 + 1.0 / n, (flag, q, approx, rank)


def test_groups_frame_emulation_matches_duckdb(spark):
    """groups_frame_agg (RANGE over dense_rank) must equal the same
    GROUPS-frame semantics computed independently by DuckDB on data
    with real peer groups (ties on the order key), and the plan must
    carry exactly one shuffle. (This DuckDB build rejects native
    `GROUPS BETWEEN` with 'not implemented yet', so the oracle is
    DuckDB's own dense_rank+RANGE formulation — still a full
    cross-engine value check of the emulation.)"""
    import duckdb

    from distributedqueryengine_spark.operators.windows import groups_frame_agg

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet')"
    )
    sql = """
        WITH r AS (
            SELECT *, dense_rank() OVER (PARTITION BY o_orderstatus
                                         ORDER BY o_orderdate) AS dr
            FROM orders)
        SELECT o_orderkey,
               sum(o_totalprice) OVER w AS s,
               count(*) OVER w AS n
        FROM r
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY dr
                     RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)
    """
    expect = {
        r[0]: (round(r[1], 2), r[2]) for r in con.execute(sql).fetchall()
    }
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    out = groups_frame_agg(
        orders,
        ["o_orderstatus"],
        "o_orderdate",
        {"s": F.sum("o_totalprice"), "n": F.count(F.lit(1))},
        preceding=1,
        following=1,
    ).select("o_orderkey", "s", "n")
    got = {r.o_orderkey: (round(r.s, 2), r.n) for r in out.collect()}
    assert got == expect
    # one data shuffle; both Window execs pipeline on the same
    # partitioning (the AQE string repeats the plan under
    # "== Initial Plan ==" — count only the final section)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, final


def test_ignore_nulls_window_variants_match_duckdb(spark):
    """lag / first_value / last_value / nth_value with IGNORE NULLS
    must agree with DuckDB on a naturally-sparse column (JSON key
    present in a fraction of events) — the gap-fill primitive the as-of
    join is built from."""
    import duckdb

    from pyspark.sql.window import Window

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    sql = """
        SELECT event_id,
               lag(k IGNORE NULLS) OVER w AS prev_k,
               first_value(k IGNORE NULLS) OVER w AS first_k,
               last_value(k IGNORE NULLS) OVER w AS fill_k,
               nth_value(k, 2 IGNORE NULLS) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING) AS second_k
        FROM (SELECT event_id, user_id, ts,
                     CAST(json_extract_string(props, '$.k') AS INT) AS k
              FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """
    expect = {r[0]: tuple(r[1:]) for r in con.execute(sql).fetchall()}

    from distributedqueryengine_spark.session import load_table

    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", "ts",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_full = w_seq.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # lag has no ignoreNulls kwarg in the Python API — SQL expr form
    out = ev.select(
        "event_id",
        F.expr("lag(k) IGNORE NULLS").over(w_seq).alias("prev_k"),
        F.first("k", ignorenulls=True).over(w_run).alias("first_k"),
        F.last("k", ignorenulls=True).over(w_run).alias("fill_k"),
        F.nth_value("k", 2, ignoreNulls=True).over(w_full).alias("second_k"),
    )
    got = {
        r.event_id: (r.prev_k, r.first_k, r.fill_k, r.second_k)
        for r in out.collect()
    }
    assert got == expect
    assert any(v[2] is not None for v in got.values())


def test_hll_sketch_rollup_merges_without_rescan(spark, tables):
    """Mergeable-sketch rollup (operators/aggregates.hll_rollup):
    per-status sketches union to the SAME estimate as sketching the
    raw column directly (register-exact merge), estimates sit within
    the lgk error bar of exact counts, and re-aggregation needs only
    the kilobyte sketches — the incremental distinct-count pattern."""
    from distributedqueryengine_spark.operators.aggregates import (
        hll_reaggregate,
        hll_rollup,
    )

    orders = tables["orders"]
    per_status = hll_rollup(orders, ["o_orderstatus"], "o_custkey").persist()
    rows = per_status.collect()
    assert len(rows) >= 2 and all(r.sk is not None for r in rows)

    # per-group estimates within the HLL error bar of exact
    exact = {
        r.o_orderstatus: r.n
        for r in orders.groupBy("o_orderstatus")
        .agg(F.count_distinct("o_custkey").alias("n"))
        .collect()
    }
    for r in rows:
        assert abs(r.est - exact[r.o_orderstatus]) <= 0.1 * exact[r.o_orderstatus] + 5

    # merged estimate == direct global sketch estimate (exact register
    # union), and within the error bar of the true global distinct
    merged = hll_reaggregate(per_status, []).first().est
    direct = (
        orders.agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey", F.lit(12))).alias("e")
        )
        .first()
        .e
    )
    true_global = orders.select("o_custkey").distinct().count()
    assert merged == direct
    assert abs(merged - true_global) <= 0.1 * true_global + 5
    per_status.unpersist()


def test_freq_items_contains_all_true_heavy_hitters(spark, tables):
    """DataFrame.freqItems (Karp-Shenker-Papadimitriou): one-sided
    guarantee — every item with true frequency above the support
    threshold MUST appear (false positives allowed, false negatives
    not). Pinned per column at two supports."""
    li = tables["lineitem"]
    n = li.count()
    for col, support in (("l_returnflag", 0.2), ("l_linestatus", 0.3)):
        found = set(li.freqItems([col], support=support).first()[0])
        true_heavy = {
            r[col]
            for r in li.groupBy(col).count().collect()
            if r["count"] > support * n
        }
        assert true_heavy, f"fixture has no heavy hitters for {col}"
        assert true_heavy <= found, f"{col}: missing {true_heavy - found}"


def test_json_extraction_paths_agree(tables):
    """The three JSON extraction APIs — get_json_object (string path),
    from_json (schema-full), and parse_json+try_variant_get (VARIANT) —
    must agree row-for-row on real data. This agreement check lived in
    the oracled fn_json_variant plan through r6; the 3x parse cost
    dominated that suite, so the oracled plan now pays one parse and
    this test carries the cross-API property instead."""
    ev = tables["events"].select("event_id", "props")
    # plant absent-key / empty-object / nested rows the fixture lacks
    spark = ev.sparkSession
    planted = spark.createDataFrame(
        [
            (-1, '{"other": 1}'),
            (-2, "{}"),
            (-3, '{"k": 42, "nested": {"k": 7}}'),
        ],
        "event_id long, props string",
    )
    ev = ev.unionByName(planted)
    kj = F.get_json_object(F.col("props"), "$.k").cast("int")
    ks = F.from_json(F.col("props"), "k INT").getField("k")
    kv = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "int")
    rows = ev.select(
        "event_id", kj.alias("kj"), ks.alias("ks"), kv.alias("kv")
    ).collect()
    assert rows, "events fixture is empty"
    assert any(r.kj is not None for r in rows)  # fixture has real keys
    assert any(r.kj is None for r in rows)      # ... and absent keys
    for r in rows:
        assert r.kj == r.ks == r.kv, f"event {r.event_id}: {r.kj}/{r.ks}/{r.kv}"


def test_winsorize_matches_duckdb_quantiles(spark, tables):
    """winsorize clips to exact interpolated percentiles: per-group
    bounds and clipped sums must match DuckDB's quantile_cont over the
    same data (lineitem quantities/prices per returnflag)."""
    import duckdb

    from distributedqueryengine_spark.operators.aggregates import winsorize

    li = tables["lineitem"].select("l_returnflag", "l_quantity", "l_extendedprice")
    out = winsorize(
        li, ["l_quantity", "l_extendedprice"], 0.05, 0.95, by=["l_returnflag"]
    )
    got = {
        r.l_returnflag: (round(r.q, 4), round(r.p, 2), r.n)
        for r in out.groupBy("l_returnflag")
        .agg(
            F.sum("l_quantity").alias("q"),
            F.sum("l_extendedprice").alias("p"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/lineitem.parquet')"
    )
    expect = {
        r[0]: (round(r[1], 4), round(r[2], 2), r[3])
        for r in con.execute(
            """
            WITH b AS (
              SELECT l_returnflag,
                     quantile_cont(l_quantity, 0.05) AS qlo,
                     quantile_cont(l_quantity, 0.95) AS qhi,
                     quantile_cont(l_extendedprice, 0.05) AS plo,
                     quantile_cont(l_extendedprice, 0.95) AS phi
              FROM lineitem GROUP BY l_returnflag)
            SELECT l.l_returnflag,
                   sum(least(greatest(l_quantity, qlo), qhi)) AS q,
                   sum(least(greatest(l_extendedprice, plo), phi)) AS p,
                   count(*) AS n
            FROM lineitem l JOIN b USING (l_returnflag)
            GROUP BY l.l_returnflag
            """
        ).fetchall()
    }
    assert got == expect

    # bounds actually bite: max of clipped < max of raw per group
    raw_max = {
        r.l_returnflag: r.m
        for r in li.groupBy("l_returnflag").agg(F.max("l_extendedprice").alias("m")).collect()
    }
    clip_max = {
        r.l_returnflag: r.m
        for r in out.groupBy("l_returnflag").agg(F.max("l_extendedprice").alias("m")).collect()
    }
    assert all(clip_max[k] < raw_max[k] for k in raw_max)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="lower < upper"):
        winsorize(li, ["l_quantity"], 0.9, 0.1)


def test_incremental_agg_state_equals_full_recompute(spark, tables):
    """Three order 'increments' aggregated separately and state-merged
    (in two different merge orders) must equal a direct groupBy over
    the full data, for sum/count/min/max/avg — and a planted all-NULL
    increment must not poison counts or averages."""
    from distributedqueryengine_spark.operators.aggregates import (
        build_agg_state,
        finalize_agg_state,
        merge_agg_states,
    )

    o = tables["orders"].select("o_orderstatus", "o_custkey", "o_totalprice")
    nulls = o.limit(20).withColumn("o_totalprice", F.lit(None).cast("double"))
    full = o.unionByName(nulls)
    incs = [
        full.filter(F.col("o_custkey") % 3 == 0),
        full.filter(F.col("o_custkey") % 3 == 1),
        full.filter(F.col("o_custkey") % 3 == 2),
    ]
    specs = {
        "total": ("o_totalprice", "sum"),
        "n_priced": ("o_totalprice", "count"),
        "lo": ("o_totalprice", "min"),
        "hi": ("o_totalprice", "max"),
        "mean": ("o_totalprice", "avg"),
    }
    keys = ["o_orderstatus"]
    states = [build_agg_state(i, keys, specs) for i in incs]
    merged_flat = merge_agg_states(states, keys, specs)
    # hierarchical merge: (s0+s1) + s2
    merged_hier = merge_agg_states(
        [merge_agg_states(states[:2], keys, specs), states[2]], keys, specs
    )

    def render(state):
        return {
            r.o_orderstatus: (
                round(r.total, 2),
                r.n_priced,
                round(r.lo, 2),
                round(r.hi, 2),
                round(r.mean, 6),
            )
            for r in finalize_agg_state(state, keys, specs).collect()
        }

    direct = {
        r.o_orderstatus: (
            round(r.total, 2),
            r.n_priced,
            round(r.lo, 2),
            round(r.hi, 2),
            round(r.mean, 6),
        )
        for r in full.groupBy("o_orderstatus")
        .agg(
            F.sum("o_totalprice").alias("total"),
            F.count("o_totalprice").alias("n_priced"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.avg("o_totalprice").alias("mean"),
        )
        .collect()
    }
    assert render(merged_flat) == direct
    assert render(merged_hier) == direct


def test_winsorize_null_group_keys_are_clipped(spark):
    """Rows whose grouping key is NULL form their own group (SQL GROUP BY
    semantics) and must be clipped against THAT group's bounds — the
    join back is null-safe, not a silent pass-through."""
    from pyspark.sql import functions as F

    from distributedqueryengine_spark.operators.aggregates import winsorize

    rows = [(None, float(v)) for v in range(1, 101)] + [
        ("g", float(v)) for v in range(1, 101)
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    out = winsorize(df, ["v"], 0.10, 0.90, by=["k"])
    nulls = [r.v for r in out.filter(F.col("k").isNull()).collect()]
    assert nulls, "NULL-key rows must survive"
    # clipped to that group's [p10, p90] = [10.9, 90.1]
    assert abs(min(nulls) - 10.9) < 1e-9 and abs(max(nulls) - 90.1) < 1e-9
    named = [r.v for r in out.filter(F.col("k") == "g").collect()]
    assert abs(min(named) - 10.9) < 1e-9 and abs(max(named) - 90.1) < 1e-9


def test_assign_dense_ids(spark, tables):
    """Gap-free 0..n-1 ids in sort order, deterministic across reruns
    and repartitioning, no global single-partition window; string
    order keys rejected."""
    import pytest as _pytest

    from distributedqueryengine_spark.operators.relational import assign_dense_ids

    orders = tables["orders"].select("o_orderkey", "o_totalprice")
    n = orders.count()
    out = assign_dense_ids(
        orders, "o_totalprice", tiebreak=["o_orderkey"], rows_per_bucket=500
    )
    rows = out.collect()
    ids = sorted(r.dense_id for r in rows)
    assert ids == list(range(n))  # gap-free, 0-based
    # id order == (price, key) order
    by_id = sorted(rows, key=lambda r: r.dense_id)
    keys = [(r.o_totalprice, r.o_orderkey) for r in by_id]
    assert keys == sorted(keys)
    # deterministic under repartitioning
    again = assign_dense_ids(
        orders.repartition(17), "o_totalprice",
        tiebreak=["o_orderkey"], rows_per_bucket=500,
    )
    assert {(r.o_orderkey, r.dense_id) for r in again.collect()} == {
        (r.o_orderkey, r.dense_id) for r in rows
    }
    # the numbering window is bucket-partitioned, not global
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert win_specs and all("__bkt" in w for w in win_specs), win_specs
    # start offset honored
    offset = assign_dense_ids(
        orders.limit(10), "o_totalprice", tiebreak=["o_orderkey"], start=1000
    )
    got = sorted(r.dense_id for r in offset.collect())
    assert got == list(range(1000, 1010))
    with _pytest.raises(ValueError, match="numeric"):
        assign_dense_ids(tables["nation"], "n_name")


def test_assign_dense_ids_skew_constant_column(spark):
    """The r8 verdict's planted case: 90% of order values identical. The
    fixed-width cut alone would send ~all rows into ONE bucket (a
    single-task global sort); the skew split must bound every
    numbering window to <= 2*rows_per_bucket via the tiebreak level."""
    from distributedqueryengine_spark.operators.relational import assign_dense_ids

    n, heavy = 6000, 5400
    rows = [(i, 1.0 if i < heavy else 1.0 + (i - heavy) * 0.37) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, v double").repartition(13)
    stats = {}
    out = assign_dense_ids(
        df, "v", tiebreak=["id"], rows_per_bucket=200, stats_out=stats
    )
    got = {r.id: r.dense_id for r in out.collect()}
    expect = {
        rid: i
        for i, (rid, _v) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    assert got == expect  # exact (order, tiebreak) numbering
    assert stats["max_bucket_rows"] <= 2 * 200, stats
    assert stats["residual_saturated"] == 0, stats
    assert stats["n_buckets"] >= n // (2 * 200)

    # deterministic under repartitioning (unique (order, tiebreak))
    again = assign_dense_ids(
        df.repartition(7), "v", tiebreak=["id"], rows_per_bucket=200
    )
    assert {(r.id, r.dense_id) for r in again.collect()} == set(got.items())


def test_assign_dense_ids_full_ties_hash_split(spark):
    """Rows tied on EVERY sort column (no tiebreak given) fall through
    to the whole-row-hash split: windows stay bounded and ids are still
    gap-free — ordering among full ties is unspecified by contract."""
    from distributedqueryengine_spark.operators.relational import assign_dense_ids

    df = spark.createDataFrame(
        [(i, 7.0) for i in range(4000)], "id long, v double"
    ).repartition(8)
    stats = {}
    out = assign_dense_ids(df, "v", rows_per_bucket=200, stats_out=stats)
    ids = sorted(r.dense_id for r in out.collect())
    assert ids == list(range(4000))
    assert stats["max_bucket_rows"] <= 2 * 200, stats


def test_assign_dense_ids_string_tiebreak_shared_prefix(spark):
    """A heavy order value broken by a STRING tiebreak whose values all
    share a long common prefix: the split must slice on the bytes AFTER
    the per-bucket common prefix (offset proxy) and keep ids in exact
    (order, tiebreak) order."""
    from distributedqueryengine_spark.operators.relational import assign_dense_ids

    rows = [(f"item/shared/prefix/{i:06d}", 5.0) for i in range(3000)]
    rows += [(f"tail/{i}", 5.0 + i * 0.01) for i in range(500)]
    df = spark.createDataFrame(rows, "k string, v double").repartition(9)
    stats = {}
    out = assign_dense_ids(
        df, "v", tiebreak=["k"], rows_per_bucket=200, stats_out=stats
    )
    got = {r.k: r.dense_id for r in out.collect()}
    expect = {
        k: i for i, (k, _v) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    assert got == expect
    assert stats["max_bucket_rows"] <= 2 * 200, stats
    assert stats["residual_saturated"] == 0, stats


def test_assign_dense_ids_null_handling(spark):
    """NULL order values: default raises loudly (the r8 advice crash was
    a TypeError from sorting a None bucket key); on_null='last' routes
    them after every non-NULL row, ordered by tiebreak."""
    import pytest as _pytest

    from distributedqueryengine_spark.operators.relational import assign_dense_ids

    rows = [(0, 3.0), (1, None), (2, 1.0), (3, None), (4, 2.0)]
    df = spark.createDataFrame(rows, "id long, v double")
    with _pytest.raises(ValueError, match="NULL"):
        assign_dense_ids(df, "v", tiebreak=["id"])
    out = {
        r.id: r.dense_id
        for r in assign_dense_ids(
            df, "v", tiebreak=["id"], on_null="last"
        ).collect()
    }
    assert out == {2: 0, 4: 1, 0: 2, 1: 3, 3: 4}

    # all-NULL frame, nulls still numbered by tiebreak
    alln = spark.createDataFrame([(1, None), (0, None)], "id long, v double")
    got = {
        r.id: r.dense_id
        for r in assign_dense_ids(
            alln, "v", tiebreak=["id"], on_null="last"
        ).collect()
    }
    assert got == {0: 0, 1: 1}


def test_assign_dense_ids_nan_routed_with_nulls(spark):
    """Floating NaN is not NULL: it must not produce a None bucket key
    (the old TypeError comparing None to str in the driver cumsum).
    NaN follows the on_null routing — raise by default, after all
    non-missing rows (NULLs before NaNs) under on_null='last'."""
    rows = [
        (0, 3.0), (1, float("nan")), (2, 1.0), (3, None), (4, float("nan")),
    ]
    df = spark.createDataFrame(rows, "id long, v double")
    with pytest.raises(ValueError, match="NULL/NaN"):
        relational.assign_dense_ids(df, "v", tiebreak=["id"])
    out = {
        r.id: r.dense_id
        for r in relational.assign_dense_ids(
            df, "v", tiebreak=["id"], on_null="last"
        ).collect()
    }
    # non-missing (1.0, 3.0) first, then NULL, then NaNs by tiebreak
    assert out == {2: 0, 0: 1, 3: 2, 1: 3, 4: 4}


def test_assign_dense_ids_empty_input_stats(spark):
    """Empty input still populates stats_out (zeros) — a caller reading
    stats['max_bucket_rows'] must not KeyError on the empty path."""
    df = spark.createDataFrame([], "id long, v double")
    stats: dict = {}
    out = relational.assign_dense_ids(df, "v", tiebreak=["id"], stats_out=stats)
    assert out.count() == 0
    assert "dense_id" in out.columns
    assert stats == {
        "n_buckets": 0, "max_bucket_rows": 0,
        "split_rounds": 0, "residual_saturated": 0,
    }


def test_assign_dense_ids_heavy_atom_with_tail_converges(spark):
    """The r10 scale probe found that a 90% atom at the bucket's MIN
    value never separated: equal-width re-slicing kept the atom in one
    sub-bucket and burned every round shaving the tail. Boundary-atom
    isolation must now converge within the default rounds with zero
    residual saturation, and ids must equal the brute-force sort."""
    rows = [
        (i, 0.0 if i % 10 < 9 else float(i)) for i in range(20000)
    ]
    df = spark.createDataFrame(rows, "id long, v double").repartition(8)
    stats: dict = {}
    out = {
        r.id: r.dense_id
        for r in relational.assign_dense_ids(
            df, "v", tiebreak=["id"], rows_per_bucket=1000, stats_out=stats
        ).collect()
    }
    assert stats["residual_saturated"] == 0, stats
    assert stats["max_bucket_rows"] <= 2000, stats
    expect = {
        id_: rank
        for rank, (v, id_) in enumerate(sorted((v, i) for i, v in rows))
    }
    assert out == expect


def test_quantile_state_rollup_merge_identical_to_direct(spark, tables):
    """The bottom-k quantile sketch's consistency contract (same as the
    HLL rollup): fine states (per o_orderstatus) merged up to a coarse
    grain are BIT-IDENTICAL to building directly at the coarse grain,
    and estimates from the merged state hit the exact percentiles
    within the sampling rank bound."""
    from distributedqueryengine_spark.operators.aggregates import (
        quantile_state_build,
        quantile_state_estimate,
        quantile_state_merge,
    )

    orders = tables["orders"].withColumn(
        "__rid", F.col("o_orderkey").cast("string")
    )
    R = 512
    fine = quantile_state_build(
        orders, ["o_orderstatus", "o_orderpriority"], "o_totalprice",
        "__rid", r=R,
    )
    merged = quantile_state_merge([fine], ["o_orderstatus"], r=R)
    direct = quantile_state_build(
        orders, ["o_orderstatus"], "o_totalprice", "__rid", r=R
    )
    m = {r_["o_orderstatus"]: r_ for r_ in merged.collect()}
    d = {r_["o_orderstatus"]: r_ for r_ in direct.collect()}
    assert set(m) == set(d)
    for k in d:
        assert m[k]["n"] == d[k]["n"], k
        assert m[k]["sample"] == d[k]["sample"], f"sample mismatch for {k}"

    # estimates within the sampling rank bound vs exact percentiles
    probs = [0.5, 0.9]
    est = {
        r_["o_orderstatus"]: r_
        for r_ in quantile_state_estimate(
            merged, ["o_orderstatus"], probs
        ).collect()
    }
    exact = {
        r_["o_orderstatus"]: r_
        for r_ in orders.groupBy("o_orderstatus").agg(
            F.percentile("o_totalprice", [0.35, 0.65, 0.78, 0.97]).alias("b")
        ).collect()
    }
    for k, e in est.items():
        lo50, hi50, lo90, hi90 = exact[k]["b"]
        assert lo50 <= e["q_0_5"] <= hi50, (k, e["q_0_5"], lo50, hi50)
        assert lo90 <= e["q_0_9"] <= hi90, (k, e["q_0_9"], lo90, hi90)


def test_quantile_state_merge_multiple_increments(spark):
    """Three disjoint increments merged equal a single global build —
    the append-only rollup path — and a global (no-key) merge works."""
    from distributedqueryengine_spark.operators.aggregates import (
        quantile_state_build,
        quantile_state_estimate,
        quantile_state_merge,
    )

    rows = [(i, float((i * 37) % 1000)) for i in range(3000)]
    df = spark.createDataFrame(rows, "id long, v double")
    parts = [
        df.filter((F.col("id") % 3) == i).withColumn("g", F.lit("all"))
        for i in range(3)
    ]
    R = 256
    states = [quantile_state_build(p, ["g"], "v", "id", r=R) for p in parts]
    merged = quantile_state_merge(states, ["g"], r=R)
    direct = quantile_state_build(
        df.withColumn("g", F.lit("all")), ["g"], "v", "id", r=R
    )
    assert merged.collect()[0]["sample"] == direct.collect()[0]["sample"]
    assert merged.collect()[0]["n"] == 3000

    # global (keyless) merge
    g = quantile_state_merge(states, [], r=R)
    est = quantile_state_estimate(g, [], [0.5]).collect()[0]
    assert est["n"] == 3000
    assert abs(est["q_0_5"] - 499.5) < 80  # ~4 sigma at r=256


def test_exact_percentiles_grouped_matches_builtin(spark, tables):
    """aggregates.exact_percentiles_grouped (the windowed order-
    statistics plan q_approx_sketches uses for its verification bounds
    since r16) must reproduce F.percentile BIT-IDENTICALLY — same
    position = p*(n-1) interpolation over the sorted multiset — on
    grouped data with duplicates, NULLs, a NULL group key and a
    single-row group."""
    from distributedqueryengine_spark.operators.aggregates import (
        exact_percentiles_grouped,
    )

    rows = [("a", float(v)) for v in [5, 1, 3, 3, 9, 7, 3]]
    rows += [("b", float(v)) for v in [10, 20]]
    rows += [("c", 42.0)]
    rows += [("a", None), ("c", None)]
    rows += [(None, 2.0), (None, 6.0), (None, 10.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    ps = [0.0, 0.25, 0.498, 0.5, 0.902, 0.97, 1.0]
    got = {
        r["g"]: r["bounds"]
        for r in exact_percentiles_grouped(df, "g", "v", ps).collect()
    }
    want = {
        r["g"]: r["b"]
        for r in df.groupBy("g").agg(F.percentile("v", ps).alias("b")).collect()
    }
    assert set(got) == set(want)
    for g in want:
        assert got[g] == want[g], (g, got[g], want[g])

    # and on a real fixture column (many distinct values, 3 groups)
    li = tables["lineitem"]
    got2 = {
        r["l_returnflag"]: r["bounds"]
        for r in exact_percentiles_grouped(
            li, "l_returnflag", "l_extendedprice", ps
        ).collect()
    }
    want2 = {
        r["l_returnflag"]: r["b"]
        for r in li.groupBy("l_returnflag")
        .agg(F.percentile("l_extendedprice", ps).alias("b"))
        .collect()
    }
    for g in want2:
        assert got2[g] == want2[g]
