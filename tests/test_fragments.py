"""Fragmentation-transparency tests: semantics AND plan shape (SURVEY §5.3).

The reference's optimizer exists to keep predicates fragment-local
(QueryService.asmx.cs:604-640). Here we assert Catalyst does the same
through our views: filters reach every fragment's parquet scan, a key
lookup on the site-partitioned `orders_v` reads one site, and
reconstruction is exact.
"""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from distributedqueryengine_spark import fragments
from distributedqueryengine_spark.api import query
from distributedqueryengine_spark.plans import plan_report
from distributedqueryengine_spark.service import SESSION_CONFS
from distributedqueryengine_spark.session import register_tables

SF_DIR = "/root/testdata/sf0.001"


def test_vertical_reconstruction_exact(tables):
    customer = tables["customer"]
    s1, s2 = fragments.vertical_fragments(customer)
    v = fragments.reconstruct_vertical(s1, s2)
    assert sorted(v.columns) == sorted(customer.columns)
    assert v.count() == customer.count()
    assert v.select(*customer.columns).subtract(customer).count() == 0
    assert customer.subtract(v.select(*customer.columns)).count() == 0


def test_horizontal_reconstruction_exact(tables):
    orders = tables["orders"]
    frags = fragments.horizontal_fragments(orders, "o_orderkey")
    v = fragments.reconstruct_horizontal(frags)
    assert v.count() == orders.count()
    assert v.subtract(orders).count() == 0 and orders.subtract(v).count() == 0


def test_filter_pushed_through_union(tables):
    """Predicate on the union view must appear as a pushed parquet filter
    (the analogue of SelOptimize, QueryService.asmx.cs:604-640)."""
    frags = fragments.horizontal_fragments(tables["orders"], "o_orderkey")
    v = fragments.reconstruct_horizontal(frags)
    filtered = v.filter(F.col("o_totalprice") > 100000).select("o_orderkey", "o_totalprice")
    phys = plan_report(filtered)["physical"]
    # Every one of the 4 fragment scans carries the pushed predicate.
    scans = [seg for seg in phys.split("FileScan parquet")[1:]]
    assert len(scans) == 4
    for seg in scans:
        assert "GreaterThan(o_totalprice,100000" in seg.split("ReadSchema")[0]


def test_column_pruned_through_vertical_join(tables):
    """Projecting name-only from the vertical view must not read the
    site2 value columns (ProjOptimize analogue, QueryService.asmx.cs:534-603)."""
    s1, s2 = fragments.vertical_fragments(tables["customer"])
    v = fragments.reconstruct_vertical(s1, s2)
    out = v.select("c_custkey", "c_name")
    phys = plan_report(out)["physical"]
    schemas = [seg.splitlines()[0] for seg in phys.split("ReadSchema: ")[1:]]
    assert len(schemas) == 2  # both fragments are still scanned, for the join key
    for schema_line in schemas:
        assert "c_acctbal" not in schema_line and "c_mktsegment" not in schema_line


def _service_session(spark):
    """A new session with the query service's confs
    (`service.SESSION_CONFS`, as `service.serve` sets them)."""
    session = spark.newSession()
    for key, value in SESSION_CONFS.items():
        session.conf.set(key, value)
    return session


@pytest.fixture(scope="module")
def views(spark):
    """A session with the query service's confs and the fragment views
    registered over the fixture tables, so plans are the static plans
    the service runs."""
    session = _service_session(spark)
    tables = register_tables(session, SF_DIR)
    fragments.register_fragment_views(session, tables["customer"], tables["orders"])
    return session


def _scans(plan: str) -> list[str]:
    return [line for line in plan.splitlines() if "FileScan" in line]


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_registered_views_equal_base_tables(views):
    for view, base in (("orders_v", "orders"), ("customer_v", "customer")):
        v = views.table(view).select(*views.table(base).columns)
        assert v.dtypes == views.table(base).dtypes
        assert _rows(v) == _rows(views.table(base))
    sites = [views.table(f"orders_s{i}") for i in range(1, fragments.N_HORIZONTAL_SITES + 1)]
    assert all(s.columns == views.table("orders").columns for s in sites)
    assert sum(s.count() for s in sites) == views.table("orders").count()


def test_orders_v_point_lookup_reads_one_site(views):
    key = 7
    res = query(views, "SELECT o_orderkey, o_totalprice FROM orders_v WHERE o_orderkey = :k",
                args={"k": key})
    assert [r["o_orderkey"] for r in res["rows"]] == [key]
    (scan,) = _scans(res["physical_plan"])
    site = key % fragments.N_HORIZONTAL_SITES + 1
    assert re.search(r"PartitionFilters: \[\(site#\d+L <=> %d\)\]" % site, scan), scan


def test_orders_v_range_is_one_scan(views):
    sql = ("SELECT o_orderkey, o_totalprice FROM {t} WHERE o_totalprice BETWEEN 100000 AND 150000 "
           "ORDER BY o_orderkey")
    res = query(views, sql.format(t="orders_v"))
    assert len(_scans(res["physical_plan"])) == 1
    assert res["rows"] == query(views, sql.format(t="orders"))["rows"]


def test_site_fragment_reads_only_its_partition(views):
    res = query(views, "SELECT o_orderkey FROM orders_s2")
    (scan,) = _scans(res["physical_plan"])
    assert re.search(r"PartitionFilters: \[.*\(site#\d+L = 2\)\]", scan), scan
    assert {r["o_orderkey"] % fragments.N_HORIZONTAL_SITES for r in res["rows"]} == {1}


def _null_key_frames(session):
    """`customer` and `orders` frames with NULL and negative keys."""
    orders = session.createDataFrame(
        [(None, 1), (-3, 2), (5, 3), (-8, 4), (None, 5), (2, 6)],
        "o_orderkey bigint, o_custkey bigint",
    ).coalesce(1)
    customer = session.createDataFrame(
        [(None, "a", 1, 1.0, "X"), (1, "b", 2, 2.0, "Y")],
        "c_custkey bigint, c_name string, c_nationkey bigint, c_acctbal double, c_mktsegment string",
    ).coalesce(1)
    return customer, orders


def test_views_on_null_and_negative_keys(spark):
    """`pmod` puts a negative key on a site (Spark's `%` keeps the
    dividend's sign); `orders_v` keeps NULL-key rows, which sit in the
    NULL site and in no `orders_s{i}`; `customer_v`, an inner join,
    drops a NULL `c_custkey`."""
    session = spark.newSession()
    customer, orders = _null_key_frames(session)
    fragments.register_fragment_views(session, customer, orders)

    assert _rows(session.table("orders_v")) == _rows(orders)
    sites = {i: {r.o_custkey for r in session.table(f"orders_s{i}").collect()} for i in range(1, 5)}
    assert sites == {1: {4}, 2: {2, 3}, 3: {6}, 4: set()}
    null_site = session.table("orders_v").filter(F.col("o_orderkey").isNull())
    assert {r.o_custkey for r in null_site.collect()} == {1, 5}

    frags = fragments.horizontal_fragments(orders, "o_orderkey")
    assert [{r.o_custkey for r in f.collect()} for f in frags] == [sites[i] for i in range(1, 5)]

    assert [r.c_custkey for r in session.table("customer_v").collect()] == [1]


# The query service's shapes (perfbench's sql_service templates), with
# parameter sets that hit, miss, span and bind NULL.
_SERVICE_SHAPES = [
    ("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer_v "
     "WHERE c_custkey = :k", [{"k": 1}, {"k": 77}, {"k": 10**9}, {"k": None}]),
    ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM orders_v "
     "WHERE o_orderkey = :k", [{"k": 7}, {"k": 32}, {"k": -1}]),
    ("SELECT c_custkey, c_name, c_acctbal FROM customer_v WHERE c_acctbal BETWEEN :lo AND :hi "
     "ORDER BY c_custkey", [{"lo": -999.0, "hi": 2000.0}, {"lo": 5000.0, "hi": 5200.5}]),
    ("SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders_v "
     "WHERE o_orderdate >= CAST(:d0 AS TIMESTAMP) AND o_orderdate < CAST(:d1 AS TIMESTAMP) "
     "ORDER BY o_orderkey", [{"d0": "1995-01-01", "d1": "1995-03-01"},
                             {"d0": "1992-01-01", "d1": "1992-01-08"}]),
    ("SELECT c_mktsegment, count(*) AS n_orders, sum(o_totalprice) AS revenue "
     "FROM customer_v JOIN orders_v ON c_custkey = o_custkey "
     "WHERE o_orderdate >= CAST(:d0 AS TIMESTAMP) AND o_orderdate < CAST(:d1 AS TIMESTAMP) "
     "GROUP BY c_mktsegment ORDER BY c_mktsegment", [{"d0": "1994-01-01", "d1": "1994-04-01"}]),
    ("SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue, "
     "o_orderdate, o_orderpriority FROM customer JOIN orders ON c_custkey = o_custkey "
     "JOIN lineitem ON l_orderkey = o_orderkey "
     "WHERE c_mktsegment = :seg AND o_orderdate < CAST(:d AS TIMESTAMP) "
     "AND l_shipdate > CAST(:d AS TIMESTAMP) "
     "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
     "ORDER BY revenue DESC, l_orderkey LIMIT 10", [{"seg": "BUILDING", "d": "1995-03-15"}]),
    ("SELECT n_name, count(*) AS n_customers, sum(c_acctbal) AS balance "
     "FROM customer JOIN nation ON c_nationkey = n_nationkey "
     "WHERE c_acctbal > :min GROUP BY n_name ORDER BY n_name", [{"min": 0.0}, {"min": 5000.0}]),
]

# The same shapes over the NULL- and negative-key frames of
# `test_views_on_null_and_negative_keys`.
_NULL_KEY_SHAPES = [
    ("SELECT o_orderkey, o_custkey FROM orders_v WHERE o_orderkey = :k",
     [{"k": -3}, {"k": 5}, {"k": None}]),
    ("SELECT o_orderkey, o_custkey FROM orders_v WHERE o_orderkey <=> :k ORDER BY o_custkey",
     [{"k": None}, {"k": -8}]),
    ("SELECT o_orderkey, o_custkey FROM orders_v WHERE o_orderkey BETWEEN :lo AND :hi "
     "OR o_orderkey IS NULL ORDER BY o_custkey", [{"lo": -5, "hi": 3}]),
    ("SELECT o_orderkey, count(*) AS n, sum(o_custkey * 1.5D) AS s FROM orders_v "
     "GROUP BY o_orderkey ORDER BY o_orderkey NULLS FIRST", [{}]),
    ("SELECT c_custkey, c_name, o_orderkey FROM customer_v JOIN orders_v ON c_custkey = o_custkey "
     "ORDER BY o_orderkey", [{}]),
]


def _same_rows(got: list[dict], want: list[dict]) -> bool:
    """Equal rows in order; doubles to 1e-9, as a sum may add its
    partial aggregates in another order."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if g.keys() != w.keys():
            return False
        for k in g:
            if isinstance(w[k], float):
                if not (isinstance(g[k], float) and math.isclose(g[k], w[k], rel_tol=1e-9)):
                    return False
            elif g[k] != w[k]:
                return False
    return True


def _differential(served, default, shapes) -> int:
    """Run every shape on both sessions through `api.query`; assert equal
    rows, and that `default` ran whole-stage codegen where it found rows
    and `served` never did. Returns the rows compared."""
    n = 0
    for sql, arg_sets in shapes:
        for args in arg_sets:
            got, want = query(served, sql, args=args), query(default, sql, args=args)
            assert _same_rows(got["rows"], want["rows"]), (sql, args, got["rows"], want["rows"])
            assert "*(" not in got["physical_plan"], sql
            # AQE replaces a plan that finds no rows by an empty relation
            assert "*(" in want["physical_plan"] or not want["rows"], sql
            n += len(want["rows"])
    return n


def test_interpreted_service_session_answers_like_codegen(spark, views):
    """The served session evaluates expressions interpreted
    (`SESSION_CONFS`); every service query shape must answer as a
    default, codegen session does, over the fixture tables and over
    NULL and negative keys."""
    default = spark.newSession()
    assert default.conf.get("spark.sql.codegen.wholeStage") == "true"
    tables = register_tables(default, SF_DIR)
    fragments.register_fragment_views(default, tables["customer"], tables["orders"])
    assert _differential(views, default, _SERVICE_SHAPES) > 0

    served, default = _service_session(spark), spark.newSession()
    for session in (served, default):
        fragments.register_fragment_views(session, *_null_key_frames(session))
    assert _differential(served, default, _NULL_KEY_SHAPES) > 0
