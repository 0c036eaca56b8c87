"""Fragmentation-transparency tests: semantics AND plan shape (SURVEY §5.3).

The reference's optimizer exists to keep predicates fragment-local
(QueryService.asmx.cs:604-640). Here we assert Catalyst does the same
through our views: filters reach every fragment's parquet scan, a key
lookup on the site-partitioned `orders_v` reads one site, and
reconstruction is exact.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from distributedqueryengine_spark import fragments
from distributedqueryengine_spark.api import query
from distributedqueryengine_spark.plans import plan_report
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


@pytest.fixture(scope="module")
def views(spark):
    """A session with the fragment views registered over the fixture
    tables and the query service's confs (AQE and whole-stage codegen
    off, as `service.serve` sets them), so plans are the static plans
    the service runs."""
    session = spark.newSession()
    session.conf.set("spark.sql.adaptive.enabled", "false")
    session.conf.set("spark.sql.codegen.wholeStage", "false")
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


def test_views_on_null_and_negative_keys(spark):
    """`pmod` puts a negative key on a site (Spark's `%` keeps the
    dividend's sign); `orders_v` keeps NULL-key rows, which sit in the
    NULL site and in no `orders_s{i}`; `customer_v`, an inner join,
    drops a NULL `c_custkey`."""
    session = spark.newSession()
    orders = session.createDataFrame(
        [(None, 1), (-3, 2), (5, 3), (-8, 4), (None, 5), (2, 6)],
        "o_orderkey bigint, o_custkey bigint",
    ).coalesce(1)
    customer = session.createDataFrame(
        [(None, "a", 1, 1.0, "X"), (1, "b", 2, 2.0, "Y")],
        "c_custkey bigint, c_name string, c_nationkey bigint, c_acctbal double, c_mktsegment string",
    ).coalesce(1)
    fragments.register_fragment_views(session, customer, orders)

    assert _rows(session.table("orders_v")) == _rows(orders)
    sites = {i: {r.o_custkey for r in session.table(f"orders_s{i}").collect()} for i in range(1, 5)}
    assert sites == {1: {4}, 2: {2, 3}, 3: {6}, 4: set()}
    null_site = session.table("orders_v").filter(F.col("o_orderkey").isNull())
    assert {r.o_custkey for r in null_site.collect()} == {1, 5}

    frags = fragments.horizontal_fragments(orders, "o_orderkey")
    assert [{r.o_custkey for r in f.collect()} for f in frags] == [sites[i] for i in range(1, 5)]

    assert [r.c_custkey for r in session.table("customer_v").collect()] == [1]
