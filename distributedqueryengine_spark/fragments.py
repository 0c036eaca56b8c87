"""Fragmentation-transparent views — the reference's signature feature.

The reference hardcodes a fragmentation catalog
(QueryService.asmx.cs:310-427): `customer` vertically split across
sites 1-2 rejoined on the key (:320-337), `orders` horizontally split
across sites 1-4 reassembled by UNION (:338-396). Localization rewrites
every leaf into those subtrees, then hand-written pushdown passes keep
predicates fragment-local (:604-640, with hardcoded per-fragment column
guards at :628-631).

Here a horizontal fragment is a partition: `register_fragment_views`
writes `orders` once as a parquet dataset partitioned by a `site`
column, `orders_s{i}` is the `site = i` partition and `orders_v` is one
scan of the whole dataset. Localization is partition pruning: the view
carries `site <=> site_of(o_orderkey)`, which holds for every stored
row, and Catalyst's constant propagation turns a key equality into a
`site` partition filter, so a point lookup reads one site's files. The
vertical fragments are column projections of one DataFrame rejoined by
an equi-join; Catalyst prunes the columns a query does not use from
each side. tests/test_fragments.py asserts both the semantic equality
(view == base table) and the plan shape (partition pruning, filters
and column pruning reaching each fragment's scan).

The vertical rejoin does not co-partition: it is two scans plus a
join, and on the query service's session (AQE off, small tables) it
runs as a broadcast hash join with its own broadcast job, 2 jobs per
query. Bucketing `customer` on `c_custkey` (4 buckets, a catalog table
with a path, a merge-join hint) removed the exchange and pruned a point
lookup to one bucket, but at sf0.01 on 4 vCPUs it moved `customer_v`'s
single-client p50 only from 49.7 to 43.7 ms (range) and 46.4 to
45.7 ms (point), for one more write per registration and a catalog
table, so the vertical fragments stay projections of one scan.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from distributedqueryengine_spark.operators.relational import union_all

N_HORIZONTAL_SITES = 4  # mirrors sites 1-4, QueryService.asmx.cs:338-396


def site_of(key: Column, n: int = N_HORIZONTAL_SITES) -> Column:
    """The horizontal site of a key: `pmod(key, n) + 1`, in 1..n.

    `pmod` rather than `%`, whose result takes the dividend's sign, so a
    negative key still lands on a site. A NULL key has a NULL site."""
    return F.pmod(key, F.lit(n)) + 1


def vertical_fragments(customer: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split customer into the two per-site column subsets.

    Mirrors site1=(id,name) / site2=(id,rank) from the reference
    (QueryService.asmx.cs:320-337, :628-631), on the fixture schema.
    """
    s1 = customer.select("c_custkey", "c_name", "c_nationkey")
    s2 = customer.select("c_custkey", "c_acctbal", "c_mktsegment")
    return s1, s2


def reconstruct_vertical(s1: DataFrame, s2: DataFrame, key: str = "c_custkey") -> DataFrame:
    """Vertical reconstruction: equi-join of fragments on the key.

    The reference emits JOIN(A.id=B.id) (QueryService.asmx.cs:333-336).
    Joining USING(key) keeps a single key column. The join does not
    co-partition: Spark plans it like any other equi-join, a broadcast
    hash join on small tables and a shuffle join on large ones.

    An inner join drops rows whose key is NULL. A null-safe join would
    keep one such row but pair every NULL-key row of one side with every
    NULL-key row of the other, so the view returns no NULL-key rows
    rather than multiplied ones.
    """
    return s1.join(s2, on=key, how="inner")


def horizontal_fragments(df: DataFrame, key: str, n: int = N_HORIZONTAL_SITES) -> list[DataFrame]:
    """Hash-slice a table into n site fragments by `site_of(key)` (orders
    over sites 1-4, QueryService.asmx.cs:338-367).

    Rows with a NULL key have no site and are in none of the n slices;
    the stored layout of `register_fragment_views` keeps them in its
    NULL site."""
    site = site_of(F.col(key), n)
    return [df.filter(site == i) for i in range(1, n + 1)]


def reconstruct_horizontal(fragments: list[DataFrame]) -> DataFrame:
    """Horizontal reconstruction: UNION ALL of the slices
    (QueryService.asmx.cs:361; executor DataTable.Merge RPC.cs:330-342)."""
    return union_all(fragments)


def _write_site_store(spark: SparkSession, stored: DataFrame) -> DataFrame:
    """Write `stored` as parquet partitioned by its `site` column under a
    fresh temporary directory, removed at process exit, and read it back
    with the schema it was written with."""
    root = tempfile.mkdtemp(prefix="fragments-")
    atexit.register(shutil.rmtree, root, True)
    path = os.path.join(root, "orders")
    stored.write.partitionBy("site").parquet(path)
    return spark.read.schema(stored.schema).parquet(path)


def register_fragment_views(spark: SparkSession, customer: DataFrame, orders: DataFrame) -> None:
    """Register customer_v / orders_v reconstruction views in the catalog.

    Queries against the views must be indistinguishable from the base
    tables — the fragmentation-transparency contract the reference's
    localization step provides (QueryService.asmx.cs:310-427).

    Each call writes `orders` once as the site store (see
    `_write_site_store`). `orders_s{i}` reads partition `site = i`.
    Rows with a NULL key sit in the NULL site, the directory
    `site=__HIVE_DEFAULT_PARTITION__`, which no `orders_s{i}` reads
    and `orders_v` does.
    """
    s1, s2 = vertical_fragments(customer)
    s1.createOrReplaceTempView("customer_s1")
    s2.createOrReplaceTempView("customer_s2")
    reconstruct_vertical(s1, s2).createOrReplaceTempView("customer_v")
    key = F.col("o_orderkey")
    store = _write_site_store(spark, orders.withColumn("site", site_of(key)))
    for i in range(1, N_HORIZONTAL_SITES + 1):
        store.filter(F.col("site") == i).select(*orders.columns).createOrReplaceTempView(
            f"orders_s{i}"
        )
    localized = store.filter(F.col("site").eqNullSafe(site_of(key)))
    localized.select(*orders.columns).createOrReplaceTempView("orders_v")
