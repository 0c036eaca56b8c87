"""Driver-contract consistency: queries()/oracle_sql() stay in sync and
every oracle is valid DuckDB SQL (cheap guard against typos that would
otherwise surface only in the driver's CORRECTNESS run)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry_mod
from distributedqueryengine_spark.session import TABLES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def test_every_oracle_has_a_query():
    qs = set(entry_mod.queries())
    orphans = set(entry_mod.oracle_sql()) - qs
    assert not orphans, f"oracles without queries: {orphans}"


def test_rows_only_queries_are_the_documented_set():
    qs = set(entry_mod.queries())
    no_oracle = qs - set(entry_mod.oracle_sql())
    assert no_oracle == set(), f"unexpected rows-only set: {no_oracle}"


def test_inventory_fits_driver_cap():
    """The driver's correctness run caps at 50 queries (alphabetical);
    everything must fit inside it or half the inventory goes
    unverified (VERDICT r1)."""
    assert len(entry_mod.queries()) <= 50


def test_all_oracles_execute_on_duckdb(duck):
    for name, sql in sorted(entry_mod.oracle_sql().items()):
        try:
            duck.execute(sql).fetchall()
        except Exception as e:  # pragma: no cover
            raise AssertionError(f"oracle {name} failed on DuckDB: {e}") from e


def test_inventory_size_floor():
    assert len(entry_mod.queries()) >= 45
    assert len(entry_mod.oracle_sql()) >= 42


def test_round7_operator_guards(spark, tables, tmp_path):
    """The r7 operators raise clear ValueErrors on misuse instead of
    cryptic JVM analysis errors (the r6 hardening discipline)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from distributedqueryengine_spark.operators.cdc import snapshot_diff
    from distributedqueryengine_spark.operators.timeseries import resample_fill
    from distributedqueryengine_spark.sources.sinks import merge_upsert_files

    nation = tables["nation"]
    with _pytest.raises(ValueError, match="diff key"):
        snapshot_diff(nation, nation, [])
    with _pytest.raises(ValueError, match="at least one aggregate"):
        resample_fill(tables["events"], ["user_id"], "ts", 60, {})

    path = str(tmp_path / "t")
    nation.write.parquet(path)
    partial = nation.select("n_nationkey")  # missing the other columns
    with _pytest.raises(ValueError, match="missing target columns"):
        merge_upsert_files(spark, path, partial, ["n_nationkey"])
