"""q_approx_sketches persists five scoped stages (the projected lineitem
and orders scans, the exact-distinct aggregate, the exact-percentile
join and the Bloom state); in a long-lived session, repeated
construction must not accumulate cached partitions (r11 verdict item 5).
Each construction evicts the previous call's cache, so the session holds
at most one copy."""

from distributedqueryengine_spark import inventory as inv

SF = "/root/testdata/sf0.001"

# one construction's scoped .persist() calls in q_approx_sketches:
# li, orders (one projected persist per base table), ex, exact, bstate
_PER_CALL_STAGES = 5


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_repeated_construction_no_net_cache_growth(spark):
    baseline = _n_persistent_rdds(spark)
    try:
        for _ in range(12):
            df = inv.q_approx_sketches(spark, SF)
            df.write.format("noop").mode("overwrite").save()  # materialize cache
            # net growth stays bounded at ONE construction's cached stages
            # (li + orders + ex + exact + bstate), never accumulating
            # across calls
            assert _n_persistent_rdds(spark) <= baseline + _PER_CALL_STAGES
        # this pin is what catches a lost eviction: Spark's CacheManager
        # reuses the cache of an identical plan, so without eviction the
        # persistent-RDD count above still stays within one call's
        # stages, while the list grows by five entries per call
        assert len(inv._SKETCH_SHARED_CACHE) == _PER_CALL_STAGES
    finally:
        # evict the survivors so this test leaves the session as it found
        # it, also when an assertion above fails
        while inv._SKETCH_SHARED_CACHE:
            inv._SKETCH_SHARED_CACHE.pop().unpersist()
    assert _n_persistent_rdds(spark) <= baseline
