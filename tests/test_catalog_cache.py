"""No KG catalog query leaves a cached relation behind: after its action,
the session's cache manager is as empty as before it ran. A cache that the
returned plan reads cannot be unpersisted by the query itself, so a query
that needs one hands its eviction to every caller; the few training-data
queries that do are named in ``CALLER_OWNED_CACHE``, and a cache anywhere
else fails here."""

import pytest

from rio_spark.plans.catalog import CALLER_OWNED_CACHE, QUERIES

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_leaves_no_cached_relation(spark, name):
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    QUERIES[name](spark, SF_DIR).toPandas()
    if name in CALLER_OWNED_CACHE:
        assert not cache.isEmpty(), f"{name} no longer caches: drop it from CALLER_OWNED_CACHE"
        spark.catalog.clearCache()
    assert cache.isEmpty(), f"{name} left a cached relation"
