"""No catalog query leaves a cached relation behind: after its action, the
session's cache manager is as empty as before it ran. A cache that the
returned plan reads could not be unpersisted by the query itself and would
hand its eviction to every caller, so any cache fails here."""

import pytest

from rio_spark.plans.catalog import QUERIES

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_leaves_no_cached_relation(spark, name):
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    QUERIES[name](spark, SF_DIR).toPandas()
    assert cache.isEmpty(), f"{name} left a cached relation"
