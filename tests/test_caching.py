"""Lifecycle pins for ``caching.persist_scoped``."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from uw_mapreduce_spark.caching import persist_scoped, release_scope


def test_persist_scoped_reregistered_plan_survives_eviction(spark):
    """A frame whose plan matches a stale handle in the scope (its cache
    entry dropped by clearCache) must stay cached: evicting the stale
    handle used to ``unpersist()`` it, and unpersist matches by plan, so
    the entry registered a moment earlier was dropped with it."""
    scope = "test.persist_scoped.stale"

    def frame_a():
        return spark.range(100).select((F.col("id") * 3).alias("a"))

    try:
        persist_scoped(frame_a(), scope, keep=2)
        persist_scoped(spark.range(100).select((F.col("id") + 1).alias("b")), scope, keep=2)
        spark.catalog.clearCache()
        again = persist_scoped(frame_a(), scope, keep=2)
        assert again.storageLevel != StorageLevel.NONE
        assert frame_a().storageLevel != StorageLevel.NONE
    finally:
        release_scope(scope)
