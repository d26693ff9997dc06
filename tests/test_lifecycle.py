"""The pin lifecycle (plans.lifecycle): operators leave no entry in
Spark's CacheManager, a ``pinned()`` block releases its pin when the
body raises, and the cost probe tags set operations as expensive."""

import pytest
from pyspark.sql import functions as F

from tablite_spark.plans.lifecycle import pinned, upstream_is_expensive


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture()
def clean_cache(spark):
    spark.catalog.clearCache()
    assert _cache_empty(spark)


def test_operators_leave_cache_manager_empty(spark, clean_cache):
    """Every operator that pins releases its pin before returning; the
    bounded results are checkpointed, not cached."""
    from tablite_spark.operators.frequency import (
        association_rules, item_cosine,
    )
    from tablite_spark.operators.stats import spearman_corr
    from tablite_spark.pipeline.graph import triangle_count
    from tablite_spark.registry._base import SF_SMOKE
    from tablite_spark.registry.round14 import assortativity_lineitem
    baskets = spark.createDataFrame(
        [(b, i) for b in range(12) for i in range(b % 4 + 2)],
        "bk long, it long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3)],
        "src long, dst long")
    # distinct() makes the upstream expensive, so spearman_corr pins it
    points = spark.createDataFrame(
        [(float(i), float((i * 7) % 11), float(i % 3)) for i in range(30)],
        "x double, y double, z double").distinct()
    calls = {
        "association_rules": lambda: association_rules(
            baskets, "bk", "it", min_support=2),
        "item_cosine": lambda: item_cosine(
            baskets, "bk", "it", min_support=1),
        "triangle_count": lambda: triangle_count(edges, "src", "dst"),
        "spearman_corr": lambda: spearman_corr(points, ["x", "y", "z"]),
        "assortativity_lineitem": lambda: assortativity_lineitem(
            spark, SF_SMOKE),
    }
    for name, call in calls.items():
        assert call().collect(), name
        assert _cache_empty(spark), name


def test_pinned_releases_when_body_raises(spark, clean_cache):
    df = spark.range(10).select((F.col("id") % 3).alias("k")).distinct()
    with pytest.raises(RuntimeError, match="boom"):
        with pinned(df) as pin:
            assert pin is df
            assert df.count() == 3
            assert not _cache_empty(spark)
            raise RuntimeError("boom")
    assert _cache_empty(spark)
    assert not df.storageLevel.useMemory


def test_upstream_is_expensive_tags_set_operations(spark, tmp_path):
    """distinct / intersect / subtract analyze to Deduplicate /
    Intersect / Except: each is replayed in full per read, so the
    probe must call them expensive; a pruned parquet scan is not."""
    p = str(tmp_path / "t.parquet")
    spark.range(20).select("id", (F.col("id") % 4).alias("k")) \
        .write.parquet(p)
    scan = spark.read.parquet(p).select("k").filter(F.col("k") > 0)
    assert not upstream_is_expensive(scan)
    assert upstream_is_expensive(scan.distinct())
    assert upstream_is_expensive(scan.intersect(scan))
    assert upstream_is_expensive(scan.subtract(scan))
