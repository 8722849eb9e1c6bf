"""The pin lifetime contract of ``operators/pins.py``: a pin lives as
long as its owner (the DataFrame an owned call returned, else the
pinned frame itself), and a failed owned call leaves no pin."""

import gc

import pytest

from duckdb_httpd_log_spark.operators.pins import owned, pin


def _cached(spark) -> bool:
    return not spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_result_owns_nested_pins_until_dropped(spark):
    @owned
    def inner(n):
        return pin(spark.range(n).selectExpr("id * 2 AS v"))

    @owned
    def outer():
        return inner(10).join(pin(spark.range(5).withColumnRenamed("id", "v")), "v")

    spark.catalog.clearCache()
    out = outer()
    # the nested call returned, and its pin still belongs to out
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.lookupCachedData(spark.range(10).selectExpr("id * 2 AS v")._jdf).isDefined()
    assert sorted(r.v for r in out.collect()) == [0, 2, 4]
    del out
    gc.collect()
    assert not _cached(spark)


def test_unowned_pin_lives_with_its_frame(spark):
    spark.catalog.clearCache()
    df = pin(spark.range(7))
    assert df.count() == 7 and _cached(spark)
    del df
    gc.collect()
    assert not _cached(spark)


def test_failed_owned_call_releases_its_pins(spark):
    @owned
    def broken():
        pin(spark.range(3))
        raise ValueError("build failed")

    spark.catalog.clearCache()
    with pytest.raises(ValueError):
        broken()
    assert not _cached(spark)
