"""The driver budget's reading of spark.driver.maxResultSize, and the
plan statistics that size a cached relation."""

from types import SimpleNamespace

import pytest
from pyspark import StorageLevel

from relationaldecomposition_spark.engine import cost
from relationaldecomposition_spark.engine.cost import (DRIVER_MAX_BYTES,
                                                       driver_budget)


def _session(spark, max_result_size):
    """A stand-in session whose SparkContext conf is a fresh SparkConf in
    the test JVM, holding only maxResultSize: the session's own conf is
    static, and Spark's parser needs no second JVM."""
    conf = spark._jvm.org.apache.spark.SparkConf(False)
    if max_result_size is not None:
        conf.set("spark.driver.maxResultSize", max_result_size)
    sc = SimpleNamespace(conf=lambda: conf)
    return SimpleNamespace(
        sparkContext=SimpleNamespace(_jsc=SimpleNamespace(sc=lambda: sc)))


@pytest.mark.parametrize("value, budget", [
    ("1m", 1 << 19),                  # half of 1 MiB
    ("0", DRIVER_MAX_BYTES),          # unlimited
    (None, DRIVER_MAX_BYTES),         # unset: Spark's 1g, the constant binds
])
def test_driver_budget_reads_max_result_size(spark, value, budget):
    assert driver_budget(_session(spark, value)) == budget


def test_driver_budget_of_the_test_session(spark):
    assert driver_budget(spark) == DRIVER_MAX_BYTES
    # no JVM handle (Spark Connect): the constant stands
    assert driver_budget(SimpleNamespace()) == DRIVER_MAX_BYTES


def test_cached_plan_bytes_need_its_row_count(spark, monkeypatch):
    """A cached relation's plan is read for its bytes only when its row
    count is the count just taken: a cache not fully loaded reports the
    uncached plan's estimate and no row count, so sizing runs the
    aggregate instead."""
    df = spark.createDataFrame([(i, f"s{i:03d}") for i in range(10)],
                               ["a", "s"]).persist(StorageLevel.MEMORY_ONLY)
    size = (10, 10 * (8 + 4 + 4))
    plan_bytes = cost.plan_bytes

    def stub(rows):
        """plan_bytes over a stand-in plan of 1 byte counting ``rows``."""
        counted = SimpleNamespace(isDefined=lambda: rows is not None,
                                  get=lambda: rows)
        stats = SimpleNamespace(sizeInBytes=lambda: 1,
                                rowCount=lambda: counted)
        plan = SimpleNamespace(stats=lambda: stats)
        jdf = SimpleNamespace(queryExecution=lambda: SimpleNamespace(
            optimizedPlan=lambda: plan))
        return lambda d, **kw: plan_bytes(SimpleNamespace(_jdf=jdf), **kw)

    try:
        assert cost.collect_size(df) == size          # the loaded cache
        for rows, got in ((10, (10, 1)), (11, size), (None, size)):
            monkeypatch.setattr(cost, "plan_bytes", stub(rows))
            assert cost.collect_size(df) == got, rows
        # without rows, the estimate is read as before
        assert cost.plan_bytes(df) == 1
    finally:
        df.unpersist()
