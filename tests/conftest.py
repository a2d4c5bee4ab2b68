import functools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from relationaldecomposition_spark.session import CODEGEN_CACHE_ENTRIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running sweep (still part of the default run)")


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("rd_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def load(spark, table, sf_dir=SF_DIR):
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def withhold_driver_table(mp):
    """Make every entropy engine count on Spark, as it did before it had a
    driver face: no sizing count and no Arrow collect, so its kernel jobs,
    chunks and row counts are exactly the Spark kernel's. The validator
    folds on Spark too, as it folds on its engine's codes. Returns the
    list of engines that were sized while the table was withheld."""
    from relationaldecomposition_spark.engine.entropy import SparkEntropyEngine

    sized = []

    def withheld(self):
        sized.append(self)
        return None

    mp.setattr(SparkEntropyEngine, "_collect_table", withheld)
    return sized


def _spy(mp, owner, name, calls):
    """Wrap ``owner.name`` so that each call appends to ``calls``."""
    orig = getattr(owner, name)

    def spied(*args, **kwargs):
        calls.append(name)
        return orig(*args, **kwargs)

    mp.setattr(owner, name, spied)


@pytest.fixture
def spark_kernel(monkeypatch):
    """The Spark face only: for tests that pin the Spark kernel's jobs,
    chunks and stop points (see withhold_driver_table)."""
    withhold_driver_table(monkeypatch)


def both_faces(test):
    """Run a test on both faces of the entropy kernel and the count fold
    under its one name: first the driver face (the default for every
    relation this small), then the Spark face, reached by withholding the
    engines' driver table. The size bound keeps its value, so the Spark
    face broadcasts as it does in production. The body must build its
    own engines: an engine made before the first run keeps its face and
    its cache. Each run checks its face: the driver run must count or fold
    on the driver, and in the Spark run some engine must be sized and none
    may count or fold on the driver."""
    from relationaldecomposition_spark.engine import decompose
    from relationaldecomposition_spark.engine.entropy import SparkEntropyEngine

    @functools.wraps(test)
    def run(*args, **kwargs):
        driver = []
        with pytest.MonkeyPatch.context() as mp:
            _spy(mp, SparkEntropyEngine, "_driver_batch", driver)
            _spy(mp, decompose, "_driver_fold_total", driver)
            test(*args, **kwargs)
        assert driver, "the driver run never used the driver face"
        driver.clear()
        with pytest.MonkeyPatch.context() as mp:
            sized = withhold_driver_table(mp)
            _spy(mp, SparkEntropyEngine, "_driver_batch", driver)
            _spy(mp, decompose, "_driver_fold_total", driver)
            try:
                test(*args, **kwargs)
            except AssertionError as e:
                raise AssertionError(f"on the Spark face: {e}") from e
        assert sized, "the Spark run sized no engine of its own"
        assert not driver, f"the Spark run used the driver face: {driver}"
    return run
