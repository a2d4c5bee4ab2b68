import functools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

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


def both_faces(test):
    """Run a validation test on both faces of the count fold under its one
    name: first the driver face (the default for every base this small),
    then the Spark face, reached by withholding the driver face's input.
    The size bound keeps its value, so the Spark face broadcasts as it
    does in production."""
    from relationaldecomposition_spark.engine import decompose

    @functools.wraps(test)
    def run(*args, **kwargs):
        test(*args, **kwargs)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(decompose.DecompositionValidator, "_driver_codes",
                       lambda self, orders: None)
            try:
                test(*args, **kwargs)
            except AssertionError as e:
                raise AssertionError(f"on the Spark face: {e}") from e
    return run
