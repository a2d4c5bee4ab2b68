"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: rediscover + validate the normalization of the
denormalized customer⋈nation⋈region relation at sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 (see relationaldecomposition_spark/queries.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from relationaldecomposition_spark.queries import ORACLES, QUERIES

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: measure the planted FD/MVD/JD structure of the denormalized
    customer⋈nation⋈region relation and validate its decomposition —
    one row per finding; driver checks rows > 0 and stable schema."""
    from pyspark.sql import functions as F

    from relationaldecomposition_spark.engine.decompose import DecompositionValidator
    from relationaldecomposition_spark.engine.measures import MeasureEngine
    from relationaldecomposition_spark.queries import DECOMPOSITIONS
    from relationaldecomposition_spark.sources.tables import (
        denorm_customer_nation_region)

    denorm = denorm_customer_nation_region(spark, SMOKE_SF_DIR)
    # one engine: the measures and the validation share its sizing and cache
    v = DecompositionValidator(denorm)
    try:
        meng = MeasureEngine(v.eng)
        rows = [
            ("fd", "c_nationkey -> n_name",
             float(meng.fd_measure(["c_nationkey"], ["n_name"]))),
            ("mvd", "c_nationkey ->> {n_name,n_regionkey,r_name}",
             float(meng.mvd_measure(["c_nationkey"],
                                    ["n_name", "n_regionkey", "r_name"]))),
            ("jd", "[c_nationkey | cust-cols, nation-cols]",
             float(meng.jd_measure(
                 ["c_nationkey"],
                 [["c_custkey", "c_name", "c_acctbal", "c_mktsegment"],
                  ["n_name", "n_regionkey", "r_name"]]))),
        ]
        for name, clusters in DECOMPOSITIONS:
            rows.append(("spurious", name, float(
                v.process_decomposition(clusters).spurious_tuples)))
    finally:
        v.close()
    return spark.createDataFrame(rows, "kind string, object string, value double") \
        .select("kind", "object", F.round("value", 6).alias("value"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
