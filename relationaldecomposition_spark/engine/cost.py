"""Plan-cost estimates for cost-based face choices, and the one driver
budget that decides every driver face."""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import BinaryType, DecimalType, StringType

# The entropy engine's relation and connected_components' edges are
# collected only within this many Arrow bytes, and no driver count-fold
# step holds more in its int64 arrays. 80 MB is 5M numeric edges, the
# largest driver input of the old row bounds (CHANGES.md sizes the rest).
DRIVER_MAX_BYTES = 80_000_000


def plan_bytes(df: DataFrame, rows: int | None = None) -> int | None:
    """Catalyst's sizeInBytes estimate for the optimized plan: driver-side
    plan statistics, no job. Exact for parquet scans (file footers), an
    overestimate for derived plans. With ``rows``, only if the plan counts
    as many: a cached plan does once all its cache is loaded, and reports
    the uncached estimate before.

    ``None`` when plan statistics are unreachable — ``_jdf`` is the
    classic-PySpark JVM handle, absent under Spark Connect. Each caller
    states which face it uses then."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        if rows is not None:
            counted = stats.rowCount()
            if not counted.isDefined() or int(str(counted.get())) != rows:
                return None
        return int(stats.sizeInBytes())
    except Exception:
        return None


def driver_budget(spark: SparkSession) -> int:
    """DRIVER_MAX_BYTES, capped at half of ``spark.driver.maxResultSize``
    as Spark reads it (0 is unlimited, unset 1g), so Spark never refuses a
    collect the budget admits; with no JVM handle the constant stands."""
    try:
        limit = spark.sparkContext._jsc.sc().conf().getSizeAsBytes(
            "spark.driver.maxResultSize", "1g")
    except Exception:
        return DRIVER_MAX_BYTES
    return min(DRIVER_MAX_BYTES, limit // 2) if limit else DRIVER_MAX_BYTES


def driver_fits(df: DataFrame) -> tuple[int, bool]:
    """(rows of ``df``, whether a driver face may take it): its Arrow
    collect and the 8-byte int64 code the driver makes of every cell (a
    boolean's 8 times its Arrow byte) both fit ``driver_budget``."""
    n, nbytes = collect_size(df)
    return n, max(nbytes, 8 * n * len(df.columns)) <= driver_budget(
        df.sparkSession)


# Arrow bytes per cell of the atomic types not 8 wide; strings and
# binaries take a 4-byte offset plus their bytes
_WIDTH = {"boolean": 1, "byte": 1, "short": 2, "integer": 4, "float": 4,
          "date": 4, "decimal": 16}


def collect_size(df: DataFrame) -> tuple[int, int]:
    """(rows, bytes) of ``df``'s Arrow collect, estimated before it. A
    cached ``df`` is counted, filling the cache, whose plan then holds its
    bytes and row count: no job (nulls' validity bitmaps left out).
    Otherwise, or with no such plan statistics, one aggregate counts rows
    and string bytes; the estimate of an uncached plan is no check (it read
    a 4.3 MB relation of 200-character strings as 0.36 MB)."""
    fields = df.schema.fields
    if df.storageLevel != StorageLevel.NONE:
        n = df.count()
        est = plan_bytes(df.select("*"), rows=n) if n else 0
        if est is not None:
            # the cache counts 8 bytes a decimal cell, Arrow 16
            decimals = sum(isinstance(f.dataType, DecimalType) for f in fields)
            return n, est + 8 * n * decimals
    var = [f.name for f in fields
           if isinstance(f.dataType, (StringType, BinaryType))]
    width = sum(4 if f.name in var else _WIDTH.get(f.dataType.typeName(), 8)
                for f in fields)
    row = df.agg(F.count(F.lit(1)),
                 *(F.coalesce(F.sum(F.octet_length(
                     F.col("`" + c.replace("`", "``") + "`"))), F.lit(0))
                   for c in var)).first()
    return row[0], row[0] * width + sum(row[1:])
