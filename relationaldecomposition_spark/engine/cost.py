"""Plan-cost estimate for cost-based face choices."""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's sizeInBytes estimate for the optimized plan: driver-side
    plan statistics, no job. Exact for parquet scans (file footers), an
    overestimate for derived plans.

    ``None`` when plan statistics are unreachable — ``_jdf`` is the
    classic-PySpark JVM handle, absent under Spark Connect. Each caller
    states which face it uses then."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes())
    except Exception:
        return None
