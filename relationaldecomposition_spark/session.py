"""SparkSession factory with the configuration this engine assumes.

Local mode is a stand-in for a real cluster: the same settings (AQE,
shuffle-partition sizing, Arrow) are what we would set fleet-wide. Nothing
here is local-only except the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated classes Spark keeps compiled (spark.sql.codegen.cache.maxEntries).
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(app_name: str = "relationaldecomposition_spark",
              shuffle_partitions: int | None = None,
              master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    - AQE on: runtime coalescing + skew-join handling replaces hand-tuned
      partition counts at 100 TB scale.
    - ``shuffle_partitions`` defaults to $SPARK_GRAFT_CPUS (driver contract)
      or the JVM default; on a real cluster AQE coalesces down from a high
      initial number, so err high.
    - Arrow on: every Pandas-UDF path in operators/ uses Arrow batches.
    - Codegen cache of ``CODEGEN_CACHE_ENTRIES`` classes. Spark keeps 100
      by default and evicts the oldest first, so a working set above that
      recompiles every class on every run. Measured working sets: one
      curation run (``pipeline.curate_corpus``) 161-166 classes, one
      decomposition of the sf0.1 denorm 57, and one session running both
      plus bench.py's end-to-end rows 246, so 1000 leaves 4x headroom. The
      cap is a static conf: it binds when the first session in the JVM
      starts.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        # concurrent decomposition jobs (runner.py) share the cluster fairly
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled in this JVM so far (the
    driver's and, in local mode, the tasks'); a cache hit adds nothing."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return int(metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount())
