"""Driver-side fan-out of Spark work over threads.

Every concurrent step of the pipeline (entropy batches, min-separator
pairs, spurious-tuple validation, projection counts, bucketed writes)
overlaps independent Spark jobs from driver threads, because their cost is
per-action scheduling latency rather than executor load.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor


def fanout(spark, fn: Callable, items: Iterable, max_workers: int) -> list:
    """``[fn(x) for x in items]`` over at most ``max_workers`` threads,
    results in input order.

    Spark local properties (job group and description, interrupt-on-cancel,
    scheduler pool, ...) are per JVM thread, and a PySpark worker thread
    does not inherit its caller's. Jobs started from a bare thread would be
    missed by ``cancelJobGroup``, drop out of the caller's FAIR pool and
    carry no attribution. So the caller's properties are read once and each
    item runs under its own copy of them: a shared ``Properties`` object
    (what ``pyspark.util.inheritable_thread_target`` installs) would let
    concurrent SQL executions overwrite each other's
    ``spark.sql.execution.id``.

    Runs inline when ``max_workers <= 1`` or there is at most one item. On
    the first failure, items not yet started are cancelled and the error
    re-raised."""
    items = list(items)
    if max_workers <= 1 or len(items) <= 1:
        return [fn(x) for x in items]
    jsc = spark.sparkContext._jsc.sc()
    props = jsc.getLocalProperties().clone()

    def run(x):
        jsc.setLocalProperties(props.clone())
        return fn(x)

    with ThreadPoolExecutor(max_workers=max_workers,
                            thread_name_prefix="fanout") as pool:
        futures = [pool.submit(run, x) for x in items]
        try:
            return [f.result() for f in futures]
        except BaseException:
            for f in futures:
                f.cancel()
            raise
