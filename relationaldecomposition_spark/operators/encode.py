"""Distributed dictionary encoding (A3, library-grade path).

Reference counterpart: per-column dense-int dictionaries built in a
single-node hash map (`entropy/CompressedDB.java:139-161`; concurrent
variant `entropy/NewSmallDBInMemory.java:252-269`). A driver-side map cannot
hold a >1M-distinct column of a 100 TB relation, and a global
``Window.orderBy`` funnels every distinct value through ONE partition — the
exact bottleneck VERDICT r2 flagged. This operator assigns the same dense
1-based codes fully distributed:

1. distinct values (one shuffle),
2. ``repartitionByRange`` on the value (range exchange: each partition owns
   a contiguous, sorted slice of the value domain),
3. per-partition local ranks via a window PARTITIONED BY the physical
   partition id (parallel, never SinglePartition),
4. global code = local rank + the partition's cumulative offset — offsets
   come from a per-partition count, which is #partitions rows of driver
   metadata, not data.

The range-partitioned frame is persisted before the offsets are read:
range boundaries come from sampling, so the offset map and the final codes
must observe the SAME physical partitioning. The returned codes frame is
itself persisted and materialized (callers unpersist via ``codes.unpersist()``
when done — same lifecycle contract as SparkEntropyEngine).

Scale: total work is two narrow shuffles of the *distinct* values plus a
#partitions-row collect; nothing is proportional to base-table rows beyond
the initial distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

DEFAULT_DICT_PARTITIONS = 32


def dict_encode_column(df: DataFrame, column: str,
                       num_partitions: int = DEFAULT_DICT_PARTITIONS) -> DataFrame:
    """(value, code): dense 1-based codes in value sort order, computed
    without any single-partition stage. Nulls are excluded (the reference
    maps missing fields to the "EMPTY" sentinel BEFORE encoding — apply the
    same normalization upstream if needed). The result is persisted and
    materialized; caller unpersists."""
    vals = (df.select(F.col(column).alias("value"))
              .where(F.col("value").isNotNull())
              .distinct())
    ranged = (vals.repartitionByRange(num_partitions, "value")
                  .withColumn("_pid", F.spark_partition_id())
                  .persist())
    try:
        # one tiny job: rows per physical partition -> cumulative offsets
        pc = ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
        if not pc:
            # all-null/empty column: map_from_arrays over zero-element arrays
            # below would hit an untyped-array analysis error — return the
            # empty dictionary directly (same schema, same persist contract)
            codes = (ranged.select("value",
                                   F.lit(1).cast("bigint").alias("code"))
                     .where(F.lit(False)).persist())
            codes.count()
            return codes
        offsets = {}
        acc = 0
        for row in sorted(pc, key=lambda r: r["_pid"]):
            offsets[row["_pid"]] = acc
            acc += row["n"]
        off_expr = F.element_at(
            F.map_from_arrays(
                F.array(*[F.lit(p) for p in offsets]),
                F.array(*[F.lit(o).cast("bigint") for o in offsets.values()])),
            F.col("_pid"))
        w = Window.partitionBy("_pid").orderBy("value")
        codes = (ranged.select(
                     "value",
                     (F.row_number().over(w) + off_expr).alias("code"))
                 .persist())
        codes.count()  # materialize from the SAME cached range partitioning
        return codes
    finally:
        ranged.unpersist()


def encode_columns(df: DataFrame, columns: list[str],
                   num_partitions: int = DEFAULT_DICT_PARTITIONS
                   ) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Encode `columns` of `df` to dense ints (CompressedDB's encoded base
    table). Returns (encoded df with <col>_code columns, {col: codes}).
    Each dictionary joins back on its value; the join strategy is AQE's,
    which reads the cached dictionary's size. Caller unpersists each codes
    frame."""
    out = df
    dicts: dict[str, DataFrame] = {}
    for c in columns:
        codes = dict_encode_column(df, c, num_partitions)
        dicts[c] = codes
        side = codes.select(F.col("value").alias(c),
                            F.col("code").alias(f"{c}_code"))
        out = out.join(side, on=c, how="left")
    return out, dicts
