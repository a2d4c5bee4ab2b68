"""Table loading for the driver's synthetic star schema (TESTDATA.md) plus
the reference's CSV reading semantics.

The reference reads comma-separated CSV, trims fields, treats missing
trailing fields as the sentinel "EMPTY", optional header, attribute count
sniffed from the first line (`entropy/ExternalFileDataSet.java:44-89`,
`entropy/CompressedDB.java:114-144`, `Main.java:224-237`). ``read_csv_ref``
reproduces that contract on Spark's distributed CSV reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine.cost import plan_bytes

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

EMPTY_SENTINEL = "EMPTY"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is physical INT64 TIMESTAMP(NANOS) — illegal for Spark's
        # parquet reader by default. Read nanos as long, convert to a micros
        # timestamp (the data carries no sub-microsecond components).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            # integer division: ns values exceed double's 53-bit mantissa,
            # so `/ 1000` (double math) would drift by ±1 microsecond
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def denorm_customer_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation ⋈ region flattened — the denormalized relation whose
    known normalization is the planted decomposition to rediscover
    (FIXTURES.md F6). nation/region are tiny: broadcast both."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
         .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment", "n_name", "n_regionkey", "r_name")
    )


# SQL for the same denormalized relation, used by oracle queries (duckdb).
DENORM_SQL = """
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           n_name, n_regionkey, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
"""


def read_csv_ref(spark: SparkSession, path: str, header: bool = False,
                 num_atts: int | None = None) -> DataFrame:
    """CSV scan with the reference's untyped semantics (A1/A2): every field
    a trimmed string, missing trailing fields = "EMPTY", columns named
    att0..attN-1 positionally."""
    df = spark.read.option("header", header).csv(path)
    if num_atts is not None and len(df.columns) > num_atts:
        df = df.select(df.columns[:num_atts])
    cols = []
    for i, c in enumerate(df.columns):
        name = c if header else f"att{i}"
        cols.append(
            F.when(F.col(f"`{c}`").isNull(), F.lit(EMPTY_SENTINEL))
            .otherwise(F.trim(F.col(f"`{c}`"))).alias(name))
    return df.select(*cols)


def read_jsonl(spark: SparkSession, path: str, schema: str | None = None,
               corrupt_col: str = "_corrupt_record") -> DataFrame:
    """Line-delimited JSON corpus reader — the standard wire format for
    document-pipeline ingest. With an explicit schema the scan is
    single-pass (no sampling job) and malformed lines land in
    ``corrupt_col`` instead of poisoning the read (PERMISSIVE mode), so a
    100 TB ingest keeps bad records quarantined and countable rather than
    failing the job. Without a schema Spark infers it (extra pass — fine
    interactively, avoid at scale)."""
    reader = spark.read.option("mode", "PERMISSIVE") \
                       .option("columnNameOfCorruptRecord", corrupt_col)
    if schema is not None:
        full = schema.rstrip() + f", {corrupt_col} string"
        reader = reader.schema(full)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, compression: str = "gzip",
                partitions: int | None = None) -> None:
    """JSONL sink (one object per line, splittable-friendly gzip parts)."""
    out = df.repartition(partitions) if partitions else df
    out.write.mode("overwrite").option("compression", compression).json(path)


def compact_write(df: DataFrame, path: str,
                  target_file_bytes: int = 128 << 20,
                  cluster_cols: list[str] | None = None,
                  n_files: int | None = None) -> dict:
    """Small-files compaction sink: rewrite a DataFrame as ~target-sized
    parquet files, optionally range-clustered on `cluster_cols`.

    The file count comes from Catalyst's own size estimate for the plan
    (`optimizedPlan().stats().sizeInBytes` — exact for file-source scans,
    where it is the sum of the input file sizes), so no extra pass over
    the data is needed. With `cluster_cols`, files are produced by
    repartitionByRange + sortWithinPartitions: every output file covers a
    disjoint range of the cluster key, so parquet min/max statistics prune
    whole files on key-range predicates — the poor-man's Z-order, and the
    right shape for the 100 TB "millions of tiny files from streaming
    ingest" problem. Without them, round-robin repartition balances bytes.

    Returns {"n_files": int, "est_bytes": int}. The write itself is the
    only job; the range partitioner's sampling pass is Spark-internal.
    """
    if n_files is None:
        est = plan_bytes(df)
        if est is None:
            raise ValueError("plan size estimate unavailable: pass n_files")
        n_files = max(1, -(-est // target_file_bytes))
    else:
        est = -1
    if cluster_cols:
        out = (df.repartitionByRange(n_files, *cluster_cols)
               .sortWithinPartitions(*cluster_cols))
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(path)
    return {"n_files": n_files, "est_bytes": est}


def zorder_key(col_a, col_b, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative int columns into one
    clustering key: bit i of a lands at position 2i, bit i of b at 2i+1.
    Feeding this to `compact_write(cluster_cols=[...])` gives files whose
    min/max boxes are tight in BOTH dimensions — the standard multi-column
    file-pruning layout (a range predicate on either column prunes files,
    not just the primary sort column). Inputs are masked to `bits` bits;
    pure bit arithmetic inside whole-stage codegen."""
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in [1, 31]")
    a = F.col(col_a).cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    b = F.col(col_b).cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(a, i).bitwiseAND(F.lit(1)),
                        2 * i)) \
                 .bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(b, i).bitwiseAND(F.lit(1)),
                        2 * i + 1))
    return out
