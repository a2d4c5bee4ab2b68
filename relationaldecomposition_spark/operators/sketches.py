"""Distributed cardinality sketches: per-group approximate distinct counts
via KMV (k-minimum-values) and HyperLogLog, engine-portable.

Reference parity: the reference engine answers COUNT(DISTINCT ...) exactly
(InvertedIndex group counts — `SURVEY.md` §2 A16); these sketches are the
beyond-reference scale path for the same question, sized for 100 TB where an
exact distinct over a high-cardinality key is itself a full shuffle. Both
are classic public constructions:

- KMV: Bar-Yossef et al., "Counting distinct elements in a data stream"
  (RANDOM 2002); estimate (k-1)/U_(k) with U_(k) the k-th smallest
  normalized hash.
- HLL: Flajolet et al., "HyperLogLog: the analysis of a near-optimal
  cardinality estimation algorithm" (AofA 2007), with the standard
  linear-counting small-range correction.

Engine-portable and DETERMINISTIC by construction — both estimators are
reproduced bit-for-bit by the DuckDB oracle twins (`sql_kmv_distinct` /
`sql_hll_distinct`), unlike `approx_count_distinct`, whose register layout
is engine-private:

- the hash is the md5-derived `portable_hash64` (uniform on [0, 2^60));
- KMV needs only an ORDER BY on integer hashes;
- HLL register aggregation sums the EXACT integers 2^(61 - rho) as
  DECIMAL(38,0) — powers of two, so the sum is order-independent (no
  float-summation nondeterminism); the only float ops are one final
  division (and one log in the small-range branch), identical in both
  engines at 6-decimal rounding (the same contract the entropy engine
  relies on).

100 TB shape:

- `kmv_distinct`: groupBy(group, hash) dedups with map-side partial
  aggregation, then a rank-k window. Spark's WindowGroupLimit rewrite
  (rank-limit pushdown) keeps only k rows per group per partition BEFORE
  the window shuffle, so the state is O(groups · k), not O(distinct).
- `hll_distinct`: two hash aggregations — (group, register) max(rho), then
  a group rollup over at most m register rows per group. State is
  O(groups · m) regardless of cardinality; both aggs partial-aggregate
  map-side. No windows, no collects, no UDFs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from ..engine.cost import plan_bytes
from ..functions.hashing import sql_hash64

HASH_BITS = 60
HASH_SPACE = 1 << HASH_BITS  # portable_hash64 is uniform on [0, 2^60)
# HLL register terms are scaled by 2^(REG_SCALE - rho) so they stay exact
# integers; REG_SCALE = HASH_BITS + 1 keeps the largest term (rho = 1) at
# 2^60, inside BIGINT, while DECIMAL(38,0) absorbs the sum.
REG_SCALE = HASH_BITS + 1


def _hash64(col) -> F.Column:
    """portable_hash64 over the value's canonical string form."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10) \
            .cast("long")


def hashed_values(df: DataFrame, group_cols: list[str],
                  value_col: str) -> DataFrame:
    """(group_cols..., _h): the shared sketch input — portable 60-bit
    hash of every non-NULL value. Both kmv_distinct and hll_distinct
    accept it via ``prehashed=``; a pipeline computing several sketches
    over the same (groups, value) should build this ONCE and persist it:
    the md5 pass is the single largest component of either sketch
    (17.2 s of KMV's 41 s / HLL's 22 s at sf10,
    tools/profile_60s_rows.py) and the default faces each repay it."""
    return (df.where(F.col(value_col).isNotNull())
            .select(*[F.col(c) for c in group_cols],
                    _hash64(F.col(value_col)).alias("_h")))


def hll_alpha(m: int) -> float:
    """Standard HLL bias constant for m = 2^p registers (Flajolet §4)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


# Threshold-kernel safety factor: keep hashes <= SAFETY*k/n_est * 2^60.
# With approx_count_distinct's 5% rsd, 8x leaves the true k-th hash below
# the cut with overwhelming probability — and the declarative refill
# branch makes correctness unconditional regardless.
KMV_THRESHOLD_SAFETY = 8
# auto-dispatch cut: below this Catalyst size estimate of the input the
# threshold kernel's extra pass + broadcast machinery costs more than the
# Arrow crossing it avoids (sf0.1 A/B: threshold 3.9 s vs partial ~2.5;
# sf10: threshold 43.6 s vs partial 54.0 fused / 63.8 unfused)
KMV_THRESHOLD_MIN_BYTES = 256 << 20


def kmv_distinct(df: DataFrame, group_cols: list[str], value_col: str,
                 k: int = 256,
                 prehashed: DataFrame | None = None,
                 method: str = "auto") -> DataFrame:
    """Per-group KMV distinct estimate: (group_cols..., n_kept, est_distinct).

    When a group holds fewer than k distinct values the estimate IS the
    exact count (all hashes are retained); otherwise (k-1) * 2^60 / h_(k).
    NULL values are ignored (COUNT DISTINCT semantics). Both methods
    produce identical values (the exact k smallest distinct hashes).

    method="auto" (default) dispatches on Catalyst's size estimate of
    the input — "threshold" at or above KMV_THRESHOLD_MIN_BYTES (the
    scale regime, where the Arrow crossing dominates), "partial" below
    it (the extra pass + broadcast machinery costs more than it saves on
    small inputs); derived/unstatable plans estimate huge, landing on
    the scale-safe kernel. Both kernels return identical rows.

    method="threshold" (round-9 rework): KMV only ever keeps
    hashes below ~k/n * 2^60, so almost every row can be dropped AT THE
    SCAN with a per-group hash cutoff: one cheap pass estimates each
    group's distinct count (approx_count_distinct — a PRUNING heuristic
    only, never part of the output), the cutoff
    min(2^60, SAFETY*k/n_est * 2^60) rides a broadcast join, and only
    the ~SAFETY*k surviving rows per group shuffle into the exact
    dedup+rank. Groups where the filter proves too tight (< k kept AND a
    real cutoff applied) are re-ranked from their full rows in a
    declarative refill branch — normally empty, and AQE's empty-relation
    propagation skips its scan entirely, so exactness is unconditional
    without a driver-side action. Replaced the Arrow partial sketch as
    the default because shipping all N (group, hash) rows through Arrow
    was the largest component of the sf10 row after the md5 pass itself
    (~24 s of 41 s — tools/profile_60s_rows.py); the threshold plan
    shuffles and crosses nothing but the survivors (measured 41 -> ~21 s
    fused at sf10). Cost shape: one extra aggregation pass over the
    hashed values — fused pipelines (``prehashed`` persisted) pay a
    cache read, unfused a second scan, both far below the Arrow
    crossing.

    method="partial": the round-7 mergeable-sketch face — one Arrow pass
    accumulating, per (partition, group), the k smallest unique hashes
    (state O(groups * k), emitted once per partition), then the tiny
    partials shuffle for the exact global merge. Still the right face
    when a second pass over the input is unaffordable and the hashed
    frame cannot be cached (a one-shot stream drain, a remote scan
    charged per byte).

    (Historical shape note, round-6 measurement: ranking the RAW rows so
    WindowGroupLimit's partial mode prunes pre-exchange measured 1.8x
    SLOWER than hash-dedup-then-rank at sf3 — the partial group-limit
    needs a full local sort.)

    Group-key hygiene (round-7 advisor): rows with a NULL — or, for
    float/double keys, a real NaN — in ANY group column never enter the
    pandas closure (Arrow is lossy both ways there: inbound NULL→NaN
    conflation + float64 promotion, outbound NaN→NULL) and never join
    the threshold table (inner join drops null keys silently). Such rows
    ride the exact merge unfiltered: correctness is unconditional, and
    the extra shuffled volume is O(distinct values within null/NaN-keyed
    groups). Empty group_cols = ONE global sketch (single-row cutoff /
    single accumulator, a single-partition rank over the bounded
    survivors).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    if method not in ("auto", "threshold", "partial"):
        raise ValueError(f"unknown kmv method: {method!r}")
    if method == "auto":
        # unknown size takes the threshold face
        est = plan_bytes(prehashed if prehashed is not None else df)
        method = ("threshold"
                  if est is None or est >= KMV_THRESHOLD_MIN_BYTES
                  else "partial")
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    # ``prehashed``: a hashed_values(df, group_cols, value_col) frame —
    # lets a multi-sketch pipeline pay the md5 pass once (persist it).
    hashed = (prehashed if prehashed is not None
              else hashed_values(df, group_cols, value_col))
    part_schema = StructType(
        [hashed.schema[c] for c in group_cols]
        + [StructField("_h", LongType())])

    if group_cols:
        from pyspark.sql.types import DoubleType, FloatType

        null_key = F.lit(False)
        for c in group_cols:
            null_key = null_key | F.col(c).isNull()
            if isinstance(hashed.schema[c].dataType,
                          (FloatType, DoubleType)):
                # real-NaN keys also bypass pandas: the closure's RETURN
                # conversion (pandas -> Arrow) treats NaN in a float
                # column as null, silently merging the NaN group into
                # the NULL group
                null_key = null_key | F.isnan(F.col(c))
        clean, nulled = hashed.where(~null_key), hashed.where(null_key)
    else:
        clean, nulled = hashed, None

    def partial_sketch(batches):
        import pandas as pd
        acc: dict[tuple, "np.ndarray"] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            if not group_cols:
                groups = [((), pdf)]
            else:
                groups = [(key if isinstance(key, tuple) else (key,), sub)
                          for key, sub in pdf.groupby(group_cols,
                                                      dropna=False,
                                                      sort=False)]
            for key_t, sub in groups:
                hs = np.unique(sub["_h"].to_numpy())[:k]
                prev = acc.get(key_t)
                acc[key_t] = hs if prev is None else \
                    np.unique(np.concatenate([prev, hs]))[:k]
        for key_t, hs in acc.items():
            out = pd.DataFrame({"_h": hs})
            for c, v in zip(group_cols, key_t):
                out[c] = v  # no null/NaN keys reach this closure
            yield out[list(group_cols) + ["_h"]]

    def k_smallest(rows: DataFrame) -> DataFrame:
        """Exact k smallest DISTINCT hashes per group over bounded rows."""
        merged = rows.groupBy(*group_cols, "_h").agg(
            F.lit(1).alias("_one"))
        w = Window.partitionBy(*group_cols).orderBy(F.col("_h").asc())
        return (merged.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") <= k)
                .select(*group_cols, "_h"))

    if method == "partial":
        candidates = clean.mapInPandas(partial_sketch, part_schema)
    else:
        max_h = HASH_SPACE - 1
        # clamp BEFORE the long cast: SAFETY*k*2^60/n overflows BIGINT
        # for small n (the no-filter regime)
        cut = F.least(
            F.lit(float(max_h)),
            F.lit(float(KMV_THRESHOLD_SAFETY * k)) * F.lit(float(HASH_SPACE))
            / F.greatest(F.col("_n"), F.lit(1)).cast("double")) \
            .cast("long").alias("_t")
        # the estimate pass is a PRUNING heuristic — it needs a distinct
        # COUNT, not the hash values, so it runs on the RAW column and
        # skips the md5 chain entirely (measured 4.4 -> 1.1 s at sf10,
        # round-12 profiling; ACD ignores NULLs either way). With a
        # ``prehashed`` (typically persisted) frame the hashed read is
        # the cheaper scan, so it keeps estimating over _h. Extra
        # null/NaN-keyed groups in the raw estimate are inert: `clean`
        # carries no such rows, so they match nothing downstream.
        if group_cols:
            if prehashed is not None:
                est = clean.groupBy(*group_cols).agg(
                    F.approx_count_distinct("_h").alias("_n"))
            else:
                est = df.groupBy(*group_cols).agg(
                    F.approx_count_distinct(value_col).alias("_n"))
            th = est.select(*group_cols, cut)
            flt = (clean.join(F.broadcast(th), list(group_cols))
                   .where(F.col("_h") <= F.col("_t")).drop("_t"))
            kept1 = k_smallest(flt)
            # suspicious set derives from the THRESHOLD table (every
            # group), not from kept1: a group whose cutoff leaves ZERO
            # survivors is absent from kept1 entirely and must still be
            # refilled (caught by the forced-tight-cutoff test)
            sus = (th.join(kept1.groupBy(*group_cols)
                           .agg(F.count(F.lit(1)).alias("_nk")),
                           list(group_cols), "left")
                   .where((F.coalesce("_nk", F.lit(0)) < k)
                          & (F.col("_t") < max_h))
                   .select(*group_cols))
            safe = kept1.join(F.broadcast(sus), list(group_cols),
                              "left_anti")
            refill = clean.join(F.broadcast(sus), list(group_cols),
                                "left_semi")
        else:
            est = (clean.agg(F.approx_count_distinct("_h").alias("_n"))
                   if prehashed is not None else
                   df.agg(F.approx_count_distinct(value_col).alias("_n")))
            th = est.select(cut)
            flt = (clean.crossJoin(F.broadcast(th))
                   .where(F.col("_h") <= F.col("_t")).drop("_t"))
            kept1 = k_smallest(flt)
            stats = (kept1.agg(F.count(F.lit(1)).alias("_nk"))
                     .crossJoin(th))
            bad = (F.col("_nk") < k) & (F.col("_t") < max_h)
            sus_m = stats.where(bad).select(F.lit(1).alias("_m"))
            ok_m = stats.where(~bad).select(F.lit(1).alias("_m"))
            safe = kept1.crossJoin(F.broadcast(ok_m)).drop("_m")
            refill = clean.crossJoin(F.broadcast(sus_m)).drop("_m")
        candidates = safe.unionByName(refill)
    if nulled is not None:
        # null/NaN-keyed rows skip the kernel: their raw (group, hash)
        # rows join the exact merge below, which dedups and ranks them
        # the same way (a partial sketch with k = infinity)
        candidates = candidates.unionByName(nulled)
    kept = k_smallest(candidates)
    kth = F.max("_h")  # only the k smallest survive, so max is h_(k)
    n = F.count(F.lit(1))
    est = F.when(n < k, n.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(float(HASH_SPACE)) / kth.cast("double"))
    return (kept.groupBy(*group_cols)
            .agg(n.cast("bigint").alias("n_kept"),
                 F.round(est, 6).alias("est_distinct")))


def sql_kmv_distinct(table: str, group_cols: list[str], value_expr: str,
                     k: int = 256) -> str:
    """DuckDB twin of kmv_distinct — identical hash, rank, and estimate."""
    gc = ", ".join(group_cols)
    h = sql_hash64(f"CAST({value_expr} AS VARCHAR)")
    return f"""
      WITH hashed AS (
        SELECT DISTINCT {gc}, {h} AS h
        FROM {table} WHERE {value_expr} IS NOT NULL),
      ranked AS (
        SELECT {gc}, h, row_number() OVER
            (PARTITION BY {gc} ORDER BY h ASC) AS rn
        FROM hashed)
      SELECT {gc}, count(*)::BIGINT AS n_kept,
             round(CASE WHEN count(*) < {k} THEN count(*)::DOUBLE
                   ELSE {float(k - 1)!r} * {float(HASH_SPACE)!r}
                        / max(h)::DOUBLE END, 6) AS est_distinct
      FROM ranked WHERE rn <= {k} GROUP BY {gc}"""


def hll_distinct(df: DataFrame, group_cols: list[str], value_col: str,
                 p: int = 8,
                 prehashed: DataFrame | None = None) -> DataFrame:
    """Per-group HyperLogLog estimate: (group_cols..., n_registers,
    est_distinct). m = 2^p registers; register index is the hash's low p
    bits, rho the position of the first 1-bit in the remaining 60-p bits
    (rho = 61-p when they are all zero, per the HLL convention).

    Register state never materializes driver-side: max(rho) per (group,
    register), then one exact DECIMAL sum of 2^(61 - rho) per group plus
    the (m - n_registers) * 2^61 contribution of never-hit registers.
    Small-range correction: linear counting when E <= 2.5m and empty
    registers exist. The 60-bit hash space makes the large-range
    correction irrelevant below ~2^57 distinct values, so it is omitted.
    """
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    m = 1 << p
    alpha = hll_alpha(m)
    rest_bits = HASH_BITS - p
    hashed = (prehashed if prehashed is not None
              else hashed_values(df, group_cols, value_col))
    h = F.col("_h")
    # Exact integer bit length WITHOUT the per-row base-2 string
    # conversion (conv(w,10,2) allocates a ~60-char string per row —
    # measured as costly as the md5 hash itself). floor(log2(w)) can be
    # off by one where the double rounding crosses a power of two, so the
    # guess is corrected with two exact integer shift comparisons — the
    # result equals the string form for every w in [0, 2^60)
    # (exhaustively checked around every power of two).
    staged = (hashed
              .select(*[F.col(c) for c in group_cols],
                      (h % F.lit(m)).alias("_idx"),
                      F.shiftrightunsigned(h, p).alias("_w"))
              .withColumn("_g", (F.floor(F.log2("_w")) + F.lit(1))
                          .cast("int")))
    wcol = F.col("_w")
    g = F.col("_g")
    bl = F.when(F.expr("shiftleft(cast(1 as bigint), _g - 1)") > wcol,
                g - 1) \
          .when(F.expr("shiftleft(cast(1 as bigint), _g)") <= wcol,
                g + 1) \
          .otherwise(g)
    bitlen = F.when(wcol == 0, F.lit(0)).otherwise(bl)
    rho = (F.lit(rest_bits) - bitlen + F.lit(1)).alias("_rho")
    regs = (staged
            .select(*[F.col(c) for c in group_cols], F.col("_idx"), rho)
            .groupBy(*group_cols, "_idx")
            .agg(F.max("_rho").alias("_rho_max")))
    term = F.expr(f"cast(shiftleft(cast(1 as bigint), "
                  f"{REG_SCALE} - _rho_max) as decimal(38,0))")
    empty_term = F.lit(1 << REG_SCALE).cast("decimal(38,0)")
    n_regs = F.count(F.lit(1))
    s = (F.sum(term) + (F.lit(m) - n_regs).cast("decimal(38,0)") * empty_term) \
        .cast("double")
    e_raw = F.lit(alpha * m * m * float(1 << REG_SCALE)) / s
    zeros = (F.lit(m) - n_regs).cast("double")
    est = F.when((e_raw <= F.lit(2.5 * m)) & (zeros > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)) \
           .otherwise(e_raw)
    return (regs.groupBy(*group_cols)
            .agg(n_regs.cast("bigint").alias("n_registers"),
                 F.round(est, 6).alias("est_distinct")))


def sql_hll_distinct(table: str, group_cols: list[str], value_expr: str,
                     p: int = 8) -> str:
    """DuckDB twin of hll_distinct — same registers, same exact DECIMAL
    register sum, same correction branch."""
    m = 1 << p
    alpha = hll_alpha(m)
    rest_bits = HASH_BITS - p
    gc = ", ".join(group_cols)
    h = sql_hash64(f"CAST({value_expr} AS VARCHAR)")
    scale = 1 << REG_SCALE
    # ONE Python-computed double, identical to the Spark side's F.lit —
    # and repr() keeps DuckDB from parsing a plain decimal literal as
    # DECIMAL (whose multiplication would overflow at width 18)
    num = alpha * m * m * float(scale)
    return f"""
      WITH hashed AS (
        SELECT {gc}, {h} % {m} AS idx,
               ({h} // {m}) AS w
        FROM {table} WHERE {value_expr} IS NOT NULL),
      regs AS (
        SELECT {gc}, idx,
               max({rest_bits} - (CASE WHEN w = 0 THEN 0
                   ELSE length(format('{{:b}}', w)) END) + 1) AS rho_max
        FROM hashed GROUP BY {gc}, idx),
      agg AS (
        SELECT {gc}, count(*)::BIGINT AS n_registers,
               (sum(CAST(1::BIGINT << ({REG_SCALE} - rho_max)
                         AS DECIMAL(38,0)))
                + CAST({m} - count(*) AS DECIMAL(38,0))
                  * CAST({scale} AS DECIMAL(38,0)))::DOUBLE AS s,
               ({m} - count(*))::DOUBLE AS zeros
        FROM regs GROUP BY {gc})
      SELECT {gc}, n_registers,
             round(CASE WHEN ({num!r} / s) <= CAST({2.5 * m!r} AS DOUBLE)
                          AND zeros > 0
                   THEN CAST({float(m)!r} AS DOUBLE)
                        * ln(CAST({float(m)!r} AS DOUBLE) / zeros)
                   ELSE {num!r} / s END, 6) AS est_distinct
      FROM agg"""
