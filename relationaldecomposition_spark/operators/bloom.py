"""Portable Bloom-filter semi-join: pre-filter the big side of a join
BEFORE its shuffle.

The classic 100 TB join problem: `big ⋈ small_subset` shuffles every big
row, even though most of them can never match. Spark's own runtime filters
(`spark.sql.optimizer.runtime.bloomFilter.enabled`) inject exactly this
structure, but their `bloom_filter_agg` bitmap is engine-private and
row-order-dependent — useless for a cross-engine value oracle. This module
builds the standard Bloom filter (Bloom, CACM 1970; k independent hashes
over an m-bit array) from the md5-derived portable hash family that MinHash
already uses (`functions/hashing.py`), so the bitmap — and therefore the
exact surviving row set, false positives included — is DETERMINISTIC and
bit-identical in Spark and DuckDB.

Design for scale:

- **Build is one aggregation.** k positions per build key, exploded to
  (word, mask) and bit_or-reduced per word — map-side combining collapses
  to at most m/32 rows per partition. The collect is bitmap-sized
  (m_bits/32 ints), the same "codebook-sized literal" contract as the IVF
  centroids, NOT data-sized.
- **Probe is map-only.** The bitmap rides into the plan as one parsed
  array literal; the membership test computes the md5 digest once per row
  (bound as a transform-lambda variable so the optimizer cannot duplicate
  it) and then k affine shift/AND bit tests. No join, no shuffle, no
  broadcast variable — a 100 TB scan drops non-candidates at the scan
  site.
- **Words are 32-bit** (masks in [1, 2^31]): DuckDB raises on
  `1::BIGINT << 63`, and staying under the sign bit keeps the twin
  overflow-free in both engines.

Semantics: `bloom_semi_join` has NO false negatives (every true match
survives) and a tunable false-positive rate ~(1 - e^{-kn/m})^k; it is a
*pre*-filter, so a correct pipeline still joins afterwards. The FP rate is
measured against the exact semi-join in tests/test_bloom.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..engine.cost import plan_bytes
from ..functions.hashing import (
    H32_MOD, minhash_params, sql_affine_hash, sql_hash32)

WORD_BITS = 32
BLOOM_SEED = 7


def _positions_sql(key_expr: str, m_bits: int, k: int, seed: int,
                   dialect: str) -> list[str]:
    """The k bit positions of a key as SQL expressions: affine universal
    hashes over the portable 32-bit md5 hash, reduced mod m_bits. The hex
    parse is the one per-dialect spelling (Spark `conv(.., 16, 10)` vs
    DuckDB's '0x' cast); the affine family and modulus are shared
    constants, so the VALUES are bit-identical."""
    if dialect == "spark":
        h32 = (f"(CAST(conv(substring(md5(CAST({key_expr} AS STRING)), "
               f"1, 15), 16, 10) AS BIGINT) % {H32_MOD})")
    else:
        h32 = sql_hash32(f"CAST({key_expr} AS STRING)")
    return [f"({sql_affine_hash(h32, a, b)} % {m_bits})"
            for a, b in minhash_params(k, seed)]


def bloom_build(df: DataFrame, key_col: str, m_bits: int = 16384,
                k: int = 5, seed: int = BLOOM_SEED) -> list[int]:
    """Build the bitmap as a list of m_bits/32 ints (the driver-side
    literal for probing). One explode + one bit_or aggregation; the
    collect is at most m_bits/32 rows regardless of build-side size.

    The portable md5 hash is computed ONCE per key: the k (a, b) affine
    params are exploded as a LITERAL array and the position math applies
    AFTER the Generate, so the hash rides through it as a plain
    attribute — the generator never references it, which is what stops
    CollapseProject from inlining the md5+conv into each of the k
    position expressions (r7; the inlined form re-evaluated the hash k
    times per key — measured 27 -> 9 s for a 3M-key build). Positions
    are identical to _positions_sql's, so the bitmap — and every probe
    face — is unchanged."""
    from ..functions.hashing import (MERSENNE_P, minhash_params,
                                     portable_hash32)

    if m_bits % WORD_BITS != 0:
        raise ValueError(f"m_bits must be a multiple of {WORD_BITS}")
    params = F.array(*[
        F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
        for a, b in minhash_params(k, seed)])
    pos = ((F.col("_h") * F.col("ab.a") + F.col("ab.b"))
           % F.lit(MERSENNE_P)) % F.lit(m_bits)
    rows = (df.where(F.col(key_col).isNotNull())
            .select(portable_hash32(F.col(key_col).cast("string"))
                    .alias("_h"))
            .select(F.col("_h"), F.explode(params).alias("ab"))
            .select(pos.alias("p"))
            .select(F.expr(f"CAST(p DIV {WORD_BITS} AS INT)").alias("w"),
                    F.expr(f"shiftleft(1, CAST(p % {WORD_BITS} AS INT))")
                     .alias("m"))
            .groupBy("w").agg(F.expr("bit_or(m)").alias("mask"))
            .collect())
    words = [0] * (m_bits // WORD_BITS)
    for r in rows:
        words[r["w"]] = int(r["mask"])
    return words


def bloom_probe_expr(key_col: str, words: list[int], k: int = 5,
                     seed: int = BLOOM_SEED) -> Column:
    """Map-only membership predicate: TRUE iff all k bits are set.

    Two things must appear exactly once in the expression tree, both
    enforced by one-element `transform` lambda bindings (Catalyst's
    CollapseProject re-inlines withColumn-hoisted aliases into every
    consumer, so hoisting does NOT deduplicate):

    - the md5 digest (the dominant per-row compute): binding `array(h32)
      -> h` measured 2.1x faster at k=5 on sf0.1 lineitem than the
      k-inlined form;
    - the bitmap literal (the dominant plan WEIGHT once auto-sizing grows
      it with the build side): k folded copies shipped a 9.4 MiB task
      binary at sf1 and pushed the scaling slope to 11.6x; the outer
      `array(bitmap) -> w` binding ships one copy. Carrying the bitmap by
      a single-row broadcast cross join instead is strictly worse — the
      nested-loop join copies the array into every output row (measured
      slope 20x at sf1)."""
    m_bits = len(words) * WORD_BITS
    wl = "array(" + ",".join(str(int(x)) for x in words) + ")"
    base = (f"(CAST(conv(substring(md5(CAST({key_col} AS STRING)), "
            f"1, 15), 16, 10) AS BIGINT) % {H32_MOD})")
    tests = " AND ".join(
        f"(element_at(w, CAST(({sql_affine_hash('h', a, b)} % {m_bits})"
        f" DIV {WORD_BITS} AS INT) + 1)"
        f" & shiftleft(1, CAST(({sql_affine_hash('h', a, b)} % {m_bits})"
        f" % {WORD_BITS} AS INT))) <> 0"
        for a, b in minhash_params(k, seed))
    return F.expr(
        f"element_at(transform(array({wl}), w -> "
        f"element_at(transform(array({base}), h -> ({tests})), 1)), 1)")


# NEGATIVE RESULT (measured, round 9 — do not retry): rebinding the
# literal probe's once-only md5/bitmap through a Generate barrier
# (df.select(*, explode(array(<bitmap literal>)))) instead of the
# one-element transform lambdas is catastrophic — explode MATERIALIZES
# its generator output per row, so every input row copies the whole
# m/32-word array (measured 489 s vs 63 s for the sf10 probe shape).
# The bloom_build explode-literal idiom works only because its literal
# is the tiny k-param array. The transform-bound Column face's literal
# array is constant-folded once and never copied per row; its
# CodegenFallback dispatch is NOT the bloom_semi wall (the sf10 row runs
# the broadcast-Arrow probe anyway — see tools/profile_60s_rows.py).

# Auto-sizing: ~10 bits per build key gives FP ~ 0.9% at k=5.
BLOOM_BITS_PER_KEY = 10
BLOOM_MIN_BITS = 1024
# Plan-literal bitmap ceiling (~1 MiB of int32 words). Auto-sizing grows
# m_bits with the BUILD side, and a plan literal that grows with data is
# the wrong economics past dimension scale: the expression tree is copied
# into every task binary and re-parsed per plan. Beyond the ceiling the
# SAME bitmap rides an executor broadcast variable instead (see
# bloom_probe_broadcast) — the dispatch changes delivery, never values.
BLOOM_LITERAL_MAX_BITS = 8 * 1024 * 1024
# PROBE-side dispatch (r15): the literal probe's per-row cost — k
# interpreted affine bit-tests + element_at dispatched through the
# CodegenFallback transform-lambda binding — is ~2x the Arrow face's
# vectorized numpy per row AT EVERY BITMAP SIZE (measured interleaved on
# sf0.1 lineitem, 600k rows: literal 2.9/2.4/2.8 s vs broadcast
# 1.4/1.4/1.1 s at m_bits = 16k/300k/2M — the per-row wall is the
# interpreted expression, not the bitmap size). Above this estimated
# probe-side scan size the Arrow probe's fixed Python-stage cost
# amortizes and bloom_semi_join uses it regardless of m_bits; below it
# the literal face stays fastest (sf0.001: 0.34 vs 0.45 s — spin-up
# dominates; crossover measured ~1 MB / 60k rows, gate set 4x above it
# so dimension-scale gate inputs keep the zero-dependency literal plan).
BLOOM_ARROW_PROBE_MIN_BYTES = 4 * 1024 * 1024


def bloom_probe_broadcast(df: DataFrame, key_col: str, words: list[int],
                          k: int = 5, seed: int = BLOOM_SEED) -> Column:
    """Large-bitmap membership predicate: identical hash family and bitmap
    as bloom_probe_expr, but the words array is a sparkContext.broadcast
    numpy vector and the k affine bit-tests run vectorized in an
    Arrow-batched pandas UDF over the JVM-computed portable 32-bit hash —
    one int64 per row crosses into Arrow, the bitmap ships to each
    executor ONCE (not per task binary, not per plan copy). Value-identical
    to the literal probe by construction (pinned in tests/test_bloom.py);
    intermediate products stay < 2^62, inside int64."""
    from pyspark.sql.functions import pandas_udf

    from ..functions.hashing import MERSENNE_P, portable_hash32

    m_bits = len(words) * WORD_BITS
    bc = df.sparkSession.sparkContext.broadcast(
        np.asarray(words, dtype=np.int64))
    params = minhash_params(k, seed)

    @pandas_udf("boolean")
    def _probe(h: pd.Series) -> pd.Series:
        wl = bc.value
        # NULL keys hash to NULL: mask them to FALSE (bloom_probe_expr's
        # null semantics — a null key never passes) instead of letting
        # to_numpy(int64) raise on NaN when a caller probes nullable keys
        # directly, outside bloom_semi_join's isNotNull pre-filter.
        mask = h.notna()
        hv = h.fillna(0).to_numpy(dtype=np.int64)
        ok = np.ones(len(hv), dtype=bool)
        for a, b in params:
            p = ((hv * a + b) % MERSENNE_P) % m_bits
            ok &= ((wl[p // WORD_BITS] >> (p % WORD_BITS)) & 1).astype(bool)
        return pd.Series(ok & mask.to_numpy(dtype=bool))

    return _probe(portable_hash32(F.col(key_col).cast("string")))


def bloom_semi_join(big: DataFrame, big_key: str, small: DataFrame,
                    small_key: str, m_bits: int | None = None, k: int = 5,
                    seed: int = BLOOM_SEED,
                    literal_max_bits: int = BLOOM_LITERAL_MAX_BITS,
                    arrow_probe_min_bytes: int | None =
                    BLOOM_ARROW_PROBE_MIN_BYTES) -> DataFrame:
    """Rows of `big` whose key *may* appear in `small` (no false
    negatives; deterministic false positives at ~(1-e^{-kn/m})^k). NULL
    keys never pass, matching semi-join semantics.

    m_bits=None (default) sizes the bitmap from the build-side count at
    BLOOM_BITS_PER_KEY — an undersized bitmap saturates silently and the
    "filter" passes everything. Pass explicit m_bits only when a
    cross-engine oracle needs a data-independent constant. Auto-sizing
    costs one COUNT job over the build side before the build scan; a
    key-checkpoint fuse that shared one scan between them was tried and
    REVERTED (r15, measured interleaved): against a plain pushed-filter
    parquet scan the block-store materialization + row-oriented re-read
    of ~3M keys LOST 5 s at sf10 (21.9 vs 16.5 s end-to-end) for a
    ~0.2 s sf0.1 gain — the guide-§5 caching caveat (cache only when
    recompute is dearer). Callers whose build side IS expensive to
    derive (filters over joins, UDF gates) should materialize it
    themselves before calling.

    SIZE DISPATCH (delivery): bitmaps up to `literal_max_bits` ride the
    plan as one parsed literal (zero-copy map-only probe,
    DuckDB-twin-able); larger builds switch to the broadcast-variable +
    vectorized-Arrow probe — same bitmap, same surviving rows, different
    delivery. PROBE DISPATCH (per-row cost, r15): when the PROBE side's
    estimated scan exceeds `arrow_probe_min_bytes`, the Arrow probe is
    used regardless of m_bits — its vectorized bit-tests are ~2x the
    interpreted literal expression per row (see
    BLOOM_ARROW_PROBE_MIN_BYTES), and on a 100 TB probe side the per-row
    term is everything. Pass arrow_probe_min_bytes=None to disable the
    probe-side gate (the pre-r15 m_bits-only dispatch). Builds so large
    that even ~10 bits/key is unaffordable should shrink to a budget
    (higher FP rate) or fall back to a shuffle semi-join."""
    if m_bits is None:
        n = small.where(F.col(small_key).isNotNull()).count()
        m_bits = max(BLOOM_MIN_BITS,
                     -(-(n * BLOOM_BITS_PER_KEY) // WORD_BITS) * WORD_BITS)
    words = bloom_build(small, small_key, m_bits, k, seed)
    use_arrow = m_bits > literal_max_bits
    if not use_arrow and arrow_probe_min_bytes is not None:
        # unknown size stays literal: the broadcast face needs a
        # sparkContext, which Spark Connect (no plan stats) lacks
        est = plan_bytes(big)
        use_arrow = est is not None and est >= arrow_probe_min_bytes
    if use_arrow:
        probe = bloom_probe_broadcast(big, big_key, words, k, seed)
    else:
        probe = bloom_probe_expr(big_key, words, k, seed)
    return big.where(F.col(big_key).isNotNull() & probe)


def sql_bloom_semi_join(big_table: str, big_key: str, small_table: str,
                        small_key: str, m_bits: int = 16384, k: int = 5,
                        seed: int = BLOOM_SEED) -> str:
    """DuckDB twin: same build aggregation, same probe bits. The bitmap is
    densified over range(m_bits/32) and carried as one list via a CROSS
    JOIN of a single-row CTE. `small_table` may be a parenthesized
    subquery. Yields `SELECT b.* FROM big_table b ... WHERE <k bit
    tests>`."""
    n_words = m_bits // WORD_BITS
    build_pos = ", ".join(_positions_sql(small_key, m_bits, k, seed, "duckdb"))
    probe = " AND ".join(
        f"(a.wl[({p} // {WORD_BITS}) + 1]"
        f" & (1::BIGINT << ({p} % {WORD_BITS}))) <> 0"
        for p in _positions_sql(f"b.{big_key}", m_bits, k, seed,
                                "duckdb"))
    return f"""
      WITH pos AS (
        SELECT unnest([{build_pos}]) AS p
        FROM {small_table} WHERE {small_key} IS NOT NULL),
      sparse AS (
        SELECT p // {WORD_BITS} AS w,
               bit_or(1::BIGINT << (p % {WORD_BITS})) AS mask
        FROM pos GROUP BY 1),
      dense AS (
        SELECT r.w, coalesce(s.mask, 0) AS mask
        FROM range(0, {n_words}) r(w) LEFT JOIN sparse s ON s.w = r.w),
      arr AS (SELECT list(mask ORDER BY w) AS wl FROM dense)
      SELECT b.* FROM {big_table} b CROSS JOIN arr a
      WHERE b.{big_key} IS NOT NULL AND {probe}"""
