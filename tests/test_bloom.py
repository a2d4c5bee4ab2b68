"""Portable Bloom semi-join (operators/bloom.py): no false negatives,
measured FP rate vs theory, bitmap parity with the DuckDB twin, map-only
probe plan, and edge cases."""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from relationaldecomposition_spark.engine.cost import plan_bytes
from relationaldecomposition_spark.operators import bloom

from conftest import SF_DIR, load

M_BITS = 4096
K = 5


@pytest.fixture(scope="module")
def li(spark):
    return load(spark, "lineitem")


@pytest.fixture(scope="module")
def small(spark):
    return (load(spark, "orders")
            .where(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey"))


def test_no_false_negatives(spark, li, small):
    surv = set(r[0] for r in
               bloom.bloom_semi_join(li, "l_orderkey", small, "o_orderkey",
                                     M_BITS, K)
               .select("l_orderkey").distinct().collect())
    true_keys = set(r[0] for r in small.collect()) & \
        set(r[0] for r in li.select("l_orderkey").distinct().collect())
    assert true_keys <= surv


def test_fp_rate_near_theory(spark, li, small):
    n = small.distinct().count()
    surv = bloom.bloom_semi_join(li, "l_orderkey", small, "o_orderkey",
                                 M_BITS, K) \
        .select("l_orderkey").distinct().count()
    truep = li.join(small.withColumnRenamed("o_orderkey", "l_orderkey"),
                    "l_orderkey", "left_semi") \
        .select("l_orderkey").distinct().count()
    total = li.select("l_orderkey").distinct().count()
    fp_rate = (surv - truep) / max(total - truep, 1)
    theory = (1.0 - math.exp(-K * n / M_BITS)) ** K
    # Poisson-binomial concentration: observed rate within 2x + slack
    assert fp_rate <= 2.0 * theory + 0.02, (fp_rate, theory)


def test_bitmap_and_survivors_match_duckdb(spark, li, small):
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/{t}.parquet')")
    q = bloom.sql_bloom_semi_join(
        "lineitem", "l_orderkey",
        "(SELECT o_orderkey FROM orders "
        "WHERE o_orderpriority = '1-URGENT')",
        "o_orderkey", M_BITS, K)
    dk = sorted(r[0] for r in
                con.sql(f"SELECT DISTINCT l_orderkey FROM ({q})").fetchall())
    sk = sorted(r[0] for r in
                bloom.bloom_semi_join(li, "l_orderkey", small, "o_orderkey",
                                      M_BITS, K)
                .select("l_orderkey").distinct().collect())
    assert sk == dk


def test_probe_is_map_only(spark, li, small):
    plan = bloom.bloom_semi_join(li, "l_orderkey", small, "o_orderkey",
                                 M_BITS, K) \
        ._jdf.queryExecution().executedPlan().toString()
    # the probe must not join or shuffle: the bitmap is a plan literal
    assert plan.count("Exchange") == 0
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan


def test_empty_build_side_passes_nothing(spark, li, small):
    empty = small.where(F.lit(False))
    out = bloom.bloom_semi_join(li, "l_orderkey", empty, "o_orderkey",
                                M_BITS, K)
    assert out.count() == 0


def test_null_keys_never_pass(spark, small):
    df = small.select(F.lit(None).cast("bigint").alias("key"))
    out = bloom.bloom_semi_join(df, "key", small, "o_orderkey", M_BITS, K)
    assert out.count() == 0


def test_bad_m_bits(spark, li, small):
    with pytest.raises(ValueError):
        bloom.bloom_build(small, "o_orderkey", m_bits=100)


def test_auto_sized_bitmap_fp_rate(spark, li, small):
    """m_bits=None sizes the bitmap from the build-side count: the FP rate
    must stay near the 10-bits-per-key theory (~0.9% at k=5) instead of
    saturating like a fixed undersized bitmap would."""
    n = small.count()
    build_keys = {r["o_orderkey"] for r in small.collect()}
    all_keys = {r["l_orderkey"]
                for r in li.select("l_orderkey").distinct().collect()}
    exact_keys = all_keys & build_keys      # true semi-join key set
    out = bloom.bloom_semi_join(li, "l_orderkey", small, "o_orderkey")
    kept_keys = {r["l_orderkey"]
                 for r in out.select("l_orderkey").distinct().collect()}
    assert exact_keys <= kept_keys          # no false negatives
    negatives = all_keys - exact_keys
    fp = len(kept_keys - exact_keys) / max(len(negatives), 1)
    m = max(bloom.BLOOM_MIN_BITS,
            -(-(n * bloom.BLOOM_BITS_PER_KEY) // 32) * 32)
    theory = (1.0 - math.exp(-K * n / m)) ** K
    assert fp <= max(3 * theory, 0.05), (fp, theory, m)


# ---------------------------------------------------------------------------
# size dispatch (round 5): literal plan bitmap vs broadcast-variable bitmap
# ---------------------------------------------------------------------------

def test_broadcast_probe_value_identical_to_literal(spark, li, small):
    """Forcing the broadcast path (literal_max_bits=0) must keep the
    surviving row set BIT-IDENTICAL to the literal path at the same
    m_bits/k/seed — the dispatch changes delivery, never values."""
    lit_rows = sorted(r["l_orderkey"] for r in bloom.bloom_semi_join(
        li, "l_orderkey", small, "o_orderkey", m_bits=M_BITS, k=K)
        .select("l_orderkey").collect())
    bc_rows = sorted(r["l_orderkey"] for r in bloom.bloom_semi_join(
        li, "l_orderkey", small, "o_orderkey", m_bits=M_BITS, k=K,
        literal_max_bits=0).select("l_orderkey").collect())
    assert lit_rows == bc_rows and len(lit_rows) > 0


def test_broadcast_probe_standalone_null_keys_false(spark, li, small):
    """bloom_probe_broadcast is public: probing a nullable key column
    DIRECTLY (outside bloom_semi_join's isNotNull pre-filter) must return
    FALSE for null keys — matching bloom_probe_expr's null-never-passes
    semantics — instead of failing the task on NaN→int64 conversion."""
    words = bloom.bloom_build(small, "o_orderkey", M_BITS, K)
    df = spark.createDataFrame(
        [(1,), (None,)], "key bigint").withColumn(
        "hit", bloom.bloom_probe_broadcast(
            spark.createDataFrame([(1,)], "key bigint"), "key", words, K))
    got = {r["key"]: r["hit"] for r in df.collect()}
    assert got[None] is False


def test_broadcast_probe_no_false_negatives(spark, li, small):
    got = set(r["l_orderkey"] for r in bloom.bloom_semi_join(
        li, "l_orderkey", small, "o_orderkey", m_bits=M_BITS, k=K,
        literal_max_bits=0).select("l_orderkey").collect())
    want = set(r["l_orderkey"] for r in
               li.join(small, li.l_orderkey == small.o_orderkey,
                       "left_semi").select("l_orderkey").collect())
    assert want <= got


def test_dispatch_threshold_picks_literal_for_small_builds(spark, li, small):
    """Default ceiling: a dimension-sized build stays on the literal path
    (plan contains the parsed bitmap array, no Python evaluation)."""
    plan = bloom.bloom_semi_join(li, "l_orderkey", small, "o_orderkey",
                                 m_bits=M_BITS, k=K) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_dispatch_threshold_picks_broadcast_for_large_builds(spark, li,
                                                             small):
    plan = bloom.bloom_semi_join(li, "l_orderkey", small, "o_orderkey",
                                 m_bits=M_BITS, k=K, literal_max_bits=0) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan


def test_probe_side_gate_picks_arrow_for_big_probe_sides(spark, li, small):
    """r15 probe dispatch: when the PROBE side's estimated scan exceeds
    arrow_probe_min_bytes, the Arrow probe engages even for a
    literal-sized bitmap (its vectorized bit-tests measured ~2x the
    interpreted literal expression per row at every m_bits), and the
    surviving rows stay bit-identical to the literal face."""
    gated = bloom.bloom_semi_join(li, "l_orderkey", small, "o_orderkey",
                                  m_bits=M_BITS, k=K,
                                  arrow_probe_min_bytes=0)
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    # still map-only: the gate changes the evaluation engine, not the shape
    assert plan.count("Exchange") == 0
    lit = bloom.bloom_semi_join(li, "l_orderkey", small, "o_orderkey",
                                m_bits=M_BITS, k=K,
                                arrow_probe_min_bytes=None)
    assert sorted(r["l_orderkey"] for r in gated.select("l_orderkey")
                  .collect()) == \
        sorted(r["l_orderkey"] for r in lit.select("l_orderkey").collect())


@pytest.mark.parametrize("delta, arrow", [(0, True), (1, False)])
def test_probe_side_gate_direction_at_real_estimate(spark, li, small, delta,
                                                    arrow):
    """The gate compares the probe side's real plan estimate with >=: a
    threshold equal to it picks the Arrow probe, one byte above it the
    literal face."""
    plan = bloom.bloom_semi_join(
        li, "l_orderkey", small, "o_orderkey", m_bits=M_BITS, k=K,
        arrow_probe_min_bytes=plan_bytes(li) + delta) \
        ._jdf.queryExecution().executedPlan().toString()
    assert ("ArrowEvalPython" in plan) is arrow


def test_probe_side_gate_unknown_estimate_stays_literal(spark, li, small,
                                                        monkeypatch):
    """Unreachable plan stats (no ``_jdf`` under Spark Connect) keep the
    literal face: the Arrow face broadcasts through a sparkContext."""
    monkeypatch.setattr(bloom, "plan_bytes", lambda df: None)
    got = bloom.bloom_semi_join(li, "l_orderkey", small, "o_orderkey",
                                m_bits=M_BITS, k=K, arrow_probe_min_bytes=0)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    lit = bloom.bloom_semi_join(li, "l_orderkey", small, "o_orderkey",
                                m_bits=M_BITS, k=K,
                                arrow_probe_min_bytes=None)
    assert sorted(r["l_orderkey"] for r in got.select("l_orderkey")
                  .collect()) == \
        sorted(r["l_orderkey"] for r in lit.select("l_orderkey").collect())


def test_auto_sizing_matches_manual_count_build(spark, li, small):
    """Auto-sizing (count -> m_bits formula -> build) must produce the
    bitmap — and therefore the surviving row set, false positives
    included — of a manual count -> explicit-m_bits build exactly.
    (Guards the auto-size path's mechanics: a key-checkpoint fuse of the
    count and build scans was tried and reverted in r15 on a measured
    sf10 regression; this pin keeps any future rework value-identical.)"""
    n = small.where(F.col("o_orderkey").isNotNull()).count()
    m = max(bloom.BLOOM_MIN_BITS,
            -(-(n * bloom.BLOOM_BITS_PER_KEY) // 32) * 32)
    auto = bloom.bloom_semi_join(li, "l_orderkey", small, "o_orderkey")
    manual = bloom.bloom_semi_join(li, "l_orderkey", small, "o_orderkey",
                                   m_bits=m, k=5)
    assert sorted(r["l_orderkey"] for r in auto.select("l_orderkey")
                  .collect()) == \
        sorted(r["l_orderkey"] for r in manual.select("l_orderkey")
               .collect())
