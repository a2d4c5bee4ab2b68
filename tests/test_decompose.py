"""Decomposition validation vs the naive-join oracle (the reference's own
dual-algorithm test: SmallDBInMemory.main runs testDecomposition and
spuritousTuples on the same clusters and compares)."""

import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

from relationaldecomposition_spark.engine.decompose import (
    DecompositionCanceled, DecompositionValidator)
from tests.conftest import load


@pytest.fixture(scope="module")
def denorm(spark):
    """customer ⋈ nation ⋈ region denormalized — the planted decomposition
    to validate (FIXTURES.md F6)."""
    c = load(spark, "customer")
    n = load(spark, "nation")
    r = load(spark, "region")
    return (c.join(n, c.c_nationkey == n.n_nationkey)
             .join(r, n.n_regionkey == r.r_regionkey)
             .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
                     "c_mktsegment", "n_name", "n_regionkey", "r_name"))


GOOD = [
    ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    ["c_nationkey", "n_name", "n_regionkey"],
    ["n_regionkey", "r_name"],
]
BAD = [
    ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"],
    ["c_custkey", "c_nationkey", "n_name"],
    ["n_regionkey", "r_name", "c_mktsegment"],
]


def test_lossless_decomposition_zero_spurious(denorm):
    v = DecompositionValidator(denorm)
    info = v.process_decomposition(GOOD)
    assert info.spurious_tuples == 0
    assert info.total_tuples == sum(info.cluster_sizes.values())
    assert info.smallest_relation <= info.largest_relation
    # cells = tuples * arity per cluster
    assert info.total_cells == sum(
        cnt * len(c) for c, cnt in info.cluster_sizes.items())
    v.close()


def test_lossy_decomposition_matches_naive_oracle(denorm):
    v = DecompositionValidator(denorm)
    fold = v.process_decomposition(BAD).spurious_tuples
    naive = v.naive_join_spurious(BAD)
    assert fold == naive
    assert fold > 0  # BAD splits correlated columns => spurious tuples
    v.close()


def test_duplicate_rows_are_dedupped_first(spark):
    # validation path dedups the base: duplicates must not count as spurious
    rows = [(1, "a", "p"), (1, "a", "p"), (2, "b", "q")]
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    v = DecompositionValidator(df)
    assert v.num_tuples == 2
    info = v.process_decomposition([["k", "x"], ["k", "y"]])
    assert info.spurious_tuples == 0
    v.close()


def test_single_cluster(denorm):
    v = DecompositionValidator(denorm)
    info = v.process_decomposition([["c_custkey", "c_nationkey"]])
    # single cluster: join size is the projection size
    assert info.spurious_tuples == info.total_tuples - v.num_tuples
    v.close()


def test_disconnected_clusters_cartesian(spark):
    # clusters sharing no attributes: join is a cartesian product
    rows = [(1, "a"), (2, "b")]
    df = spark.createDataFrame(rows, ["k", "x"])
    v = DecompositionValidator(df)
    info = v.process_decomposition([["k"], ["x"]])
    assert info.spurious_tuples == 2 * 2 - 2
    assert info.spurious_tuples == v.naive_join_spurious([["k"], ["x"]])
    v.close()


def _persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture
def warm_validator(denorm):
    """A validator whose persisted base is already materialized, so the
    persistent-RDD count moves only with projection persists."""
    v = DecompositionValidator(denorm)
    assert v.num_tuples > 0
    yield v
    v.close()


def test_validate_releases_projections_on_return(spark, warm_validator):
    v = warm_validator
    # the two sets share the ["n_regionkey", "r_name"] cluster
    merged = [GOOD[0] + GOOD[1], GOOD[2]]
    before = _persisted(spark)
    good, other = v.validate([GOOD, merged])
    assert good.spurious_tuples == 0 and other.spurious_tuples == 0
    shared = ("n_regionkey", "r_name")
    assert good.cluster_sizes[shared] == other.cluster_sizes[shared]
    assert _persisted(spark) == before


def test_validate_releases_projections_on_cancel(spark, warm_validator):
    v = warm_validator
    before = _persisted(spark)

    def priced():
        return v.eng.jobs_run > 0

    with pytest.raises(DecompositionCanceled):
        v.validate([GOOD, BAD], should_stop=priced)
    assert _persisted(spark) == before
    # nothing stale is left behind: the next validation is exact
    assert v.process_decomposition(GOOD).spurious_tuples == 0


def test_validate_releases_projections_on_unknown_column(spark, warm_validator):
    v = warm_validator
    before = _persisted(spark)
    # the unknown column fails the pricing of all sets, GOOD's included
    with pytest.raises(ValueError, match="unknown column"):
        v.validate([GOOD, [["c_custkey", "no_such_column"]]])
    assert _persisted(spark) == before


def test_concurrent_validates_share_and_release(spark, warm_validator):
    """More callers than cores validating overlapping sets on one
    validator: every caller gets exact counts and nothing is left
    persisted."""
    v = warm_validator
    sets = [GOOD, [GOOD[0] + GOOD[1], GOOD[2]]]
    before = _persisted(spark)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(6) as pool:
            futures = [pool.submit(v.validate, sets) for _ in range(6)]
            results = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert all([i.spurious_tuples for i in r] == [0, 0] for r in results)
    assert _persisted(spark) == before


def _cached(spark, df):
    cm = spark._jsparkSession.sharedState().cacheManager()
    return cm.lookupCachedData(df._jdf).isDefined()


def test_validate_prices_every_projection_in_one_job(spark, warm_validator):
    """One validate call prices every distinct projection of its sets in
    one entropy-kernel job; a repeat call finds the counts cached. The
    base stays cached throughout."""
    v = warm_validator
    merged = [GOOD[0] + GOOD[1], GOOD[2]]
    first = v.validate([GOOD, BAD, merged])
    assert v.eng.jobs_run == 1
    again = v.validate([GOOD, BAD, merged])
    assert v.eng.jobs_run == 1
    assert [i.spurious_tuples for i in first] == \
        [i.spurious_tuples for i in again]
    assert first[0].spurious_tuples == 0 and first[1].spurious_tuples > 0
    for info in first:
        for cols, n in info.cluster_sizes.items():
            assert n == v.base.select(*cols).distinct().count(), cols
    assert _cached(spark, v.base)
