"""Decomposition validation vs the naive-join oracle (the reference's own
dual-algorithm test: SmallDBInMemory.main runs testDecomposition and
spuritousTuples on the same clusters and compares)."""

import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.errors import ArithmeticException

from relationaldecomposition_spark.engine import decompose
from relationaldecomposition_spark.engine.decompose import (
    DecompositionCanceled, DecompositionValidator)
from tests.conftest import both_faces, load


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


@both_faces
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


@both_faces
def test_lossy_decomposition_matches_naive_oracle(denorm):
    v = DecompositionValidator(denorm)
    fold = v.process_decomposition(BAD).spurious_tuples
    naive = v.naive_join_spurious(BAD)
    assert fold == naive
    assert fold > 0  # BAD splits correlated columns => spurious tuples
    v.close()


@both_faces
def test_duplicate_rows_are_dedupped_first(spark):
    # validation path dedups the base: duplicates must not count as spurious
    rows = [(1, "a", "p"), (1, "a", "p"), (2, "b", "q")]
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    v = DecompositionValidator(df)
    assert v.num_tuples == 2
    info = v.process_decomposition([["k", "x"], ["k", "y"]])
    assert info.spurious_tuples == 0
    v.close()


@both_faces
def test_single_cluster(denorm):
    v = DecompositionValidator(denorm)
    info = v.process_decomposition([["c_custkey", "c_nationkey"]])
    # single cluster: join size is the projection size
    assert info.spurious_tuples == info.total_tuples - v.num_tuples
    v.close()


@both_faces
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


@both_faces
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


@both_faces
def test_validate_releases_projections_on_cancel(spark, warm_validator):
    v = warm_validator
    before = _persisted(spark)

    polls = []

    def priced():
        # the first poll is before the pricing job, the second before a fold
        polls.append(None)
        return len(polls) > 1

    with pytest.raises(DecompositionCanceled):
        v.validate([GOOD, BAD], should_stop=priced)
    assert _persisted(spark) == before
    # nothing stale is left behind: the next validation is exact
    assert v.process_decomposition(GOOD).spurious_tuples == 0


@both_faces
def test_validate_releases_projections_on_unknown_column(spark, warm_validator):
    v = warm_validator
    before = _persisted(spark)
    # the unknown column fails the pricing of all sets, GOOD's included
    with pytest.raises(ValueError, match="unknown column"):
        v.validate([GOOD, [["c_custkey", "no_such_column"]]])
    assert _persisted(spark) == before


@both_faces
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


@both_faces
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


# null, NaN and -0.0 in the join column k: a null key joins nothing (so the
# spurious count can go negative), NaN joins NaN, -0.0 joins 0.0
DIRTY = [
    ([(None, 1, 2), (1.0, 1, 1)], -1),
    ([(float("nan"), 1, 2), (float("nan"), 3, 4)], 2),
    ([(-0.0, 5, 5), (0.0, 6, 6)], 2),
    ([(None, 1, 2), (1.0, 1, 1), (float("nan"), 1, 2), (float("nan"), 3, 4),
      (-0.0, 5, 5), (0.0, 6, 6)], 3),
]


@both_faces
def test_dirty_join_keys_match_naive_oracle(spark):
    for rows, spurious in DIRTY:
        df = spark.createDataFrame(rows, "k double, a int, b int")
        v = DecompositionValidator(df)
        for sets in ([["k", "a"], ["k", "b"]], [["k"], ["a", "b"]],
                     [["a", "b"], ["k", "b"]]):
            assert v.process_decomposition(sets).spurious_tuples == \
                v.naive_join_spurious(sets), (rows, sets)
        assert v.process_decomposition([["k", "a"], ["k", "b"]]) \
            .spurious_tuples == spurious, rows
        v.close()


@both_faces
def test_join_size_never_wraps_int64(spark):
    """100 distinct values in each of 10 columns: 9 disjoint singleton
    clusters join to 10^18 tuples, inside int64 but past 2^62; 10 join to
    10^20, which both faces refuse as ANSI overflow instead of wrapping."""
    df = spark.range(100).selectExpr(*[f"id * 10 + {j} AS c{j}"
                                       for j in range(10)])
    v = DecompositionValidator(df)
    info = v.process_decomposition([[f"c{j}"] for j in range(9)])
    assert info.spurious_tuples == 10 ** 18 - 100
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        v.process_decomposition([[f"c{j}"] for j in range(10)])
    v.close()


def test_fold_size_guard(spark, denorm, monkeypatch):
    """A driver fold step whose join would exceed BROADCAST_MAX_ROWS sends
    its set to the Spark face; on the bench-shaped sets the guard stays
    inert and no Spark fold runs."""
    spark_folds = []
    fold = DecompositionValidator._fold_total_frame

    def spy(self, cl, counts):
        spark_folds.append(cl)
        return fold(self, cl, counts)

    monkeypatch.setattr(DecompositionValidator, "_fold_total_frame", spy)
    v = DecompositionValidator(denorm)
    infos = v.validate([GOOD, BAD, [GOOD[0] + GOOD[1], GOOD[2]]])
    assert spark_folds == []
    assert [i.spurious_tuples for i in infos] == \
        [0, v.naive_join_spurious(BAD), 0]
    v.close()

    # the cartesian fixture: a 2-row base under the bound, a 4-row join over it
    monkeypatch.setattr(decompose, "BROADCAST_MAX_ROWS", 3)
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "x"])
    v = DecompositionValidator(df)
    assert v.process_decomposition([["k"], ["x"]]).spurious_tuples == 2
    assert len(spark_folds) == 1
    monkeypatch.setattr(decompose, "BROADCAST_MAX_ROWS", 4)
    assert v.process_decomposition([["k"], ["x"]]).spurious_tuples == 2
    assert len(spark_folds) == 1
    v.close()

    # the driver cannot key a nested column: its sets fold on Spark
    df = spark.createDataFrame([(1, [1], "p"), (2, [1], "q")],
                               "k int, arr array<int>, s string")
    v = DecompositionValidator(df)
    sets = [["k", "arr"], ["arr", "s"]]
    assert v.process_decomposition(sets).spurious_tuples == 2
    assert v.naive_join_spurious(sets) == 2
    assert len(spark_folds) == 2
    v.close()


def test_small_base_validate_runs_one_collect(spark, warm_validator):
    """Below the bound, validation is the one pricing job plus one Arrow
    collect of the base: after pricing, validating three sets starts
    exactly one Spark job and no join."""
    v = warm_validator
    sets = [GOOD, BAD, [GOOD[0] + GOOD[1], GOOD[2]]]
    v.eng.group_counts(frozenset(c) for cs in sets for c in cs)
    assert v.eng.jobs_run == 1
    sc = spark.sparkContext
    group = "validate-driver-face"
    sc.setJobGroup(group, "validate after pricing")
    try:
        infos = v.validate(sets)
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert v.eng.jobs_run == 1
    assert [i.spurious_tuples for i in infos] == \
        [0, v.naive_join_spurious(BAD), 0]


def _python_join_size(rows, cols, clusters):
    """Reference for the driver fold: natural join of the distinct cluster
    projections of ``rows`` as Python tuples; None never joins."""
    joined = [{}]
    for c in clusters:
        proj = {tuple((x, r[cols.index(x)]) for x in sorted(c)) for r in rows}
        joined = [{**j, **dict(p)} for j in joined for p in proj
                  if all(j[x] is not None and j[x] == v
                         for x, v in p if x in j)]
    return len(joined)


def test_driver_fold_matches_python_join():
    """The numpy fold (multi-column keys, null keys, groups drawn from
    either join side) against a tuple-at-a-time join on random bases."""
    import random

    import pyarrow as pa

    rng = random.Random(7)
    cols = ["a", "b", "c", "d", "e"]
    for _ in range(200):
        rows = sorted({tuple(rng.choice([0, 1, 2, None]) for _ in cols)
                       for _ in range(rng.randint(1, 12))},
                      key=lambda r: tuple((v is None, v) for v in r))
        clusters = [frozenset(rng.sample(cols, rng.randint(1, 3)))
                    for _ in range(rng.randint(1, 4))]
        codes = {x: decompose._encode(pa.chunked_array(
            [[r[i] for r in rows]], pa.int64())) for i, x in enumerate(cols)}
        order = decompose._greedy_order(clusters)
        got = decompose._driver_fold_total(codes, len(rows), order, cols)
        assert got == _python_join_size(rows, cols, order), (rows, order)
