"""Decomposition validation vs the naive-join oracle (the reference's own
dual-algorithm test: SmallDBInMemory.main runs testDecomposition and
spuritousTuples on the same clusters and compares)."""

import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.errors import ArithmeticException

from relationaldecomposition_spark.engine import cost, decompose
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
    # validation ignores duplicate rows: |base| counts distinct rows, and
    # duplicates must not count as spurious
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
    """Ids of the persistent RDDs. Callers assert that no new id appeared
    (``<= before``): RDDs that other tests left behind may be
    garbage-collected meanwhile, so a count may fall."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.fixture
def new_warm_validator(denorm):
    """Builds validators whose persisted base is already materialized, so
    a new persistent RDD can only come from a projection persist. A
    factory, so each face of a both_faces test sizes its own engine; the
    base is materialized by a count of its own, which leaves the engine
    unsized and runs no kernel job."""
    made = []

    def make():
        v = DecompositionValidator(denorm)
        made.append(v)
        assert v.base.count() > 0
        return v

    yield make
    for v in made:
        v.close()


@both_faces
def test_validate_releases_projections_on_return(spark, new_warm_validator):
    v = new_warm_validator()
    # the two sets share the ["n_regionkey", "r_name"] cluster
    merged = [GOOD[0] + GOOD[1], GOOD[2]]
    before = _persisted(spark)
    good, other = v.validate([GOOD, merged])
    assert good.spurious_tuples == 0 and other.spurious_tuples == 0
    shared = ("n_regionkey", "r_name")
    assert good.cluster_sizes[shared] == other.cluster_sizes[shared]
    assert _persisted(spark) <= before


@both_faces
def test_validate_releases_projections_on_cancel(spark, new_warm_validator):
    v = new_warm_validator()
    before = _persisted(spark)

    polls = []

    def priced():
        # the first poll is before the pricing job, the second before a fold
        polls.append(None)
        return len(polls) > 1

    with pytest.raises(DecompositionCanceled):
        v.validate([GOOD, BAD], should_stop=priced)
    assert _persisted(spark) <= before
    # nothing stale is left behind: the next validation is exact
    assert v.process_decomposition(GOOD).spurious_tuples == 0


@both_faces
def test_validate_releases_projections_on_unknown_column(spark, new_warm_validator):
    v = new_warm_validator()
    before = _persisted(spark)
    # the unknown column fails the pricing of all sets, GOOD's included
    with pytest.raises(ValueError, match="unknown column"):
        v.validate([GOOD, [["c_custkey", "no_such_column"]]])
    assert _persisted(spark) <= before


@both_faces
def test_concurrent_validates_share_and_release(spark, new_warm_validator):
    """More callers than cores validating overlapping sets on one
    validator: every caller gets exact counts and nothing is left
    persisted."""
    v = new_warm_validator()
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
    assert _persisted(spark) <= before


def _cached(spark, df):
    cm = spark._jsparkSession.sharedState().cacheManager()
    return cm.lookupCachedData(df._jdf).isDefined()


@pytest.mark.usefixtures("spark_kernel")
def test_validate_prices_every_projection_in_one_job(spark, new_warm_validator):
    """One validate call prices every distinct projection of its sets in
    one entropy-kernel job; a repeat call finds the counts cached. The
    base stays cached throughout."""
    v = new_warm_validator()
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


def test_caller_persisted_input_stays_cached(spark):
    """An engine and a validator over a DataFrame its caller persisted read
    that cache and leave it to the caller: neither eng.unpersist() nor
    v.close() uncaches it."""
    from relationaldecomposition_spark.engine.entropy import SparkEntropyEngine

    df = spark.range(64).selectExpr("id % 8 AS k", "id % 4 AS a",
                                    "id % 2 AS b").persist()
    try:
        df.count()
        eng = SparkEntropyEngine(df)
        assert eng.entropy(["k", "a"]) > 0
        eng.unpersist()
        assert _cached(spark, df)
        v = DecompositionValidator(df)
        assert v.process_decomposition([["k", "a"], ["k", "b"]]) \
            .spurious_tuples == 0
        v.close()
        assert _cached(spark, df)
    finally:
        df.unpersist()


def test_miner_and_validator_share_one_cache(spark, denorm):
    """A miner and a validator over one DataFrame share one cache entry:
    whichever is released first leaves the other's input cached, and once
    both are released no persistent RDD is left that was not there
    before."""
    from relationaldecomposition_spark.engine.entropy import SparkEntropyEngine
    from relationaldecomposition_spark.engine.measures import MeasureEngine
    from relationaldecomposition_spark.mining.jd_miner import JDMiner

    before = _persisted(spark)
    for miner_first in (True, False):
        df = denorm.select("c_custkey", "c_nationkey", "n_name",
                           "n_regionkey", "r_name")
        if miner_first:
            miner = JDMiner(MeasureEngine(SparkEntropyEngine(df)), epsilon=0.0)
            v = DecompositionValidator(df)
        else:
            v = DecompositionValidator(df)
            miner = JDMiner(MeasureEngine(SparkEntropyEngine(df)), epsilon=0.0)
        assert miner.mine_all_min_seps()
        lossless = [["c_custkey", "c_nationkey"], GOOD[1], GOOD[2]]
        assert v.process_decomposition(lossless).spurious_tuples == 0
        first, second = ((v.close, miner.eng.unpersist) if miner_first
                         else (miner.eng.unpersist, v.close))
        first()
        assert _cached(spark, df)
        second()
        assert not _cached(spark, df)
        assert _persisted(spark) <= before


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
    """A driver fold step whose int64 arrays would pass the driver budget
    sends its set to the Spark face; on the bench-shaped sets the guard
    stays inert and no Spark fold runs."""
    spark_folds = []
    fold = DecompositionValidator._fold_total_frame

    def spy(self, cl):
        spark_folds.append(cl)
        return fold(self, cl)

    monkeypatch.setattr(DecompositionValidator, "_fold_total_frame", spy)
    v = DecompositionValidator(denorm)
    infos = v.validate([GOOD, BAD, [GOOD[0] + GOOD[1], GOOD[2]]])
    assert spark_folds == []
    assert [i.spurious_tuples for i in infos] == \
        [0, v.naive_join_spurious(BAD), 0]
    v.close()

    # the cartesian fixture: a 2-row base (26 bytes of Arrow) fits the
    # budget; its 4-row last join step holds 3 int64 arrays, 96 bytes
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "x"])
    monkeypatch.setattr(cost, "DRIVER_MAX_BYTES", 95)
    v = DecompositionValidator(df)
    assert v.process_decomposition([["k"], ["x"]]).spurious_tuples == 2
    assert v.eng.driver_table() is not None and len(spark_folds) == 1
    monkeypatch.setattr(cost, "DRIVER_MAX_BYTES", 96)
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


def _count_collects(monkeypatch, df):
    """Spy on DataFrame.toArrow; returns the list its calls append to."""
    calls = []
    to_arrow = type(df).toArrow

    def spy(self, *args, **kwargs):
        calls.append(None)
        return to_arrow(self, *args, **kwargs)

    monkeypatch.setattr(type(df), "toArrow", spy)
    return calls


def test_small_base_validate_runs_one_collect(spark, denorm, monkeypatch):
    """Below the bound, validation is the kernel's sizing count plus its
    one Arrow collect of the base, which prices the projections and feeds
    every fold: validating three sets runs exactly one collect and one
    kernel job, and a second call starts no Spark job and no join."""
    collects = _count_collects(monkeypatch, denorm)
    sets = [GOOD, BAD, [GOOD[0] + GOOD[1], GOOD[2]]]
    v = DecompositionValidator(denorm)
    try:
        first = v.validate(sets)
        assert len(collects) == 1 and v.eng.jobs_run == 1
        sc = spark.sparkContext
        group = "validate-driver-face"
        sc.setJobGroup(group, "validate after the collect")
        try:
            again = v.validate(sets)
        finally:
            sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert len(collects) == 1 and v.eng.jobs_run == 1
        assert [i.spurious_tuples for i in first] == \
            [i.spurious_tuples for i in again] == \
            [0, v.naive_join_spurious(BAD), 0]
    finally:
        v.close()


def test_concurrent_validates_run_one_collect(spark, denorm, monkeypatch):
    """Concurrent validate calls on one fresh validator (as concurrent
    DecompositionService submissions make), more than the cores: they
    share the kernel's one Arrow collect of the base, since the first
    sizes and collects under the engine's lock and the others wait."""
    collects = _count_collects(monkeypatch, denorm)
    v = DecompositionValidator(denorm)
    sets = [GOOD, BAD, [GOOD[0] + GOOD[1], GOOD[2]], [GOOD[0], GOOD[1]]]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(6) as pool:
            futures = [pool.submit(v.process_decomposition, sets[i % 4])
                       for i in range(6)]
            infos = [f.result(timeout=300) for f in futures]
        assert len(collects) == 1 and v.eng.jobs_run == 1
        expect = [0, v.naive_join_spurious(BAD), 0,
                  v.naive_join_spurious([GOOD[0], GOOD[1]])]
        assert [i.spurious_tuples for i in infos] == \
            [expect[i % 4] for i in range(6)]
    finally:
        sys.setswitchinterval(old)
        v.close()


@both_faces
def test_column_names_that_need_quoting(spark):
    """A base column named like the fold's count column, and one with a
    dot in its name, fold to the naive oracle's count on both faces."""
    rows = [(1, "a", 1, "p"), (1, "b", 2, "q"), (2, "a", 2, "q"),
            (2, "b", 1, "p")]
    df = spark.createDataFrame(
        rows, "cnt int, `k.x` string, cnt_r int, `CNT_R.b` string")
    v = DecompositionValidator(df)
    try:
        for sets in ([["cnt", "k.x"], ["cnt", "cnt_r"]],
                     [["k.x", "cnt_r"], ["k.x", "CNT_R.b"]],
                     [["cnt", "k.x"], ["k.x", "CNT_R.b"], ["cnt_r", "cnt"]]):
            got = v.process_decomposition(sets).spurious_tuples
            assert got == v.naive_join_spurious(sets) and got > 0, sets
    finally:
        v.close()


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

    from relationaldecomposition_spark.engine.entropy import _encode

    rng = random.Random(7)
    cols = ["a", "b", "c", "d", "e"]
    for _ in range(200):
        rows = sorted({tuple(rng.choice([0, 1, 2, None]) for _ in cols)
                       for _ in range(rng.randint(1, 12))},
                      key=lambda r: tuple((v is None, v) for v in r))
        clusters = [frozenset(rng.sample(cols, rng.randint(1, 3)))
                    for _ in range(rng.randint(1, 4))]
        codes = {x: _encode(pa.chunked_array(
            [[r[i] for r in rows]], pa.int64())) for i, x in enumerate(cols)}
        order = decompose._greedy_order(clusters)
        got = decompose._driver_fold_total(codes, len(rows), order, cols,
                                           cost.DRIVER_MAX_BYTES)
        assert got == _python_join_size(rows, cols, order), (rows, order)
