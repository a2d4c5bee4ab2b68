"""JD mining on planted structure + pure-python unit tests for the
transversal iterator and Beeri inference (SURVEY.md §5 patterns 1-2)."""

import random

import pytest

from relationaldecomposition_spark.core.deps import JD, MVD, DependencySet
from relationaldecomposition_spark.engine.entropy import SparkEntropyEngine
from relationaldecomposition_spark.engine.measures import MeasureEngine
from relationaldecomposition_spark.mining.inference import BeeriInference, DependencyBasis
from relationaldecomposition_spark.mining.jd_miner import JDMiner
from relationaldecomposition_spark.mining.transversals import Transversals
from tests.conftest import both_faces


def test_transversals_basic():
    # hyperedges {a,b}, {b,c}: minimal transversals are {b}, {a,c}
    tr = Transversals([frozenset("ab"), frozenset("bc")])
    got = set()
    while tr.has_next():
        got.add(next(tr))
    assert got == {frozenset("b"), frozenset(["a", "c"])}


def test_transversals_incremental():
    tr = Transversals([frozenset("ab")])
    first = set()
    while tr.has_next():
        first.add(next(tr))
    assert first == {frozenset("a"), frozenset("b")}
    # adding edge {c}: every transversal must now also hit {c}
    tr.add_hyperedge(frozenset("c"))
    more = set()
    while tr.has_next():
        more.add(next(tr))
    assert more == {frozenset(["a", "c"]), frozenset(["b", "c"])}


def test_dependency_basis_split_and_infer():
    schema = ["a", "b", "c", "d"]
    # discovered: {a} ->> {b}, exact
    dep = MVD(frozenset("a"), frozenset("b"))
    dep.measure.set_value(0.0)
    basis = DependencyBasis(schema, frozenset("a"))
    basis.compute([dep])
    # basis of {a} must split {b,c,d} into {b} and {c,d}
    assert frozenset("b") in basis.basis
    assert frozenset(["c", "d"]) in basis.basis
    # infer: a ->> {c,d} is implied with bound 0
    target = MVD(frozenset("a"), frozenset(["c", "d"]))
    basis.infer(target)
    assert target.measure.upper == 0.0
    # a ->> {c} alone is NOT a union of basis pieces -> no bound
    target2 = MVD(frozenset("a"), frozenset("c"))
    basis.infer(target2)
    assert target2.measure.upper == float("inf")


def test_beeri_implies():
    schema = ["a", "b", "c", "d"]
    disc = DependencySet()
    d1 = MVD(frozenset("a"), frozenset("b"))
    d1.measure.set_value(0.0)
    disc.add(d1)
    inf = BeeriInference(disc, schema, alpha=0.0)
    assert inf.implies(MVD(frozenset("a"), frozenset(["c", "d"])))
    assert not inf.implies(MVD(frozenset("a"), frozenset("c")))


@pytest.fixture(scope="module")
def planted5(spark):
    """k,a | k,b | k,c: everything independent given k =>
    JD [k | {a},{b},{c}] holds; minimal separator for every pair is {k}."""
    rng = random.Random(11)
    rows = []
    for k in range(1, 9):
        # draw each column's per-k support ONCE so a,b,c are exactly
        # conditionally independent given k (full cross product per k)
        avs = rng.sample(range(6), 2)
        bvs = rng.sample(range(6), 2)
        cvs = rng.sample(range(6), 2)
        for a in avs:
            for b in bvs:
                for c in cvs:
                    rows.append((k, f"a{a}", f"b{b}", f"c{c}"))
    df = spark.createDataFrame(rows, ["k", "a", "b", "c"])
    return df


@pytest.fixture(scope="module")
def new_miner5(planted5):
    """A fresh JDMiner per call, so each face of both_faces builds its own
    engine."""
    miners = []

    def make():
        miners.append(JDMiner(MeasureEngine(SparkEntropyEngine(planted5)),
                              epsilon=0.0))
        return miners[-1]
    yield make
    for m in miners:
        m.eng.unpersist()


@both_faces
def test_consistent_jd_full_split(new_miner5):
    miner5 = new_miner5()
    start = JD.most_specific(frozenset(["k"]), miner5.schema)
    jd = miner5.consistent_jd_candidate(["k"], start)
    # independence given k: nothing merges, all three singleton components stay
    assert jd is not None
    assert jd.components == frozenset(
        [frozenset("a"), frozenset("b"), frozenset("c")])
    assert miner5.jd_measure(jd) <= 1e-9


@both_faces
def test_consistent_jd_merges_correlated(spark):
    # b == c always: they must merge; JD [k | {a}, {b,c}]
    rows = [(k, a, v, v) for k in range(6) for a in range(3) for v in range(4)]
    df = spark.createDataFrame(rows, ["k", "a", "b", "c"])
    miner = JDMiner(MeasureEngine(SparkEntropyEngine(df)), epsilon=0.0)
    jd = miner.consistent_jd_candidate(
        ["k"], JD.most_specific(frozenset(["k"]), miner.schema))
    assert jd is not None
    assert frozenset(["b", "c"]) in jd.components
    # with x=b, y=c they cannot be separated -> None
    jd2 = miner.consistent_jd_candidate(
        ["k"], JD.most_specific(frozenset(["k"]), miner.schema), x="b", y="c")
    assert jd2 is None
    # transitive merge: b == d and c is a bijection of b given k, so the
    # pairwise merges chain into one component {b,c,d}
    rows = [(k, a, v, (v + k) % 4, v) for k in range(6) for a in range(3)
            for v in range(4)]
    df = spark.createDataFrame(rows, ["k", "a", "b", "c", "d"])
    m = JDMiner(MeasureEngine(SparkEntropyEngine(df)), epsilon=0.0)
    try:
        got = m.consistent_jd_candidate(
            ["k"], JD.most_specific(frozenset(["k"]), m.schema))
        assert got == JD(frozenset(["k"]), frozenset(
            [frozenset("a"), frozenset(["b", "c", "d"])]))
    finally:
        m.eng.unpersist()


@both_faces
def test_mine_jds_with_lhs(new_miner5):
    miner5 = new_miner5()
    jds = miner5.mine_jds_with_lhs(["k"], limit=0)
    # the full split is a valid JD and must be found
    assert any(jd.components == frozenset(
        [frozenset("a"), frozenset("b"), frozenset("c")]) for jd in jds)
    for jd in jds:
        assert miner5.jd_measure(jd) <= miner5.epsilon + 1e-5
    # limit>0 stops early but surfaces a JD from the same universe
    first = miner5.mine_jds_with_lhs(["k"], limit=1)
    assert len(first) == 1 and first <= jds


@both_faces
def test_min_sep_mining(new_miner5):
    miner5 = new_miner5()
    seps = miner5.mine_all_min_seps()
    # {k} is the unique minimal separator for every pair
    assert seps == {frozenset(["k"])}
    for pair, pseps in miner5.min_pairwise_seps.items():
        if "k" in pair:
            continue  # pairs involving k: separator may be empty/none
        assert pseps == {frozenset(["k"])}, pair


@both_faces
def test_full_mvds(new_miner5):
    miner5 = new_miner5()
    miner5.mine_all_min_seps()   # full MVDs start from the mined separators
    full = miner5.mine_all_full_mvds()
    assert any(jd.lhs == frozenset(["k"]) and len(jd.components) == 3
               for jd in full)


@both_faces
def test_min_sep_mining_mode_invariant(planted5, monkeypatch):
    """Eager lattice + parallel pairs, lazy + sequential, and lazy + parallel
    must mine identical separator sets (r2 perf work is pinned to be a pure
    plan change, never a semantic one)."""
    from relationaldecomposition_spark.mining import jd_miner

    results = []
    for eager, width in ((jd_miner.EAGER_CELLS, jd_miner.PAIR_WIDTH),
                         (0, 1), (0, 8)):
        monkeypatch.setattr(jd_miner, "EAGER_CELLS", eager)
        monkeypatch.setattr(jd_miner, "PAIR_WIDTH", width)
        miner = JDMiner(MeasureEngine(SparkEntropyEngine(planted5)),
                        epsilon=0.0)
        results.append(miner.mine_all_min_seps())
        miner.eng.unpersist()
    assert results[0] == results[1] == results[2] == {frozenset(["k"])}
