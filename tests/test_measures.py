"""FD/MVD/JD measures on relations with planted structure (FIXTURES.md F5
pattern: fixture = R1 ⋈ R2 ⋈ R3 sharing key k, so ground truth is known)."""

import math
import random

import pytest

from relationaldecomposition_spark.core.deps import FD, JD, MVD, Status
from relationaldecomposition_spark.engine.entropy import SparkEntropyEngine
from relationaldecomposition_spark.engine.measures import MeasureEngine
from tests.conftest import both_faces


@pytest.fixture(scope="module")
def planted(spark):
    """k,a,b,c,d: a=f(k) plants FD {k}->{a}; c,d independent given k plants
    MVD {k}->>{c} and JD ⋈[{k} | {a,b},{c},{d}]."""
    rng = random.Random(42)
    rows = []
    for k in range(1, 21):
        a = f"a{k % 5}"
        bs = rng.sample(range(1, 11), 2)  # distinct: keeps the relation duplicate-free
        cs = sorted({rng.randint(1, 10) for _ in range(3)})
        ds = sorted({rng.randint(1, 10) for _ in range(2)})
        for b in bs:
            for c in cs:
                for d in ds:
                    rows.append((k, a, b, c, d))
    df = spark.createDataFrame(rows, ["k", "a", "b", "c", "d"])
    return df


@pytest.fixture(scope="module")
def new_meng(planted):
    """A fresh MeasureEngine per call, so each face of both_faces builds
    its own engine."""
    engines = []

    def make():
        engines.append(SparkEntropyEngine(planted))
        return MeasureEngine(engines[-1])
    yield make
    for eng in engines:
        eng.unpersist()


@both_faces
def test_planted_fd_holds(new_meng):
    meng = new_meng()
    assert meng.fd_measure(["k"], ["a"]) == 0.0
    # and a false FD has positive measure
    assert meng.fd_measure(["a"], ["k"]) > 0.1


@both_faces
def test_planted_mvd_holds(new_meng):
    meng = new_meng()
    # b,c,d independent given k => k ->> {c} exactly (measure 0)
    assert meng.mvd_measure(["k"], ["c"]) == 0.0
    assert meng.mvd_measure(["k"], ["d"]) == 0.0
    # a false MVD: c does not split off from d given a
    assert meng.mvd_measure(["a"], ["c"]) > 0.01


@both_faces
def test_planted_jd_holds(new_meng):
    meng = new_meng()
    assert meng.jd_measure(["k"], [["a", "b"], ["c"], ["d"]]) == 0.0
    # wrong grouping has positive measure
    assert meng.jd_measure(["a"], [["k", "b", "c"], ["d"]]) > 0.01


@both_faces
def test_mvd_degenerate_full_cover(new_meng):
    meng = new_meng()
    # X ∪ Y = R: reference semantics return H(R) - H(X)
    m = meng.mvd_measure(["k"], ["a", "b", "c", "d"])
    h_k = meng.engine.entropy(["k"])
    assert m == pytest.approx(meng.total_entropy - h_k, abs=1e-9)


@both_faces
def test_measure_all_batch(new_meng):
    meng = new_meng()
    deps = [
        FD(frozenset(["k"]), frozenset(["a"])),
        MVD(frozenset(["k"]), frozenset(["c"])),
        JD(frozenset(["k"]), frozenset([frozenset(["a", "b"]),
                                        frozenset(["c"]), frozenset(["d"])])),
    ]
    meng.measure_all(deps)
    assert deps[0].measure.value == 0.0
    assert deps[1].measure.value == 0.0
    assert deps[2].measure.value == 0.0
    assert deps[0].measure.is_less_than(0.01) is Status.TRUE


@both_faces
def test_honest_total_with_duplicate_rows(spark):
    # With duplicate rows, log2(N) over-states H(R) and the reference-style
    # MVD measure can go negative; MeasureEngine computes H(R) by group-by.
    rows = [(1, "x", "p"), (1, "x", "p"), (1, "y", "p"), (2, "x", "p")]
    df = spark.createDataFrame(rows, ["k", "y", "z"])
    eng = SparkEntropyEngine(df)
    honest = MeasureEngine(eng)
    # z is constant => I(Y;Z|X) = 0 under the true joint entropy
    assert honest.mvd_measure(["k"], ["y"]) == 0.0
    # the reference's literal H(R) = log2(N) goes negative on duplicated rows
    ref_style = (eng.entropy(["k", "y"]) + eng.entropy(["k", "z"])
                 - eng.entropy(["k"]) - math.log2(eng.num_rows))
    assert ref_style < 0.0


def test_measure_interval_logic():
    from relationaldecomposition_spark.core.deps import Measure
    m = Measure()
    m.update_lower(0.5)
    m.update_upper(2.0)
    assert m.is_less_than(3.0) is Status.TRUE
    assert m.is_less_than(0.4) is Status.FALSE
    assert m.is_less_than(1.0) is Status.UNKNOWN
    assert m.is_greater_than(0.5) is Status.TRUE
    m.set_value(1.0)
    assert m.is_exact and m.value == 1.0
    with pytest.raises(ValueError):
        m2 = Measure(1.0, 2.0)
        m2.set_value(5.0)


class _StubEngine:
    """Fixed entropies, no Spark: H(k ∪ Ci) is 0.1, 0.2 and 0.3, whose
    float sum depends on the order it is taken in."""

    schema_cols = ["k", "a", "b", "c"]
    table = {frozenset("k"): 0.0, frozenset("ka"): 0.1, frozenset("kb"): 0.2,
             frozenset("kc"): 0.3, frozenset("kabc"): 0.5}

    def entropies(self, subsets):
        return {s: self.table[s] for s in subsets}

    def entropy(self, cols):
        return self.table[frozenset(cols)]


def test_jd_measure_does_not_depend_on_component_order():
    assert (0.1 + 0.2) + 0.3 != 0.1 + (0.2 + 0.3)
    meng = MeasureEngine(_StubEngine())
    forward = meng.jd_measure(["k"], [["a"], ["b"], ["c"]])
    backward = meng.jd_measure(["k"], [["c"], ["b"], ["a"]])
    assert forward == backward == math.fsum([0.1, 0.2, 0.3]) - 0.5
