"""Acyclic schema layer: compatibility, join trees, enumeration, and the
end-to-end mine -> enumerate -> validate pipeline on sf0.001 data."""

import pytest

from relationaldecomposition_spark.core.deps import JD
from relationaldecomposition_spark.engine.decompose import DecompositionValidator
from relationaldecomposition_spark.engine.entropy import SparkEntropyEngine
from relationaldecomposition_spark.engine.measures import MeasureEngine
from relationaldecomposition_spark.mining.jd_miner import JDMiner
from relationaldecomposition_spark.schema.acyclic import (
    AcyclicSchema, AcyclicSchemaEnumerator, is_compatible, validate_schema)
from tests.conftest import both_faces, load

COLS = ["c_custkey", "c_nationkey", "c_mktsegment", "n_name", "n_regionkey", "r_name"]


def jd(lhs, *comps):
    return JD(frozenset(lhs), frozenset(frozenset(c) for c in comps))


def test_compatibility_same_lhs_incompatible():
    j1 = jd(["b"], ["a"], ["c"])
    j2 = jd(["b"], ["a", "c"], ["d"])
    assert not is_compatible(j1, j2)


def test_compatibility_nested():
    # schema a,b,c,d: ⋈[{b} | {a},{c,d}] and ⋈[{c} | {a,b},{d}]:
    # each lhs sits inside one block of the other and splits it
    j1 = jd(["b"], ["a"], ["c", "d"])
    j2 = jd(["c"], ["a", "b"], ["d"])
    assert is_compatible(j1, j2)


def test_compatibility_straddle_incompatible():
    # j2's separator {a,c} straddles j1's blocks {a} and {c,d}
    j1 = jd(["b"], ["a"], ["c", "d"])
    j2 = jd(["a", "c"], ["b"], ["d"])
    assert not is_compatible(j1, j2)


def test_join_tree_construction():
    schema_cols = ["a", "b", "c", "d"]
    s = AcyclicSchema(schema_cols)
    assert s.add_jd(jd(["b"], ["a"], ["c", "d"]))
    assert s.add_jd(jd(["c"], ["a", "b"], ["d"]))
    s.build_join_tree()
    # clusters of the chain a-b-c-d decomposition
    assert s.clusters == {frozenset(["a", "b"]), frozenset(["b", "c"]),
                          frozenset(["c", "d"])}
    assert s.max_cluster == 2
    assert s.max_separator == 1
    # tree root is a separator with children
    assert not s.root.is_leaf


def test_incompatible_jd_rejected():
    s = AcyclicSchema(["a", "b", "c", "d"])
    assert s.add_jd(jd(["b"], ["a"], ["c", "d"]))
    assert not s.add_jd(jd(["b"], ["a", "c"], ["d"]))
    assert len(s.jds) == 1


@pytest.fixture(scope="module")
def denorm6(spark):
    c = load(spark, "customer")
    n = load(spark, "nation")
    r = load(spark, "region")
    return (c.join(n, c.c_nationkey == n.n_nationkey)
             .join(r, n.n_regionkey == r.r_regionkey)
             .select(*COLS))


@both_faces
def test_validate_schemas_concurrent_matches_sequential(denorm6):
    """The thread-pooled candidate validation must return the same
    DecompositionInfo values, in input order, as sequential
    validate_schema calls — including a deliberately LOSSY candidate so
    the spurious counts differ across schemas."""
    from relationaldecomposition_spark.schema.acyclic import (
        validate_schemas_concurrent)

    miner = JDMiner(MeasureEngine(SparkEntropyEngine(denorm6)), epsilon=0.0)
    miner.mine_all_min_seps()
    schemas = []
    for i, s in enumerate(AcyclicSchemaEnumerator(
            COLS, sorted(miner.mined_jds, key=str))):
        schemas.append(s)
        if i >= 2:
            break
    v = DecompositionValidator(denorm6)
    seq = [validate_schema(v, s) for s in schemas]
    conc = validate_schemas_concurrent(v, schemas)
    assert [
        (i.spurious_tuples, i.largest_relation, i.total_tuples,
         i.total_cells) for i in conc] == [
        (i.spurious_tuples, i.largest_relation, i.total_tuples,
         i.total_cells) for i in seq]
    assert validate_schemas_concurrent(v, []) == []
    v.close()


@both_faces
def test_mine_enumerate_validate_pipeline(denorm6):
    """End-to-end: mine JDs -> enumerate acyclic schemas -> every schema's
    decomposition is lossless (measure 0 JDs => 0 spurious tuples)."""
    miner = JDMiner(MeasureEngine(SparkEntropyEngine(denorm6)), epsilon=0.0)
    miner.mine_all_min_seps()
    jds = list(miner.mined_jds)
    assert jds
    enum = AcyclicSchemaEnumerator(COLS, jds)
    schemas = []
    for i, s in enumerate(enum):
        schemas.append(s)
        if i >= 4:
            break
    assert schemas
    v = DecompositionValidator(denorm6)
    for s in schemas[:2]:
        info = validate_schema(v, s)
        assert info.spurious_tuples == 0, repr(s)
        # every cluster is a projection: never more rows than the base
        assert info.largest_relation <= v.num_tuples
        # clusters cover the whole schema
        assert frozenset().union(*s.clusters) == frozenset(COLS)
    v.close()
