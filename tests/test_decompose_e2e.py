"""End-to-end decomposition deliverable (`pipeline.decompose`, bench
`decompose_e2e`): mine min-sep JDs on the denormalized relation, enumerate
acyclic schemas, validate spurious tuples, bucketed-write the best schema
— and pin that the WRITTEN tables natural-join back to exactly the
original relation (lossless-join decomposition, the reference's core
correctness property)."""

from functools import reduce
from types import SimpleNamespace

import pytest

from relationaldecomposition_spark import pipeline
from relationaldecomposition_spark.engine.decompose import DecompositionInfo
from relationaldecomposition_spark.pipeline import choose_schema, decompose
from relationaldecomposition_spark.sources.tables import (
    denorm_customer_nation_region)
from tests.conftest import SF_DIR
from tests.test_decompose import _count_collects, _persisted


@pytest.fixture(scope="module")
def denorm(spark):
    return denorm_customer_nation_region(spark, SF_DIR)


def _drop(spark, names):
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS {n}")


@pytest.fixture(scope="module")
def decomposed(spark, denorm):
    schemas, infos, best, tables = decompose(denorm, "c_nationkey", "t_e2e")
    yield schemas[best], infos[best], tables
    _drop(spark, tables)


def test_best_mined_schema_rejoins_losslessly(spark, denorm, decomposed):
    best, info, tables = decomposed
    assert len(best.clusters) >= 2
    assert info.spurious_tuples == 0, "exact mining (epsilon=0) must " \
        "yield a spurious-free schema on the planted decomposition"
    parts = [spark.table(n) for n in tables]

    def nat_join(a, b):
        shared = sorted(set(a.columns) & set(b.columns))
        return a.join(b, on=shared) if shared else a.crossJoin(b)

    rejoined = reduce(nat_join, parts).select(*denorm.columns)
    base = denorm.distinct()
    # set equality: symmetric difference empty both ways
    assert rejoined.exceptAll(base).count() == 0
    assert base.exceptAll(rejoined).count() == 0


def test_best_schema_clusters_cover_all_columns(spark, denorm, decomposed):
    best = decomposed[0]
    covered = set()
    for cl in best.clusters:
        covered |= {str(c) for c in cl}
    assert covered == set(denorm.columns)


def test_decompose_counts_the_relation_once(spark, denorm, monkeypatch):
    """Mining and validation share one engine: one sizing count and one
    Arrow collect of the relation for the whole pipeline."""
    collects = _count_collects(monkeypatch, denorm)
    counts = []
    count = type(denorm).count

    def spy(self):
        counts.append(None)
        return count(self)

    monkeypatch.setattr(type(denorm), "count", spy)
    schemas, infos, _, tables = decompose(denorm, "c_nationkey", "t_e2e_once")
    _drop(spark, tables)
    assert len(counts) == 1 and len(collects) == 1
    assert len(schemas) == len(infos) == pipeline.CANDIDATES


def test_decompose_releases_every_cache(spark, denorm, monkeypatch):
    """No persistent RDD outlives the call, whether it returns or its
    write raises."""
    before = _persisted(spark)
    _drop(spark, decompose(denorm, "c_nationkey", "t_e2e_release")[3])
    assert _persisted(spark) == before

    def failing_write(*args, **kwargs):
        raise RuntimeError("write failed")

    monkeypatch.setattr(pipeline, "write_decomposition_bucketed",
                        failing_write)
    with pytest.raises(RuntimeError, match="write failed"):
        decompose(denorm, "c_nationkey", "t_e2e_release")
    assert _persisted(spark) == before


def test_choose_schema_rule():
    """Lowest spurious count first, then more clusters, then the first in
    enumeration order."""
    def pick(spurious, n_clusters):
        schemas = [SimpleNamespace(clusters=[frozenset((str(j),))
                                             for j in range(k)])
                   for k in n_clusters]
        infos = [DecompositionInfo(spurious_tuples=s) for s in spurious]
        return choose_schema(schemas, infos)

    assert pick([5, 0, 3], [9, 2, 2]) == 1
    assert pick([-1, 0], [2, 7]) == 0
    assert pick([0, 0, 4], [2, 3, 9]) == 1
    assert pick([1, 0, 0], [2, 3, 3]) == 1
    assert pick([0, 0, 0], [3, 3, 3]) == 0
