"""engine/fanout.py: driver fan-out keeps the caller's Spark local
properties on every job it starts, stops on the first failure and returns
results in input order."""

import time

import pytest

from relationaldecomposition_spark.core.deps import JD
from relationaldecomposition_spark.engine.decompose import (
    DecompositionValidator, write_decomposition_bucketed)
from relationaldecomposition_spark.engine.fanout import fanout
from relationaldecomposition_spark.schema.acyclic import (
    AcyclicSchema, validate_schemas_concurrent)
from tests.conftest import load

COLS = ["c_custkey", "c_nationkey", "c_mktsegment", "n_name",
        "n_regionkey", "r_name"]


def jd(lhs, *comps):
    return JD(frozenset(lhs), frozenset(frozenset(c) for c in comps))


def schema(*jds):
    s = AcyclicSchema(COLS)
    for j in jds:
        assert s.add_jd(j)
    return s


@pytest.fixture(scope="module")
def denorm(spark):
    c = load(spark, "customer")
    n = load(spark, "nation")
    r = load(spark, "region")
    return (c.join(n, c.c_nationkey == n.n_nationkey)
             .join(r, n.n_regionkey == r.r_regionkey)
             .select(*COLS))


def test_fanout_jobs_keep_callers_group_and_pool(spark, denorm):
    """Jobs started from fan-out threads carry the caller's job group (so
    cancelJobGroup reaches them) and its scheduler pool."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, pool = "fanout-test-group", "fanout-test-pool"
    by_nation = jd(["c_nationkey"], ["c_custkey", "c_mktsegment"],
                   ["n_name", "n_regionkey", "r_name"])
    by_region = jd(["n_regionkey"], ["c_custkey", "c_mktsegment",
                                     "c_nationkey", "n_name"], ["r_name"])
    candidates = [schema(by_nation), schema(by_region),
                  schema(by_nation, by_region)]
    v = DecompositionValidator(denorm)
    names = []
    unlabelled_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "fan-out attribution", interruptOnCancel=True)
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try:
        infos = validate_schemas_concurrent(v, candidates)
        names = write_decomposition_bucketed(
            denorm, candidates[2].clusters, "c_nationkey", "t_fanout",
            num_buckets=4)
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)
        sc.setJobGroup(None, None)
        v.close()
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    assert len(infos) == 3 and len(names) == 3
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    # the store evicts old jobs, so only look for new unlabelled ones
    assert not set(tracker.getJobIdsForGroup(None)) - unlabelled_before
    job_ids = tracker.getJobIdsForGroup(group)
    assert job_ids
    store = sc._jsc.sc().statusStore()
    ran = 0
    for jid in job_ids:
        for sid in tracker.getJobInfo(jid).stageIds:
            if tracker.getStageInfo(sid) is None:
                continue  # evicted from the store (spark.ui.retainedStages)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue  # never submitted: its record keeps "default"
            ran += 1
            assert st.schedulingPool() == pool, (jid, sid)
    assert ran > 0


def test_fanout_stops_at_first_failure(spark):
    ran = []

    def boom():
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        fanout(spark, lambda f: f(), [boom, lambda: ran.append(1)], 1)
    assert ran == []


def test_fanout_returns_input_order(spark):
    # later items finish first
    delays = [0.3, 0.2, 0.1, 0.0]
    got = fanout(spark, lambda d: (time.sleep(d), d)[1], delays, 4)
    assert got == delays
