"""Execution harness: LRU-cached concurrent jobs, cancellation, timeouts."""

import time

import pytest

from relationaldecomposition_spark.engine.decompose import DecompositionValidator
from relationaldecomposition_spark.runner import (
    CanceledJobError, DecompositionService, JobStatus, TimeoutRunner)
from tests.conftest import load


@pytest.fixture(scope="module")
def validator(spark):
    c = load(spark, "customer")
    n = load(spark, "nation")
    denorm = c.join(n, c.c_nationkey == n.n_nationkey).drop("n_nationkey")
    v = DecompositionValidator(denorm)
    yield v
    v.close()


GOOD = [["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        ["c_nationkey", "n_name", "n_regionkey"]]


def test_submit_sync_and_cache(validator):
    svc = DecompositionService(validator, max_workers=2, cache_size=10)
    info1 = svc.submit_sync(GOOD)
    assert info1.spurious_tuples == 0
    assert svc.compute_count == 1
    info2 = svc.submit_sync(GOOD)            # cache hit: no recompute
    assert svc.compute_count == 1
    assert info2.spurious_tuples == 0
    assert svc.status(GOOD) is JobStatus.FINISHED
    svc.close()


def test_concurrent_submissions(validator):
    svc = DecompositionService(validator, max_workers=3, cache_size=10)
    variants = [
        GOOD,
        [["c_custkey", "c_acctbal"], ["c_custkey", "c_mktsegment", "c_nationkey",
                                      "c_name", "n_name", "n_regionkey"]],
        [["c_custkey", "c_name"], ["c_custkey", "c_nationkey", "c_acctbal",
                                   "c_mktsegment", "n_name", "n_regionkey"]],
    ]
    jobs = [svc.submit(v) for v in variants]
    infos = [svc.submit_sync(v, timeout=120) for v in variants]
    assert all(i.spurious_tuples == 0 for i in infos)
    assert svc.compute_count == 3
    svc.close()


def test_lru_eviction(validator):
    svc = DecompositionService(validator, max_workers=1, cache_size=2)
    a = [["c_custkey", "c_name"], ["c_custkey", "c_nationkey", "c_acctbal",
                                   "c_mktsegment", "n_name", "n_regionkey"]]
    b = [["c_custkey", "c_acctbal"], ["c_custkey", "c_name", "c_nationkey",
                                      "c_mktsegment", "n_name", "n_regionkey"]]
    svc.submit_sync(GOOD)
    svc.submit_sync(a)
    svc.submit_sync(b)      # evicts GOOD (cache_size=2)
    assert svc.compute_count == 3
    svc.submit_sync(GOOD)   # recomputed after eviction
    assert svc.compute_count == 4
    svc.close()


def test_cancel_running_job(spark):
    # disjoint single-column clusters over events -> large cartesian fold:
    # slow enough to cancel mid-flight
    from relationaldecomposition_spark.sources.tables import load_table
    from tests.conftest import SF_DIR
    ev = load_table(spark, SF_DIR, "events").select("event_id", "ts", "user_id")
    v = DecompositionValidator(ev)
    svc = DecompositionService(v, max_workers=1)
    clusters = [["event_id"], ["ts"]]
    job = svc.submit(clusters)
    time.sleep(0.5)
    canceled = svc.cancel(clusters)
    if canceled:
        job.future.result(timeout=120)        # worker exits without FINISHED
        assert job.status is JobStatus.CANCELED
        assert job.info is None
        # reference semantics: submitting a CANCELED key starts a fresh job
        job2 = svc.submit(clusters)
        assert job2 is not job
        svc.cancel(clusters)
    else:
        # tiny machines may finish before the cancel lands - still valid
        assert job.status in (JobStatus.FINISHED, JobStatus.RUNNING)
    svc.close()
    v.close()


@pytest.mark.usefixtures("spark_kernel")
def test_timeout_runner_stops_search(spark, validator, monkeypatch):
    from relationaldecomposition_spark.engine.entropy import SparkEntropyEngine
    from relationaldecomposition_spark.engine.measures import MeasureEngine
    from relationaldecomposition_spark.mining import jd_miner
    from relationaldecomposition_spark.mining.jd_miner import JDMiner

    runner = TimeoutRunner(spark)

    def mine_slow(stop_flag):
        # force the lazy sequential path: the eager-CUBE default finishes
        # inside any realistic timeout window at this scale, which is the
        # point of the optimization but not of this test
        miner = JDMiner(MeasureEngine(SparkEntropyEngine(validator.base)),
                        epsilon=0.0, stop_flag=stop_flag)
        miner.mine_all_min_seps()
        return miner

    def mine_fast(stop_flag):
        miner = JDMiner(MeasureEngine(SparkEntropyEngine(validator.base)),
                        epsilon=0.0, stop_flag=stop_flag)
        miner.mine_all_min_seps()
        return miner

    with monkeypatch.context() as mp, pytest.raises(TimeoutError):
        mp.setattr(jd_miner, "EAGER_CELLS", 0)
        mp.setattr(jd_miner, "PAIR_WIDTH", 1)
        runner.run(mine_slow, timeout=1.0)
    # generous timeout completes
    miner = runner.run(mine_fast, timeout=600)
    assert miner.mined_min_seps


@pytest.mark.usefixtures("spark_kernel")
def test_timeout_runner_stops_mvd_miner(spark, validator, monkeypatch):
    """The ADVICE r3 medium: a timed-out MVDMiner worker must stop LAUNCHING
    Spark jobs once the stop flag flips (cancelJobGroup only kills in-flight
    ones). Wide projection + tiny timeout forces the flag path; the miner
    polls at level and batch boundaries, so jobs_run stops advancing shortly
    after the TimeoutError surfaces."""
    from relationaldecomposition_spark.engine import entropy
    from relationaldecomposition_spark.engine.entropy import SparkEntropyEngine
    from relationaldecomposition_spark.engine.measures import MeasureEngine
    from relationaldecomposition_spark.mining.lattice import MVDMiner

    monkeypatch.setattr(entropy, "DEFAULT_MAX_GROUPING_SETS", 2)
    eng = SparkEntropyEngine(validator.base)
    runner = TimeoutRunner(spark)
    try:
        with pytest.raises(TimeoutError):
            runner.run(
                lambda stop: MVDMiner(MeasureEngine(eng), alpha=0.0,
                                      stop_flag=stop).mine(),
                timeout=1.0)
        jobs_at_timeout = eng.jobs_run
        # the flag is polled between chunk jobs (engine stop_check hook), so
        # at most ~one chunk launches after the timeout, then the count
        # freezes
        time.sleep(8)
        settled = eng.jobs_run
        time.sleep(4)
        assert eng.jobs_run == settled, "miner kept launching jobs after stop"
        assert settled - jobs_at_timeout <= 3
    finally:
        eng.unpersist()
