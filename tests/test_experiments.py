"""Experiment-harness parity: the three reference result-CSV schemas are
written, parse back, and carry sane counter values; the sweep CLI runs a
small directory end-to-end (VERDICT r2 item #4)."""

import csv
import os
import shutil

import pytest

from relationaldecomposition_spark.experiments import (
    ENUM_HEADER, MINSEP_HEADER, MVD_SWEEP_HEADER, run_minsep_experiment,
    run_mvd_sweep, run_schema_enumeration)
from tests.conftest import SF_DIR, load


def _read(path):
    with open(path, newline="") as f:
        return list(csv.reader(f))


@pytest.fixture(scope="module")
def denorm4(spark):
    c = load(spark, "customer")
    n = load(spark, "nation")
    return (c.join(n, c.c_nationkey == n.n_nationkey)
             .select("c_custkey", "c_nationkey", "c_mktsegment", "n_name"))


def test_mvd_sweep_csv(tmp_path, denorm4):
    out = str(tmp_path / "denorm4.out.csv")
    results = run_mvd_sweep(denorm4, out, thresholds=(0.0, 0.5),
                            timeout_sec=600)
    rows = _read(out)
    assert rows[0] == MVD_SWEEP_HEADER
    assert len(rows) == 3
    for i, (res, row) in enumerate(zip(results, rows[1:])):
        assert res.completed
        assert int(row[0]) == 4                 # #Attribtues
        assert int(row[1]) > 0                  # #Rows
        assert int(row[3]) >= 1                 # #MVDs mined
        # jobs run, a per-threshold delta: the engine is shared by the
        # sweep, so a later threshold can be served by its cache
        assert int(row[4]) >= (1 if i == 0 else 0)
        assert float(row[6]) >= float(row[5])   # total time >= scan time
        assert 0.0 <= float(row[7]) <= 100.0    # %scanning


def test_mvd_sweep_timeout_row(tmp_path, denorm4):
    out = str(tmp_path / "t.out.csv")
    results = run_mvd_sweep(denorm4, out, thresholds=(0.0,),
                            timeout_sec=0.001)
    rows = _read(out)
    assert not results[0].completed
    assert rows[1][1] == "NaN" and rows[1][6].startswith(">")


def test_minsep_csv_and_sep_file(tmp_path, denorm4):
    out = str(tmp_path / "denorm4.csv")
    sep_dir = str(tmp_path / "seps")
    results = run_minsep_experiment(denorm4, out, sep_dir, "denorm4",
                                    thresholds=(0.0,), timeout_sec=600)
    rows = _read(out)
    assert rows[0] == MINSEP_HEADER
    assert len(rows) == 2
    row = rows[1]
    assert results[0].completed and row[5] == "True"
    assert int(row[6]) >= 1                     # minimal separators
    assert int(row[10]) >= 1                    # queries issued
    assert float(row[12]) >= float(row[11])     # total >= query time
    assert int(row[14]) >= 1                    # cached entropies
    assert int(row[15]) > 0                     # tuples processed
    seps = [f for f in os.listdir(sep_dir) if f.endswith(".sep")]
    # the RANGE component is the engine's grouping-sets cap (the reference's
    # "Range Size" parameter) — derive it so the test pins the filename
    # STRUCTURE, not one tuning value
    from relationaldecomposition_spark.engine.entropy import (
        DEFAULT_MAX_GROUPING_SETS)
    expected = f"denorm4.TO.600.RANGE.{DEFAULT_MAX_GROUPING_SETS}.THRESH.0.0.sep"
    assert seps == [expected]
    # the .sep parses back into at least one JD over this schema
    from relationaldecomposition_spark.sources.jd_io import read_jds
    jds = read_jds(os.path.join(sep_dir, seps[0]), denorm4.columns)
    assert jds


def test_schema_enum_csv(tmp_path, denorm4):
    sep_dir = str(tmp_path / "seps")
    run_minsep_experiment(denorm4, str(tmp_path / "m.csv"), sep_dir,
                          "denorm4", thresholds=(0.0,), timeout_sec=600)
    from relationaldecomposition_spark.engine.entropy import (
        DEFAULT_MAX_GROUPING_SETS)
    sep = os.path.join(
        sep_dir,
        f"denorm4.TO.600.RANGE.{DEFAULT_MAX_GROUPING_SETS}.THRESH.0.0.sep")
    out = str(tmp_path / "denorm4.enum.out.csv")
    rows_out = run_schema_enumeration(denorm4, sep, out, max_schemas=3)
    rows = _read(out)
    assert rows[0] == ENUM_HEADER
    assert 1 <= len(rows_out) <= 3
    for row in rows[1:]:
        assert int(row[7]) >= 2                 # #Relations
        assert int(row[8]) >= 0                 # spurious
        assert int(row[9]) > 0 and int(row[10]) > 0


def test_cli_end_to_end(tmp_path, spark):
    """CLI smoke over a directory of two small relations (region, nation):
    sweep two thresholds, enumerate, check all outputs exist. Reuses the
    session via get_spark's getOrCreate (same JVM)."""
    from relationaldecomposition_spark.cli import main
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    for t in ["region", "nation"]:
        shutil.copy(f"{SF_DIR}/{t}.parquet", f"{in_dir}/{t}.parquet")
    rc = main(["--input-dir", in_dir, "--out-dir", out_dir,
               "--mode", "minsep", "--thresholds", "0.0,0.1",
               "--timeout", "600", "--enumerate"])
    assert rc == 0
    got = sorted(os.listdir(out_dir))
    for t in ["region", "nation"]:
        assert f"{t}.csv" in got
        assert f"{t}.enum.out.csv" in got
        assert any(f.startswith(f"{t}.TO.") and f.endswith(".sep")
                   for f in got)
        assert len(_read(os.path.join(out_dir, f"{t}.csv"))) == 3


SWEEP = (0.0, 1.0, 2.0)


def _sep_name(thresh):
    from relationaldecomposition_spark.engine.entropy import (
        DEFAULT_MAX_GROUPING_SETS)
    return f"denorm4.TO.600.RANGE.{DEFAULT_MAX_GROUPING_SETS}.THRESH.{thresh}.sep"


def _fresh_sep(df, thresh, path):
    """The .sep file of one threshold mined on an engine of its own."""
    from relationaldecomposition_spark.engine.entropy import SparkEntropyEngine
    from relationaldecomposition_spark.engine.measures import MeasureEngine
    from relationaldecomposition_spark.mining.jd_miner import JDMiner
    from relationaldecomposition_spark.sources.jd_io import write_jds

    miner = JDMiner(MeasureEngine(SparkEntropyEngine(df)), epsilon=thresh)
    try:
        miner.mine_all_min_seps()
        miner.mine_all_full_mvds()
    finally:
        miner.eng.unpersist()
    write_jds(sorted(set(miner.full_mvds) | set(miner.mined_jds), key=str),
              path, list(df.columns))
    with open(path, "rb") as f:
        return f.read()


def test_minsep_sweep_sizes_and_collects_once(spark, tmp_path, denorm4,
                                              monkeypatch):
    """A sweep with enumeration mines every threshold and validates every
    run's schemas on one engine: one sizing count and one Arrow collect
    of the relation, and no persistent RDD left behind."""
    from tests.test_decompose import _count_collects, _persisted

    collects = _count_collects(monkeypatch, denorm4)
    counts = []
    count = type(denorm4).count

    def spy(self):
        counts.append(None)
        return count(self)

    monkeypatch.setattr(type(denorm4), "count", spy)
    before = _persisted(spark)
    out = str(tmp_path / "denorm4.csv")
    run_minsep_experiment(denorm4, out, str(tmp_path / "seps"), "denorm4",
                          thresholds=SWEEP, timeout_sec=600,
                          enum_csv=str(tmp_path / "denorm4.enum.out.csv"))
    assert len(counts) == 1 and len(collects) == 1
    assert _persisted(spark) <= before
    rows = _read(out)[1:]
    assert [float(r[3]) for r in rows] == list(SWEEP)
    # the collect is the first threshold's build and its one job
    assert int(rows[0][10]) == 1
    assert all(int(r[10]) == 0 for r in rows[1:])


def test_minsep_sweep_matches_fresh_engines(tmp_path, denorm4):
    """Per threshold, the shared engine writes the same .sep bytes as an
    engine of its own, and the in-sweep ENUM rows are
    run_schema_enumeration's rows on that file (but for elapsed time)."""
    sep_dir = str(tmp_path / "seps")
    enum = str(tmp_path / "denorm4.enum.out.csv")
    run_minsep_experiment(denorm4, str(tmp_path / "m.csv"), sep_dir,
                          "denorm4", thresholds=SWEEP, timeout_sec=600,
                          enum_csv=enum)
    expected = [ENUM_HEADER]
    for i, thresh in enumerate(SWEEP):
        sep = os.path.join(sep_dir, _sep_name(thresh))
        with open(sep, "rb") as f:
            assert f.read() == _fresh_sep(denorm4, thresh,
                                          str(tmp_path / f"fresh{i}.sep"))
        alone = str(tmp_path / f"alone{i}.csv")
        run_schema_enumeration(denorm4, sep, alone)
        expected += _read(alone)[1:]
    got = _read(enum)
    assert len(got) == len(expected) > len(SWEEP)

    def drop_time(rows):
        return [r[:4] + r[5:] for r in rows]

    assert drop_time(got) == drop_time(expected)


def test_timed_out_threshold_leaves_no_stop_flag(tmp_path, denorm4,
                                                 monkeypatch):
    """The first threshold times out while it mines; its fired stop flag
    is taken off the shared engine, so the next threshold completes with
    a fresh engine's separators and the engine ends with no stop_check."""
    from relationaldecomposition_spark.engine.decompose import (
        DecompositionValidator)
    from relationaldecomposition_spark.runner import TimeoutRunner

    calls = []
    run = TimeoutRunner.run

    def first_times_out(self, fn, timeout):
        calls.append(None)
        return run(self, fn, 0 if len(calls) == 1 else timeout)

    flags = []
    close = DecompositionValidator.close

    def spy_close(self):
        flags.append(self.eng.stop_check)
        close(self)

    monkeypatch.setattr(TimeoutRunner, "run", first_times_out)
    monkeypatch.setattr(DecompositionValidator, "close", spy_close)
    sep_dir = str(tmp_path / "seps")
    results = run_minsep_experiment(
        denorm4, str(tmp_path / "m.csv"), sep_dir, "denorm4",
        thresholds=(0.0, 2.0), timeout_sec=600,
        enum_csv=str(tmp_path / "e.csv"))
    assert [r.completed for r in results] == [False, True]
    assert flags == [None]
    with open(os.path.join(sep_dir, _sep_name(2.0)), "rb") as f:
        assert f.read() == _fresh_sep(denorm4, 2.0, str(tmp_path / "f.sep"))
