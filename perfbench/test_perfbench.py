"""Self-tests of the benchmark's helpers; no Spark session needed.

Run: python3 -m pytest perfbench/test_perfbench.py -q
"""

import math
import os
import statistics
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
from tracing import (SPARK_FIELDS, Span, Tracer, median,  # noqa: E402
                     quartile_spread, union_length)


def test_median_and_quartile_spread():
    vals = [4.0, 1.0, 3.0, 2.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    assert median(vals) == 5.5
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / q2)
    assert quartile_spread([2.0] * 5) == 0.0


def test_union_length_merges_overlaps_and_clips():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (2.5, 2.7)]) == 3.0
    assert union_length([(0, 2), (2, 4)]) == 4.0
    # clipped to [1, 3]: (0,2) -> (1,2), (2.5,10) -> (2.5,3)
    assert union_length([(0, 2), (2.5, 10)], 1, 3) == pytest.approx(1.5)
    assert union_length([(5, 6)], 0, 4) == 0.0


def _op(start, end, children, unattributed=()):
    """Hand-built operation span; each child is (name, start, end, jobs)."""
    op = Span("op", start, end, jobs=list(unattributed))
    for name, s, e, jobs in children:
        op.children.append(Span(name, s, e, parent=op, jobs=list(jobs),
                                spark=dict.fromkeys(SPARK_FIELDS, 1.0)))
    return op


def test_self_time_subtracts_children_union():
    op = _op(0.0, 10.0, [("mine", 1.0, 4.0, []), ("validate", 3.0, 6.0, []),
                         ("write", 8.0, 12.0, [])])
    # children cover [1,6] and [8,10] inside the op
    assert op.self_time == pytest.approx(3.0)
    assert op.children[0].self_time == pytest.approx(3.0)


def test_accounting_counts_unclaimed_job_time():
    tracer = Tracer(None, enabled=True)
    # jobs cover 2 of mine's 4 s and 3 of write's 4 s: 5 s of job time
    tracer.ops = [_op(0.0, 10.0, [("mine", 0.0, 4.0, [(0.5, 1.5), (2.0, 3.0)]),
                                  ("write", 5.0, 9.0, [(5.0, 8.0)])])]
    acc = tracer.accounting()
    assert acc["op.driver_only_s"] == pytest.approx(5.0)
    assert acc["trace.accounted_share"] == pytest.approx(1.0)
    # a 1 s job no phase group claims (an unlabelled fan-out job) is
    # neither phase job time nor driver-only time
    tracer.ops = [_op(0.0, 10.0, [("mine", 0.0, 4.0, [(0.5, 1.5)])],
                      unattributed=[(2.0, 3.0)])]
    acc = tracer.accounting()
    assert acc["op.driver_only_s"] == pytest.approx(8.0)
    assert acc["trace.accounted_share"] == pytest.approx(0.9)


def test_phase_medians():
    tracer = Tracer(None, enabled=True)
    tracer.ops = [_op(0.0, 10.0, [("mine", 0.0, 4.0, []), ("write", 5.0, 9.0, [])]),
                  _op(20.0, 26.0, [("mine", 20.0, 22.0, [])])]
    got = tracer.phase_metrics(["mine", "write", "rejoin"])
    assert got["mine.s"] == pytest.approx(3.0)
    assert got["write.s"] == pytest.approx(2.0)  # median of 4 and 0
    assert got["mine.jobs"] == 1.0
    assert got["rejoin.s"] == 0.0 and got["rejoin.jobs"] == 0.0


def test_lay_out_is_seeded_and_keeps_rows(tmp_path):
    table = pa.table({"k": np.arange(103, dtype=np.int64)})

    def lay_out(seed, name):
        path = str(tmp_path / name)
        inputs._lay_out(table, seed, path)
        files = sorted(os.listdir(path))
        return [pq.read_table(os.path.join(path, f))["k"].to_pylist()
                for f in files]

    a, again, other = lay_out(1, "a"), lay_out(1, "b"), lay_out(2, "c")
    assert len(a) == inputs.LAYOUT_FILES
    assert a == again and a != other
    assert sorted(sum(a, [])) == sorted(sum(other, [])) == list(range(103))


def _entropy(rows: np.ndarray, cols: list[int]) -> float:
    if not cols:
        return 0.0
    _, counts = np.unique(rows[:, cols], axis=0, return_counts=True)
    p = counts / counts.sum()
    return float(-(p * np.log2(p)).sum())


def test_planted_generator_ground_truth():
    rows = inputs.planted_rows(seed=3, keys=4, copies=2)
    names = inputs.planted_columns()
    col = {c: i for i, c in enumerate(names)}
    k = [col["k"]]
    comps = [[col[a] for a in cluster] for cluster in inputs.PLANTED_CLUSTERS]
    # the planted JD k ->> A | B | C has entropy measure exactly 0
    measure = (sum(_entropy(rows, k + c) for c in comps)
               - (len(comps) - 1) * _entropy(rows, k)
               - _entropy(rows, list(range(len(names)))))
    assert abs(measure) < 1e-9
    # attributes inside a cluster stay dependent given k: no finer JD
    for a, b in comps:
        cmi = (_entropy(rows, k + [a]) + _entropy(rows, k + [b])
               - _entropy(rows, k) - _entropy(rows, k + [a, b]))
        assert cmi > 1e-3
    # the planted schema's clusters are k plus each cluster
    sep, clusters = inputs.planted_schema()
    assert sep == frozenset({"k"})
    assert sorted(map(sorted, clusters)) == [["a0", "a1", "k"],
                                            ["b0", "b1", "k"],
                                            ["c0", "c1", "k"]]


def test_planted_generator_is_seeded_and_takes_chunked_path():
    a = inputs.planted_rows(seed=5, keys=2, copies=1)
    assert np.array_equal(a, inputs.planted_rows(seed=5, keys=2, copies=1))
    assert not np.array_equal(a, inputs.planted_rows(seed=6, keys=2, copies=1))
    full_rows = (inputs.PLANTED_KEYS
                 * inputs.PLANTED_TUPLES ** len(inputs.PLANTED_CLUSTERS)
                 * inputs.PLANTED_COPIES)
    attrs = len(inputs.planted_columns())
    assert full_rows * 2 ** attrs > inputs.EAGER_CELLS
