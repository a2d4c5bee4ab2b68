"""Entropy engine vs. pure-Python oracle (the dual-implementation test
pattern from SURVEY.md §5: CompressedDB.compareTest vs ExternalFileDataSet)."""

import itertools
import math

import pytest

from relationaldecomposition_spark.engine import entropy
from relationaldecomposition_spark.engine.entropy import (
    SparkEntropyEngine, entropy_from_counts)
from tests.conftest import both_faces, load


def oracle_entropy(rows, idxs):
    """Naive histogram entropy over tuple projections (duplicates = mass)."""
    from collections import Counter
    n = len(rows)
    if n == 0 or not idxs:
        return 0.0
    counts = Counter(tuple(r[i] for i in idxs) for r in rows)
    return -sum((c / n) * math.log2(c / n) for c in counts.values())


@pytest.fixture(scope="module")
def tiny(spark):
    # duplicates on purpose: entropy path must count them as mass
    data = [
        ("a", 1, "x"), ("a", 1, "x"), ("a", 2, "y"),
        ("b", 1, "x"), ("b", 2, "y"), ("b", 2, "z"),
        ("c", 3, "z"), ("c", 3, "z"),
    ]
    df = spark.createDataFrame(data, ["u", "v", "w"])
    return df, data


@both_faces
def test_single_subsets_match_oracle(tiny):
    df, data = tiny
    eng = SparkEntropyEngine(df)
    cols = df.columns
    for r in range(1, len(cols) + 1):
        for combo in itertools.combinations(range(len(cols)), r):
            subset = [cols[i] for i in combo]
            expected = oracle_entropy(data, combo)
            assert eng.entropy(subset) == pytest.approx(expected, abs=1e-9), subset
    eng.unpersist()


@both_faces
def test_degenerate_and_cache(tiny):
    df, data = tiny
    eng = SparkEntropyEngine(df)
    assert eng.entropy([]) == 0.0
    h1 = eng.entropy(["u"])
    jobs = eng.jobs_run
    assert eng.entropy(["u"]) == h1  # cache hit
    assert eng.jobs_run == jobs
    assert eng.num_rows == 8
    assert eng.num_distinct == 6  # two injected duplicates
    eng.unpersist()


@both_faces
def test_batched_grouping_sets_match_singles(tiny, monkeypatch):
    df, data = tiny
    cols = df.columns
    all_subsets = [
        [cols[i] for i in combo]
        for r in range(1, len(cols) + 1)
        for combo in itertools.combinations(range(len(cols)), r)
    ]
    monkeypatch.setattr(entropy, "DEFAULT_MAX_GROUPING_SETS", 4)
    eng_batch = SparkEntropyEngine(df)
    got = eng_batch.entropies(all_subsets)
    for combo_cols, h in got.items():
        idxs = [cols.index(c) for c in combo_cols]
        assert h == pytest.approx(oracle_entropy(data, idxs), abs=1e-9), combo_cols
    # the 7 subsets should have used ceil(7/4)=2 grouping-set jobs
    assert eng_batch.jobs_run <= 3
    eng_batch.unpersist()


@both_faces
def test_batched_appearance_order_differs_from_schema(tiny):
    # regression: grouping_id bit order follows first appearance in the
    # GROUPING SETS clause, not schema order — put 'w' first to force a
    # mismatch between the two orders
    df, data = tiny
    cols = df.columns  # [u, v, w]
    eng = SparkEntropyEngine(df)
    subsets = [["w"], ["v"], ["u", "v"], ["u", "w"], ["u"]]
    got = eng.entropies(subsets)
    for s, h in got.items():
        idxs = [cols.index(c) for c in s]
        assert h == pytest.approx(oracle_entropy(data, idxs), abs=1e-9), s
    eng.unpersist()


@both_faces
def test_all_entropies_cube_matches_singles(tiny):
    df, data = tiny
    cols = df.columns
    eng = SparkEntropyEngine(df)
    got = eng.all_entropies()
    assert len(got) == 2 ** len(cols)
    for subset, h in got.items():
        idxs = [cols.index(c) for c in subset]
        assert h == pytest.approx(oracle_entropy(data, idxs), abs=1e-9), subset
    assert got[frozenset()] == 0.0
    # everything landed in the cache: no further jobs for any subset
    jobs = eng.jobs_run
    eng.entropy(["u", "w"])
    assert eng.jobs_run == jobs
    eng.unpersist()


@pytest.mark.usefixtures("spark_kernel")
def test_entropies_waits_on_running_lattice_job(tiny):
    """all_entropies claims its lattice in the same in-flight map as
    entropies(): a second thread asking for lattice subsets while the
    lattice job runs waits for it instead of launching its own job. The
    kernel is wrapped so the lattice job blocks until released."""
    import threading

    df, data = tiny
    cols = df.columns
    eng = SparkEntropyEngine(df)
    try:
        eng.entropies([frozenset((c,)) for c in cols])
        singles = eng.jobs_run
        kernel = eng._batch_grouping_sets
        started, release = threading.Event(), threading.Event()
        calls = []

        def blocking_kernel(subsets):
            calls.append(len(subsets))
            started.set()
            assert release.wait(60)
            kernel(subsets)

        eng._batch_grouping_sets = blocking_kernel
        lattice = threading.Thread(target=eng.all_entropies)
        lattice.start()
        try:
            assert started.wait(30), "lattice job never reached the kernel"
            asked = [frozenset(("u", "v")), frozenset(("u", "v", "w"))]
            got = {}
            asker = threading.Thread(
                target=lambda: got.update(eng.entropies(asked)))
            asker.start()
            asker.join(1.0)
            assert asker.is_alive(), "entropies() did not wait on the lattice"
        finally:
            release.set()
            lattice.join(60)
        asker.join(60)
        assert not lattice.is_alive() and not asker.is_alive()
        assert calls == [2 ** len(cols)]      # the lattice, nothing else
        assert eng.jobs_run == singles + 1
        for s in asked:
            idxs = [cols.index(c) for c in s]
            assert got[s] == pytest.approx(oracle_entropy(data, idxs),
                                           abs=1e-9), s
    finally:
        eng.unpersist()


@pytest.mark.usefixtures("spark_kernel")
def test_all_entropies_key_shortcut(spark):
    """Key-column shortcut: with unique-key columns present, all_entropies
    must (a) still match the brute-force oracle on EVERY subset — key
    subsets exactly, the rest to float tolerance — and (b) run its CUBE only
    over the key-free columns (visible as fewer tuples_processed)."""
    data = [(i, f"name{i}", i % 3, i % 2) for i in range(12)]
    cols = ["pk", "pname", "grp", "flag"]
    df = spark.createDataFrame(data, cols)
    eng = SparkEntropyEngine(df)
    try:
        assert eng.key_columns(cols) == frozenset({"pk", "pname"})
        got = eng.all_entropies()
        assert len(got) == 2 ** len(cols)
        logn = math.log2(len(data))
        for subset, h in got.items():
            idxs = [cols.index(c) for c in subset]
            assert h == pytest.approx(oracle_entropy(data, idxs), abs=1e-9), subset
            if subset & {"pk", "pname"}:
                assert h == logn  # exact, by the algebraic fill
        # CUBE ran over the 2 key-free columns only: the cube job fed
        # n * 2^2 tuples, not n * 2^4 (singles job adds n * 4)
        assert eng.tuples_processed == 12 * 4 + 12 * (1 << 2)
    finally:
        eng.unpersist()


@both_faces
def test_all_entropies_no_keys_when_duplicates(tiny):
    """Duplicate rows mean no column can be a key — the shortcut must
    self-disable (detection is on computed entropy, not schema claims)."""
    df, _ = tiny
    eng = SparkEntropyEngine(df, cache_input=False)
    try:
        assert eng.key_columns(df.columns) == frozenset()
    finally:
        eng.unpersist()


def test_all_entropies_width_guard(tiny):
    df, _ = tiny
    eng = SparkEntropyEngine(df, cache_input=False)
    with pytest.raises(ValueError, match="cube over"):
        eng.all_entropies([f"c{i}" for i in range(21)])


@both_faces
def test_cost_aware_chunking(tiny, monkeypatch):
    """Chunk planner (VERDICT r2 'what's wrong' #3): cold cache keeps the
    full fixed width; once singleton entropies are cached, near-key subsets
    are split across chunks so one job's shuffle output stays within the
    group budget."""
    df, data = tiny
    monkeypatch.setattr(entropy, "DEFAULT_MAX_GROUPING_SETS", 4)
    monkeypatch.setattr(entropy, "GROUP_BUDGET_ROWS", 1.0)
    eng = SparkEntropyEngine(df)
    try:
        subs = [frozenset(c) for r in (1, 2, 3)
                for c in itertools.combinations(df.columns, r)]
        # cold cache, uniform width: fixed-width chunking (lazy planner
        # returns one chunk at a time)
        pairs = subs[3:9]   # six size-2 subsets, no estimates yet
        first = eng._next_chunk(pairs)
        assert len(first) == 4 and eng._next_chunk(pairs[4:]) == pairs[4:6]
        # warm the singletons; (u,v,w) is near-key (7 groups of 8 rows)
        eng.entropies([frozenset((c,)) for c in df.columns])
        wide = [frozenset(df.columns)] * 3  # each ~n groups
        assert eng._next_chunk(wide) == wide[:1]  # budget 1.0x rows: one each
        # values are unaffected by chunking (full sweep matches the oracle)
        got = eng.entropies(subs)
        for s in subs:
            idxs = [df.columns.index(c) for c in sorted(s)]
            assert got[s] == pytest.approx(oracle_entropy(data, idxs), abs=1e-9)
    finally:
        eng.unpersist()


@both_faces
def test_cold_wide_chunk_clamped_to_16(spark, monkeypatch):
    """ADVICE r14: a COLD chunk headed by a wide (non-singleton) set has
    no cached estimates, so the group budget can't bound it — the r14
    width raise (16 -> 32) must not double that blind chunk's working
    set. The planner admits at most 16 cold wide sets per chunk, also
    behind a warm head; once estimates exist (singles cached) chunks keep
    the full width, bounded by the group budget instead."""
    cols = [f"c{i}" for i in range(7)]
    # every column = the same 8-valued cycle: singleton H = 3 bits, so a
    # pair estimates min(6, log2 64) = 6 bits — never union-compact
    # (thresh = log2(64/8) = 3), which keeps the compactness skip out of
    # this test's way; the budget is raised so it doesn't bind either
    df = spark.createDataFrame(
        [tuple(f"v{i % 8}" for _ in cols) for i in range(64)], cols)
    monkeypatch.setattr(entropy, "DEFAULT_MAX_GROUPING_SETS", 32)
    monkeypatch.setattr(entropy, "GROUP_BUDGET_ROWS", 32.0)
    eng = SparkEntropyEngine(df)
    try:
        wide = [frozenset(c) for c in itertools.combinations(cols, 2)]
        assert len(wide) == 21 > 16
        # cold, wide-headed: clamped to the pre-r14 width
        assert len(eng._next_chunk(wide)) == 16
        # warm head (c0, c1 cached), cold tail: still at most 16 cold sets
        eng.preload({frozenset(("c0",)): 3.0, frozenset(("c1",)): 3.0})
        assert wide[0] == frozenset(("c0", "c1"))
        assert len(eng._next_chunk(wide)) == 1 + 16
        # warm the singleton estimates
        eng.entropies([frozenset((c,)) for c in cols])
        # warm chunk keeps the FULL raised width (21 sets fit under both
        # the 32 cap and the 32x budget: 21 x 2^6 = 1344 <= 2048)
        assert len(eng._next_chunk(wide)) == 21
    finally:
        eng.unpersist()


def test_entropy_from_counts_helper():
    assert entropy_from_counts([2, 2], 4) == pytest.approx(1.0)
    assert entropy_from_counts([1, 1, 1, 1], 4) == pytest.approx(2.0)
    assert entropy_from_counts([4], 4) == pytest.approx(0.0)
    assert entropy_from_counts([], 0) == 0.0


@both_faces
def test_on_sf0001_lineitem(spark):
    df = load(spark, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity")
    eng = SparkEntropyEngine(df)
    rows = [tuple(r) for r in df.collect()]
    for subset in [["l_returnflag"], ["l_returnflag", "l_linestatus"],
                   ["l_returnflag", "l_linestatus", "l_quantity"]]:
        idxs = [df.columns.index(c) for c in subset]
        assert eng.entropy(subset) == pytest.approx(
            oracle_entropy(rows, idxs), abs=1e-9)
    eng.unpersist()


@both_faces
def test_entropy_random_frames_property():
    """Property check over random relations: batched grouping-sets
    entropies must equal the definition H(X) = log2(N) - sum(c*log2(c))/N
    computed driver-side, for every subset of a random 4-column frame.
    Seeded RNG (not hypothesis) keeps Spark round-trips bounded and
    failures reproducible."""
    import itertools as it
    import math
    import random
    from collections import Counter

    from tests.conftest import SF_DIR  # noqa: F401  (spark fixture import side)
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    cols = ["w", "x", "y", "z"]
    for seed in (3, 17, 41):
        rng = random.Random(seed)
        rows = [tuple(rng.randint(0, rng.choice((1, 3, 9)))
                      for _ in cols) for _ in range(rng.randint(20, 80))]
        df = spark.createDataFrame(rows, cols)
        eng = SparkEntropyEngine(df)
        try:
            subsets = [frozenset(c) for r in (1, 2, 3, 4)
                       for c in it.combinations(cols, r)]
            got = eng.entropies(subsets)
            n = len(rows)
            for s in subsets:
                idx = [cols.index(c) for c in sorted(s)]
                counts = Counter(tuple(row[i] for i in idx) for row in rows)
                expect = math.log2(n) - sum(
                    c * math.log2(c) for c in counts.values()) / n
                assert abs(got[s] - expect) < 1e-9, (seed, sorted(s))
        finally:
            eng.unpersist()


@both_faces
def test_preaggregated_grouping_sets_values(spark):
    """When singleton entropies say the union compresses (est G <= N/8),
    _batch_grouping_sets pre-aggregates on the union before the grouping
    sets. Values must be identical to the brute-force oracle either way —
    this fixture makes the gate provably engage (4 columns x 3 values,
    N=810 -> est G ~ 2^6.3 << N/8)."""
    import itertools as it
    import random
    rng = random.Random(4242)
    data = [tuple(rng.choice("abc") for _ in range(4)) for _ in range(810)]
    df = spark.createDataFrame(data, "u string, v string, w string, x string")
    eng = SparkEntropyEngine(df)
    try:
        cols = df.columns
        eng.entropies([frozenset((c,)) for c in cols])   # warm singles
        pairs = [frozenset(p) for p in it.combinations(cols, 2)]
        union_est = eng._est_log2_groups(frozenset(cols))
        assert union_est is not None
        assert (2.0 ** union_est) * 8.0 <= eng.num_rows   # gate engages
        got = eng.entropies(pairs)
        for s in pairs:
            idxs = [cols.index(c) for c in sorted(s)]
            assert got[s] == pytest.approx(oracle_entropy(data, idxs),
                                           abs=1e-9), s
    finally:
        eng.unpersist()


@pytest.mark.usefixtures("spark_kernel")
def test_subsequence_chunking_skips_union_wideners(spark):
    """r7 chunker rework: once the chunk-so-far qualifies for the pre-agg
    gate (union perplexity <= N/8), a subset that would blow the union
    past the threshold is SKIPPED (lands in a later chunk), not
    chunk-terminating — so compact chunks pre-aggregate and wide subsets
    congregate. Values must be oracle-identical either way."""
    import math

    rows = [(i % 2, (i // 2) % 2, (i // 4) % 2, i % 512)
            for i in range(1024)]
    df = spark.createDataFrame(rows, ["u", "v", "t", "w"])
    eng = SparkEntropyEngine(df)
    try:
        # seed the singleton estimates (the cold chunk — always direct)
        eng.entropies([frozenset((c,)) for c in df.columns])
        uv, ut, vt = (frozenset(("u", "v")), frozenset(("u", "t")),
                      frozenset(("v", "t")))
        uw, vw = frozenset(("u", "w")), frozenset(("v", "w"))
        # head {u,v} is compact (union {u,v,t} est ~3 bits <=
        # log2(1024/8)=7); the interleaved w-subsets would push the union
        # past the threshold and must be SKIPPED, not chunk-terminating
        assert eng._next_chunk([uv, uw, ut, vw, vt]) == [uv, ut, vt]
        # the wide subsets then chunk together (head already past the
        # threshold -> the compactness rule is inactive, mass budget rules)
        assert eng._next_chunk([uw, vw]) == [uw, vw]
        before_pre, before_dir = eng.pre_agg_chunks, eng.direct_chunks
        got = eng.entropies([uv, uw, ut, vw, vt])
        assert eng.pre_agg_chunks == before_pre + 1   # the compact chunk
        assert eng.direct_chunks == before_dir + 1    # the wide pair chunk
        # values identical to the brute-force oracle
        for s in (uv, uw, ut, vw, vt):
            idxs = [df.columns.index(c) for c in sorted(s)]
            assert got[s] == pytest.approx(oracle_entropy(rows, idxs),
                                           abs=1e-9)
    finally:
        eng.unpersist()


def _cached(spark, df):
    cm = spark._jsparkSession.sharedState().cacheManager()
    return cm.lookupCachedData(df._jdf).isDefined()


@pytest.mark.usefixtures("spark_kernel")
def test_persisted_input_stays_cached_across_jobs(tiny, spark):
    """Kernel jobs leave the engine's persisted input cached: a later job
    must not re-scan the source plan."""
    df, _ = tiny
    eng = SparkEntropyEngine(df)
    try:
        eng.entropies([["u"], ["v"]])
        eng.entropies([["u", "v"], ["v", "w"]])
        assert eng.jobs_run == 2
        assert _cached(spark, eng.df)
    finally:
        eng.unpersist()


def _distinct(df, cols):
    return df.select(*[f"`{c}`" for c in cols]).distinct().count()


@pytest.mark.usefixtures("spark_kernel")
def test_group_counts_match_distinct_counts(spark):
    """The kernel's group count of X is |SELECT DISTINCT X|, on the direct
    path, for a column holding nulls, and for column names that need
    quoting; the entropies of the same job match the oracle."""
    data = [(f"p{i % 5}", None if i % 3 == 0 else i % 4, f"s {i % 2}")
            for i in range(30)]
    cols = ["a.b", "n", "c d"]
    df = spark.createDataFrame(data, "`a.b` string, n int, `c d` string")
    eng = SparkEntropyEngine(df)
    try:
        subsets = [frozenset(c) for r in (1, 2, 3)
                   for c in itertools.combinations(cols, r)]
        counts = eng.group_counts(subsets)
        assert eng.jobs_run == 1 and eng.direct_chunks == 1
        for s in subsets:
            assert counts[s] == _distinct(df, sorted(s)), s
        got = eng.entropies(subsets)
        assert eng.jobs_run == 1                       # same job priced H
        for s in subsets:
            idxs = [cols.index(c) for c in s]
            assert got[s] == pytest.approx(oracle_entropy(data, idxs),
                                           abs=1e-9), s
        assert counts[frozenset(("n",))] == 5          # 4 values + NULL
        # the values the SQL-string kernel produced for these names
        pinned = {("a.b",): 2.3219280948873626, ("c d",): 1.0,
                  ("a.b", "c d"): 3.321928094887362,
                  ("a.b", "c d", "n"): 4.7068905956085185}
        for s, h in pinned.items():
            assert got[frozenset(s)] == pytest.approx(h, abs=1e-12), s
    finally:
        eng.unpersist()


@pytest.mark.usefixtures("spark_kernel")
def test_group_counts_on_preaggregated_path(spark):
    """Same frame as test_preaggregated_grouping_sets_values: with the
    pre-aggregation gate engaged, the group counts stay exact."""
    import random
    rng = random.Random(4242)
    data = [tuple(rng.choice("abc") for _ in range(4)) for _ in range(810)]
    df = spark.createDataFrame(data, "u string, v string, w string, x string")
    eng = SparkEntropyEngine(df)
    try:
        cols = df.columns
        eng.entropies([frozenset((c,)) for c in cols])   # warm singles
        pairs = [frozenset(p) for p in itertools.combinations(cols, 2)]
        before = eng.pre_agg_chunks
        counts = eng.group_counts(pairs + [frozenset(cols)])
        assert eng.pre_agg_chunks == before + 1
        for s in pairs + [frozenset(cols)]:
            assert counts[s] == _distinct(df, sorted(s)), s
    finally:
        eng.unpersist()


@both_faces
def test_group_counts_of_key_subsets_need_no_job(spark):
    """all_entropies fills every key-containing subset algebraically, its
    group count (N) included."""
    data = [(i, i % 3, i % 2) for i in range(12)]
    cols = ["pk", "grp", "flag"]
    df = spark.createDataFrame(data, cols)
    eng = SparkEntropyEngine(df)
    try:
        eng.all_entropies()
        jobs = eng.jobs_run
        subsets = [frozenset(c) for r in (1, 2, 3)
                   for c in itertools.combinations(cols, r)]
        counts = eng.group_counts(subsets)
        assert eng.jobs_run == jobs
        for s in subsets:
            assert counts[s] == _distinct(df, sorted(s)), s
    finally:
        eng.unpersist()


@both_faces
def test_group_counts_on_empty_frame(spark):
    df = spark.createDataFrame([], "u string, v int")
    eng = SparkEntropyEngine(df, cache_input=False)
    counts = eng.group_counts([["u"], ["u", "v"]])
    assert counts == {frozenset(("u",)): 0, frozenset(("u", "v")): 0}
    assert eng.entropies([["u"], ["u", "v"]]) == {
        frozenset(("u",)): 0.0, frozenset(("u", "v")): 0.0}
    assert eng.num_rows == 0 and eng.num_distinct == 0


@both_faces
def test_row_counts_read_from_the_kernel(tiny, spark):
    """After one entropies() call that covers the full column set, N and the
    distinct count come from that job: reading them starts no Spark job."""
    df, _ = tiny
    eng = SparkEntropyEngine(df)
    sc = spark.sparkContext
    group = "entropy-count-probe"
    try:
        eng.entropies([["u"], df.columns])
        sc.setJobGroup(group, "reads after one entropy job")
        try:
            assert eng.num_rows == 8
            assert eng.num_distinct == 6
        finally:
            sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        eng.unpersist()


@pytest.mark.usefixtures("spark_kernel")
@pytest.mark.parametrize("width", [63, 70])
def test_single_grouping_set_wider_than_62_columns(spark, width):
    """One set needs no gid bits: a set wider than the 62-column gid budget
    (and wider than Spark's 64-column grouping-set limit) runs as a plain
    GROUP BY, and a batch of such sets splits down to single sets."""
    df = spark.range(4).selectExpr(*[f"id % 2 AS c{j}" for j in range(width)])
    eng = SparkEntropyEngine(df)
    try:
        assert eng.num_distinct == 2
        assert eng.jobs_run == 1
        full = frozenset(df.columns)
        assert eng.entropy(full) == pytest.approx(1.0, abs=1e-12)
        rest = full - {"c0"}
        assert eng.group_counts([rest, full - {"c1"}]) == {
            rest: 2, full - {"c1"}: 2}
        assert eng.jobs_run == 3
    finally:
        eng.unpersist()


def test_driver_face_size_guard(spark, monkeypatch):
    """The sizing count N picks the face: the driver face engages at N =
    bound, with row weights when rows repeat, and stays inert at N = bound
    + 1, where the count adds no kernel job to the Spark kernel's. A
    nested column goes to Spark without sizing."""
    from relationaldecomposition_spark.engine import entropy

    rows = [(i % 4, i % 3) for i in range(24)]      # 24 rows, D = 12
    df = spark.createDataFrame(rows, ["a", "b"])
    sets = [frozenset("a"), frozenset("b"), frozenset("ab")]
    expect = {s: oracle_entropy(rows, [df.columns.index(c) for c in sorted(s)])
              for s in sets}
    for bound, driver in ((24, True), (23, False)):
        monkeypatch.setattr(entropy, "BROADCAST_MAX_ROWS", bound)
        eng = SparkEntropyEngine(df)
        try:
            got = eng.entropies(sets)
            assert (eng.driver_table() is not None) == driver, bound
            # the collect, or the Spark kernel's two chunks (singles first,
            # then the pair)
            assert eng.jobs_run == (1 if driver else 2)
            assert eng.num_rows == 24 and eng.num_distinct == 12
            for s in sets:
                assert got[s] == pytest.approx(expect[s], abs=1e-12), s
            if driver:
                assert eng.driver_table().rows == 12
                assert list(eng.driver_table().weights) == [2] * 12
        finally:
            eng.unpersist()
    monkeypatch.setattr(entropy, "BROADCAST_MAX_ROWS", 1_000_000)
    df = spark.createDataFrame([(1, [1]), (2, [1]), (2, [2])],
                               "k int, arr array<int>")
    eng = SparkEntropyEngine(df)
    try:
        assert eng.entropy(["arr"]) == pytest.approx(
            oracle_entropy([(1,), (1,), (2,)], [0]), abs=1e-12)
        assert eng.driver_table() is None and eng.jobs_run == 1
    finally:
        eng.unpersist()


def test_driver_face_polls_stop_between_sets(tiny):
    """On the driver face stop_check is polled before each set of a batch,
    not only between Spark chunk jobs; sets done before the stop stay
    cached, and no Spark job runs after the sizing count and the collect."""
    from relationaldecomposition_spark.engine.entropy import MiningCancelled

    df, data = tiny
    eng = SparkEntropyEngine(df)
    polls = []

    def stop():
        polls.append(None)
        return len(polls) > 3

    try:
        eng.stop_check = stop
        sets = [frozenset(c) for r in (1, 2)
                for c in itertools.combinations(df.columns, r)]
        with pytest.raises(MiningCancelled):
            eng.entropies(sets)
        # one poll before the batch, then one before each set: two sets done
        assert len(polls) == 4
        assert eng.driver_table() is not None and eng.jobs_run == 1
        done = [s for s in sets if s in eng._cache]
        assert done == [frozenset("u"), frozenset("uv")]
        eng.stop_check = None
        got = eng.entropies(sets)
        assert eng.jobs_run == 1
        for s in sets:
            idxs = [df.columns.index(c) for c in sorted(s)]
            assert got[s] == pytest.approx(oracle_entropy(data, idxs),
                                           abs=1e-12), s
    finally:
        eng.unpersist()


def _nan_with_payload():
    import struct
    return struct.unpack("<d", struct.pack("<Q", 0x7FF8000000000001))[0]


@pytest.mark.parametrize("dups", [False, True])
def test_driver_face_matches_spark_kernel(spark, dups):
    """Every subset's H and group count, read on the driver face at 1, 3
    and 7 partitions and on the Spark kernel: counts identical everywhere,
    H bit-identical across partition counts (group sizes are summed in
    sorted order) and within 1e-12 of the Spark kernel. The frame has
    names that need quoting or that the kernel uses for its own columns,
    nulls, and -0.0 and NaNs with different bit
    patterns, which Spark groups with 0.0 and with each other; with
    ``dups`` rows repeat, so the driver face folds them into weighted
    rows."""
    from tests.conftest import withhold_driver_table

    vals = [0.0, -0.0, float("nan"), _nan_with_payload(), None, 1.5]
    # without dups, k.x is a key: no row repeats and no weights are kept
    rows = [(i if not dups else i % 5, vals[i % 6],
             None if i % 4 == 0 else f"s{i % 3}") for i in range(60)]
    base = spark.createDataFrame(rows, "`k.x` int, `f g` double, __gid string")
    cols = base.columns
    subsets = [frozenset(c) for r in (1, 2, 3)
               for c in itertools.combinations(cols, r)]

    def read(df, driver):
        eng = SparkEntropyEngine(df)
        try:
            if driver:
                h, n = eng.entropies(subsets), eng.group_counts(subsets)
                assert eng.driver_table() is not None
                assert (eng.driver_table().weights is not None) == dups
                return h, n
            with pytest.MonkeyPatch.context() as mp:
                withhold_driver_table(mp)
                return eng.entropies(subsets), eng.group_counts(subsets)
        finally:
            eng.unpersist()

    spark_h, spark_n = read(base, False)
    reads = [read(base.repartition(p), True) for p in (1, 3, 7)]
    for h, n in reads:
        assert h == reads[0][0] and n == spark_n
        for s in subsets:
            assert h[s] == pytest.approx(spark_h[s], abs=1e-12), s
    # -0.0 groups with 0.0 and both NaNs together: 4 float groups
    assert spark_n[frozenset(["f g"])] == 4
