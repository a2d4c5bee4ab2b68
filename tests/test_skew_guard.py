"""Hot-bucket skew guards (dedup._bucket_guard, similarity.cap_buckets).

The sf* synthetic corpora are benign; these fixtures are adversarial by
construction — one boilerplate template repeated until a single LSH bucket
dwarfs the cap — and pin the two properties the guards exist for:

1. bounded work: candidate counts stop growing quadratically in the hot
   bucket once the guard engages;
2. no collateral damage: under-cap buckets produce exactly the pairs the
   unguarded operator produces, and all guarded output is a subset of the
   unguarded output (the guard only ever removes candidates).
"""

import pytest
from pyspark.sql import functions as F

from relationaldecomposition_spark.engine import cost
from relationaldecomposition_spark.operators import dedup, similarity

HOT_N = 64          # identical docs -> one bucket of 64 rows in every band
CAP = 8


@pytest.fixture(scope="module")
def skewed_docs(spark):
    template = "all work and no play makes jack a dull boy again and again"
    rows = [(i, template) for i in range(100, 100 + HOT_N)]
    rows += [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # dup of 1, cold bucket
        (3, "completely different words here entirely unrelated"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _pair_set(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_split_guard_bounds_hot_bucket(skewed_docs):
    unguarded = _pair_set(dedup.lsh_candidate_pairs(skewed_docs, "text", "doc_id"))
    guarded = _pair_set(dedup.lsh_candidate_pairs(
        skewed_docs, "text", "doc_id", max_bucket=CAP, skew_mode="split"))
    hot_all = HOT_N * (HOT_N - 1) // 2
    assert len(unguarded) >= hot_all          # quadratic blowup really present
    # split into ceil(64/8)=8 sub-buckets by id-hash: per-bucket pair work is
    # ~sum C(n_i, 2) with sum n_i = 64 — far below C(64, 2) unless the hash
    # degenerates. 3x headroom over the balanced 224 absorbs hash unevenness.
    hot_guarded = {p for p in guarded if p[0] >= 100}
    assert 0 < len(hot_guarded) <= hot_all // 3
    # guard only removes candidates, never invents them
    assert guarded <= unguarded
    # the cold near-dup bucket (size 2 <= cap) is untouched
    assert (1, 2) in guarded


def test_split_guard_deterministic(skewed_docs):
    g1 = _pair_set(dedup.lsh_candidate_pairs(
        skewed_docs, "text", "doc_id", max_bucket=CAP, skew_mode="split"))
    g2 = _pair_set(dedup.lsh_candidate_pairs(
        skewed_docs, "text", "doc_id", max_bucket=CAP, skew_mode="split"))
    assert g1 == g2


def test_drop_guard_removes_hot_bucket_only(skewed_docs):
    dropped = _pair_set(dedup.lsh_candidate_pairs(
        skewed_docs, "text", "doc_id", max_bucket=CAP, skew_mode="drop"))
    assert all(a < 100 and b < 100 for a, b in dropped)  # hot bucket gone
    assert (1, 2) in dropped                             # cold bucket intact


def test_guard_noop_below_cap(skewed_docs):
    """A cap no bucket exceeds must be a pure no-op (same pairs AND scores)."""
    plain = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in dedup.lsh_candidate_pairs(
                 skewed_docs, "text", "doc_id").collect()}
    wide = {(r["id_a"], r["id_b"]): r["est_jaccard"]
            for r in dedup.lsh_candidate_pairs(
                skewed_docs, "text", "doc_id",
                max_bucket=10 * HOT_N, skew_mode="split").collect()}
    assert plain == wide


def test_guard_both_payload_paths_agree(skewed_docs):
    """Slim and inline band-join plans must produce identical guarded pairs."""
    slim = _pair_set(dedup.lsh_candidate_pairs(
        skewed_docs, "text", "doc_id", max_bucket=CAP, skew_mode="split",
        slim_payload=True))
    inline = _pair_set(dedup.lsh_candidate_pairs(
        skewed_docs, "text", "doc_id", max_bucket=CAP, skew_mode="split",
        slim_payload=False))
    assert slim == inline


def test_bad_skew_mode_rejected(skewed_docs):
    with pytest.raises(ValueError):
        dedup.lsh_candidate_pairs(skewed_docs, "text", "doc_id",
                                  max_bucket=CAP, skew_mode="sample")


# ---------------------------------------------------------------------------
# ANN side: similarity.cap_buckets + lsh_bucketed_topk(max_bucket=...)
# ---------------------------------------------------------------------------

DIM = 8
HOT_V = 40          # identical vectors -> one hot (tbl, bk) bucket


@pytest.fixture(scope="module")
def skewed_vecs(spark):
    rows = [(i, [1.0, 0.5, -0.25, 2.0, 0.0, 1.0, -1.0, 0.5])
            for i in range(200, 200 + HOT_V)]                      # clones
    rows += [(j, [float((j * 7 + d * 3) % 5 - 2) + 0.1 for d in range(DIM)])
             for j in range(10)]                                   # diverse
    return spark.createDataFrame(rows, ["vec_id", "embedding"]) \
                .select("vec_id",
                        F.col("embedding").cast("array<float>").alias("embedding"))


def test_cap_buckets_truncates_deterministically(spark):
    rows = [(i, 0, 7) for i in range(100)] + [(i, 0, 3) for i in range(1000, 1005)]
    banded = spark.createDataFrame(rows, ["vec_id", "tbl", "bk"])
    capped = similarity.cap_buckets(banded, ["tbl", "bk"], "vec_id", 10)
    sizes = {r["bk"]: r["n"] for r in
             capped.groupBy("bk").agg(F.count("*").alias("n")).collect()}
    assert sizes == {7: 10, 3: 5}     # hot truncated to cap, cold untouched
    kept1 = {r["vec_id"] for r in capped.collect()}
    kept2 = {r["vec_id"] for r in
             similarity.cap_buckets(banded, ["tbl", "bk"], "vec_id", 10).collect()}
    assert kept1 == kept2             # hash ranking -> stable subset


def test_ann_cap_bounds_candidates_keeps_topk(skewed_vecs):
    kwargs = dict(k=100, n_planes=3, dim=DIM, n_probes=2, n_tables=2)
    full = similarity.lsh_bucketed_topk(
        skewed_vecs, "embedding", "vec_id", [200, 0], **kwargs)
    capped = similarity.lsh_bucketed_topk(
        skewed_vecs, "embedding", "vec_id", [200, 0], max_bucket=5, **kwargs)
    n_full = {r["query_id"]: r["n"] for r in
              full.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    n_cap = {r["query_id"]: r["n"] for r in
             capped.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    # the clone query sees the whole hot bucket unguarded, <= cap-per-probed-
    # bucket guarded (2 tables x 2 probes x cap 5 = 20 max)
    assert n_full[200] >= HOT_V - 1
    assert 1 <= n_cap[200] <= 20
    # capped candidates are a subset of unguarded candidates per query
    pairs = lambda df: {(r["query_id"], r["neighbor_id"])  # noqa: E731
                        for r in df.collect()}
    assert pairs(capped) <= pairs(full)
    # every query still gets results
    assert set(n_cap) == {200, 0}


# ---------------------------------------------------------------------------
# connected-components clustering (the dedup pipeline tail)
# ---------------------------------------------------------------------------

_UNION_FIND = dedup._driver_union_find


def _components(monkeypatch, df, budget):
    """connected_components(df) as {id: rep} at a driver budget of
    ``budget`` bytes, and whether the driver union-find solved it."""
    driver = []

    def union_find(*args):
        driver.append(args)
        return _UNION_FIND(*args)

    monkeypatch.setattr(cost, "DRIVER_MAX_BYTES", budget)
    monkeypatch.setattr(dedup, "_driver_union_find", union_find)
    got = {r["id"]: r["rep"] for r in
           dedup.connected_components(df).collect()}
    return got, bool(driver)


# the driver union-find at the default budget, the distributed loop at 0
BUDGETS = (cost.DRIVER_MAX_BYTES, 0)


def test_connected_components_shapes(spark, monkeypatch):
    # chain 1-2-3-4-5 (forces multi-round convergence), clique 10-11-12,
    # isolated pair (20, 21)
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5),
             (10, 11), (10, 12), (11, 12),
             (20, 21)]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                10: 10, 11: 10, 12: 10,
                20: 20, 21: 20}
    # both faces must agree
    for budget in BUDGETS:
        assert _components(monkeypatch, df, budget) == \
            (expected, budget > 0), budget


def test_connected_components_long_chain_converges(spark, monkeypatch):
    # a 64-node chain: plain neighbor-min needs 63 rounds; pointer jumping
    # must converge within the 25-round bound (log-diameter)
    pairs = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got, driver = _components(monkeypatch, df, 0)
    assert set(got.values()) == {0} and not driver
    assert len(got) == 65


def test_apply_dedup_keeps_survivors_and_unpaired(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], ["doc_id", "text"])
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)], ["id", "rep"])
    kept = {r["doc_id"] for r in
            dedup.apply_dedup(docs, clusters, "doc_id").collect()}
    # reps 1 and 5 survive; 2,3,6 drop; 0,4,7 never paired -> kept
    assert kept == {0, 1, 4, 5, 7}


def test_connected_components_random_vs_union_find(spark, monkeypatch):
    """Randomized cross-check: the distributed label propagation must agree
    with a driver-side union-find on arbitrary graphs (seeded, so failures
    reproduce)."""
    import random

    def union_find(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        nodes = rng.sample(range(1000), 60)
        edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(50)]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        for budget in BUDGETS:
            assert _components(monkeypatch, df, budget) == \
                (union_find(edges), budget > 0), (seed, budget)


def test_edges_fit_driver_byte_gate(spark, monkeypatch):
    """The driver union-find takes the symmetrized edges only when their
    Arrow collect fits the driver budget: numeric ids cost 8 bytes a cell,
    string ids a 4-byte offset plus their bytes, so wide ids (URLs, long
    doc keys) fall back to the distributed loop at an edge count whose
    numeric twin fits."""
    num = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    # 4 symmetrized edges x 2 long cells = 64 bytes
    for budget in (64, 63):
        assert _components(monkeypatch, num, budget) == \
            ({1: 1, 2: 1, 3: 1}, budget == 64), budget

    wide = "u" * 200
    s = spark.createDataFrame(
        [(f"{wide}{i}", f"{wide}{i + 1}") for i in range(4)],
        ["id_a", "id_b"])
    assert cost.collect_size(s) == (4, 4 * 2 * (4 + 201))
    # 8 symmetrized edges: 3,280 bytes, where 8 numeric edges take 128
    for budget in (3_280, 3_279, 128):
        got, driver = _components(monkeypatch, s, budget)
        assert set(got.values()) == {f"{wide}0"}
        assert driver == (budget == 3_280), budget


def test_connected_components_string_ids_both_paths(spark, monkeypatch):
    """String-id graphs produce identical (id, rep) through the driver
    union-find (Arrow sorts strings by their bytes, so min code = min id)
    and the distributed loop — including when the byte gate forces the
    distributed loop at a budget that would admit as many numeric edges
    (6 x 16 = 96 bytes, against 108 for these ids)."""
    pairs = [("doc-b", "doc-c"), ("doc-a", "doc-b"), ("doc-x", "doc-y")]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    expected = {"doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a",
                "doc-x": "doc-x", "doc-y": "doc-x"}
    for budget in (*BUDGETS, 100):
        assert _components(monkeypatch, df, budget) == \
            (expected, budget == BUDGETS[0]), budget


def test_components_without_plan_statistics(spark, monkeypatch):
    """Edge sizing is an aggregate over the checkpointed edges, so missing
    plan statistics change neither the face nor the components."""
    df = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"])
    expected = {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    monkeypatch.setattr(cost, "plan_bytes", lambda df, rows=None: None)
    for budget in (*BUDGETS, 96, 95):    # 6 edges x 16 bytes
        assert _components(monkeypatch, df, budget) == \
            (expected, budget >= 96), budget


def test_cluster_size_histogram(spark):
    """o40's histogram equals a Python union-find re-derivation."""
    from pyspark.sql import Row
    from relationaldecomposition_spark.operators.dedup import (
        connected_components)
    from pyspark.sql import functions as F

    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)]
    pairs = spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in edges])
    comp = connected_components(pairs)
    per = comp.groupBy("rep").agg(F.count(F.lit(1)).alias("cluster_size"))
    hist = {r["cluster_size"]: r["n_clusters"] for r in
            per.groupBy("cluster_size")
               .agg(F.count(F.lit(1)).alias("n_clusters")).collect()}
    # components: {1,2,3} size 3, {10,11} size 2, {20,21,22,23} size 4
    assert hist == {3: 1, 2: 1, 4: 1}


# ---------------------------------------------------------------------------
# ngram_jaccard max_df hot-shingle guard (round 6)
# ---------------------------------------------------------------------------

def test_ngram_jaccard_max_df_noop_when_loose(spark):
    """A max_df above every shingle's document frequency must reproduce
    the exact operator bit-for-bit."""
    from relationaldecomposition_spark.operators.dedup import (
        ngram_jaccard_pairs)
    from tests.conftest import load

    docs = load(spark, "documents")
    exact = sorted(map(tuple, ngram_jaccard_pairs(
        docs, "text", "doc_id", tau=0.2).collect()))
    capped = sorted(map(tuple, ngram_jaccard_pairs(
        docs, "text", "doc_id", tau=0.2, max_df=10**9).collect()))
    assert exact == capped and len(exact) > 0


def test_ngram_jaccard_max_df_drops_boilerplate_shingles(spark):
    """On a corpus where every doc shares one boilerplate sentence, the
    guard must remove the boilerplate's contribution: docs that only share
    the boilerplate stop pairing, genuinely-duplicate docs still pair."""
    from relationaldecomposition_spark.operators.dedup import (
        ngram_jaccard_pairs)

    boiler = "all rights reserved contact us for terms"
    rows = [(i, f"unique text number {i} alpha beta {boiler}")
            for i in range(20)]
    rows += [(100, "the quick brown fox jumps high " + boiler),
             (101, "the quick brown fox jumps high " + boiler)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    guarded = ngram_jaccard_pairs(docs, "text", "doc_id", tau=0.5,
                                  max_df=5).toPandas()
    got = set(zip(guarded.id_a, guarded.id_b))
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got), got  # boilerplate-only pairs gone


def test_ngram_jaccard_max_df_validates(spark):
    from relationaldecomposition_spark.operators.dedup import (
        ngram_jaccard_pairs)
    from tests.conftest import load

    with pytest.raises(ValueError):
        ngram_jaccard_pairs(load(spark, "documents"), "text", "doc_id",
                            max_df=1)


def test_driver_union_find_vectorized_large_random(spark):
    """The numpy min-hooking union-find (r7: replaces the dict loop,
    threshold raised to 2M edges) must agree with a reference union-find
    on a larger random graph with long chains and string-sortable shapes."""
    import random

    rng = random.Random(1234)
    edges = [(i, i + 1) for i in range(500)]               # long chain
    nodes = rng.sample(range(100_000), 3000)
    edges += [(rng.choice(nodes), rng.choice(nodes)) for _ in range(4000)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["rep"] for r in
           dedup.connected_components(df).collect()}
    assert got == expected
