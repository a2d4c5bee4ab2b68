"""The curation composition on a planted fixture: every stage must drop
exactly the documents planted for it and nothing else."""

import pytest
from pyspark.sql import functions as F

from relationaldecomposition_spark.pipeline import curate_corpus

GOOD = ("the quick brown fox jumps over the lazy dog while many other "
        "words of ordinary english text follow along in this sentence")


@pytest.fixture(scope="module")
def planted(spark):
    rows = [
        (1, GOOD, "web"),
        (2, GOOD, "web"),                              # exact dup of 1
        (3, GOOD.replace("lazy", "sleepy"), "web"),    # near dup of 1
        (4, "completely different normal document with plenty of regular "
            "english words about various ordinary topics and things",
         "web"),
        (5, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))", "web"),   # junk
        (6, "spam " * 60, "web"),                      # repetitive
        (7, "held out benchmark question about the meaning of life and "
            "the answer to everything in the universe today", "web"),
        (8, "an unrelated clean code document describing simple functions "
            "and the data they return to their many callers", "code"),
        (9, "another clean code document describing other functions and "
            "the values those procedures compute for callers", "code"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_curate_corpus_funnel(spark, planted):
    bench = planted.where("doc_id = 7").select("doc_id", "text")
    packed, funnel = curate_corpus(
        planted, "text", "doc_id", benchmark=bench,
        quality_min=0.25, lsh_min_est=0.5,
        pack_target=30, pack_shards=2)
    f = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    assert f["input"] == 9
    assert f["exact_dedup"] == 8          # doc 2 collapses into 1
    assert f["near_dedup"] == 7           # doc 3 clusters with 1
    assert f["quality"] == 5              # junk 5 + repetitive 6 dropped
    assert f["decontaminated"] == 4       # benchmark copy 7 dropped
    ids = {r["doc_id"] for r in packed.select("doc_id").collect()}
    assert ids == {1, 4, 8, 9}
    # packing invariants hold on the surviving set
    for r in packed.collect():
        assert 0 <= r["bin_offset"] < 30
        assert r["shard"] in (0, 1)


def test_curate_corpus_rebalance_stage(spark, planted):
    packed, funnel = curate_corpus(
        planted, "text", "doc_id", source_col="source",
        mixture={"web": 0.5, "code": 0.5}, quality_min=0.25,
        lsh_min_est=0.5, pack_target=30, pack_shards=1)
    f = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    assert "rebalanced" in f and f["rebalanced"] <= f["quality"]
    # every packed doc came from a targeted source
    srcs = {r["source"] for r in planted.join(
        packed.select("doc_id"), "doc_id").select("source").collect()}
    assert srcs <= {"web", "code"}


def test_persist_stages_same_outputs(spark):
    """persist_stages=True changes evaluation strategy only: funnel rows
    and packed output must be identical to the lazy default."""
    from pyspark.sql import functions as F

    from relationaldecomposition_spark.pipeline import curate_corpus
    from tests.conftest import load

    docs = load(spark, "documents")
    outs = []
    for ps in (False, True):
        packed, funnel = curate_corpus(
            docs, "text", "doc_id", source_col="source",
            mixture={"src0": 0.5, "src1": 0.3, "src2": 0.2},
            benchmark=docs.where(F.col("doc_id") % 20 == 7),
            max_bucket=1000, pack_target=256, pack_shards=16,
            persist_stages=ps)
        outs.append((sorted(map(tuple, packed.collect())),
                     [tuple(r) for r in funnel.collect()]))
        spark.catalog.clearCache()
    assert outs[0] == outs[1]


def test_persisted_out_collects_stage_frames(spark):
    """persisted_out receives every persisted stage frame so a caller can
    release the storage without clearCache() (the o68 gate query does)."""
    from pyspark.sql import functions as F

    from relationaldecomposition_spark.pipeline import curate_corpus
    from tests.conftest import load

    docs = load(spark, "documents")
    held: list = []
    _, funnel = curate_corpus(
        docs, "text", "doc_id",
        benchmark=docs.where(F.col("doc_id") % 20 == 7),
        persist_stages=True, persisted_out=held)
    funnel.collect()
    # input stage is never persisted; exact/near/quality/decontaminated
    # are, plus the quality stage's INTRA-stage fused-gate id frame
    # (keep_qr — r12 verdict ask #4)
    assert len(held) == 5
    assert all(f.storageLevel.useMemory for f in held)
    for f in held:
        f.unpersist()
    assert not any(f.storageLevel.useMemory for f in held)


def test_quality_repetition_profile_matches_separate_faces(spark):
    """The fused gate scan (quality expression + repetition Arrow kernel
    in one projection) is value-identical to the separate operators it
    replaced in curate_corpus's quality stage."""
    from relationaldecomposition_spark.operators.corpus import (
        quality_repetition_profile, repetition_metrics)
    from relationaldecomposition_spark.operators.text import quality_score
    from tests.conftest import load

    docs = load(spark, "documents")
    fused = {r["doc_id"]: r for r in
             quality_repetition_profile(docs, "text", "doc_id").collect()}
    q = {r["doc_id"]: r["quality"]
         for r in quality_score(docs, "text", "doc_id").collect()}
    rep = {r["doc_id"]: r for r in
           repetition_metrics(docs, "text", "doc_id",
                              kernel="arrow").collect()}
    assert set(fused) == set(q) == set(rep)
    for d, row in fused.items():
        assert row["quality"] == q[d]
        for c in ("n_tokens", "dup_token_frac", "top_ngram_frac",
                  "repetitive"):
            assert row[c] == rep[d][c], (d, c)


def test_second_curation_compiles_no_code(spark):
    """The session's codegen cache holds a whole curation run's generated
    classes: run the benchmark's curation operation twice (packed output
    and funnel forced) and the second run compiles nothing. With Spark's
    default 100 entries every class is evicted before it is needed again
    and the second run compiles as much as the first."""
    from bench import _force
    from relationaldecomposition_spark.session import codegen_compiles
    from tests.conftest import load

    docs = load(spark, "documents")
    compiled = []
    for _ in range(2):
        before = codegen_compiles(spark)
        packed, funnel = curate_corpus(
            docs, "text", "doc_id", source_col="source",
            mixture={"src0": 0.5, "src1": 0.3, "src2": 0.2},
            benchmark=docs.where(F.col("doc_id") % 20 == 7),
            max_bucket=1000, pack_target=256, pack_shards=16,
            persist_stages=True)
        _force(packed)
        funnel.collect()
        spark.catalog.clearCache()
        compiled.append(codegen_compiles(spark) - before)
    assert codegen_compiles(spark) > 0  # the counter is live
    assert compiled[1] == 0, compiled
