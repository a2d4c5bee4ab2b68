"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and print ONE JSON line.

Headline set mirrors the reference workloads (BASELINE.md) plus the
beyond-reference pipeline operators:
  - entropy_batch32: 32 subset entropies in chunked grouping-sets jobs (A8)
  - mvd_sweep:       MVD measure sweep over one table (A19 over A8 batches)
  - spurious_fold:   3-cluster decomposition validation of the denormalized
                     customer⋈nation⋈region relation (A12+A13)
  - minsep_mine:     full minimal-separator mining on the 8-column denorm
                     (B10-B11, the SIGMOD'20 pipeline end-to-end)
  - flagship:        entry()-style measure + validation summary
  - lsh_dedup:       MinHash-LSH near-dup candidate pairs on documents
  - dedup_pipeline:  pairs -> connected components -> surviving corpus
                     (the o21/o22 tail; iterative CC rounds)
  - cosine_topk:     brute-force + LSH-bucketed ANN over embeddings
  - ann_topk:        multi-table multi-probe SRP-LSH top-k with the
                     hot-bucket cap engaged (the o15/o18 scale path)
  - ivf_topk:        IVF cell-probe ANN (o16): codebook assign + probe join
  - decontaminate:   benchmark n-gram overlap over documents (o27)
  - doc_profile:     fused one-scan per-document profile (o32)
  - tfidf_topk:      TF-IDF top-k keywords per document (o30)
  - sketch_distinct: KMV + HLL cardinality sketches over lineitem (o42/o43)
  - semdedup:        embedding near-dup dedup, SRP-bucketed linear path,
                     kernel="auto" (expression below the volume threshold,
                     BLAS gram above; see operators/gram.py)
  - semdedup_gram:   the forced-gram twin, measured at every sf (and the
                     face the skew suite exercises)
  - line_dedup:      corpus-frequency boilerplate line removal (o46)
  - bloom_semi:      auto-sized Bloom bitmap build + map-only probe (o47)
  - bloom_semi_bc:   Bloom semi-join forced onto the broadcast-variable +
                     vectorized-Arrow probe (the >8 Mbit size dispatch)
  - decompose_e2e:   the reference's core deliverable end-to-end: mine
                     min-sep JDs -> enumerate acyclic schemas -> validate
                     spurious tuples -> bucketed write of the best schema
  - semdedup_incr:   probe-only incremental embedding dedup vs a
                     persisted cell index (o63, cross gram kernel)
  - incremental_dedup: probe-only ingest vs the MinHash band index (o50)
  - pack_sequences:  greedy token-budget packing, per-shard windows (o51)
  - rebalance:       mixture rebalance to target source shares (o52)
  - top_values:      grouped heavy hitters (o53)
  - unigram_xent:    self-trained unigram-LM cross-entropy scoring (o54)
  - stream_window:   windowed + session aggregation over events (batch twin
                     of the streaming operators)
  - asof_join / interval_join: event-time join operators (o24/o33)

$SPARK_GRAFT_BENCH_REPEATS (default 3): run every query N times and report
the per-query MEDIAN — this host shows rare 10-20x stalls, so single-sample
timings produce phantom regressions (BENCH_r02's cosine_topk). The repeats
run back-to-back per query, so medians are steady-state numbers.

QUERY ORDER IS PART OF THE CONTRACT: the registry dict order below is the
execution order, and cross-round BENCH comparisons assume it. Append new
queries at the end; do not reorder existing ones (the round-5 reorder made
sub-2s medians whipsaw against SCALING's fixed order).

  - curation_e2e:    the full curate_corpus composition (dedup -> quality ->
                     decontaminate -> rebalance -> pack) + funnel report

If SCALING.json exists at the repo root (written by tools/bench_scaling.py:
multi-SF medians + fitted scaling exponents), the output line carries its
PATH and a one-line summary only — embedding the whole payload overflowed
the driver's single-line capture in round 4 (BENCH_r04 parsed: null).
"""

from __future__ import annotations

import itertools
import json
import os
import re
import statistics
import sys
import time


def _force(df):
    """Evaluate EVERY output column, not just the row count: `.count()`
    lets Catalyst prune computed columns that don't change cardinality
    (caught at sf10 — unigram scoring, packing windows, and profile
    columns were being optimized out of their own benchmark). A checksum
    aggregate over xxhash64 of all columns makes each column's value
    load-bearing, at one cheap hash per row."""
    from pyspark.sql import functions as F

    return df.agg(F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns]))) \
             .collect()


def build_queries(spark, sf_dir: str):
    """name -> zero-arg callable; each call does the full work (engines are
    constructed inside, caches built and torn down per run). Query bodies
    end in `_force(...)` — never `.count()` — so no computed column can be
    pruned out of its own measurement."""
    from pyspark.sql import functions as F

    from relationaldecomposition_spark.core.deps import MVD
    from relationaldecomposition_spark.engine.decompose import DecompositionValidator
    from relationaldecomposition_spark.engine.entropy import SparkEntropyEngine
    from relationaldecomposition_spark.engine.measures import MeasureEngine
    from relationaldecomposition_spark.mining.jd_miner import JDMiner
    from relationaldecomposition_spark.operators.dedup import lsh_candidate_pairs
    from relationaldecomposition_spark.operators.ivf import ivf_topk
    from relationaldecomposition_spark.operators.registry import (
        ANN_PLANES, ANN_PROBES, ANN_TABLES, HIER_COARSE_IDS, HIER_SUB_K,
        IVF_CENTROID_IDS, IVF_PROBES)
    from relationaldecomposition_spark.operators.similarity import (
        cosine_topk, lsh_bucketed_topk)

    ANN_QUERY_IDS = list(range(10))
    ANN_MAX_BUCKET = 1000
    from relationaldecomposition_spark.queries import DECOMPOSITIONS
    from relationaldecomposition_spark.sources.tables import (
        denorm_customer_nation_region, load_table)
    from relationaldecomposition_spark.streaming.events import (
        sessionize, windowed_counts)

    li = load_table(spark, sf_dir, "lineitem")
    denorm = denorm_customer_nation_region(spark, sf_dir)

    def entropy_batch32():
        cols = ["l_returnflag", "l_linestatus", "l_quantity", "l_discount",
                "l_tax", "l_shipdate"]
        subsets = [frozenset(c) for r in (1, 2, 3)
                   for c in itertools.combinations(cols, r)][:32]
        eng = SparkEntropyEngine(li)
        eng.entropies(subsets)
        eng.unpersist()

    def mvd_sweep():
        proj = li.select("l_returnflag", "l_linestatus", "l_quantity",
                         "l_discount", "l_tax")
        meng = MeasureEngine(SparkEntropyEngine(proj))
        pcols = proj.columns
        cands = [MVD(frozenset((lhs,)), frozenset((rhs,)))
                 for lhs in pcols for rhs in pcols if rhs != lhs]
        meng.measure_all(cands)  # one chunked grouping-sets pass
        meng.engine.unpersist()

    def spurious_fold():
        # Floor note (round-6 profile): steady-state is ~2.5-2.7 s at
        # sf0.1, dominated by per-action job scheduling of the few jobs a
        # validation needs (the engine's persist and sizing count of the
        # relation, then, under 1M rows, one Arrow collect that prices the
        # projections and the base and feeds every fold on the driver) —
        # not data volume. The 2.78->3.38 s median creep flagged in round
        # 5 was the COLD first sample (the validator's persisted base
        # materializes on first use: rep0 5.5 s vs rep1/2 2.5-2.7 s
        # measured); median-of-3 (now the default) reports the steady
        # state.
        v = DecompositionValidator(denorm)
        for _, clusters in DECOMPOSITIONS:
            v.process_decomposition(clusters)
        v.close()

    def flagship():
        meng = MeasureEngine(SparkEntropyEngine(denorm))
        meng.fd_measure(["c_nationkey"], ["n_name"])
        meng.mvd_measure(["c_nationkey"], ["n_name", "n_regionkey", "r_name"])
        meng.jd_measure(["c_nationkey"],
                        [["c_custkey", "c_name", "c_acctbal", "c_mktsegment"],
                         ["n_name", "n_regionkey", "r_name"]])
        meng.engine.unpersist()

    def minsep_mine():
        miner = JDMiner(MeasureEngine(SparkEntropyEngine(denorm)), epsilon=0.0)
        miner.mine_all_min_seps()
        miner.eng.unpersist()

    def decompose_e2e():
        # the reference's core deliverable END-TO-END (round-5 ask #8):
        # pipeline.decompose mines min-sep JDs on the denormalized
        # relation -> enumerates acyclic schemas -> validates candidates'
        # spurious-tuple counts (Yannakakis count-fold) -> bucketed+sorted
        # write of the best schema on the join key, so downstream rejoins
        # of the normalized tables are exchange-free sort-merge joins.
        # Re-join equality of the written tables is pinned in
        # tests/test_decompose_e2e.py.
        from relationaldecomposition_spark.pipeline import decompose
        decompose(denorm, "c_nationkey", "bench_decomp_e2e")

    def semdedup_incr():
        # probe-only incremental embedding dedup (o63): even vec_ids are
        # the persisted cell index, odd the ingest batch; cross gram
        # kernel scores new×index and new×new only — never index×index
        from relationaldecomposition_spark.operators.ivf import (
            ivf_cell_index, seed_centroids, semdedup_incremental)
        emb = load_table(spark, sf_dir, "embeddings")
        cents = seed_centroids(emb, "embedding", "vec_id",
                               IVF_CENTROID_IDS)
        idx = ivf_cell_index(emb.where(F.col("vec_id") % 2 == 0),
                             "embedding", "vec_id", cents)
        _force(semdedup_incremental(emb.where(F.col("vec_id") % 2 == 1),
                                    idx, "embedding", "vec_id", cents,
                                    0.35, max_cell=2000))

    def semdedup_incr_hier():
        # o64: the same probe against a HIERARCHICAL cell index — batch
        # assignment rides the persisted two-level codebook (coarse BLAS
        # argmin + cogrouped sub-argmin, O(K1+k2) per row instead of
        # O(cells)); the continuous-ingest face for past-broadcast
        # codebooks
        from relationaldecomposition_spark.operators.ivf import (
            hier_codebook, ivf_cell_index_hier, seed_centroids,
            semdedup_incremental)
        emb = load_table(spark, sf_dir, "embeddings")
        corpus = emb.where(F.col("vec_id") % 2 == 0)
        coarse = seed_centroids(corpus, "embedding", "vec_id",
                                HIER_COARSE_IDS)
        subs = hier_codebook(corpus, "embedding", "vec_id", coarse,
                             HIER_SUB_K)
        idx = ivf_cell_index_hier(corpus, "embedding", "vec_id", coarse,
                                  subs)
        _force(semdedup_incremental(emb.where(F.col("vec_id") % 2 == 1),
                                    idx, "embedding", "vec_id", coarse,
                                    0.35, max_cell=2000, subs=subs))

    def remove_dup_spans_q():
        # o70: corpus rewrite with duplicated spans excised (Lee ACL'22
        # §4) — hot-hash starts + boundary-event coverage, linear even on
        # fully-duplicated documents
        from relationaldecomposition_spark.operators.dedup import (
            remove_duplicate_spans)
        docs = load_table(spark, sf_dir, "documents")
        _force(remove_duplicate_spans(docs, "text", "doc_id",
                                      shingle_k=8))

    def image_phash_q():
        # o73's production face: perceptual-hash image near-dup —
        # fixed-canvas textured PPMs, dHash over real pixel bytes
        # (map-only Arrow kernel), pigeonhole hamming block join at the
        # standard tight dedup threshold (10/64; the o73 GATE uses the
        # loose 16/64 for oracle discrimination at tiny sf — its ~4-bit
        # blocks make bucket sizes, and thus candidates, grow
        # super-linearly, the same economics the LSH guard documents)
        # plus the hot-bucket cap for skew safety.
        from relationaldecomposition_spark.operators.dedup import (
            hamming_pairs)
        from relationaldecomposition_spark.operators.multimodal import (
            documents_as_ppm_textured, image_phash)
        docs = load_table(spark, sf_dir, "documents")
        media = documents_as_ppm_textured(docs, fixed_w=32, fixed_h=24)
        ph = image_phash(media, method="dhash")
        _force(hamming_pairs(ph, "media_id", "phash", bits=64,
                             max_hamming=10, max_bucket=4096))

    def semdedup_hier_p2():
        # round-10: the multi-probe recall fix under the gram kernel —
        # p=2 routing, pair generation in every probed cell, one row per
        # pair (SCALING.json hier_multiprobe_r10 has the recall evidence)
        from relationaldecomposition_spark.operators.ivf import (
            seed_centroids, semdedup_pairs_hier)
        emb = load_table(spark, sf_dir, "embeddings")
        coarse = seed_centroids(emb, "embedding", "vec_id",
                                list(range(0, 480, 30)))
        _force(semdedup_pairs_hier(emb, "embedding", "vec_id", coarse,
                                   8, 0.3, kernel="gram",
                                   route_probes=2))

    def pq_topk_q():
        # round-10 o76: IVF-PQ (IVFADC) — coarse probe + asymmetric
        # product-quantization ranking, BLAS encode kernel (the
        # production face; the gate uses the literal-expression twin)
        from relationaldecomposition_spark.operators.pq import pq_topk
        emb = load_table(spark, sf_dir, "embeddings")
        _force(pq_topk(emb, "embedding", "vec_id", list(range(10)), 5,
                       m=8, code_ids=list(range(0, 480, 30)),
                       coarse_centroid_ids=list(range(0, 480, 30)),
                       n_probes=8, kernel="np"))

    def pq_hier_store_q():
        # round-12 o77: the million-cell on-disk regime end-to-end —
        # hier codebook -> route-partitioned cell-sorted PQ store on
        # disk -> static-pruned probe (the round-11 flagship store,
        # driver-gated this round; store rebuilt per run so the row
        # tracks the FULL build+write+read+probe cost)
        from relationaldecomposition_spark.operators.registry import (
            q_o77_pq_hier_topk)
        _force(q_o77_pq_hier_topk(spark, sf_dir))

    def lsh_dedup():
        docs = load_table(spark, sf_dir, "documents")
        _force(lsh_candidate_pairs(docs, "text", "doc_id"))

    def lsh_dedup_guarded():
        # production configuration: the hot-bucket split guard engaged —
        # near-no-op on benign data (buckets << cap), linear on templated
        # corpora where the unguarded join goes quadratic
        docs = load_table(spark, sf_dir, "documents")
        _force(lsh_candidate_pairs(docs, "text", "doc_id",
                            max_bucket=1000, skew_mode="split"))

    def dedup_pipeline():
        # the full near-dup tail: pairs -> connected components -> surviving
        # corpus (o21/o22); iterative CC rounds dominate the fixed cost
        from relationaldecomposition_spark.operators.dedup import (
            apply_dedup, connected_components)
        docs = load_table(spark, sf_dir, "documents")
        pairs = lsh_candidate_pairs(docs, "text", "doc_id",
                                    max_bucket=1000, skew_mode="split")
        clusters = connected_components(pairs)
        _force(apply_dedup(docs, clusters, "doc_id"))

    def cosine_topk_q():
        emb = load_table(spark, sf_dir, "embeddings")
        _force(cosine_topk(emb, "embedding", "vec_id", list(range(10)), 5))
        _force(lsh_bucketed_topk(emb, "embedding", "vec_id", list(range(10)), 5))

    def ann_topk():
        # the o15/o18 configuration: OR-construction + multi-probe, with the
        # hot-bucket cap engaged so the guard's overhead is measured too
        emb = load_table(spark, sf_dir, "embeddings")
        _force(lsh_bucketed_topk(emb, "embedding", "vec_id", ANN_QUERY_IDS, 5,
                          n_planes=ANN_PLANES, n_probes=ANN_PROBES,
                          n_tables=ANN_TABLES,
                          max_bucket=ANN_MAX_BUCKET))

    def ivf_topk_q():
        # kernel="np": BLAS argmin assignment (the production face; the
        # literal-codebook expression face is the oracle form and pays
        # O(cells*dim) interpreted HOF visits per row — value parity
        # pinned in tests/test_gram.py)
        emb = load_table(spark, sf_dir, "embeddings")
        _force(ivf_topk(emb, "embedding", "vec_id", ANN_QUERY_IDS, 5,
                 centroid_ids=IVF_CENTROID_IDS, n_probes=IVF_PROBES,
                 kernel="np"))

    def decontaminate_q():
        # benchmark n-gram overlap (o27): broadcast benchmark shingle set,
        # one doc-keyed count shuffle
        from relationaldecomposition_spark.operators.corpus import decontaminate
        docs = load_table(spark, sf_dir, "documents")
        bench = docs.where(F.col("doc_id") % 20 == 7)
        _force(decontaminate(docs, "text", "doc_id", bench))

    def doc_profile():
        # fused one-scan profile (o32): tokens+quality+fingerprint+PII+lang
        from relationaldecomposition_spark.operators.corpus import (
            document_profile)
        docs = load_table(spark, sf_dir, "documents")
        _force(document_profile(docs, "text", "doc_id"))

    def tfidf_topk_q():
        # tf/df aggregation + token join + per-doc top-k window (o30)
        from relationaldecomposition_spark.operators.corpus import tfidf_topk
        docs = load_table(spark, sf_dir, "documents")
        _force(tfidf_topk(docs, "text", "doc_id"))

    def sketch_distinct():
        # KMV + HLL cardinality sketches (o42/o43): two aggregation-only
        # passes whose state is O(groups*k) / O(groups*m) at any scale.
        # Production composition: the portable-md5 hash pass is the
        # largest single component of either sketch (17.2 s of KMV's
        # 41 s / HLL's 22 s at sf10 — tools/profile_60s_rows.py), so a
        # pipeline computing both pays it ONCE via the shared persisted
        # hashed_values frame (values identical to the unfused faces,
        # pinned in tests/test_sketches.py).
        # Size-gated like semdedup_incremental's index prune: below
        # ~256 MB of scan the cache write costs more than the md5 pass
        # it saves (sf0.1 A/B: fused 2.52 s vs plain 1.77; sf10 fused
        # 54.0 vs 63.8).
        from relationaldecomposition_spark.engine.cost import plan_bytes
        from relationaldecomposition_spark.operators.sketches import (
            KMV_THRESHOLD_MIN_BYTES, hashed_values, hll_distinct,
            kmv_distinct)
        # reuse kmv_distinct's own auto-dispatch cut so the bench's fuse
        # decision cannot drift if the constant is retuned (ADVICE r9)
        est = plan_bytes(li)
        if est is None or est >= KMV_THRESHOLD_MIN_BYTES:
            hv = hashed_values(li, ["l_returnflag"], "l_orderkey") \
                .persist()
            try:
                _force(kmv_distinct(li, ["l_returnflag"], "l_orderkey",
                                    256, prehashed=hv))
                _force(hll_distinct(li, ["l_returnflag"], "l_orderkey",
                                    8, prehashed=hv))
            finally:
                hv.unpersist()
        else:
            _force(kmv_distinct(li, ["l_returnflag"], "l_orderkey", 256))
            _force(hll_distinct(li, ["l_returnflag"], "l_orderkey", 8))

    def semdedup_q():
        # embedding near-dup dedup at scale: SRP-LSH cells (map-only sign
        # buckets, O(n * planes * dim)) -> within-bucket GRAM-KERNEL
        # cosine pairs (one BLAS matmul per bucket, candidates never
        # materialize as rows — operators/gram.py) -> connected components
        # -> min-id survivors. kernel="gram" is the production face: the
        # expression kernel materialized ~100x more candidate rows than
        # survivors and scored each with a CodegenFallback expression
        # (sf10: 360 s -> 54 s measured for this pipeline).
        import math as _m

        from relationaldecomposition_spark.operators.dedup import (
            apply_dedup, connected_components)
        from relationaldecomposition_spark.operators.similarity import (
            srp_near_dup_pairs)
        emb = load_table(spark, sf_dir, "embeddings")
        # bucket-count sizing rule (mirror of the codebook rule): planes
        # must grow with the corpus so buckets stay ~200 vectors — fixed
        # planes made within-bucket pairs quadratic (exponent 1.24 at
        # sf10 with 8 planes / 780-vector buckets)
        n = emb.count()
        planes = max(8, _m.ceil(_m.log2(max(n, 1) / 200)))
        # production configuration: the hot-bucket cap engaged (replica-
        # structured corpora at sf>=3 land identical-direction vectors in
        # one bucket; uncapped, its pair join is quadratic — same hazard
        # class as unguarded lsh_dedup, same guard)
        # kernel="auto": gram (BLAS) once rows x tables x dim outgrows the
        # fixed Arrow tax, expression kernel below it — sf0.1-class inputs
        # stopped paying the ~1 s applyInPandas overhead (r6 regression)
        pairs = srp_near_dup_pairs(emb, "embedding", "vec_id", 0.35,
                                   n_planes=planes, dim=64, n_tables=4,
                                   max_bucket=2000, kernel="auto")
        _force(apply_dedup(emb, connected_components(pairs), "vec_id"))

    def semdedup_gram_q():
        # the forced-gram twin of semdedup (kernel="auto" picks the
        # expression kernel at sub-threshold inputs, so this row keeps the
        # BLAS pair kernel measured at EVERY sf — and is the face the skew
        # suite runs so the hot-bucket cap + per-bucket gram is exercised
        # under adversarial data)
        import math as _m

        from relationaldecomposition_spark.operators.dedup import (
            apply_dedup, connected_components)
        from relationaldecomposition_spark.operators.similarity import (
            srp_near_dup_pairs)
        emb = load_table(spark, sf_dir, "embeddings")
        n = emb.count()
        planes = max(8, _m.ceil(_m.log2(max(n, 1) / 200)))
        pairs = srp_near_dup_pairs(emb, "embedding", "vec_id", 0.35,
                                   n_planes=planes, dim=64, n_tables=4,
                                   max_bucket=2000, kernel="gram")
        _force(apply_dedup(emb, connected_components(pairs), "vec_id"))

    def line_dedup_q():
        # corpus-frequency boilerplate line removal (o46) over documents
        # wrapped at 4 tokens/line (the driver-query configuration)
        from relationaldecomposition_spark.operators.corpus import line_dedup
        docs = load_table(spark, sf_dir, "documents")
        wrapped = docs.select("doc_id", F.regexp_replace(
            F.col("text"), r"((?:\S+\s+){3}\S+)\s+", "$1\n").alias("text"))
        _force(line_dedup(wrapped, "text", "doc_id"))

    def bloom_semi():
        # Bloom pre-filter (o47): bitmap build on urgent orders + map-only
        # probe over lineitem — the shuffle-avoidance join pattern
        from relationaldecomposition_spark.operators.bloom import (
            bloom_semi_join)
        od = load_table(spark, sf_dir, "orders")
        small = od.where("o_orderpriority = '1-URGENT'").select("o_orderkey")
        _force(bloom_semi_join(li, "l_orderkey", small, "o_orderkey"))

    def bloom_semi_bc():
        # Bloom semi-join on the BROADCAST-VARIABLE probe path (o47's
        # >8 Mbit dispatch): build on ALL orders keys and pin
        # literal_max_bits=0 so every SF measures the vectorized-Arrow
        # probe's slope (the auto dispatch trips it naturally once the
        # build side exceeds ~840k keys, i.e. sf>=1; forcing it keeps the
        # bench curve single-path and comparable across SFs)
        from relationaldecomposition_spark.operators.bloom import (
            bloom_semi_join)
        od = load_table(spark, sf_dir, "orders")
        _force(bloom_semi_join(li, "l_orderkey",
                               od.select("o_orderkey"), "o_orderkey",
                               literal_max_bits=0))

    def incremental_dedup_q():
        # probe-only ingest dedup (o50): even doc_ids are the indexed
        # corpus, odd doc_ids the new batch — index probed, never rebuilt
        from relationaldecomposition_spark.operators.dedup import (
            incremental_dedup, minhash_band_index)
        docs = load_table(spark, sf_dir, "documents")
        idx = minhash_band_index(docs.where("doc_id % 2 = 0"),
                                 "text", "doc_id")
        _force(incremental_dedup(docs.where("doc_id % 2 = 1"), idx,
                          "text", "doc_id"))

    def pack_sequences_q():
        # greedy token-budget packing (o51): per-shard windows, no global
        # sort — the context-window fill step
        from relationaldecomposition_spark.operators.text import (
            pack_sequences)
        docs = load_table(spark, sf_dir, "documents")
        _force(pack_sequences(docs, "text", "doc_id", 256, 16))

    def rebalance_q():
        # mixture rebalance (o52): counts aggregated + broadcast back,
        # map-side hash-threshold filter
        from relationaldecomposition_spark.operators.sampling import (
            rebalance_to_mixture)
        docs = load_table(spark, sf_dir, "documents")
        _force(rebalance_to_mixture(docs, "doc_id", "source",
                             {"src0": 0.5, "src1": 0.3, "src2": 0.2}))

    def top_values_q():
        # grouped heavy hitters (o53): one combined agg + rank window over
        # value-cardinality rows
        from relationaldecomposition_spark.operators.stats import (
            group_top_values)
        _force(group_top_values(li, ["l_returnflag"], "l_quantity", 5))

    def unigram_xent_q():
        # self-trained unigram LM cross-entropy (o54): vocab agg +
        # token-keyed join + decimal-sum per doc
        from relationaldecomposition_spark.operators.corpus import (
            unigram_xent_score)
        docs = load_table(spark, sf_dir, "documents")
        _force(unigram_xent_score(docs, "text", "doc_id"))

    def stream_window():
        ev = load_table(spark, sf_dir, "events")
        _force(windowed_counts(ev))
        _force(sessionize(ev))

    def interval_join_q():
        # bucketized range join (o33): clicks inside +/-30min purchase
        # windows — equi-join on (user, bucket), no nested loop
        from relationaldecomposition_spark.operators.joins import interval_join
        ev = load_table(spark, sf_dir, "events")
        pur = ev.where(F.col("event_type") == "purchase").select(
            "user_id", F.col("event_id").alias("purchase_id"),
            F.expr("ts - INTERVAL 30 MINUTES").alias("w_start"),
            F.expr("ts + INTERVAL 30 MINUTES").alias("w_end"))
        clicks = ev.where(F.col("event_type") == "click") \
                   .select("event_id", "user_id", "ts")
        _force(interval_join(clicks, pur, "user_id", "ts", "w_start", "w_end",
                      ["purchase_id"], bucket_s=1800))

    def asof_join_q():
        # union+window as-of join (o24): purchases enriched with the latest
        # prior click per user — one shuffle on user_id, no range join
        from relationaldecomposition_spark.operators.joins import asof_join
        ev = load_table(spark, sf_dir, "events")
        _force(asof_join(ev.where(F.col("event_type") == "purchase"),
                  ev.where(F.col("event_type") == "click"),
                  "user_id", "ts", "ts", ["event_id", "value"],
                  tiebreak="event_id", payload_prefix="click_"))

    def pq_join_probe():
        # round-15 addition (r14 verdict ask #4): the DISTRIBUTED hier
        # probe face — broadcast_queries=False with the r14 Arrow probe
        # kernel (probe_kernel="np", the default). The round-14 win
        # (2-2.3x at the 10x store, SCALING.json pq_probe_kernel_r14)
        # lived on a path no bench row timed: pq_topk/pq_hier_store both
        # exercise collect faces. This row probes the LIVE hier cell
        # index (store write/read cost belongs to pq_hier_store) with a
        # service-scale query batch (10% of the corpus — the regime the
        # join face exists for; a driver collect of the batch would be
        # the bottleneck), so PERF can see the kernel: plan shape is
        # MapInPandas probe selection + one (route, cell) equi-join, no
        # broadcast-join cascade, no driver-derived static IN lists.
        from relationaldecomposition_spark.operators import ivf as _ivf
        from relationaldecomposition_spark.operators import pq as _pq
        from relationaldecomposition_spark.operators.registry import (
            PQ_HIER_N_PROBES, PQ_HIER_ROUTE_PROBES, PQ_M)
        emb = load_table(spark, sf_dir, "embeddings")
        coarse = _ivf.seed_centroids(emb, "embedding", "vec_id",
                                     HIER_COARSE_IDS)
        subs = _ivf.hier_codebook(emb, "embedding", "vec_id", coarse,
                                  HIER_SUB_K).localCheckpoint(eager=True)
        codebooks = _pq.pq_seed_codebooks(emb, "embedding", "vec_id",
                                          PQ_M, IVF_CENTROID_IDS)
        index = _pq.pq_cell_index_hier(emb, "embedding", "vec_id",
                                       codebooks, coarse, subs)
        queries = emb.where(F.col("vec_id") % 10 == 3)
        _force(_pq.pq_topk_index_hier(
            index, queries, "embedding", "vec_id", 5,
            codebooks, coarse, subs,
            n_probes=PQ_HIER_N_PROBES,
            route_probes=PQ_HIER_ROUTE_PROBES,
            broadcast_queries=False, probe_kernel="np"))

    def curation_e2e():
        # the product story end-to-end (pipeline.curate_corpus): exact dedup
        # -> LSH near-dup + CC -> quality/repetition gates -> benchmark
        # decontamination -> mixture rebalance -> sequence packing, plus the
        # funnel report. Forces BOTH outputs; each stage is an already
        # oracle-verified operator, this row times the composition.
        from relationaldecomposition_spark.pipeline import curate_corpus
        docs = load_table(spark, sf_dir, "documents")
        bench_docs = docs.where(F.col("doc_id") % 20 == 7)
        packed, funnel = curate_corpus(
            docs, "text", "doc_id",
            source_col="source",
            mixture={"src0": 0.5, "src1": 0.3, "src2": 0.2},
            benchmark=bench_docs, max_bucket=1000,
            pack_target=256, pack_shards=16,
            # production configuration: stage persists make funnel +
            # packed evaluate each stage once instead of re-deriving
            # prefix chains per funnel row (25 s -> ~10 s at sf0.1)
            persist_stages=True)
        _force(packed)
        _force(funnel)
        spark.catalog.clearCache()

    return {
        "entropy_batch32": entropy_batch32,
        "mvd_sweep": mvd_sweep,
        "spurious_fold": spurious_fold,
        "flagship": flagship,
        "minsep_mine": minsep_mine,
        "lsh_dedup": lsh_dedup,
        "lsh_dedup_guarded": lsh_dedup_guarded,
        "dedup_pipeline": dedup_pipeline,
        "cosine_topk": cosine_topk_q,
        "ann_topk": ann_topk,
        "ivf_topk": ivf_topk_q,
        "decontaminate": decontaminate_q,
        "doc_profile": doc_profile,
        "tfidf_topk": tfidf_topk_q,
        "sketch_distinct": sketch_distinct,
        "semdedup": semdedup_q,
        "line_dedup": line_dedup_q,
        "bloom_semi": bloom_semi,
        "incremental_dedup": incremental_dedup_q,
        "pack_sequences": pack_sequences_q,
        "rebalance": rebalance_q,
        "top_values": top_values_q,
        "unigram_xent": unigram_xent_q,
        "stream_window": stream_window,
        "asof_join": asof_join_q,
        "interval_join": interval_join_q,
        "curation_e2e": curation_e2e,
        # round-6 additions (appended — see the order contract above)
        "bloom_semi_bc": bloom_semi_bc,
        "decompose_e2e": decompose_e2e,
        "semdedup_incr": semdedup_incr,
        # round-7 addition
        "semdedup_gram": semdedup_gram_q,
        # round-8 addition
        "semdedup_incr_hier": semdedup_incr_hier,
        # round-9 addition
        "remove_dup_spans": remove_dup_spans_q,
        # round-10 additions
        "image_phash": image_phash_q,
        "semdedup_hier_p2": semdedup_hier_p2,
        "pq_topk": pq_topk_q,
        # round-12 addition
        "pq_hier_store": pq_hier_store_q,
        # round-15 addition (r14 verdict ask #4)
        "pq_join_probe": pq_join_probe,
    }


def _run_calibration(spark) -> None:
    """Fixed-work host-speed sentinel, independent of sf and of every
    operator under test. Two legs sized for ~1.5-2 s steady-state on the
    reference host: a CPU-bound whole-stage-codegen hash chain (64M rows x
    8 xxhash64 rounds) and one fixed-size shuffle (16M rows -> 100k keys).
    Recorded as ``_calibration`` in every BENCH/SCALING artifact so
    cross-round deltas can be normalized against host weather — round 9's
    recorded bench was 24% slower than a judge re-run of identical code
    purely from host conditions (VERDICT r9 "what's wrong" #1)."""
    from pyspark.sql import functions as F

    h = F.col("id")
    for _ in range(8):
        h = F.xxhash64(h)
    spark.range(0, 64_000_000, 1, 32).agg(F.bit_xor(h)).collect()
    (spark.range(0, 16_000_000, 1, 32)
        .groupBy((F.col("id") % 100_000).alias("k"))
        .agg(F.sum("id").alias("s"))
        .agg(F.bit_xor(F.xxhash64("k", "s"))).collect())


# Pinned input for the IO-weighted sentinel: ALWAYS sf0.1 lineitem,
# regardless of $SPARK_GRAFT_SF_DIR, so the sentinel's work is fixed
# across rounds and across the scaling sweep's sf points.
_CAL_IO_DIR = "/root/testdata/sf0.1"


def _run_calibration_io(spark) -> None:
    """IO-weighted host sentinel (round-12 verdict ask #3). The fixed-work
    CPU sentinel (`_run_calibration`) whipsawed 1.28x between
    identical-code runs in r11 AND r12 — bigger than any real cross-round
    signal — while the bench queries' own profile is parquet scan + keyed
    shuffle, not pure codegen arithmetic. This twin measures exactly that
    profile over a PINNED file (sf0.1 lineitem, ~600k rows x 16 cols):
    full-width scan -> suppkey-keyed shuffle -> order-insensitive digest,
    looped 4x so steady-state IO/decode dominates session setup. Both
    sentinels are recorded; cross-round normalization should use whichever
    correlates better with that round's untouched-query cohort (the judge
    adjudicates — BENCH carries the data for both)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(_CAL_IO_DIR, "lineitem.parquet"))
    cols = li.columns
    for _ in range(4):
        (li.groupBy("l_suppkey")
           .agg(F.count(F.lit(1)).alias("c"),
                F.bit_xor(F.xxhash64(*cols)).alias("h"))
           .agg(F.bit_xor(F.xxhash64("l_suppkey", "c", "h"))).collect())


def _run_calibration_sched(spark) -> None:
    """Tiny-job SCHEDULER sentinel (round-14 verdict ask #2). The CPU and
    IO sentinels model steady-state throughput, but the sub-2 s bench rows
    (mining rows especially) live in a many-tiny-stages scheduler-latency
    regime those sentinels don't track: in r14 the suite whipsawed 17%
    while both sentinels stayed flat (CPU 0.871 vs 0.859 s, IO 1.893 vs
    1.861 s), leaving the untouched-cohort regressions adjudicable only by
    post-hoc A/Bs. This sentinel is FIXED work in that regime: 24
    back-to-back near-empty jobs, each a 256-row/8-partition range ->
    16-key shuffle -> collect (2-3 stages each, ~60 tiny stages total,
    AQE-coalesced reduce side) — wall time is almost pure job-submission
    + stage-scheduling + result-collection latency, sf-independent.
    Cross-round normalization: use whichever of the three sentinels
    tracks that round's untouched-query cohort (this one for the
    latency-bound rows with 8-core scaling ratios <= 1)."""
    from pyspark.sql import functions as F

    for _ in range(24):
        (spark.range(0, 256, 1, 8)
            .groupBy((F.col("id") % 16).alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.bit_xor(F.xxhash64("k", "c"))).collect())


def run_bench(spark, sf_dir: str, repeats: int = 1,
              only: list[str] | None = None,
              calibrate: bool = True) -> dict[str, float]:
    """Per-query median over `repeats` runs, in seconds. `only` restricts to
    a subset (tools/bench_scaling.py's skewed section). Unless disabled, the
    result carries a ``_calibration`` row (fixed work, sf-independent) for
    host-noise normalization."""
    from relationaldecomposition_spark.sources.tables import load_table

    # Warm JVM/parquet footers AND the shuffle + hash-aggregate codegen
    # machinery, so the first measured query reports operator cost rather
    # than one-time JIT/stage setup (repeats=1 driver runs have no second
    # sample to absorb it).
    li = load_table(spark, sf_dir, "lineitem")
    li.count()
    li.groupBy("l_returnflag").count().collect()
    queries = build_queries(spark, sf_dir)
    if only is not None:
        queries = {k: queries[k] for k in only}
    verbose = os.environ.get("SPARK_GRAFT_BENCH_VERBOSE") == "1"
    out: dict[str, float] = {}
    if calibrate:
        # one unmeasured run first: the hash-chain codegen compile (~5 s
        # cold) belongs to JVM warm-up, not to the host-speed signal
        _run_calibration(spark)
        cal = []
        for _ in range(repeats):
            t0 = time.time()
            _run_calibration(spark)
            cal.append(time.time() - t0)
        out["_calibration"] = statistics.median(cal)
        if verbose:
            print(f"[bench] {sf_dir} _calibration: "
                  f"{out['_calibration']:.2f}s", file=sys.stderr, flush=True)
        if os.path.exists(os.path.join(_CAL_IO_DIR, "lineitem.parquet")):
            _run_calibration_io(spark)  # unmeasured warm-up, same rule
            cal_io = []
            for _ in range(repeats):
                t0 = time.time()
                _run_calibration_io(spark)
                cal_io.append(time.time() - t0)
            out["_calibration_io"] = statistics.median(cal_io)
            if verbose:
                print(f"[bench] {sf_dir} _calibration_io: "
                      f"{out['_calibration_io']:.2f}s",
                      file=sys.stderr, flush=True)
        _run_calibration_sched(spark)  # unmeasured warm-up, same rule
        cal_sched = []
        for _ in range(repeats):
            t0 = time.time()
            _run_calibration_sched(spark)
            cal_sched.append(time.time() - t0)
        out["_calibration_sched"] = statistics.median(cal_sched)
        if verbose:
            print(f"[bench] {sf_dir} _calibration_sched: "
                  f"{out['_calibration_sched']:.2f}s",
                  file=sys.stderr, flush=True)
    for name, fn in queries.items():
        samples = []
        for _ in range(repeats):
            t0 = time.time()
            fn()
            samples.append(time.time() - t0)
        out[name] = statistics.median(samples)
        if verbose:
            print(f"[bench] {sf_dir} {name}: {out[name]:.2f}s",
                  file=sys.stderr, flush=True)
    return out


def _vs_prev_note(record: dict) -> dict:
    """Compare this run against the highest-numbered BENCH_r*.json on the
    shared-query total, normalized by the calibration ratio when the prior
    artifact carries one (rounds >= 10). Purely informational — the judge
    reads it to separate code deltas from host weather."""
    repo = os.path.dirname(os.path.abspath(__file__))
    import glob

    paths = glob.glob(os.path.join(repo, "BENCH_r*.json"))
    if not paths:
        return {}
    # highest round wins; among same-round artifacts prefer the exact
    # `BENCH_r{N}.json` (the 32-core driver record) over suffixed
    # variants like `BENCH_r{N}_c8.json` — r15 bugfix: max() on the
    # round number alone compared a 32-core run against the 8-core
    # artifact when both existed
    prev_path = max(paths, key=lambda p: (
        int(re.search(r"_r(\d+)", os.path.basename(p)).group(1)),
        bool(re.fullmatch(r"BENCH_r\d+\.json", os.path.basename(p)))))
    try:
        with open(prev_path) as f:
            prev = json.load(f)
        if "queries" not in prev:  # driver wraps the bench line as "parsed"
            prev = prev.get("parsed") or {}
        prev_q = prev["queries"]
    except Exception:
        return {}
    shared = [q for q in prev_q if q in record["queries"]]
    if not shared:
        return {}
    prev_total = sum(prev_q[q] for q in shared)
    now_total = sum(record["queries"][q] for q in shared)
    if prev_total <= 0:
        return {}
    note = {
        "prev_bench": os.path.basename(prev_path),
        "shared_queries": len(shared),
        "raw_total_ratio": round(now_total / prev_total, 3),
    }
    prev_cal = (prev.get("calibration") or {}).get("sec")
    now_cal = record.get("calibration", {}).get("sec")
    if prev_cal and now_cal:
        host_ratio = now_cal / prev_cal
        note["calibration_ratio"] = round(host_ratio, 3)
        note["normalized_total_ratio"] = round(
            now_total / prev_total / host_ratio, 3)
    else:
        note["normalized_total_ratio"] = None
        note["note"] = ("prior artifact has no calibration row; "
                        "normalization available from round 10 onward")
    # second, IO-weighted sentinel (round-12 verdict ask #3): recorded
    # alongside so the judge can normalize by whichever sentinel tracks
    # that round's untouched-query cohort better
    prev_cal_io = (prev.get("calibration_io") or {}).get("sec")
    now_cal_io = record.get("calibration_io", {}).get("sec")
    if prev_cal_io and now_cal_io:
        io_ratio = now_cal_io / prev_cal_io
        note["calibration_io_ratio"] = round(io_ratio, 3)
        note["normalized_total_ratio_io"] = round(
            now_total / prev_total / io_ratio, 3)
    # third, tiny-job scheduler sentinel (r14 verdict ask #2): available
    # from round 15 onward — the one that tracks the latency-bound rows
    prev_cal_sched = (prev.get("calibration_sched") or {}).get("sec")
    now_cal_sched = record.get("calibration_sched", {}).get("sec")
    if prev_cal_sched and now_cal_sched:
        sched_ratio = now_cal_sched / prev_cal_sched
        note["calibration_sched_ratio"] = round(sched_ratio, 3)
        note["normalized_total_ratio_sched"] = round(
            now_total / prev_total / sched_ratio, 3)
    return {"vs_prev": note}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # default 3: sub-2s queries on this host whipsaw 2-3x between rounds on
    # single samples (round-5 verdict, "what's wrong" #3) — median-of-3
    # makes BENCH_r{N} deltas attributable to code, not scheduling noise
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from relationaldecomposition_spark.session import get_spark

    spark = get_spark("bench")
    timings = run_bench(spark, sf_dir, repeats)
    spark.stop()

    calibration = timings.pop("_calibration", None)
    calibration_io = timings.pop("_calibration_io", None)
    calibration_sched = timings.pop("_calibration_sched", None)
    total = sum(timings.values())
    record = {
        "metric": "headline_queries_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf,
        "repeats": repeats,
    }
    if calibration is not None:
        record["calibration"] = {
            "sec": round(calibration, 3),
            "work": ("fixed: 64M-row xxhash64x8 chain + 16M-row/100k-key "
                     "shuffle (sf-independent); divide cross-round query "
                     "ratios by the calibration ratio to remove host "
                     "weather"),
        }
    if calibration_io is not None:
        record["calibration_io"] = {
            "sec": round(calibration_io, 3),
            "work": ("fixed: 4x (full-width sf0.1 lineitem parquet scan "
                     "-> suppkey-keyed shuffle digest); the IO-weighted "
                     "sentinel twin (r12 verdict ask #3) — normalize by "
                     "whichever sentinel tracks the round's "
                     "untouched-query cohort"),
        }
    if calibration_sched is not None:
        record["calibration_sched"] = {
            "sec": round(calibration_sched, 3),
            "work": ("fixed: 24 near-empty 2-3-stage jobs (256-row range "
                     "-> 16-key shuffle -> collect) — the tiny-job "
                     "scheduler-latency sentinel (r14 verdict ask #2); "
                     "normalize the latency-bound rows (8-core scaling "
                     "ratio <= 1) by this one"),
        }
    if calibration is not None:
        record.update(_vs_prev_note(record))
    # Keep the output to ONE compact JSON line (BENCH_r04 overflowed the
    # driver's capture by embedding all of SCALING.json): reference the scale
    # proof by path and carry only a one-line summary of its conclusions.
    scaling_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "SCALING.json")
    if os.path.exists(scaling_path):
        with open(scaling_path) as f:
            sc = json.load(f)
        summary: dict = {"scale_points": [k for k in sc if k.startswith("sf")]}
        exps = sc.get("fitted_exponent_sf0.1_to_sf3")
        if isinstance(exps, dict) and exps:
            vals = [v for v in exps.values() if isinstance(v, (int, float))]
            if vals:
                summary["max_fitted_exponent_sf0.1_to_sf3"] = round(max(vals), 3)
        record["scaling_file"] = "SCALING.json"
        record["scaling_summary"] = summary
    print(json.dumps(record))


if __name__ == "__main__":
    main()
