"""Deduplication operators for large-scale training-data pipelines.

All strategies are DataFrame pipelines (no Python in the hot path) over
the portable hash primitives in functions/hashing.py:

- exact:       hash-groupBy on normalized content, keep min-id survivor
- MinHash+LSH: shingle -> n minhashes -> band -> bucket self-join ->
               candidate pairs with estimated Jaccard
- SimHash:     bit-majority signature over token hashes (32-bit)
- n-gram Jaccard: shingle self-join with exact Jaccard
- embedding cosine: exact pairwise cosine over array<float> (the LSH-
               bucketed scale path lives in operators/similarity.py)
- incremental: a persisted (band, sig, id) corpus index probed by each
               new ingest batch (minhash_band_index / incremental_dedup /
               ingest_batch; index_collision_stream is the streaming face)

Scale notes (100 TB):
- exact dedup is one shuffle on the content hash; survivors resolved with
  min(id) — no window over a global sort.
- LSH candidate generation shuffles (band_id, band_signature) — rows per
  bucket are the only quadratic term, and band width bounds bucket size.
- the n-gram join is quadratic per shared shingle: always LSH first at
  scale; the exact join is the verifier/oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..engine.cost import driver_fits
from .materialize import local_materialize
from ..functions.hashing import (
    H32_MOD, MERSENNE_P, affine_hash, exploded_shingles, minhash_params,
    portable_hash32, portable_hash64, tokens, word_shingles)

DEFAULT_N_HASHES = 8
DEFAULT_BANDS = 4
DEFAULT_SHINGLE_K = 3


def _bucket_guard(banded: DataFrame, keys: list[str], id_col: str,
                  max_bucket: int | None, mode: str) -> tuple[DataFrame, list[str]]:
    """Hot-bucket skew guard for LSH bucket self-joins.

    A templated/boilerplate-heavy corpus produces buckets of 1e5+ rows; the
    within-bucket join is quadratic, so one hot bucket dominates the whole
    job at 100 TB. Guard modes (both deterministic, both SQL-expressible so
    oracles can mirror them):

    - ``split``: oversize buckets are split into ceil(size/max_bucket)
      sub-buckets by a secondary hash of the row id; pairs only form within
      a sub-bucket, bounding per-bucket work at ~size*max_bucket instead of
      size^2 (trades recall inside hot buckets for linearity — hot buckets
      are overwhelmingly boilerplate, where pair sampling is acceptable).
    - ``drop``: oversize buckets are removed entirely (the common practice
      for boilerplate buckets); under-cap buckets are untouched.

    The size aggregation map-side combines (hot buckets shrink to one row
    per map partition), and the join back redistributes rows by bucket key
    where AQE's skew-join handling splits oversized partitions.

    Returns the guarded frame and the join keys (split adds ``_sub``)."""
    if max_bucket is None:
        return banded, keys
    if mode not in ("split", "drop"):
        raise ValueError(f"unknown skew mode {mode!r}")
    # Bucket sizes via groupBy (map-side partial aggregation: a hot bucket
    # collapses to one row per map partition — never a single-task window,
    # which AQE cannot split), then join back ONLY the oversize buckets.
    # That side is empty on benign corpora and a handful of rows on
    # boilerplate-heavy ones (bounded by rows/cap), so the join is a
    # broadcast of (keys, size) in practice — AQE picks it without a hint.
    # Under-cap buckets never touch the join: their rows pass through with
    # _bsz null -> sub 0.
    over = (banded.groupBy(*keys).agg(F.count(F.lit(1)).alias("_bsz"))
            .where(F.col("_bsz") > max_bucket))
    g = banded.join(over, keys, "left")
    if mode == "drop":
        return g.where(F.col("_bsz").isNull()).drop("_bsz"), keys
    nsplit = F.floor((F.col("_bsz") + F.lit(max_bucket - 1))
                     / F.lit(float(max_bucket))).cast("long")
    sub = portable_hash32(F.col(id_col).cast("string")) % nsplit
    return (g.withColumn("_sub", F.when(F.col("_bsz").isNull(), F.lit(0))
                                  .otherwise(sub).cast("long"))
             .drop("_bsz"),
            keys + ["_sub"])


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup on `cols`: one surviving row id per distinct content.
    Returns (content hash, min id, dup count)."""
    key = portable_hash64(F.concat_ws("\x1f", *cols))
    return (df.select(key.alias("content_hash"), F.col(id_col))
              .groupBy("content_hash")
              .agg(F.min(id_col).alias("keep_id"),
                   F.count(F.lit(1)).alias("n_copies")))


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       n_hashes: int = DEFAULT_N_HASHES,
                       shingle_k: int = DEFAULT_SHINGLE_K,
                       seed: int = 42, kernel: str = "arrow") -> DataFrame:
    """(id, mh_0..mh_{n-1}): min over shingles of (a_i*h32(shingle)+b_i)%P.
    Documents with no shingles get sentinel P (impossible hash value).

    kernel="arrow" (default, r14): ONE map-only Arrow pass — per batch,
    tokenize + shingle + md5 in C-speed Python, then the whole affine-min
    bank as a vectorized numpy segment-min (np.minimum.reduceat over the
    batch's concatenated shingle hashes). ZERO exchanges: the expr path's
    shingle window shuffled the corpus at TOKEN volume (the largest
    shuffle in the curation funnel — text-sized bytes on the wire at
    100 TB), while this kernel's only data movement is the Arrow batch
    hop the plan's Python stage already pays. Bit-identical signatures
    (pinned in tests/test_operators.py::test_minhash_kernel_parity):
    identical tokens (re.ASCII \\s+ == Java \\s+ == the DuckDB twin's
    RE2 \\S+), identical md5-prefix hash, and the affine products stay
    under 2^62 so int64 never wraps. Streaming-legal (mapInPandas).

    kernel="expr": the r1-r13 JVM shape — exploded_shingles (posexplode +
    window-lead; map-only array_min over transform lambdas is 4x slower
    CodegenFallback, exploding the word_shingles array pays ~15us/row in
    the generator) + a groupBy min bank riding the window's partitioning
    (one exchange total). Kept as the pure-JVM oracle face the parity
    test pins the kernel against."""
    if kernel == "arrow":
        return _arrow_minhash_signatures(df, text_col, id_col, n_hashes,
                                         shingle_k, seed)
    if kernel != "expr":
        raise ValueError(f"unknown minhash kernel: {kernel!r}")
    params = minhash_params(n_hashes, seed)
    sh = exploded_shingles(df, text_col, id_col, shingle_k)
    h = sh.withColumn("h32", portable_hash32(F.col("shingle")))
    aggs = [F.min(F.when(F.col("shingle").isNotNull(),
                         affine_hash(F.col("h32"), a, b)))
            .alias(f"mh_{i}") for i, (a, b) in enumerate(params)]
    out = h.groupBy(id_col).agg(*aggs)
    # sentinel for shingle-less docs so their bands never collide with real ones
    fills = {f"mh_{i}": MERSENNE_P + i for i in range(n_hashes)}
    return out.fillna(fills)


def exploded_shingle_hashes(df: DataFrame, text_col: str, id_col: str,
                            k: int) -> DataFrame:
    """(id, _pos, _h): one row per k-token shingle OCCURRENCE, _h =
    portable_hash64 of the shingle text, _pos = 0-based token position —
    the Arrow map-side twin of `exploded_shingles` + md5 for consumers
    that need HASHED occurrences (duplicate_spans /
    remove_duplicate_spans). Same zero-exchange rationale as
    _arrow_minhash_signatures: the expr shape paid a posexplode + lead
    WINDOW (a token-volume shuffle) before the first real aggregation;
    this kernel tokenizes + hashes per document map-side (re.ASCII \\s+
    == Java \\s+; int(md5[:15],16) == conv(substring(md5(..),1,15),16,10)
    — both < 2^60) and emits only the 20-byte occurrence rows. Docs with
    fewer than k tokens emit nothing (the expr path's isNotNull
    filter)."""
    from pyspark.sql.types import (IntegerType, LongType, StructField,
                                   StructType)

    out_schema = StructType([df.schema[id_col],
                             StructField("_pos", IntegerType(), False),
                             StructField("_h", LongType(), False)])
    kk = int(k)

    def gen(batches):
        import hashlib
        import re as _re

        import numpy as np
        import pandas as pd

        split = _re.compile(r"\s+", _re.ASCII).split
        md5 = hashlib.md5
        for pdf in batches:
            ids, poss, hs = [], [], []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(t, str):
                    continue
                toks = [x for x in split(t) if x]
                n = len(toks)
                if n < kk:
                    continue
                for j in range(n - kk + 1):
                    ids.append(did)
                    poss.append(j)
                    hs.append(int(md5(" ".join(toks[j:j + kk]).encode())
                                  .hexdigest()[:15], 16))
            yield pd.DataFrame({
                id_col: ids,
                "_pos": np.asarray(poss, dtype=np.int32),
                "_h": np.asarray(hs, dtype=np.int64)})

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        gen, out_schema)


def _arrow_minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                              n_hashes: int, shingle_k: int,
                              seed: int) -> DataFrame:
    """The Arrow minhash kernel (see minhash_signatures docstring).

    Parity contract with the expr path, checked term by term:
    - tokens: re.ASCII \\s+ split with empties dropped == Spark
      split(trim(c), '\\s+') filtered != '' (Java \\s is ASCII-only by
      default; leading/trailing runs produce empties both sides, dropped
      both sides).
    - shingle: ' '.join of k consecutive tokens == concat_ws(' ',
      slice(toks, i, k)); fewer than k tokens -> no shingles.
    - hash: int(md5(utf8 bytes).hexdigest()[:15], 16) % 2^32 ==
      conv(substring(md5(cast as binary), 1, 15), 16, 10) % 2^32 — both
      non-negative and < 2^32.
    - affine min: a < 2^30, h32 < 2^32 => a*h32 + b < 2^62 — int64-exact
      in numpy, ANSI-safe in Spark. Duplicate shingles cannot change a
      min, so the per-doc set() dedup is free correctness-wise and
      skips redundant md5 work.
    - shingle-less / NULL docs: sentinel MERSENNE_P + i, the expr path's
      fillna."""
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    params = minhash_params(n_hashes, seed)
    av = np.array([a for a, _ in params], dtype=np.int64)
    bv = np.array([b for _, b in params], dtype=np.int64)
    k = int(shingle_k)
    sentinel = np.array([MERSENNE_P + i for i in range(n_hashes)],
                        dtype=np.int64)
    out_schema = StructType(
        [df.schema[id_col]]
        + [StructField(f"mh_{i}", LongType(), False)
           for i in range(n_hashes)])

    def gen(batches):
        import hashlib
        import re as _re

        import pandas as pd

        split = _re.compile(r"\s+", _re.ASCII).split
        md5 = hashlib.md5
        for pdf in batches:
            m = len(pdf)
            if not m:
                continue
            segs: list[np.ndarray] = []   # per-doc shingle hashes
            seg_doc: list[int] = []       # batch row index per segment
            for row_i, t in enumerate(pdf[text_col]):
                if not isinstance(t, str):
                    continue
                toks = [x for x in split(t) if x]
                if len(toks) < k:
                    continue
                hs = {md5(" ".join(toks[j:j + k]).encode())
                      .hexdigest()[:15]
                      for j in range(len(toks) - k + 1)}
                segs.append(np.fromiter((int(h, 16) for h in hs),
                                        dtype=np.int64, count=len(hs)))
                seg_doc.append(row_i)
            sig = np.tile(sentinel, (m, 1))
            if segs:
                all_h = np.concatenate(segs) % H32_MOD
                lens = np.fromiter((len(s) for s in segs),
                                   dtype=np.int64, count=len(segs))
                starts = np.zeros(len(segs), dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                rows = np.asarray(seg_doc, dtype=np.int64)
                # chunk the hash bank so scratch stays ~16 x batch shingles
                for c0 in range(0, n_hashes, 16):
                    c1 = min(c0 + 16, n_hashes)
                    vals = (av[c0:c1, None] * all_h[None, :]
                            + bv[c0:c1, None]) % MERSENNE_P
                    mins = np.minimum.reduceat(vals, starts, axis=1)
                    sig[rows, c0:c1] = mins.T
            data = {id_col: pdf[id_col].to_numpy()}
            for i in range(n_hashes):
                data[f"mh_{i}"] = sig[:, i]
            yield pd.DataFrame(data)

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        gen, out_schema)


def _band_structs(mh_cols: list[str], bands: int) -> Column:
    """array<struct<band,sig>>: the LSH banding of an mh_* signature row —
    band b's sig is the comma-joined minhashes of its rows. Shared by the
    pair self-join and the incremental corpus index so both produce
    identical bucket keys."""
    rows_per_band = len(mh_cols) // bands
    return F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.concat_ws(",", *[F.col(mh_cols[b * rows_per_band + r])
                                    for r in range(rows_per_band)]).alias("sig"))
        for b in range(bands)])


# Signature widths >= this use the slim band-join (ids only through the
# explode, signatures re-joined after pair dedup). Below it the signature
# payload is small enough that carrying it through the band join is cheaper
# than two extra joins — measured at sf0.1: slim costs +46% at n_hashes=8,
# while at n_hashes=128 the inline payload would dominate the shuffle.
SLIM_PAYLOAD_MIN_HASHES = 32


def lsh_candidate_pairs(df: DataFrame, text_col: str, id_col: str,
                        n_hashes: int = DEFAULT_N_HASHES,
                        bands: int = DEFAULT_BANDS,
                        shingle_k: int = DEFAULT_SHINGLE_K,
                        min_est: float = 0.5,
                        seed: int = 42,
                        slim_payload: bool | None = None,
                        max_bucket: int | None = None,
                        skew_mode: str = "split") -> DataFrame:
    """MinHash-LSH near-duplicate candidates: docs sharing any band bucket,
    scored by estimated Jaccard = fraction of agreeing minhashes.
    Returns (id_a, id_b, est_jaccard) with id_a < id_b.

    Scale shape (slim_payload=True, auto for n_hashes >=
    SLIM_PAYLOAD_MIN_HASHES): the band self-join shuffles only (id, band,
    sig) — the full mh_* signature payload is re-joined AFTER candidate
    pairs are deduped, so the band explode's x-bands row amplification
    never multiplies the signature width. With narrow signatures
    (slim_payload=False) the signatures ride through the band join
    directly — one self-join, no re-joins. Both paths produce identical
    pairs and scores; only the plan differs (pinned by tests).

    max_bucket (hot-bucket skew guard, see _bucket_guard): buckets larger
    than this are split by a secondary id-hash (skew_mode='split') or
    dropped (skew_mode='drop') before the self-join, bounding the quadratic
    within-bucket term. None (default) disables the guard."""
    assert n_hashes % bands == 0
    if slim_payload is None:
        slim_payload = n_hashes >= SLIM_PAYLOAD_MIN_HASHES
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle_k, seed)
    # shingle-less docs carry the sentinel signature: Jaccard over empty
    # shingle sets is undefined, so they never participate in pairing
    sigs = sigs.where(F.col("mh_0") != MERSENNE_P)
    if not df.isStreaming:
        # The signature subtree (md5 x shingles x n_hashes mins) is
        # consumed 2-4x below — the band self-join reads it twice, and
        # the slim path re-joins it twice more for scoring — and Spark
        # has no automatic subtree reuse (the shared-subtree law, r12/
        # r13). A LAZY localCheckpoint materializes the slim (id, mh_*)
        # frame once on first action and serves every consumer from the
        # truncated lineage. This is storable at 100 TB: id + n_hashes
        # ints per doc — the signature INDEX, never the text (the
        # ids-not-frames law constrains text frames, not code-sized
        # ones). Measured r13: sf10 lsh_dedup 11.1 -> ~6 s, and the
        # funnel's eager phase shed the re-derivations the CC
        # symmetrization fix exposed. Fault-tolerance tradeoff + the
        # reliable/off knob: operators/materialize.py (ADVICE r13).
        sigs = local_materialize(sigs, eager=False)
    mh_cols = [f"mh_{i}" for i in range(n_hashes)]
    band_structs = _band_structs(mh_cols, bands)
    est_of = lambda pre_a, pre_b: sum(  # noqa: E731
        (F.col(f"{pre_a}{c}") == F.col(f"{pre_b}{c}")).cast("int")
        for c in mh_cols) / F.lit(float(len(mh_cols)))
    def self_join_cond(keys: list[str]):
        cond = F.col(id_col) < F.col("_rid")
        for k in keys:
            cond = cond & (F.col(k) == F.col(f"_r{k}"))
        return cond

    if not slim_payload:
        # inline path: signatures ride through the one self-join
        banded = sigs.select(F.col(id_col), *mh_cols,
                             F.explode(band_structs).alias("bk")) \
                     .select(id_col, *mh_cols, "bk.band", "bk.sig")
        banded, keys = _bucket_guard(banded, ["band", "sig"], id_col,
                                     max_bucket, skew_mode)
        right = banded.select(F.col(id_col).alias("_rid"),
                              *[F.col(c).alias(f"_r{c}") for c in mh_cols],
                              *[F.col(k).alias(f"_r{k}") for k in keys])
        scored = (banded.join(right, self_join_cond(keys))
                  .select(F.col(id_col).alias("id_a"),
                          F.col("_rid").alias("id_b"),
                          est_of("", "_r").alias("est_jaccard"))
                  .distinct())
        return scored.where(F.col("est_jaccard") >= min_est)
    # slim path: ids only through the explode + self-join
    banded = sigs.select(F.col(id_col), F.explode(band_structs).alias("bk")) \
                 .select(id_col, "bk.band", "bk.sig")
    banded, keys = _bucket_guard(banded, ["band", "sig"], id_col,
                                 max_bucket, skew_mode)
    right = banded.select(F.col(id_col).alias("_rid"),
                          *[F.col(k).alias(f"_r{k}") for k in keys])
    pairs = (banded.join(right, self_join_cond(keys))
             .select(F.col(id_col).alias("id_a"), F.col("_rid").alias("id_b"))
             .distinct())
    # re-join the signatures on the (deduped, tiny) candidate set
    a = sigs.select(F.col(id_col).alias("id_a"),
                    *[F.col(c).alias(f"_a{c}") for c in mh_cols])
    b = sigs.select(F.col(id_col).alias("id_b"),
                    *[F.col(c).alias(f"_b{c}") for c in mh_cols])
    scored = pairs.join(a, "id_a").join(b, "id_b")
    return (scored.select("id_a", "id_b",
                          est_of("_a", "_b").alias("est_jaccard"))
                  .where(F.col("est_jaccard") >= min_est))


def minhash_band_index(df: DataFrame, text_col: str, id_col: str,
                       n_hashes: int = DEFAULT_N_HASHES,
                       bands: int = DEFAULT_BANDS,
                       shingle_k: int = DEFAULT_SHINGLE_K,
                       seed: int = 42) -> DataFrame:
    """(band, sig, id): the persisted-state face of LSH dedup — one row per
    occupied band bucket per document. Write this once for the corpus, then
    `incremental_dedup` probes it for every new ingest batch instead of
    re-shingling 100 TB.

    Scale notes: the index is ~bands x corpus rows of (int, short string,
    id) — write it partitioned/bucketed by (band, sig) so the probe join
    shuffles only the (small) new batch. Shingle-less docs occupy no
    buckets and are excluded."""
    assert n_hashes % bands == 0
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle_k, seed)
    sigs = sigs.where(F.col("mh_0") != MERSENNE_P)
    mh_cols = [f"mh_{i}" for i in range(n_hashes)]
    return (sigs.select(F.col(id_col),
                        F.explode(_band_structs(mh_cols, bands)).alias("bk"))
                .select("bk.band", "bk.sig", id_col))


def incremental_dedup(new_df: DataFrame, index: DataFrame, text_col: str,
                      id_col: str, n_hashes: int = DEFAULT_N_HASHES,
                      bands: int = DEFAULT_BANDS,
                      shingle_k: int = DEFAULT_SHINGLE_K,
                      seed: int = 42,
                      banded: DataFrame | None = None) -> DataFrame:
    """Near-dup dedup of a NEW ingest batch against a pre-built corpus band
    index (`minhash_band_index` output) — the continuous-ingestion pattern:
    the corpus is never re-read, only its index is probed.

    Per new document: n_index_hits = how many of its band buckets exist in
    the corpus index; n_batch_hits = how many of its buckets contain a
    smaller-id document of the same batch. `survives` = both zero — the
    bucket-min-id rule (deterministic, one aggregation pass, no iterative
    connected components; a doc survives iff it is the first of every
    bucket it occupies and none is already indexed). Shingle-less docs
    occupy no buckets and trivially survive.

    Scale shape: the index side is first PRUNED to the batch's own bucket
    keys with a broadcast semi-join (the batch bucket set is batch-sized,
    the broadcastable side by construction) — a map-only filter over the
    stored index with NO shuffle of the index and no full-index distinct;
    only the surviving slice (at most batch buckets × their index
    occupancy) is deduped and joined. Ingest cost is therefore one index
    SCAN (storage-level pruning applies if the index is bucketed on
    (band, sig)) plus batch-sized shuffles — previously the probe
    shuffled the ENTIRE index through a distinct every ingest.
    Batch-internal hits are a groupBy min + join back, never a self-join
    — no quadratic term anywhere. The banded batch feeds FOUR consumers
    (probe keys, index hits, bucket minima, batch hits) — the
    shared-subtree law (plans/subtree.py; flagged by the r14 static
    auditor at x3-x4 on this very plan) — so when this operator derives
    it itself it materializes the slim (band, sig, id) frame once with a
    lazy local checkpoint, exactly like lsh_candidate_pairs' signature
    frame (codes-sized: batch rows x bands of (int, short string, id);
    never text). A pipeline that owns the lifecycle can still pass
    ``banded`` — a persisted `minhash_band_index(new_df, ...)` — and no
    second materialization happens."""
    assert n_hashes % bands == 0
    if banded is None:
        banded = minhash_band_index(new_df, text_col, id_col, n_hashes,
                                    bands, shingle_k, seed)
        if not new_df.isStreaming:
            banded = local_materialize(banded, eager=False)
    probe_keys = banded.select("band", "sig").distinct()
    idx_slice = (index.join(F.broadcast(probe_keys), ["band", "sig"],
                            "left_semi")
                 .select("band", "sig").distinct())
    idx_hits = (banded.join(idx_slice, ["band", "sig"])
                .groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("n_index_hits")))
    bmin = banded.groupBy("band", "sig").agg(F.min(id_col).alias("_bmin"))
    batch_hits = (banded.join(bmin, ["band", "sig"])
                  .where(F.col(id_col) > F.col("_bmin"))
                  .groupBy(id_col)
                  .agg(F.count(F.lit(1)).alias("n_batch_hits")))
    zero = F.lit(0).cast("long")
    return (new_df.select(id_col)
            .join(idx_hits, id_col, "left")
            .join(batch_hits, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_index_hits", zero).alias("n_index_hits"),
                    F.coalesce("n_batch_hits", zero).alias("n_batch_hits"))
            .withColumn("survives", (F.col("n_index_hits") == 0)
                                    & (F.col("n_batch_hits") == 0)))


def band_index_merge(index: DataFrame, new_df: DataFrame, text_col: str,
                     id_col: str, n_hashes: int = DEFAULT_N_HASHES,
                     bands: int = DEFAULT_BANDS,
                     shingle_k: int = DEFAULT_SHINGLE_K,
                     seed: int = 42) -> DataFrame:
    """The WRITE-BACK half of the continuous-ingestion loop
    (incremental_dedup is the probe half): the persisted band index plus
    the band buckets of the batch's SURVIVORS — documents that
    incremental_dedup admits (no index hit, first of every batch bucket).
    Rejected near-duplicates contribute no buckets, so the index never
    accumulates entries for documents that were dropped.

    Scale shape: the corpus index passes through UNTOUCHED (a union, no
    re-shingle, no shuffle of the stored side — append the new rows to
    the bucketed store); new work is batch-sized only (one shingle pass
    feeding both the probe and the new buckets, one semi-join on the
    survivor ids). Returns (band, sig, id) like minhash_band_index."""
    banded = minhash_band_index(new_df, text_col, id_col, n_hashes,
                                bands, shingle_k, seed)
    if not new_df.isStreaming:
        # banded feeds incremental_dedup's four consumers PLUS the
        # write-back projection below — five evaluations of the minhash
        # subtree without the slim materialization (shared-subtree law;
        # r14 auditor flagged x4-x5 here). Fault-tolerance knob:
        # operators/materialize.py.
        banded = local_materialize(banded, eager=False)
    surv = (incremental_dedup(new_df, index, text_col, id_col, n_hashes,
                              bands, shingle_k, seed, banded=banded)
            .where(F.col("survives")).select(id_col))
    new_rows = banded.join(surv, id_col, "left_semi") \
                     .select("band", "sig", id_col)
    return index.select("band", "sig", id_col).unionByName(new_rows)


def maponly_minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                               n_hashes: int = DEFAULT_N_HASHES,
                               shingle_k: int = DEFAULT_SHINGLE_K,
                               seed: int = 42,
                               keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """minhash_signatures with ZERO shuffles: array_min over transform
    lambdas on the word_shingles array, one expression per hash. Produces
    bit-identical signatures to the exploded path (pinned in tests) but
    runs ~4x slower per row (CodegenFallback lambda traversals) — use it
    where a shuffle/window is impossible: streaming sources (non-time
    windows are unsupported on streams). Batch pipelines should keep
    minhash_signatures. `keep_cols` are passed through (e.g. the event
    time for a downstream watermark)."""
    params = minhash_params(n_hashes, seed)
    shl = word_shingles(F.col(text_col), shingle_k)

    def mh(i: int, a: int, b: int):
        # single-arg lambda: a 2-arg lambda would make PySpark pass the
        # array INDEX as the second argument
        return F.coalesce(
            F.array_min(F.transform(
                shl, lambda s: affine_hash(portable_hash32(s), a, b))),
            F.lit(MERSENNE_P + i)).alias(f"mh_{i}")

    cols = [mh(i, a, b) for i, (a, b) in enumerate(params)]
    return df.select(F.col(id_col), *[F.col(c) for c in keep_cols], *cols)


def index_collision_stream(stream: DataFrame, index: DataFrame,
                           text_col: str, id_col: str, ts_col: str = "ts",
                           watermark: str = "10 minutes",
                           n_hashes: int = DEFAULT_N_HASHES,
                           bands: int = DEFAULT_BANDS,
                           shingle_k: int = DEFAULT_SHINGLE_K,
                           seed: int = 42) -> DataFrame:
    """Streaming face of the corpus band index: (id, ts) of streamed
    documents that near-dup-collide with the static index — the
    quarantine/flag stream of continuous ingestion. Signatures are
    computed map-only (maponly_minhash_signatures), bands exploded, and
    probed with a stream-static equi-join against DISTINCT index buckets;
    one flag per document (all of a doc's band rows carry its single ts,
    so the within-watermark dedup is deterministic).

    Full batch-exact dedup of a stream (survivors + the batch-internal
    bucket-min-id rule) belongs in foreachBatch + `incremental_dedup` /
    `ingest_batch` — per micro-batch that IS the batch operator. On a
    batch frame this function runs the same plan with a groupBy in place
    of the watermark dedup, which is how the parity test pins it."""
    sigs = maponly_minhash_signatures(stream, text_col, id_col, n_hashes,
                                      shingle_k, seed, keep_cols=(ts_col,))
    sigs = sigs.where(F.col("mh_0") != MERSENNE_P)
    mh_cols = [f"mh_{i}" for i in range(n_hashes)]
    banded = (sigs.select(F.col(id_col), F.col(ts_col),
                          F.explode(_band_structs(mh_cols, bands))
                           .alias("bk"))
                  .select(id_col, ts_col, "bk.band", "bk.sig"))
    hits = (banded.join(index.select("band", "sig").distinct(),
                        ["band", "sig"])
                  .select(id_col, ts_col))
    if hits.isStreaming:
        return (hits.withWatermark(ts_col, watermark)
                    .dropDuplicatesWithinWatermark([id_col]))
    return hits.groupBy(id_col).agg(F.min(ts_col).alias(ts_col))


def ingest_batch(new_df: DataFrame, index: DataFrame, text_col: str,
                 id_col: str, n_hashes: int = DEFAULT_N_HASHES,
                 bands: int = DEFAULT_BANDS,
                 shingle_k: int = DEFAULT_SHINGLE_K,
                 seed: int = 42) -> tuple[DataFrame, DataFrame]:
    """The full ingestion step: (per-doc dedup stats, index rows to
    append). Append the second frame to the stored corpus index and the
    next batch sees this batch's survivors. Survivor signatures are
    recomputed (a second shingle pass over survivors only) — at ingest
    scale that is far cheaper than carrying the banded frame through the
    dedup joins."""
    stats = incremental_dedup(new_df, index, text_col, id_col, n_hashes,
                              bands, shingle_k, seed)
    survivors = stats.where(F.col("survives")).select(id_col)
    new_rows = minhash_band_index(new_df.join(survivors, id_col),
                                  text_col, id_col, n_hashes, bands,
                                  shingle_k, seed)
    return stats, new_rows


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """SimHash signature: bit k of the signature is 1 iff the majority of
    token hashes have bit k set.

    One explode (tokens) + ONE groupBy carrying `bits` conditional-sum
    aggregates — per-bit sign contributions are aggregate expressions over
    the token hash, not exploded rows, so the shuffle moves `bits` partial
    sums per (id, partition) instead of amplifying token rows x bits.
    Everything stays in codegen."""
    tk = df.select(F.col(id_col),
                   F.explode_outer(tokens(F.col(text_col))).alias("tok"))
    h = tk.withColumn("h", F.when(F.col("tok").isNotNull(),
                                  portable_hash64(F.col("tok"))))
    aggs = [F.sum(F.when(F.col("h").isNull(), F.lit(0))
                   .when(F.expr(f"(h >> {k}) & 1") == 1, F.lit(1))
                   .otherwise(F.lit(-1))).alias(f"_b{k}")
            for k in range(bits)]
    bitsums = h.groupBy(id_col).agg(*aggs)
    sig = sum(F.when(F.col(f"_b{k}") > 0,
                     F.expr(f"shiftleft(cast(1 as bigint), {k})"))
               .otherwise(F.lit(0).cast("bigint"))
              for k in range(bits))
    return bitsums.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(df: DataFrame, text_col: str, id_col: str,
                  bits: int = 32, max_hamming: int = 3,
                  n_blocks: int | None = None,
                  max_bucket: int | None = None) -> DataFrame:
    """(id_a, id_b, hamming): every pair whose SimHash signatures differ
    in at most ``max_hamming`` bits, found by the PIGEONHOLE block join
    (Manku/Jain/Das Sarma, "Detecting near-duplicates for web crawling",
    WWW 2007): split the signature into ``n_blocks >= max_hamming + 1``
    contiguous blocks — a pair within max_hamming flips bits in at most
    max_hamming blocks, so it agrees EXACTLY on at least one block — then
    equi-join on (block index, block value) and verify candidates with
    the exact bit_count(xor). 100% recall given the signatures; never an
    all-pairs comparison.

    Scale shape: the signature aggregate is computed ONCE (the block
    parameters ride an exploded LITERAL array — the generator never
    references the signature column, so CollapseProject cannot clone the
    32 bit-sums per block; see bloom.py's round-7 note for the pattern),
    candidates come from one shuffle on (block, value), and the verify is
    a map-side bit op on the already-joined signatures. ``max_bucket``
    drops (block, value) buckets larger than the cap — boilerplate
    corpora concentrate one block value and its join term is quadratic in
    the hottest bucket, the same economics as the MinHash guard
    (dedup.py:40); None keeps exact semantics (the oracle face).

    Identical signatures (including the all-zero signature of token-less
    documents) always share every block: a corpus with m exact dups of
    one text yields m^2/2 pairs BY DEFINITION of the operator — cap or
    pre-dedup exact duplicates (exact_dedup) upstream at scale."""
    sigs = simhash(df, text_col, id_col, bits)
    return hamming_pairs(sigs, id_col, "simhash", bits=bits,
                         max_hamming=max_hamming, n_blocks=n_blocks,
                         max_bucket=max_bucket)


def hamming_pairs(sigs: DataFrame, id_col: str, sig_col: str,
                  bits: int = 64, max_hamming: int = 3,
                  n_blocks: int | None = None,
                  max_bucket: int | None = None) -> DataFrame:
    """(id_a, id_b, hamming): every pair of FIXED-WIDTH integer
    signatures differing in at most ``max_hamming`` bits — the pigeonhole
    block join factored out of ``simhash_pairs`` so ANY signature column
    can use it (SimHash text signatures, image perceptual hashes
    (multimodal.image_phash), bit-sampled embeddings). Null signatures
    are dropped (an undecodable payload pairs with nothing). Semantics,
    guard, and scale shape exactly as simhash_pairs documents."""
    if n_blocks is None:
        n_blocks = max_hamming + 1
    if n_blocks < max_hamming + 1:
        raise ValueError(
            f"pigeonhole needs n_blocks >= max_hamming + 1 "
            f"(got {n_blocks} < {max_hamming + 1})")
    if n_blocks > bits:
        raise ValueError(f"n_blocks {n_blocks} > bits {bits}")
    base, rem = divmod(bits, n_blocks)
    widths = [base + 1 if i < rem else base for i in range(n_blocks)]
    starts = [sum(widths[:i]) for i in range(n_blocks)]
    sigs = (sigs.where(F.col(sig_col).isNotNull())
            .select(F.col(id_col), F.col(sig_col).alias("_sig")))
    if not sigs.isStreaming:
        # the signature subtree upstream (simhash's token-explode bit-sum
        # aggregate; image_phash's Arrow decode kernel) is consumed 2-3x
        # below (block self-join sides a/b, plus the bucket-cap count) —
        # same shared-subtree law + lazy-checkpoint remedy as
        # lsh_candidate_pairs; the (id, sig) frame is 16 bytes/row.
        # Fault-tolerance knob: operators/materialize.py (ADVICE r13).
        sigs = local_materialize(sigs, eager=False)
    params = F.array(*[
        F.struct(F.lit(i).alias("bi"), F.lit(starts[i]).alias("st"),
                 F.lit((1 << widths[i]) - 1).alias("mask"))
        for i in range(n_blocks)])
    blocks = (sigs.select(F.col(id_col), "_sig",
                          F.explode(params).alias("p"))
              .select(F.col(id_col), "_sig",
                      F.col("p.bi").alias("bi"),
                      F.expr("shiftrightunsigned(_sig, p.st) & p.mask")
                       .alias("bv")))
    if max_bucket is not None:
        bsz = (blocks.groupBy("bi", "bv")
               .agg(F.count(F.lit(1)).alias("_n"))
               .where(F.col("_n") <= max_bucket)
               .select("bi", "bv"))
        blocks = blocks.join(bsz, ["bi", "bv"])
    a = blocks.select(F.col(id_col).alias("id_a"),
                      F.col("_sig").alias("sig_a"), "bi", "bv")
    b = blocks.select(F.col(id_col).alias("id_b"),
                      F.col("_sig").alias("sig_b"), "bi", "bv")
    cand = (a.join(b, ["bi", "bv"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sig_a", "sig_b")
            .distinct())
    ham = F.bit_count(F.expr("sig_a ^ sig_b"))
    return (cand.where(ham <= max_hamming)
            .select("id_a", "id_b", ham.cast("bigint").alias("hamming")))


def duplicate_spans(df: DataFrame, text_col: str, id_col: str,
                    shingle_k: int = 8,
                    min_count: int = 2) -> DataFrame:
    """Per-document duplicated-span profile: (id, n_spans, n_dup_spans,
    dup_ratio) where a span is one k-token shingle OCCURRENCE and a span
    is duplicated iff its exact text occurs >= min_count times
    CORPUS-WIDE (every occurrence counts, including repeats inside one
    document). This is exact-substring duplication located at k-token
    resolution — the shingle-granular, join-friendly form of the
    suffix-array dedup of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (ACL 2022): instead of a distributed suffix
    array, duplicated regions resolve through two hash shuffles
    (occurrence counts on the shingle hash, then the per-document
    rollup) and one equi-join against the >= min_count hash set — the
    join's build side holds only REPEATED shingles, not the corpus.

    Spans are keyed by portable_hash64 of the shingle text (the shuffle
    moves 8-byte keys, not k-token strings); the DuckDB twin hashes
    identically, so any 64-bit collision conflates the same spans in
    both engines. Documents with fewer than k tokens have n_spans = 0
    and dup_ratio 0.0."""
    if min_count < 2:
        raise ValueError("min_count must be >= 2 (1 would flag every span)")
    from pyspark.sql import Window

    # r14: occurrences come from the zero-exchange Arrow kernel — the
    # expr shape (exploded_shingles + md5) paid a token-volume lead
    # window before the first aggregation
    occ = exploded_shingle_hashes(df, text_col, id_col, shingle_k) \
        .select(F.col(id_col), "_h")
    # count window over the shingle hash instead of groupBy + join-back:
    # one occ evaluation and one shuffle (same rework and measurement as
    # remove_duplicate_spans — see the note there)
    wh = Window.partitionBy("_h")
    per = (occ.withColumn("_n", F.count(F.lit(1)).over(wh))
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_spans"),
                F.sum(F.when(F.col("_n") >= min_count, 1).otherwise(0))
                 .cast("bigint").alias("n_dup_spans")))
    zero = F.lit(0).cast("bigint")
    return (df.select(id_col)
            .join(per, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_spans", zero).alias("n_spans"),
                    F.coalesce("n_dup_spans", zero).alias("n_dup_spans"),
                    F.round(F.when(F.coalesce("n_spans", zero) == 0,
                                   F.lit(0.0))
                            .otherwise(F.coalesce("n_dup_spans", zero)
                                       / F.col("n_spans")), 6)
                    .alias("dup_ratio")))


def remove_duplicate_spans(df: DataFrame, text_col: str, id_col: str,
                           shingle_k: int = 8,
                           min_count: int = 2,
                           min_span_tokens: int = 1) -> DataFrame:
    """Rewrite the corpus with corpus-wide duplicated substrings EXCISED —
    the second half of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (ACL 2022) §4: `duplicate_spans` locates
    duplication, this removes it. A token is removed iff it is covered by
    at least one k-token shingle occurrence whose exact text appears
    >= min_count times corpus-wide (EVERY occurrence is cut, the
    conservative ExactSubstr variant); adjacent/overlapping duplicated
    shingles therefore merge into maximal spans implicitly. Survivor
    tokens are reassembled in order, single-space separated (output text
    is whitespace-normalized — the same token stream the detector saw).

    Returns (id, text, n_tokens, n_removed_tokens), one row per input
    document (token-less documents keep text '').

    Scale shape (r14 rewrite) — everything is linear, nothing is
    per-document quadratic, and only DUPLICATED-START rows ever shuffle:
    occurrences come from the zero-exchange Arrow kernel
    (exploded_shingle_hashes), duplicated starts resolve through ONE
    count shuffle on the 8-byte shingle hash (count window, no
    join-back), the surviving starts roll up to per-document position
    arrays (starts-sized shuffle — empty for a clean corpus), and
    coverage + run-merging + excision + reassembly happen in one
    map-side Arrow kernel over (text, starts). The r12-r13 shape paid
    three more corpus-volume movements — the shingle lead WINDOW, the
    token/boundary-event union through the coverage window, and the
    collect_list reassembly shuffle of every token; all three are gone.
    Worst case (a fully-duplicated corpus) degrades to a sort-merge join
    of starts with the text scan — O(tokens) rows, still never
    O(tokens²); the skew placement of the count window is unchanged
    (measured under a planted 99%-one-token corpus, SCALING.json
    count_window_skew_r13).

    ``min_span_tokens``: only excise maximal covered runs of at least
    this many tokens. Lee et al. excise ~50-token duplicated substrings;
    the default shingle_k=8 with min_span_tokens=1 cuts every 8-token
    phrase seen twice corpus-wide, which over-fires on idioms and
    boilerplate-adjacent prose in a natural corpus. Setting e.g.
    min_span_tokens=25 keeps short incidental matches and removes only
    long duplicated regions (the paper's regime: a 50-token duplicated
    substring yields a >= 50-token covered run). Runs are merged FIRST
    (the boundary-event stream already yields maximal runs), then runs
    shorter than the threshold are kept whole — precision knob, default
    1 preserves the exact conservative ExactSubstr semantics."""
    if min_count < 2:
        raise ValueError("min_count must be >= 2 (1 would cut every span)")
    if shingle_k < 1:
        raise ValueError("shingle_k must be >= 1 (0 or negative would "
                         "misplace span-end events)")
    if min_span_tokens < 1:
        raise ValueError("min_span_tokens must be >= 1")
    k = shingle_k
    from pyspark.sql import Window

    occ = exploded_shingle_hashes(df, text_col, id_col, k)
    # duplicated starts via a COUNT WINDOW over the shingle hash, not a
    # groupBy + self-semi-join: the join shape evaluated the whole occ
    # subtree TWICE - once as the count build, once as the probe - and
    # shuffled both sides; the window pays ONE occ evaluation and ONE
    # shuffle (round-12 profiling: 22.0 -> 13.2 s at sf10, identical
    # output). Skew note: a corpus-hot shingle lands its occurrences in
    # one window partition, the same placement the sort-merge probe side
    # had - bounded by the max shingle frequency either way (the o50
    # band index remains the tool for adversarial boilerplate).
    wh = Window.partitionBy("_h")
    starts = (occ.withColumn("_n", F.count(F.lit(1)).over(wh))
              .where(F.col("_n") >= min_count)
              .select(F.col(id_col), F.col("_pos")))
    spans = starts.groupBy(id_col).agg(
        F.collect_list("_pos").alias("_starts"))
    # AQE broadcasts the starts arrays while they are small (the natural-
    # corpus case: only duplicated spans survive); a pathological fully-
    # duplicated corpus degrades to a sort-merge join - token-volume
    # rows, never quadratic
    joined = df.select(F.col(id_col), F.col(text_col)) \
               .join(spans, id_col, "left")

    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    out_schema = StructType([df.schema[id_col],
                             StructField("text", StringType(), False),
                             StructField("n_tokens", LongType(), False),
                             StructField("n_removed_tokens", LongType(),
                                         False)])
    kk, mst = int(k), int(min_span_tokens)

    def excise(batches):
        import re as _re

        import numpy as np
        import pandas as pd

        split = _re.compile(r"\s+", _re.ASCII).split
        for pdf in batches:
            texts, ns, nrs = [], [], []
            for t, st in zip(pdf[text_col], pdf["_starts"]):
                toks = ([x for x in split(t) if x]
                        if isinstance(t, str) else [])
                n = len(toks)
                if n == 0 or st is None or not len(st):
                    texts.append(" ".join(toks))
                    ns.append(n)
                    nrs.append(0)
                    continue
                s = np.asarray(st, dtype=np.int64)
                diff = np.zeros(n + 1, dtype=np.int64)
                np.add.at(diff, s, 1)
                np.add.at(diff, np.minimum(s + kk, n), -1)
                cov = np.cumsum(diff[:n]) > 0
                if mst > 1:
                    # maximal covered runs; excise only runs >= mst long
                    d = np.diff(np.concatenate(
                        ([0], cov.astype(np.int8), [0])))
                    run_s = np.nonzero(d == 1)[0]
                    run_e = np.nonzero(d == -1)[0]  # exclusive ends
                    x = np.zeros(n, dtype=bool)
                    for a, b in zip(run_s, run_e):
                        if b - a >= mst:
                            x[a:b] = True
                else:
                    x = cov
                texts.append(" ".join(
                    tk for tk, rm in zip(toks, x) if not rm))
                ns.append(n)
                nrs.append(int(x.sum()))
            yield pd.DataFrame({
                id_col: pdf[id_col], "text": texts,
                "n_tokens": np.asarray(ns, dtype=np.int64),
                "n_removed_tokens": np.asarray(nrs, dtype=np.int64)})

    return joined.mapInPandas(excise, out_schema)


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        shingle_k: int = DEFAULT_SHINGLE_K,
                        tau: float = 0.2,
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity via shingle-set self-join:
    J(A,B) = |A∩B| / (|A|+|B|-|A∩B|) >= tau, id_a < id_b.

    ``max_df`` is the hot-shingle guard (the last pair generator without
    one): a boilerplate shingle shared by m documents contributes m² rows
    to the self-join — quadratic in the hottest key — while adding almost
    no discriminative signal to Jaccard. With max_df set, shingles whose
    document frequency exceeds it are dropped from BOTH the intersection
    and the per-document set sizes (so the ratio stays a true Jaccard
    over the filtered shingle space — the standard max-df trick from
    TF-IDF/dedup practice, an approximation of the unfiltered score).
    None (default) preserves exact semantics — the oracle face."""
    sh = (exploded_shingles(df, text_col, id_col, shingle_k)
          .where(F.col("shingle").isNotNull())
          .dropDuplicates([id_col, "shingle"])
          .select(F.col(id_col), F.col("shingle").alias("sh")))
    if max_df is not None:
        if max_df < 2:
            raise ValueError("max_df must be >= 2 (pairs need 2 docs)")
        dfreq = (sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
                 .where(F.col("_df") <= max_df).select("sh"))
        sh = sh.join(dfreq, "sh")
    # Per-document set sizes ride a COUNT WINDOW on the shingle frame
    # instead of a separate groupBy + two post-intersection join-backs:
    # the join shape evaluated the whole shingle subtree (explode + lead
    # window + per-doc dedup shuffle) a THIRD time just to count set
    # sizes (r14 subtree auditor: x2-x4 on o05's plan), and then joined
    # the pair list twice to attach them. The window pays the same
    # id-keyed shuffle the groupBy did, the sizes travel through the
    # self-join as one long column per side, and min() in the pair
    # aggregate recovers them (constant per id by construction). The two
    # remaining evaluations are the self-join's own sides — inherent to
    # an exact set-intersection join (shared-subtree law boundary: the
    # shingle frame is TOKEN-volume, not codes-volume, so materializing
    # it is the wrong trade at 100 TB).
    from pyspark.sql import Window
    sh = sh.withColumn("_sz", F.count(F.lit(1)).over(
        Window.partitionBy(id_col)))
    a = sh.select(F.col(id_col).alias("id_a"), "sh",
                  F.col("_sz").alias("sz_a"))
    b = sh.select(F.col(id_col).alias("id_b"), "sh",
                  F.col("_sz").alias("sz_b"))
    inter = (a.join(b, ["sh"])
             .where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("inter"),
                  F.min("sz_a").alias("sz_a"),
                  F.min("sz_b").alias("sz_b")))
    return (inter
            .select("id_a", "id_b",
                    (F.col("inter")
                     / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
                    .alias("jaccard"))
            .where(F.col("jaccard") >= tau))


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 25) -> DataFrame:
    """Cluster candidate pairs into connected components: (id, rep) with
    rep = the minimum id reachable from `id` — the standard tail of a
    near-dup pipeline (LSH pairs -> clusters -> keep one survivor per
    cluster, rep being the canonical survivor).

    Distributed label propagation with pointer jumping: each round takes
    the min over (own label, neighbors' labels, label-of-label). Plain
    neighbor-min needs diameter rounds; the pointer-jump join halves long
    chains each round (log-diameter convergence — the same idea as
    map-reduce CC algorithms a la Kiveris et al.), and near-dup clusters
    are dense, so real corpora converge in a handful of rounds. Each round
    is two bounded joins + a groupBy on edge endpoints; labels are
    localCheckpoint'ed per round so lineage (and thus plan size) stays
    constant — the loop is driver-side CONTROL only, all data stays
    distributed. Raises RuntimeError if max_iter rounds don't converge
    (pathological graph, not a corpus shape).

    Small-graph fast path: a round costs ~6 Spark jobs of pure scheduling,
    so when the symmetrized edges' Arrow collect and codes fit the driver
    budget (``cost.driver_fits``; 80 MB is 5M edges, ~1 s of numpy), a
    driver-side union-find solves them, with identical output. The check
    comes first: one aggregate over the checkpointed edges counts them and
    sums the bytes of string ids, so wide ids (URLs) admit fewer edges.
    Even the sf10 SemDeDup pair set is 3.4M symmetrized edges."""
    # Symmetrize by EXPLODE, not self-union: a union evaluates the whole
    # `pairs` subtree twice (Spark has no automatic subtree reuse), and
    # pairs is the expensive side (for LSH input: shingle -> minhash ->
    # band -> bucket join). One explode doubles rows map-side.
    #
    # Partitioning edges on the join key up front lets the per-round join
    # skip its Exchange only with AQE off; under AQE the checkpoint's
    # coalesced partitioning no longer satisfies the join, which
    # re-exchanges anyway (measured, see test_plans.py), so AQE owns it.
    edges = (pairs.select(F.explode(F.array(
                F.struct(F.col(id_a).alias("a"), F.col(id_b).alias("b")),
                F.struct(F.col(id_b).alias("a"), F.col(id_a).alias("b"))))
                .alias("e"))
             .select("e.a", "e.b")
             .distinct().localCheckpoint(eager=True))
    if driver_fits(edges)[1]:
        return _driver_union_find(pairs.sparkSession, edges)
    labels = (edges.select(F.col("a").alias("id")).distinct()
              .select("id", F.col("id").alias("rep"))
              .localCheckpoint(eager=True))
    for _ in range(max_iter):
        nbr = (edges.join(labels.select(F.col("id").alias("b"),
                                        F.col("rep").alias("brep")), "b")
               .groupBy("a").agg(F.min("brep").alias("nrep"))
               .select(F.col("a").alias("id"), "nrep"))
        stepped = (labels.join(nbr, "id", "left")
                   .select("id", F.least("rep", F.coalesce("nrep", "rep"))
                           .alias("rep")))
        jumped = (stepped.join(labels.select(F.col("id").alias("rep"),
                                             F.col("rep").alias("rrep")),
                               "rep")
                  .select("id", F.least("rep", "rrep").alias("rep")))
        new_labels = jumped.localCheckpoint(eager=True)
        changed = (new_labels.join(labels.select("id",
                                                 F.col("rep").alias("old")),
                                   "id")
                   .where(F.col("rep") != F.col("old")).count())
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components did not converge "
                       f"in {max_iter} rounds")


def _driver_union_find(spark, edges: DataFrame) -> DataFrame:
    """(id, rep) for a symmetrized edge set whose Arrow collect fits the
    driver budget, vectorized. Min-label propagation over value-sorted
    node codes (Arrow sorts strings by their bytes, as Spark compares
    them, so the smaller code is the smaller id): each sweep hooks the
    larger endpoint label to the smaller (`np.minimum.at`) and fully
    path-compresses by pointer doubling, so labels shrink to the component
    minimum, the loop's rep, in O(log diameter) sweeps."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql.types import StructField, StructType

    id_type = edges.schema["a"].dataType
    out = StructType([StructField("id", id_type),
                      StructField("rep", id_type)])
    tbl = edges.toArrow()
    n = tbl.num_rows
    if n == 0:
        return spark.createDataFrame([], out)
    ends = pa.concat_arrays([tbl[c].combine_chunks() for c in ("a", "b")])
    # value-sorted codes: code order == id order, so min code == min id
    uniq = pc.unique(ends)
    uniq = uniq.take(pc.sort_indices(uniq))
    codes = pc.index_in(ends, value_set=uniq).to_numpy()
    ea, eb = codes[:n], codes[n:]
    parent = np.arange(len(uniq), dtype=np.int64)
    while True:
        ra, rb = parent[ea], parent[eb]        # hook larger root to smaller
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:                            # pointer-doubling compression
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp
        if np.array_equal(parent[ea], parent[eb]):
            break
    return spark.createDataFrame(
        pa.table({"id": uniq, "rep": uniq.take(parent)}), out)


def apply_dedup(df: DataFrame, clusters: DataFrame, id_col: str) -> DataFrame:
    """Materialize the deduplicated corpus: drop every row whose id appears
    in `clusters` (connected_components output) with rep != id — i.e. keep
    cluster survivors and all never-paired rows. One broadcast-or-shuffle
    anti-join against the (tiny relative to the corpus) non-survivor list;
    the corpus itself is never collected or re-keyed."""
    losers = clusters.where(F.col("rep") != F.col("id")).select("id")
    return df.join(losers.withColumnRenamed("id", id_col), id_col,
                   "left_anti")


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, e: acc + e)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, e: acc + e))


def embedding_cosine_pairs(df: DataFrame, vec_col: str, id_col: str,
                           tau: float = 0.95) -> DataFrame:
    """Exact near-duplicate pairs by cosine >= tau. O(n^2) — the baseline /
    verifier; use similarity.lsh_bucketed at scale."""
    dbl = df.select(F.col(id_col),
                    F.transform(F.col(vec_col),
                                lambda x: x.cast("double")).alias("v"))
    withn = dbl.withColumn("n", _norm(F.col("v")))
    a = withn.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"),
                     F.col("n").alias("na"))
    b = withn.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
                     F.col("n").alias("nb"))
    return (a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    (_dot(F.col("va"), F.col("vb"))
                     / (F.col("na") * F.col("nb"))).alias("cosine"))
            .where(F.col("cosine") >= tau))
