"""Similarity search over an embedding column (array<float>).

Two paths:
- brute-force cosine top-k: exact, one crossJoin + per-query window. The
  correctness baseline and the small-query-set path (broadcast queries).
- LSH-bucketed top-k: sign-random-projection buckets (deterministic seeded
  hyperplanes) shrink the candidate set; exact cosine re-rank inside the
  bucket. The 100 TB path: candidates shuffle on bucket signature instead
  of the full cross product. Multi-probe (n_probes > 1) additionally probes
  the buckets reached by flipping the query's lowest-|margin| signature
  bits — the planes the query is least confidently on one side of — which
  raises recall without touching the data side: each data row still carries
  ONE bucket; probe multiplicity lives on the tiny broadcast query side.
  tests/test_similarity_recall.py measures recall vs the exact baseline.

Hyperplanes are generated from a seeded PRNG and embedded as plan literals
(JVM-side arithmetic), so the DuckDB oracle can embed the exact same
constants — results are bit-comparable.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.hashing import portable_hash32
from .dedup import _dot, _norm

DEFAULT_DIM = 64
DEFAULT_N_PLANES = 8


def cap_buckets(banded: DataFrame, keys: list[str], id_col: str,
                max_bucket: int) -> DataFrame:
    """Hot-bucket guard for ANN candidate generation: keep at most
    ``max_bucket`` rows per bucket, chosen deterministically by a secondary
    id-hash ranking (ties by id). On a boilerplate-heavy 100 TB corpus a
    hot bucket holds 1e5+ near-identical vectors; joining all of them to
    every probing query is quadratic-in-bucket work for near-zero recall
    gain — deterministic truncation is the standard practice (cf. IVF/LSH
    bucket caps in ANN systems). The rank is a per-bucket sort: O(m log m)
    on the hot partition vs the O(m * queries) join it prevents; hash-based
    order makes the kept subset a uniform sample, not a prefix of ids."""
    w = Window.partitionBy(*keys).orderBy(
        portable_hash32(F.col(id_col).cast("string")).asc(),
        F.col(id_col).asc())
    return (banded.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= max_bucket).drop("_rn"))


def random_hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit-free hyperplanes; +-1 entries keep the literal SQL
    small and the dot products exact in both engines."""
    rng = random.Random(seed)
    return [[float(rng.choice((-1, 1))) for _ in range(dim)]
            for _ in range(n_planes)]


def _as_double(vec_col):
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def srp_near_dup_pairs(df: DataFrame, vec_col: str, id_col: str,
                       tau: float = 0.95,
                       n_planes: int = DEFAULT_N_PLANES,
                       dim: int = DEFAULT_DIM, seed: int = 42,
                       n_tables: int = 1,
                       max_bucket: int | None = None,
                       kernel: str = "expr") -> DataFrame:
    """Scale path for embedding near-duplicate detection: the LSH twin of
    dedup.embedding_cosine_pairs (which is O(n^2) crossJoin by design — the
    verifier). Candidate pairs are rows colliding in any of L sign-random-
    projection hash tables (same OR-construction and seeded plane literals
    as lsh_bucketed_topk); every candidate is then re-scored with the EXACT
    cosine and filtered at tau, so the output is a subset of the exact
    operator's pairs — precision 1.0, recall = P(bucket collision), which
    rises with n_tables and falls with n_planes.

    Scale shape (100 TB): the self-join shuffles slim (id, table, bucket)
    rows — never the embeddings, never a cross product; vectors are joined
    back only for the deduped candidate set. Per-bucket work is quadratic
    in bucket size, so `max_bucket` (cap_buckets truncation) is the skew
    guard for corpora with many identical-direction vectors.

    Returns (id_a, id_b, cosine) with id_a < id_b — o06's exact schema.
    tests/test_similarity_recall.py measures pair recall vs the exact
    baseline.

    Two scoring kernels, identical pair semantics:

    - ``kernel="expr"`` (default): slim (id, tbl, bk) self-join →
      cross-table distinct → vectors joined back → per-pair expression
      cosine. Left-to-right float summation, bit-identical to the DuckDB
      oracle — the correctness face. Every candidate pair becomes a Spark
      row BEFORE the tau filter; at permissive tau the candidate set is
      100× the survivor set and dominates wall-clock (measured: 17 M
      candidates → 218 k pairs at sf3).
    - ``kernel="gram"``: vectors ride the banding explode; ONE shuffle on
      (tbl, bk), then one BLAS gram matmul per bucket (operators/gram.py)
      emits only pairs >= tau; cross-table dedup happens AFTER the tau
      filter on the ~100×-smaller survivor set (max(cosine) keeps the
      value deterministic should ulp-differing bucket layouts disagree).
      The production scale path; cosines agree with the expression path
      to the last ~ulp.
    - ``kernel="auto"``: picks between them by input volume
      (rows × n_tables × dim vs gram.AUTO_EXPR_MAX_VOLUME) so small
      inputs skip the fixed Arrow/applyInPandas tax — costs one slim
      EAGER count job at plan-construction time (not lazy; streaming
      inputs skip it and resolve to "gram")."""
    from .gram import resolve_pair_kernel
    kernel = resolve_pair_kernel(df, vec_col, kernel, copies=n_tables)
    tables = table_planes(n_planes, dim, seed, n_tables)
    base = (df.select(F.col(id_col), _as_double(vec_col).alias("v"))
            .withColumn("n", _norm(F.col("v"))))
    band_structs = F.array(*[
        F.struct(F.lit(t).alias("tbl"),
                 _bucket_expr("v", pl).alias("bk"))
        for t, pl in enumerate(tables)])
    if kernel == "gram":
        from .gram import gram_group_pairs
        banded = (base.select(F.col(id_col), "v",
                              F.explode(band_structs).alias("b"))
                  .select(id_col, "v", F.col("b.tbl").alias("tbl"),
                          F.col("b.bk").alias("bk")))
        if max_bucket is not None:
            banded = cap_buckets(banded, ["tbl", "bk"], id_col, max_bucket)
        scored = gram_group_pairs(banded, ["tbl", "bk"], id_col, "v", tau)
        if n_tables > 1:
            scored = (scored.groupBy("id_a", "id_b")
                      .agg(F.max("cosine").alias("cosine")))
        return scored.select("id_a", "id_b", "cosine")
    if kernel != "expr":
        raise ValueError(f"unknown pair kernel: {kernel!r}")
    banded = (base.select(F.col(id_col), F.explode(band_structs).alias("b"))
              .select(id_col, F.col("b.tbl").alias("tbl"),
                      F.col("b.bk").alias("bk")))
    if max_bucket is not None:
        banded = cap_buckets(banded, ["tbl", "bk"], id_col, max_bucket)
    right = banded.select(F.col(id_col).alias("_rid"),
                          F.col("tbl").alias("_rtbl"),
                          F.col("bk").alias("_rbk"))
    pairs = (banded.join(right, (F.col("tbl") == F.col("_rtbl"))
                         & (F.col("bk") == F.col("_rbk"))
                         & (F.col(id_col) < F.col("_rid")))
             .select(F.col(id_col).alias("id_a"), F.col("_rid").alias("id_b")))
    if n_tables > 1:
        pairs = pairs.distinct()
    a = base.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"),
                    F.col("n").alias("na"))
    b = base.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
                    F.col("n").alias("nb"))
    return (pairs.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b",
                    (_dot(F.col("va"), F.col("vb"))
                     / (F.col("na") * F.col("nb"))).alias("cosine"))
            .where(F.col("cosine") >= tau))


def cosine_topk(df: DataFrame, vec_col: str, id_col: str,
                query_ids: list[int], k: int = 5) -> DataFrame:
    """Exact top-k neighbors for the given query ids (excluding self).
    Queries are a tiny broadcast side; candidates never collect."""
    base = df.select(F.col(id_col), _as_double(vec_col).alias("v")) \
             .withColumn("n", _norm(F.col("v")))
    q = base.where(F.col(id_col).isin(query_ids)) \
            .select(F.col(id_col).alias("query_id"), F.col("v").alias("qv"),
                    F.col("n").alias("qn"))
    scored = (base.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
              .select("query_id", F.col(id_col).alias("neighbor_id"),
                      (_dot(F.col("qv"), F.col("v"))
                       / (F.col("qn") * F.col("n"))).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


# Plane literals are embedded as ONE parsed SQL expression (array-of-arrays
# literal + higher-order functions) instead of thousands of Python-built
# literal Column nodes: with L=10 tables x 64-dim planes the unrolled tree
# made DataFrame construction/analysis dominate wall-clock (10s of a 14s
# query at sf0.1; measured). The SQL form is ~5x faster to build and
# bit-identical: the dot product is the same zip_with-multiply +
# sequential-aggregate-add, so float semantics (and the DuckDB oracle
# parity) are unchanged.

def _sql_planes_lit(planes: list[list[float]]) -> str:
    return "array(" + ",".join(
        "array(" + ",".join(repr(x) + "D" for x in p) + ")"
        for p in planes) + ")"


def _bucket_sql(vname: str, planes: list[list[float]]) -> str:
    """Bucket id = bit vector of sign(v . r_i): one parsed expression."""
    pl = _sql_planes_lit(planes)
    return (f"aggregate(sequence(0, {len(planes) - 1}), 0L, (acc, i) -> acc"
            f" + shiftleft(CAST(aggregate(zip_with({vname}, "
            f"element_at({pl}, i + 1), (x, y) -> x * y), 0.0D, "
            f"(a, b) -> a + b) > 0.0D AS BIGINT), i))")


def _plane_dots_sql(vname: str, planes: list[list[float]]) -> str:
    """array<double> of v . r_i over the hyperplanes (SQL expression)."""
    pl = _sql_planes_lit(planes)
    return (f"transform({pl}, p -> aggregate(zip_with({vname}, p, "
            f"(x, y) -> x * y), 0.0D, (a, b) -> a + b))")


def table_planes(n_planes: int, dim: int, seed: int, n_tables: int):
    """Hyperplane sets for L independent hash tables. Table 0 uses `seed`
    verbatim so n_tables=1 is byte-identical to the original single-table
    signature (o08 oracle parity)."""
    return [random_hyperplanes(n_planes, dim, seed if t == 0 else seed + 7919 * t)
            for t in range(n_tables)]


def _bucket_expr(vname: str, planes):
    """Bucket signature of the vector column named `vname`."""
    return F.expr(_bucket_sql(vname, planes))


def lsh_bucketed_topk(df: DataFrame, vec_col: str, id_col: str,
                      query_ids: list[int], k: int = 5,
                      n_planes: int = DEFAULT_N_PLANES,
                      dim: int = DEFAULT_DIM, seed: int = 42,
                      n_probes: int = 1, n_tables: int = 1,
                      max_bucket: int | None = None) -> DataFrame:
    """Approximate top-k: exact cosine re-rank restricted to the buckets the
    query probes. All joins are bucket-equality — linear shuffle, no cross
    product.

    Recall knobs (both leave the re-rank exact; they only widen the
    candidate set):
    - n_tables (OR-construction): L independent hash tables of n_planes
      each — P(candidate) = 1-(1-p^b)^L for per-plane agreement p. The data
      side explodes to (id, table, bucket) — slim keys only, the same
      shape as the MinHash band join — so shuffle payload is L small rows
      per vector, never L copies of the embedding.
    - n_probes (multi-probe): per table, additionally probe the buckets
      reached by flipping the query's lowest-|margin| signature bits (the
      planes the query is least confidently on one side of). Probe
      multiplicity lives on the tiny broadcast query side only.

    Candidate (query, neighbor) pairs are deduped BEFORE vectors are joined
    back for scoring, so the exact-cosine work is once per distinct pair.
    tests/test_similarity_recall.py measures recall vs the exact baseline.

    max_bucket (hot-bucket skew guard, see cap_buckets): data-side buckets
    are deterministically truncated to this many rows before the probe
    join, bounding per-bucket candidate fan-out on skewed corpora. None
    (default) disables the guard."""
    if not 1 <= n_probes <= n_planes + 1:
        raise ValueError(f"n_probes must be in [1, {n_planes + 1}]")
    tables = table_planes(n_planes, dim, seed, n_tables)
    base = (df.select(F.col(id_col), _as_double(vec_col).alias("v"))
            .withColumn("n", _norm(F.col("v"))))
    band_structs = F.array(*[
        F.struct(F.lit(t).alias("tbl"),
                 _bucket_expr("v", pl).alias("bk"))
        for t, pl in enumerate(tables)])
    banded = (base.select(F.col(id_col), F.explode(band_structs).alias("b"))
              .select(id_col, F.col("b.tbl").alias("tbl"),
                      F.col("b.bk").alias("bk")))
    if max_bucket is not None:
        banded = cap_buckets(banded, ["tbl", "bk"], id_col, max_bucket)
    q = base.where(F.col(id_col).isin(query_ids)) \
            .select(F.col(id_col).alias("query_id"), F.col("v").alias("qv"),
                    F.col("n").alias("qn"))
    # F.shiftleft needs a Python-int amount: look powers up by index instead
    pow2 = F.array(*[F.lit(1 << j).cast("long") for j in range(n_planes)])
    probe_structs = []
    for t, pl in enumerate(tables):
        qb = _bucket_expr("qv", pl)
        probe_structs.append(F.struct(F.lit(t).alias("tbl"), qb.alias("bk")))
        if n_probes > 1:
            # sort planes by |margin| ascending, ties by plane index — both
            # deterministic in Spark's struct comparison (field order)
            margins = F.expr(
                f"array_sort(transform(sequence(0, {n_planes - 1}), "
                f"i -> named_struct('m', "
                f"abs(element_at({_plane_dots_sql('qv', pl)}, i + 1)), "
                f"'i', i)))")
            for p in range(1, n_probes):
                flip_i = F.element_at(margins, p)["i"]
                probe_structs.append(F.struct(
                    F.lit(t).alias("tbl"),
                    qb.bitwiseXOR(F.element_at(pow2, flip_i + 1)).alias("bk")))
    qprobes = (q.select("query_id", F.explode(F.array(*probe_structs)).alias("b"))
               .select("query_id", F.col("b.tbl").alias("tbl"),
                       F.col("b.bk").alias("bk")))
    cand = (banded.join(F.broadcast(qprobes), ["tbl", "bk"])
            .where(F.col(id_col) != F.col("query_id"))
            .select("query_id", F.col(id_col).alias("neighbor_id")))
    if n_tables > 1:
        # a pair can collide in several tables; single-bit probes within one
        # table are pairwise distinct, so only the OR over tables needs dedup
        cand = cand.distinct()
    scored = (cand
              .join(base.select(F.col(id_col).alias("neighbor_id"), "v", "n"),
                    "neighbor_id")
              .join(F.broadcast(q), "query_id")
              .select("query_id", "neighbor_id",
                      (_dot(F.col("qv"), F.col("v"))
                       / (F.col("qn") * F.col("n"))).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


# -- Johnson-Lindenstrauss random projection ---------------------------------

def rp_sign_matrix(in_dim: int, out_dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic +-1 sign matrix (Achlioptas 2003: database-friendly
    random projections — signs suffice for JL guarantees), generated from
    a seeded PRNG exactly like the SRP hyperplanes so both engines embed
    identical constants. Column-major: out_dim lists of in_dim signs."""
    rng = random.Random(seed)
    return [[1.0 if rng.random() < 0.5 else -1.0 for _ in range(in_dim)]
            for _ in range(out_dim)]


def random_projection(df: DataFrame, vec_col: str, id_col: str,
                      out_dim: int = 16, in_dim: int = DEFAULT_DIM,
                      seed: int = 7) -> DataFrame:
    """JL dimensionality reduction: y_j = round6(sum_i x_i * s_ij /
    sqrt(out_dim)) — the 1/sqrt(k) normalization that preserves expected
    squared norms (E||y||^2 = ||x||^2) — the shrink-before-ANN step (a 64->16 reduction cuts
    every downstream distance computation and shuffle payload 4x while
    approximately preserving pairwise distances).

    Map-only: the sign matrix rides as plan literals (the
    SRP-hyperplane/IVF-codebook idiom), each output dim is one
    zip_with+aggregate expression pair evaluated left-to-right — the same
    sequential order DuckDB's list functions use, with round6 guarding the
    last ulp, so the oracle matches bit-for-bit. Returns (id, y) with y
    array<double> of out_dim."""
    from .text import round6
    signs = rp_sign_matrix(in_dim, out_dim, seed)
    scale = 1.0 / (out_dim ** 0.5)
    ys = []
    for j in range(out_dim):
        sj = F.array(*[F.lit(s) for s in signs[j]])
        acc = F.aggregate(
            F.zip_with(F.col(vec_col).cast("array<double>"), sj,
                       lambda x, s: x * s),
            F.lit(0.0), lambda a, e: a + e)
        ys.append(round6(acc * F.lit(scale)))
    return df.select(F.col(id_col), F.array(*ys).alias("y"))


def sql_random_projection_cte(table: str, vec_col: str, id_col: str,
                              out_dim: int = 16, in_dim: int = DEFAULT_DIM,
                              seed: int = 7, name: str = "rp") -> str:
    """DuckDB twin CTE `name`(id, y): same literal signs, same sequential
    fold (list_reduce over the zipped products), same round6."""
    from .text import sql_round6
    signs = rp_sign_matrix(in_dim, out_dim, seed)
    scale = 1.0 / (out_dim ** 0.5)
    dims = []
    for j in range(out_dim):
        sj = "[" + ", ".join(f"{s!r}" for s in signs[j]) + "]"
        prod = (f"list_transform(list_zip({vec_col}::DOUBLE[], {sj}), "
                f"p -> p[1] * p[2])")
        acc = f"list_reduce(list_prepend(0.0, {prod}), (a, v) -> a + v)"
        dims.append(sql_round6(f"({acc} * {scale!r})"))
    return (f"{name} AS (SELECT {id_col}, [{', '.join(dims)}] AS y "
            f"FROM {table})")
