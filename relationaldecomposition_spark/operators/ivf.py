"""IVF (inverted-file) approximate-nearest-neighbor search over an
embedding column — the classic coarse-quantizer ANN structure (Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011, §III-A),
complementing the SRP-LSH path in operators/similarity.py.

Spark-first design, built for the 100 TB shape:

- **Centroids are tiny and deterministic.** The coarse codebook is either
  seed rows (vectors of a fixed id list — oracle-expressible, bit-stable)
  or those seeds refined by distributed Lloyd iterations. Either way the
  codebook is O(n_cells · dim) — a driver-side constant like a broadcast
  dim table, embedded into the plan as literals.
- **Assignment is map-only.** cell(v) = argmin over centroids of
  ||v - c||², computed as a single expression (array_sort over
  (distance, cell-id) structs — the same struct-ordering idiom as the
  multi-probe LSH margin sort, proven cross-engine by o15). No join, no
  shuffle: a 100 TB scan assigns in one pass and can be written out
  partitioned by cell.
- **Probing is broadcast-side.** Each query probes its n_probes nearest
  cells; the candidate join is an equi-join on cell with the tiny probe
  set broadcast — linear shuffle, no cross product, exactly the
  LSH-bucket join shape.
- **Re-rank is exact.** Cosine over the candidate set only.

Each data row lands in exactly ONE cell (unlike multi-table LSH), so
candidate pairs need no dedup. Recall is tuned by n_probes/n_cells;
probing every cell recovers the exact result (pinned by
tests/test_ivf.py). Lloyd refinement never collects data rows: the
per-cell/per-dimension means reduce distributively (posexplode →
groupBy(cell, dim) → re-collect ordered), and only the n_cells new
centroids come back to the driver — the same "scalar-sized result"
contract as the entropy engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..engine.cost import plan_bytes
from .dedup import _dot, _norm


def _as_double(vec_col: str) -> Column:
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def _fresh(df: DataFrame) -> DataFrame:
    """Re-project a caller-provided frame through fresh UnresolvedAttributes
    (`select("*")` would short-circuit to the cached analyzed plan). One
    layer of the self-join-safety recipe — see _flat_base for the bug this
    family works around; Catalyst collapses the extra projection, so the
    physical plan is unchanged."""
    return df.select(*[F.col(c) for c in df.columns])


def seed_centroids(df: DataFrame, vec_col: str, id_col: str,
                   centroid_ids: list[int]) -> list[tuple[int, list[float]]]:
    """Codebook from fixed seed rows: [(cell_id, vector)] where cell_id IS
    the seed row's id (keeps both engines' tie-breaks aligned). The collect
    is n_cells rows — codebook-sized, not data-sized."""
    rows = (df.where(F.col(id_col).isin(centroid_ids))
            .select(F.col(id_col).alias("cid"), _as_double(vec_col).alias("cv"))
            .collect())
    got = {r["cid"]: [float(x) for x in r["cv"]] for r in rows}
    missing = [i for i in centroid_ids if i not in got]
    if missing:
        raise ValueError(f"centroid ids not found in {id_col}: {missing}")
    return [(i, got[i]) for i in centroid_ids]


def _dist_structs(vname: str, centroids: list[tuple[int, list[float]]]) -> Column:
    """array<struct<d: double, cell: int>> sorted ascending by (distance,
    cell id) — struct field order gives the deterministic tie-break.

    The codebook is embedded as ONE parsed SQL literal (array of (cell,
    vector) structs), not n_cells·dim Python-built literal nodes — same
    construction-cost fix as similarity._bucket_sql, same float semantics
    (zip_with squared-diff, left-to-right aggregate add — the same
    summation order as DuckDB's list_sum, bit-for-bit).

    The distance lambdas are built with the PYTHON HOF API over that
    parsed constant, never F.expr-parsed: a fully parsed lambda tree
    (`transform(..., c -> aggregate(zip_with(v, ...)))`) holds resolved
    outer references that DeduplicateRelations fails to rewrite inside
    LambdaFunction nodes — self-joining any frame carrying such a column
    dies at runtime with [INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND] "Could not
    find v#N" once the source has been analyzed before (semdedup_pairs
    after a prior count was the repro). API-built lambdas re-resolve
    cleanly; the parsed part is a pure literal with no references."""
    cents = F.expr("array(" + ",".join(
        f"named_struct('cell', {int(cid)}, 'cv', "
        f"array({','.join(repr(float(x)) + 'D' for x in c)}))"
        for cid, c in centroids) + ")")
    v = F.col(vname)
    return F.array_sort(F.transform(cents, lambda c: F.struct(
        F.aggregate(F.zip_with(v, c["cv"], lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda a, b: a + b).alias("d"),
        c["cell"].alias("cell"))))


def assign_cells(df: DataFrame, vec_col: str, id_col: str,
                 centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """(id, cell): nearest-centroid assignment as a map-only expression."""
    return (df.select(F.col(id_col), _as_double(vec_col).alias("_v"))
            .select(F.col(id_col),
                    F.element_at(_dist_structs("_v", centroids), 1)["cell"]
                     .alias("cell")))


def lloyd_refine(df: DataFrame, vec_col: str, id_col: str,
                 centroids: list[tuple[int, list[float]]],
                 iters: int = 1,
                 kernel: str = "expr") -> list[tuple[int, list[float]]]:
    """Distributed Lloyd iterations: assign (map-only) → per-cell/per-dim
    mean (posexplode + groupBy(cell, dim), shuffle of n_cells·dim rows) →
    collect the n_cells new centroids. Empty cells keep their previous
    centroid (standard k-means convention).

    Reproducibility: F.avg sums floats in shuffle-arrival order, so
    Lloyd-refined centroids are deterministic only up to floating-point
    summation order — reproducible to ~1 ulp across runs/partitionings, not
    bit-identical. The seed codebook path (lloyd_iters=0, the o16 oracle
    path) embeds centroids as plan literals and IS bit-stable.

    ``kernel="np"`` uses the BLAS argmin (_np_assigned) for the
    per-iteration assignment — the production face once the codebook
    follows the cells∝rows sizing law (the literal argmin is an
    interpreted O(cells·dim)-per-row expression)."""
    if kernel not in ("expr", "np"):
        raise ValueError(f"unknown assignment kernel: {kernel!r}")
    dim = len(centroids[0][1])
    for _ in range(iters):
        if kernel == "np":
            assigned = _np_assigned(df, vec_col, id_col, centroids) \
                .select("v", "cell")
        else:
            assigned = (df.select(_as_double(vec_col).alias("v"))
                        .select("v", F.element_at(
                            _dist_structs("v", centroids), 1)["cell"]
                            .alias("cell")))
        means = (assigned
                 .select("cell", F.posexplode("v").alias("dim", "x"))
                 .groupBy("cell", "dim").agg(F.avg("x").alias("m"))
                 .groupBy("cell")
                 .agg(F.array_sort(F.collect_list(F.struct("dim", "m")))
                      .alias("dm"))
                 .select("cell",
                         F.transform("dm", lambda s: s["m"]).alias("cv"))
                 .collect())
        new = {r["cell"]: [float(x) for x in r["cv"]] for r in means}
        centroids = [(cid, new.get(cid, cv)) for cid, cv in centroids]
        if any(len(v) != dim for _, v in centroids):  # pragma: no cover
            raise RuntimeError("lloyd refinement changed vector width")
    return centroids


def ivf_topk(df: DataFrame, vec_col: str, id_col: str,
             query_ids: list[int], k: int = 5,
             centroid_ids: list[int] | None = None,
             centroids: list[tuple[int, list[float]]] | None = None,
             n_probes: int = 4, lloyd_iters: int = 0,
             kernel: str = "expr") -> DataFrame:
    """Approximate top-k via IVF: exact cosine re-rank restricted to the
    n_probes cells nearest each query. Pass either `centroid_ids` (seed
    rows, optionally Lloyd-refined) or a prebuilt `centroids` codebook.

    Plan shape: data side is scan → map-only cell assignment; query side is
    a codebook-sized broadcast; ONE equi-join on cell; window top-k. With
    ``kernel="expr"`` (default, the oracle face) the data-side argmin is
    the literal codebook expression — O(n_cells · dim) interpreted HOF
    visits per row, fine for gate-sized codebooks; ``kernel="np"`` swaps
    in the BLAS argmin (_np_assigned, mapInPandas) whose per-visit cost is
    a fused multiply-add — the production face once the codebook follows
    the cells∝rows sizing law. The tiny query side always uses the
    literal probe expression."""
    if centroids is None:
        if not centroid_ids:
            raise ValueError("need centroid_ids or centroids")
        centroids = seed_centroids(df, vec_col, id_col, centroid_ids)
        if lloyd_iters:
            centroids = lloyd_refine(df, vec_col, id_col, centroids,
                                     lloyd_iters)
    if not 1 <= n_probes <= len(centroids):
        raise ValueError(f"n_probes must be in [1, {len(centroids)}]")
    base = (df.select(F.col(id_col), _as_double(vec_col).alias("v"))
            .withColumn("n", _norm(F.col("v"))))
    if kernel == "np":
        data = (_np_assigned(df, vec_col, id_col, centroids)
                .withColumn("n", _norm(F.col("v"))))
    elif kernel == "expr":
        data = base.withColumn(
            "cell", F.element_at(_dist_structs("v", centroids), 1)["cell"])
    else:
        raise ValueError(f"unknown assignment kernel: {kernel!r}")
    q = base.where(F.col(id_col).isin(query_ids)) \
            .select(F.col(id_col).alias("query_id"), F.col("v").alias("qv"),
                    F.col("n").alias("qn"))
    qprobes = (q.select("query_id",
                        F.explode(F.slice(_dist_structs("qv", centroids),
                                          1, n_probes)).alias("p"))
               .select("query_id", F.col("p.cell").alias("cell")))
    # each data row lives in ONE cell and a query's probed cells are
    # distinct, so (query, neighbor) candidates are already unique
    scored = (data.join(F.broadcast(qprobes), "cell")
              .where(F.col(id_col) != F.col("query_id"))
              .join(F.broadcast(q), "query_id")
              .select("query_id", F.col(id_col).alias("neighbor_id"),
                      (_dot(F.col("qv"), F.col("v"))
                       / (F.col("qn") * F.col("n"))).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def semdedup_pairs(df: DataFrame, vec_col: str, id_col: str,
                   centroids: list[tuple[int, list[float]]],
                   tau: float, max_cell: int | None = None,
                   kernel: str = "expr") -> DataFrame:
    """SemDeDup cluster-scoped near-duplicate pairs (Abbas et al.,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", arXiv:2303.09540, §2): assign every embedding to its
    nearest coarse centroid, then compare cosines only WITHIN a cluster.

    This is the scale answer to `dedup.embedding_cosine_pairs`' O(n²)
    crossJoin: the self-join is an equi-join on cell, so the quadratic term
    is bounded by the largest cluster, not the corpus — the same
    bucket-join shape as LSH, but with semantically coherent buckets (the
    paper's point: near-dups land in the same k-means cell). SIZE THE
    CODEBOOK WITH THE CORPUS: within-cell work is quadratic in cell size,
    so the centroid count must grow ~linearly with rows to keep cells
    bounded (e.g. one cell per ~500 vectors; a fixed codebook measured
    37x wall at 10x rows). That sizing law makes THIS flat literal argmin
    O(n * cells * dim) — fine for dimension-table-sized codebooks, the
    wrong economics past that: use semdedup_pairs_hier (two-level
    assignment, sub-codebooks as a joined table) once cells outgrow a few
    hundred. Pairs whose
    members straddle cells are sacrificed by design; recall vs the exact
    verifier is measured in tests/test_ivf.py.

    Plan (kernel="expr"): map-only assignment (codebook literals)
    materialized as a THIN (id, cell) localCheckpoint — 16 bytes/row,
    joined back onto the vectors — then ONE shuffle on cell for the
    self-join, no window. Returns (cell, id_a, id_b, cosine) with
    id_a < id_b. (The checkpoint is also the working member of the
    self-join workaround family — see _flat_base.) CAVEATS of that
    checkpoint: building this DataFrame launches the assignment job
    EAGERLY (at plan-construction time, before any action on the
    result), and localCheckpoint output is not recomputable if an
    executor holding it is lost — acceptable in the gate/oracle setting,
    but long-running production pipelines should prefer
    ``kernel="gram"``, which has no self-join and therefore no
    checkpoint: fully lazy, fully recomputable, and ~10× faster
    (vectorized BLAS assignment + per-cell gram pair scoring; see
    _np_assigned / operators/gram.py). ``kernel="auto"`` dispatches on
    input volume (rows × dim) so small inputs skip the fixed Arrow tax —
    one slim EAGER count job at plan-construction time; streaming inputs
    skip it and resolve to "gram" (gram.resolve_pair_kernel).
    """
    from .gram import resolve_pair_kernel
    kernel = resolve_pair_kernel(df, vec_col, kernel)
    if kernel == "gram":
        # fully vectorized production face: BLAS argmin assignment
        # (mapInPandas, no self-join → no checkpoint workaround needed)
        # feeding the gram pair kernel
        return _cell_pairs(_np_assigned(df, vec_col, id_col, centroids),
                           id_col, tau, max_cell, kernel)
    return _cell_pairs(_flat_base(df, vec_col, id_col, centroids),
                       id_col, tau, max_cell, kernel)


def _np_assigned(df: DataFrame, vec_col: str, id_col: str,
                 centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """(id, v, cell): nearest-centroid assignment as ONE map-only
    mapInPandas pass — the vectorized twin of the literal-argmin
    expression. The codebook rides the closure (a broadcast-sized
    constant); per batch the argmin is a BLAS matmul
    (score = |c|² − 2·X·Cᵀ, same argmin as the squared distance), chunked
    over centroids so memory stays ~batch × chunk regardless of codebook
    size. Centroids are scanned in ascending cell-id order with a
    strict-less update, reproducing the expression path's
    (distance, cell) tie-break; the two kernels can disagree only when
    two centroids are equidistant to the last ~ulp (BLAS vs left-to-right
    summation), pinned identical on the gate data by tests/test_gram.py.

    This removes the flat-codebook economics problem the hierarchical
    path was built for at broadcastable codebook sizes: the literal
    argmin is an interpreted HOF expression (~µs per centroid visit →
    O(n·cells) dominates once cells grow with the corpus), while this
    kernel's per-visit cost is one fused multiply-add. Past broadcast
    size (codebooks of many MB), use the hierarchical route."""
    import numpy as np

    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)

    ordered = sorted(centroids)
    cids = np.array([c for c, _ in ordered], dtype=np.int64)
    cmat = np.array([v for _, v in ordered], dtype=np.float64)
    c2 = (cmat * cmat).sum(axis=1)
    # cell ids are centroid ROW ids (bigint in every caller — e.g.
    # seed_centroids reuses vec_id); LongType end-to-end so ids >= 2^31
    # don't wrap, matching the expression face's auto-widened BIGINT.
    out = StructType([df.schema[id_col],
                      StructField("v", ArrayType(DoubleType())),
                      StructField("cell", LongType())])

    def assign(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            best_s = np.full(len(x), np.inf)
            best_c = np.zeros(len(x), dtype=np.int64)
            for k0 in range(0, len(cmat), 4096):
                k1 = min(k0 + 4096, len(cmat))
                s = c2[k0:k1][None, :] - 2.0 * (x @ cmat[k0:k1].T)
                j = np.argmin(s, axis=1)          # first minimum → min cid
                sj = s[np.arange(len(x)), j]
                upd = sj < best_s
                best_s[upd] = sj[upd]
                best_c[upd] = cids[k0 + j[upd]]
            yield pd.DataFrame({id_col: pdf[id_col],
                                "v": list(x),
                                "cell": best_c})

    return (df.select(F.col(id_col), _as_double(vec_col).alias(vec_col))
            .mapInPandas(assign, out))


def _np_routed(df: DataFrame, vec_col: str, id_col: str,
               coarse: list[tuple[int, list[float]]],
               route_probes: int) -> DataFrame:
    """(id, v, route, _rk): top-``route_probes`` coarse routes per vector,
    _rk = 1..p by ascending (distance, cell id) — the multi-probe coarse
    step of the hierarchical faces. Same BLAS score and chunking as
    _np_assigned; the running top-p is maintained with a stable argsort so
    equal distances break toward the smaller cell id exactly like the
    expression path's (d, cell) struct sort (earlier chunks carry smaller
    cell ids, and within a chunk cids ascend). Emits p rows per input row;
    cost O(p) rows but still O(K1·dim) score work per vector."""
    import numpy as np

    from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                                   LongType, StructField, StructType)

    if not 1 <= route_probes <= len(coarse):
        raise ValueError(
            f"route_probes must be in [1, {len(coarse)}]")
    p = int(route_probes)
    ordered = sorted(coarse)
    cids = np.array([c for c, _ in ordered], dtype=np.int64)
    cmat = np.array([v for _, v in ordered], dtype=np.float64)
    c2 = (cmat * cmat).sum(axis=1)
    out = StructType([df.schema[id_col],
                      StructField("v", ArrayType(DoubleType())),
                      StructField("route", LongType()),
                      StructField("_rk", IntegerType())])

    def assign(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            n = len(x)
            best_s = np.full((n, p), np.inf)
            best_c = np.zeros((n, p), dtype=np.int64)
            for k0 in range(0, len(cmat), 4096):
                k1 = min(k0 + 4096, len(cmat))
                s = c2[k0:k1][None, :] - 2.0 * (x @ cmat[k0:k1].T)
                cs = np.concatenate([best_s, s], axis=1)
                cc = np.concatenate(
                    [best_c, np.broadcast_to(cids[k0:k1], s.shape)], axis=1)
                idx = np.argsort(cs, axis=1, kind="stable")[:, :p]
                best_s = np.take_along_axis(cs, idx, axis=1)
                best_c = np.take_along_axis(cc, idx, axis=1)
            yield pd.DataFrame(
                {id_col: np.repeat(pdf[id_col].to_numpy(), p),
                 "v": [x[i] for i in range(n) for _ in range(p)],
                 "route": best_c.reshape(-1),
                 "_rk": np.tile(np.arange(1, p + 1, dtype=np.int32), n)})

    return (df.select(F.col(id_col), _as_double(vec_col).alias(vec_col))
            .mapInPandas(assign, out))


def _flat_base(df: DataFrame, vec_col: str, id_col: str,
               centroids: list[tuple[int, list[float]]],
               assign: DataFrame | None = None) -> DataFrame:
    """(id, v, n, cell) for the flat faces, built SELF-JOIN-SAFE.

    Self-joining a pure projection chain whose lambdas sit directly over
    an already-analyzed scan dies in Spark 4.1 with [INTERNAL_ERROR_
    ATTRIBUTE_NOT_FOUND]: DeduplicateRelations regenerates the scan/alias
    ids of one side but never rewrites references INSIDE LambdaFunction
    bodies (ZipWith/ArrayAggregate frames in the task stack), so the
    distance lambdas keep pointing at orphaned ids. Empirically a subtree
    that contains a JOIN deduplicates cleanly (the hierarchical path never
    trips this), so the flat base: (1) computes the assignment once and
    materializes ONLY (id, cell) — an eager localCheckpoint of thin rows,
    the bytes a shuffle of the same columns would cost; (2) joins it back
    onto a fresh vector projection. The self-joined subtree then has the
    join shape, and the literal-argmin lambdas never face relation
    dedup."""
    if assign is None:
        assign = _flat_assign(df, vec_col, id_col, centroids)
    return (_fresh(df)
            .select(F.col(id_col),
                    F.col(vec_col).cast("array<double>").alias("v"))
            .withColumn("n", _norm(F.col("v")))
            .join(assign, id_col))


def _flat_assign(df: DataFrame, vec_col: str, id_col: str,
                 centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """The thin (id, cell) eager localCheckpoint _flat_base joins back
    (see its docstring for the self-join bug this materialization
    works around). Exposed separately so survivor-face consumers can
    read the assignment DIRECTLY instead of re-deriving it through a
    second vectors join (r14 auditor: o45's plan carried the base join
    x2)."""
    return (_fresh(df)
            .select(F.col(id_col),
                    F.col(vec_col).cast("array<double>").alias("_av"))
            .select(F.col(id_col),
                    F.element_at(_dist_structs("_av", centroids),
                                 1)["cell"].alias("cell"))
            .localCheckpoint())


def _with_sub(base: DataFrame, id_col: str,
              max_cell: int | None) -> DataFrame:
    """Attach the hot-cell split column `_sub` (same split idiom as the
    LSH max_bucket guard): cells above the cap are deterministically split
    into ceil(size/max_cell) sub-cells by id hash and pairs are generated
    within sub-cells only — per-cell work drops from size² to
    ~size·max_cell, sacrificing cross-sub-cell pairs. A replica-structured
    corpus can land many near-identical vectors in one cell; its uncapped
    pair join is quadratic in that cell regardless of codebook sizing.
    Shared by both pair kernels so the capped pair sets match."""
    if max_cell is not None:
        if max_cell <= 0:
            raise ValueError("max_cell must be positive")
        counts = base.groupBy("cell").agg(F.count(F.lit(1)).alias("_cn"))
        return (base.join(counts, "cell")
                .withColumn(
                    "_sub",
                    F.when(F.col("_cn") > max_cell,
                           F.pmod(F.xxhash64(F.col(id_col)),
                                  F.ceil(F.col("_cn") / max_cell)
                                   .cast("long")))
                    .otherwise(F.lit(0).cast("long")))
                .drop("_cn"))
    return base.withColumn("_sub", F.lit(0).cast("long"))


def _cell_pairs(base: DataFrame, id_col: str, tau: float,
                max_cell: int | None = None,
                kernel: str = "expr") -> DataFrame:
    """Within-cell cosine pairs over ONE shared (id, v, n, cell) subtree —
    shared by the flat and hierarchical SemDeDup faces. The caller must
    build `base` over a _fresh()-projected input (see _fresh: self-join
    relation dedup vs already-analyzed plans); the SHARED subtree matters
    too — two separately-built structurally-identical sides re-trigger the
    same lambda-rewrite bug, while one subtree deduplicates consistently.

    Two kernels, identical pair semantics:

    - ``kernel="expr"`` (default): self-equi-join on (cell, _sub) plus a
      per-pair `aggregate(zip_with(...))` cosine. Left-to-right float
      summation — bit-identical to the DuckDB oracle; the correctness
      face. The per-pair expression is CodegenFallback (~µs each) and the
      join materializes every candidate pair as a row, so cost is
      O(sum cell²) Spark rows — fine at gate scale, dominant at sf10.
    - ``kernel="gram"``: one BLAS gram matmul per (cell, _sub) group via
      applyInPandas (operators/gram.py); candidates never materialize and
      per-pair cost drops ~1000×. Cosines agree with the expression path
      to the last ~ulp (pair sets can differ only for cosines within
      ~1e-12 of tau); the production scale path."""
    base = _with_sub(base, id_col, max_cell)
    if kernel == "gram":
        from .gram import gram_group_pairs
        return (gram_group_pairs(base, ["cell", "_sub"], id_col, "v", tau)
                .select("cell", "id_a", "id_b", "cosine"))
    if kernel != "expr":
        raise ValueError(f"unknown pair kernel: {kernel!r}")
    left = base.select(F.col(id_col).alias("id_a"),
                       F.col("v").alias("va"),
                       F.col("n").alias("na"), "cell", "_sub")
    right = base.select(F.col(id_col).alias("id_b"),
                        F.col("v").alias("vb"),
                        F.col("n").alias("nb"), "cell", "_sub")
    return (left.join(right, ["cell", "_sub"])
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine",
                        _dot(F.col("va"), F.col("vb"))
                        / (F.col("na") * F.col("nb")))
            .where(F.col("cosine") >= tau)
            .select("cell", "id_a", "id_b", "cosine"))


def route_sub_codebook(df: DataFrame, vec_col: str, id_col: str,
                       coarse: list[tuple[int, list[float]]],
                       k2: int) -> DataFrame:
    """Per-route sub-codebooks derived FROM THE DATA: route every row to
    its nearest coarse centroid (map-only literal argmin over K1), then
    take each route's k2 smallest-id members as that route's sub-centroids
    — the seed-row idiom applied per route, so the construction stays
    deterministic and oracle-expressible. Returns (route,
    cb: array<struct<cell, cv>>) with one row per non-empty route; cell
    ids are member row ids, globally unique across routes.

    This is the round-5 fix for the flat-codebook economics: the SemDeDup
    sizing law (cells must grow ~linearly with rows to bound within-cell
    quadratic work) made the flat literal argmin O(n * cells * dim). Two
    levels make total cells C = K1 * k2 at O((K1 + k2) * dim) per row, and
    the sub-codebook is a TABLE — joined (AQE broadcasts it while it fits,
    shuffles on route past that), never a plan literal, so C can keep
    scaling. Deeper hierarchies compose the same way (route again within a
    route)."""
    routed = (df.select(F.col(id_col), _as_double(vec_col).alias("v"))
              .withColumn("route",
                          F.element_at(_dist_structs("v", coarse),
                                       1)["cell"]))
    w = Window.partitionBy("route").orderBy(F.col(id_col).asc())
    return (routed.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k2)
            .groupBy("route")
            .agg(F.array_sort(F.collect_list(F.struct(
                F.col(id_col).cast("long").alias("cell"),
                F.col("v").alias("cv")))).alias("cb")))


def assign_cells_hier(df: DataFrame, vec_col: str, id_col: str,
                      coarse: list[tuple[int, list[float]]],
                      subs: DataFrame,
                      route_probes: int = 1) -> DataFrame:
    """(id, v, route, cell): two-level assignment — coarse route via the
    literal argmin, then argmin over the route's sub-codebook COLUMN
    (delivered by the equi-join on route; same (distance, cell) struct-sort
    tie-break, same zip_with/aggregate float summation order as the
    literal path and the DuckDB twin).

    ``route_probes`` > 1 is MULTI-PROBE routing (the IVF analogue of
    lsh_bucketed_topk's n_probes): each vector is assigned under its
    route_probes nearest coarse routes — p rows per vector, ranked by
    ``_rk`` (1 = the primary route, identical to the default output) —
    so near-dup pairs straddling a route boundary can still co-locate.
    Cost O(p·k2·dim) for the sub level; the coarse argmin is computed
    once either way. Output gains the _rk column only when p > 1 so the
    default face stays bit-stable for the DuckDB oracles."""
    if route_probes == 1:
        routed = (df.select(F.col(id_col), _as_double(vec_col).alias("v"))
                  .withColumn("route",
                              F.element_at(_dist_structs("v", coarse),
                                           1)["cell"]))
    else:
        if not 1 <= route_probes <= len(coarse):
            raise ValueError(
                f"route_probes must be in [1, {len(coarse)}]")
        routed = (df.select(F.col(id_col), _as_double(vec_col).alias("v"))
                  .select(F.col(id_col), "v",
                          F.posexplode(F.slice(
                              F.transform(_dist_structs("v", coarse),
                                          lambda s: s["cell"]),
                              1, route_probes)).alias("_rk0", "route"))
                  .select(F.col(id_col), "v", "route",
                          (F.col("_rk0") + 1).cast("int").alias("_rk")))
    joined = routed.join(subs, "route")
    best = F.element_at(F.array_sort(F.transform(
        F.col("cb"),
        lambda c: F.struct(
            F.aggregate(F.zip_with(F.col("v"), c["cv"],
                                   lambda x, y: (x - y) * (x - y)),
                        F.lit(0.0), lambda a, b: a + b).alias("d"),
            c["cell"].alias("cell")))), 1)["cell"]
    cols = [F.col(id_col), F.col("v"), F.col("route"),
            best.alias("cell")]
    if route_probes > 1:
        cols.append(F.col("_rk"))
    return joined.select(*cols)


def hier_codebook(df: DataFrame, vec_col: str, id_col: str,
                  coarse: list[tuple[int, list[float]]], k2: int,
                  kernel: str = "gram",
                  lloyd_iters: int = 0) -> DataFrame:
    """(route, cb: array<struct<cell, cv>>): the PERSISTABLE two-level
    codebook — route every row to its nearest coarse centroid, take each
    route's k2 smallest-id members as that route's sub-centroids (the
    seed-row idiom of route_sub_codebook). Write this once at index-build
    time (partitioned by route) and every later consumer — batch probes,
    re-assignments, semdedup_incremental — assigns against the SAME cells
    the index was built with; re-deriving it from a new batch would yield
    different sub-centroids and silently incompatible cell ids.

    kernel="gram" routes with the BLAS argmin (production, identical to
    _np_assigned_hier's internal derivation); "expr" is the
    literal-expression face (route_sub_codebook, the DuckDB-twin path).

    ``lloyd_iters`` (gram kernel only) runs that many Lloyd refinement
    passes on the SUB level after seeding: assign the corpus to (route,
    cell) against the current codebook, move each sub-centroid to its
    members' mean (one shuffle of cells·dim rows per pass), cells with
    no members keep their previous centroid. Cell ids never change —
    only positions — so downstream contracts are unaffected. Measured on
    the synthetic embeddings (tools/bench_hier_quality.py, round 9):
    seed-only occupancy is already near-uniform there, so the default
    stays 0 (the bit-stable seed path); the knob exists for corpora with
    clumped routes, where one pass evens occupancy under hot-cell caps."""
    if kernel == "expr":
        if lloyd_iters:
            raise ValueError("lloyd_iters requires kernel='gram' (the "
                             "expr face is the bit-stable oracle path)")
        return route_sub_codebook(df, vec_col, id_col, coarse, k2)
    if kernel != "gram":
        raise ValueError(f"unknown assignment kernel: {kernel!r}")
    routed = (_np_assigned(df, vec_col, id_col, coarse)
              .withColumnRenamed("cell", "route"))
    w = Window.partitionBy("route").orderBy(F.col(id_col).asc())
    subs = (routed.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k2)
            .groupBy("route")
            .agg(F.array_sort(F.collect_list(F.struct(
                F.col(id_col).cast("long").alias("cell"),
                F.col("v").alias("cv")))).alias("cb")))
    for _ in range(int(lloyd_iters)):
        assigned = _np_assign_with_subs(df, vec_col, id_col, coarse, subs)
        means = (assigned
                 .select("route", "cell", F.posexplode("v")
                         .alias("d", "x"))
                 .groupBy("route", "cell", "d")
                 .agg(F.avg("x").alias("m")))
        moved = (means.groupBy("route", "cell")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(
                         F.struct(F.col("d"), F.col("m")))),
                     lambda s: s["m"]).alias("cv")))
        prev = subs.select("route", F.explode("cb").alias("e")) \
                   .select("route", F.col("e.cell").alias("cell"),
                           F.col("e.cv").alias("cv_prev"))
        subs = (prev.join(moved, ["route", "cell"], "left")
                .select("route", "cell",
                        F.coalesce("cv", "cv_prev").alias("cv"))
                .groupBy("route")
                .agg(F.array_sort(F.collect_list(F.struct(
                    F.col("cell"), F.col("cv")))).alias("cb")))
    return subs


def _np_assign_with_subs(df: DataFrame, vec_col: str, id_col: str,
                         coarse: list[tuple[int, list[float]]],
                         subs: DataFrame,
                         prune_subs: bool = False,
                         route_probes: int = 1) -> DataFrame:
    """(id, v, route, cell): lambda-free two-level assignment against a
    GIVEN (route, cb) sub-codebook table. Coarse routing is the BLAS
    argmin (_np_assigned); the second-level argmin runs in ONE mapInPandas
    over the routed⋈sub-codebook join, vectorized per route within each
    Arrow batch. No lambda expression anywhere in the plan, so the Spark
    4.1 DeduplicateRelations/LambdaFunction binding bug (see _flat_base)
    cannot trigger — this face needs no checkpoint and stays fully lazy.
    Same (distance, cell) tie-break as the expression path modulo last-ulp
    BLAS summation (pinned on gate data in tests/test_gram.py).

    prune_subs=True is the INCREMENTAL-BATCH shape — df is a small ingest
    batch, subs a persisted K1-row codebook whose total payload
    (K1·k2·dim doubles) is the WHOLE cell space — and changes two things:

    - the codebook is first broadcast-semi-joined down to the routes the
      batch actually touches (the touched-route set is at most
      batch-sized — broadcastable by construction; untouched routes
      cannot affect the result), so an ingest never ships cells it
      doesn't probe;
    - the second-level argmin is delivered by COGROUP on route
      (FlatMapCoGroupsInPandas) instead of the equi-join: the join form
      replicates a route's whole cb array (k2·dim doubles, ~80 KB at
      k2=316) onto EVERY row, which Arrow then rebuilds as per-row lists
      of structs — measured 25 s for a 5k batch at 100k cells, WORSE
      than the flat argmin it replaces — while the cogroup ships each
      touched route's cb exactly once (measured 1.8 s, flat in the
      codebook size; SCALING.json semdedup_incremental_hier_scale).

    The default (join + mapInPandas) remains the BUILD-time face, where
    k2 is sized small-constant, the corpus is large, and the broadcast
    equi-join keeps the corpus un-shuffled.

    ``route_probes`` > 1 routes each vector under its p nearest coarse
    routes (_np_routed) — p rows per vector with a ``_rk`` rank column,
    the gram twin of assign_cells_hier's multi-probe face. Default 1
    keeps the plan and schema unchanged."""
    import numpy as np

    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)

    if route_probes == 1:
        routed = (_np_assigned(df, vec_col, id_col, coarse)
                  .withColumnRenamed("cell", "route"))
    else:
        routed = _np_routed(df, vec_col, id_col, coarse, route_probes)
    carry = ["_rk"] if route_probes > 1 else []
    out = StructType([df.schema[id_col],
                      StructField("v", ArrayType(DoubleType())),
                      routed.schema["route"],
                      StructField("cell", LongType())]
                     + [routed.schema[c] for c in carry])

    def _route_argmin(x: "np.ndarray", cb) -> "np.ndarray":
        cids = np.array([e["cell"] for e in cb], dtype=np.int64)
        cmat = np.array([e["cv"] for e in cb], dtype=np.float64)
        order = np.argsort(cids, kind="stable")
        cids, cmat = cids[order], cmat[order]
        s = (cmat * cmat).sum(axis=1)[None, :] - 2.0 * (x @ cmat.T)
        return cids[np.argmin(s, axis=1)]

    if prune_subs:
        touched = routed.select("route").distinct()
        pruned = subs.join(F.broadcast(touched), "route", "left_semi")

        def assign_group(left, right):
            import pandas as pd
            if not len(left) or not len(right):
                return pd.DataFrame(
                    {c.name: pd.Series(dtype=object) for c in out})
            x = np.array([np.asarray(v, dtype=np.float64)
                          for v in left["v"]])
            cells = _route_argmin(x, right["cb"].iloc[0])
            res = {id_col: left[id_col], "v": list(x),
                   "route": left["route"], "cell": cells}
            for c in carry:
                res[c] = left[c]
            return pd.DataFrame(res)

        return (routed.groupBy("route").cogroup(pruned.groupBy("route"))
                .applyInPandas(assign_group, out))

    joined = routed.join(subs, "route")

    def assign(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            cells = np.empty(len(pdf), dtype=np.int64)
            x = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            routes = pdf["route"].to_numpy()
            for r in np.unique(routes):
                m = routes == r
                cb = pdf["cb"].iloc[int(np.nonzero(m)[0][0])]
                cells[m] = _route_argmin(x[m], cb)
            res = {id_col: pdf[id_col], "v": list(x),
                   "route": pdf["route"], "cell": cells}
            for c in carry:
                res[c] = pdf[c]
            yield pd.DataFrame(res)

    return joined.mapInPandas(assign, out)


def _np_assigned_hier(df: DataFrame, vec_col: str, id_col: str,
                      coarse: list[tuple[int, list[float]]],
                      k2: int, route_probes: int = 1) -> DataFrame:
    """(id, v, route, cell): the self-contained face — derive the
    sub-codebook from df itself (hier_codebook) and assign df against it
    (_np_assign_with_subs). The vectorized twin of route_sub_codebook +
    assign_cells_hier; build-time path, where codebook and corpus are the
    same frame. Continuous-ingest callers persist hier_codebook once and
    call _np_assign_with_subs per batch instead (semdedup_incremental
    does this when given ``subs``)."""
    subs = hier_codebook(df, vec_col, id_col, coarse, k2, kernel="gram")
    return _np_assign_with_subs(df, vec_col, id_col, coarse, subs,
                                route_probes=route_probes)


def _hier_base(df: DataFrame, vec_col: str, id_col: str,
               coarse: list[tuple[int, list[float]]], k2: int,
               route_probes: int = 1, return_slim: bool = False):
    """(id, v, n, cell[, _rk]) for the hierarchical EXPR faces, built
    evaluation-shared: the two-level assignment pyramid (route argmin +
    sub-codebook join + sub argmin, with route_sub_codebook's window +
    collect_list build inside) is computed ONCE and materialized as a
    THIN (id, cell[, _rk]) eager localCheckpoint, then joined back onto
    a fresh vector projection — the hierarchical twin of _flat_base. The
    r14 subtree auditor flagged the un-shared shape at x2 (the pair
    self-join) to x3 (apply's survivor projection / the sub-codebook
    aggregate) on o56/o57/o75's plans; the checkpoint rows are 16-20
    bytes each, the same bytes a shuffle of the assignment would cost.
    Same eager-at-plan-construction + non-recomputable caveats as
    _flat_base's checkpoint; the gram faces (_np_assigned_hier) stay
    fully lazy."""
    df = _fresh(df)
    assigned = assign_cells_hier(df, vec_col, id_col, coarse,
                                 route_sub_codebook(df, vec_col, id_col,
                                                    coarse, k2),
                                 route_probes=route_probes)
    slim_cols = [F.col(id_col), F.col("cell")]
    if route_probes > 1:
        slim_cols.append(F.col("_rk"))
    slim = assigned.select(*slim_cols).localCheckpoint()
    base = (_fresh(df)
            .select(F.col(id_col), _as_double(vec_col).alias("v"))
            .withColumn("n", _norm(F.col("v")))
            .join(slim, id_col))
    return (base, slim) if return_slim else base


def semdedup_pairs_hier(df: DataFrame, vec_col: str, id_col: str,
                        coarse: list[tuple[int, list[float]]],
                        k2: int, tau: float,
                        max_cell: int | None = None,
                        kernel: str = "expr",
                        route_probes: int = 1) -> DataFrame:
    """Hierarchical SemDeDup pairs: two-level cell assignment
    (route_sub_codebook / assign_cells_hier), then the same within-cell
    cosine pair join as semdedup_pairs. Returns (cell, id_a, id_b, cosine)
    with id_a < id_b.

    Scale contract: per-row assignment cost O((K1 + k2) * dim) with total
    cells K1 * k2 — size BOTH levels with the corpus (K1 ~ k2 ~ sqrt(n /
    target_cell_size)) and neither the literal expression nor the joined
    codebook grows linearly in n.

    ``route_probes`` (default 1): two-level routing pays a measured ~2x
    colocation-recall gap vs a flat codebook at equal cell count
    (SCALING.json hier_subquality_r9) — near-dup pairs straddling a
    coarse route boundary never share a cell. Multi-probe routing closes
    most of it: each vector enters the pair GENERATION under its p
    nearest routes (p rows, O(p·k2·dim) extra assignment work — still
    codebook-flat), pairs are generated within every probed cell, and a
    pair seen in several shared cells is emitted once (min cell, same
    cosine). Output stays one row per (id_a, id_b); the default keeps the
    single-probe plan bit-stable for the DuckDB oracles."""
    if route_probes == 1:
        if kernel == "gram":
            base = _np_assigned_hier(df, vec_col, id_col, coarse, k2)
            return _cell_pairs(base, id_col, tau, max_cell, kernel)
        base = _hier_base(df, vec_col, id_col, coarse, k2)
        return _cell_pairs(base, id_col, tau, max_cell, kernel)
    if kernel == "gram":
        base = _np_assigned_hier(df, vec_col, id_col, coarse, k2,
                                 route_probes=route_probes)
    else:
        base = _hier_base(df, vec_col, id_col, coarse, k2,
                          route_probes=route_probes)
    pairs = _cell_pairs(base.drop("_rk"), id_col, tau, max_cell, kernel)
    return (pairs.groupBy("id_a", "id_b")
            .agg(F.min("cell").alias("cell"),
                 F.max("cosine").alias("cosine"))
            .select("cell", "id_a", "id_b", "cosine"))


def semdedup_apply_hier(df: DataFrame, vec_col: str, id_col: str,
                        coarse: list[tuple[int, list[float]]],
                        k2: int, tau: float,
                        kernel: str = "expr",
                        route_probes: int = 1) -> DataFrame:
    """Greedy survivor set over the hierarchical cells (min-id
    representative, same policy as semdedup_apply). Returns (id, cell,
    kept) — exactly one row per id.

    ``route_probes`` > 1 closes the end-to-end recall gap the pair face
    already measured (SCALING.json hier_multiprobe_r10): the DROP set is
    derived from pairs generated under each vector's p nearest routes
    (the same pair plane as semdedup_pairs_hier at the same p — pinned by
    tests), while the reported ``cell`` stays the PRIMARY (_rk = 1)
    assignment, identical to the default output, so survivor rows remain
    unique per id (the distinct-partner discipline semdedup_incremental
    enforces). Default 1 keeps the o57 oracle bit-stable."""
    if kernel == "gram":
        base = _np_assigned_hier(df, vec_col, id_col, coarse, k2,
                                 route_probes=route_probes)
        slim = None
    else:
        base, slim = _hier_base(df, vec_col, id_col, coarse, k2,
                                route_probes=route_probes,
                                return_slim=True)
    if route_probes == 1:
        primary = slim if slim is not None else base
        pair_base = base
    else:
        # one shared probed subtree: pairs see every probed cell, the
        # survivor rows only the primary assignment (for the expr face
        # that's a filter over the thin checkpoint — zero re-derivation;
        # the gram face recomputes its map-only scan, no cache left
        # behind)
        primary = (slim if slim is not None else base) \
            .where(F.col("_rk") == 1)
        pair_base = base.drop("_rk")
    dropped = (_cell_pairs(pair_base, id_col, tau, kernel=kernel)
               .select(F.col("id_b").alias(id_col)).distinct())
    return (primary.select(id_col, "cell")
            .join(dropped.withColumn("_drop", F.lit(True)),
                  id_col, "left")
            .select(F.col(id_col), F.col("cell"),
                    F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept")))


def semdedup_apply(df: DataFrame, vec_col: str, id_col: str,
                   centroids: list[tuple[int, list[float]]],
                   tau: float, kernel: str = "expr") -> DataFrame:
    """Greedy SemDeDup survivor set: drop a row iff some SMALLER id in its
    cluster is within tau (the paper's keep-one-per-group policy with the
    deterministic lowest-id representative, matching `dedup.exact_dedup`'s
    min-id survivor convention). Returns (id, cell, kept).

    One extra distinct + left-anti-shaped join over the pair list; the
    whole pipeline is still two shuffles (cell, then id)."""
    if kernel == "gram":
        base = _np_assigned(df, vec_col, id_col, centroids)
        survivors = base.select(id_col, "cell")
    else:
        # survivor rows come straight from the thin assignment
        # checkpoint — the former base.select(id, cell) re-ran the
        # vectors scan + join a second time (r14 auditor, o45 x2)
        assign = _flat_assign(df, vec_col, id_col, centroids)
        base = _flat_base(df, vec_col, id_col, centroids, assign=assign)
        survivors = assign
    dropped = (_cell_pairs(base, id_col, tau, kernel=kernel)
               .select(F.col("id_b").alias(id_col)).distinct())
    return (survivors
            .join(dropped.withColumn("_drop", F.lit(True)),
                  id_col, "left")
            .select(F.col(id_col), F.col("cell"),
                    F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept")))


def ivf_cell_index(df: DataFrame, vec_col: str, id_col: str,
                   centroids: list[tuple[int, list[float]]],
                   kernel: str = "gram") -> DataFrame:
    """(id, v, cell): the persistable SemDeDup cell index — assign once,
    write partitioned/bucketed by cell, probe forever (the IVF counterpart
    of dedup.minhash_band_index). kernel="gram" uses the BLAS argmin
    (production); "expr" the literal-codebook expression (oracle face)."""
    if kernel == "gram":
        return _np_assigned(df, vec_col, id_col, centroids)
    if kernel != "expr":
        raise ValueError(f"unknown assignment kernel: {kernel!r}")
    return _flat_base(df, vec_col, id_col, centroids).select(
        F.col(id_col), "v", "cell")


def ivf_cell_index_hier(df: DataFrame, vec_col: str, id_col: str,
                        coarse: list[tuple[int, list[float]]],
                        subs: DataFrame,
                        route_probes: int = 1) -> DataFrame:
    """(id, v, cell): the persistable HIERARCHICAL SemDeDup cell index —
    two-level assignment against a persisted (route, cb) codebook
    (hier_codebook output). The continuous-ingest counterpart of
    ivf_cell_index: build the codebook once, assign the corpus once,
    write both partitioned by cell/route, then probe forever with
    semdedup_incremental(..., subs=subs) — per-batch assignment cost
    O(|batch|·(K1 + k2)·dim) instead of the flat O(|batch|·K1·k2·dim).

    ``route_probes`` > 1 stores each vector under its p nearest routes'
    cells (up to p index rows per id) so later single-probe ingests can
    find boundary-straddling neighbors — the index-side half of
    semdedup_pairs_hier's multi-probe recall fix. Index size grows by at
    most p×; probes stay per-cell. Downstream consumers that count or
    survive ids must reduce per id (semdedup_incremental's survivor set
    already does: collision flags are distinct-id)."""
    return (_np_assign_with_subs(df, vec_col, id_col, coarse, subs,
                                 route_probes=route_probes)
            .select(F.col(id_col), "v", "cell"))


# Below this Catalyst size estimate of the stored index, the touched-cell
# broadcast prune is skipped: the prune is one extra job (batch-cell
# distinct + broadcast build) measured at a ~0.4-0.8 s constant on this
# host, which a small index never pays back (sf0.1 A/B: pruned 1.4-2.0 s
# vs unpruned 1.06 s end-to-end) while a parquet index past this size
# amortizes it immediately (sf10: the r7 prune took the probe exponent to
# 0.29). The estimate is driver-side plan stats — no job.
PRUNE_MIN_INDEX_BYTES = 64 << 20


def semdedup_incremental(new_df: DataFrame, index: DataFrame, vec_col: str,
                         id_col: str,
                         centroids: list[tuple[int, list[float]]],
                         tau: float,
                         max_cell: int | None = None,
                         assigned: DataFrame | None = None,
                         subs: DataFrame | None = None,
                         prune_index: bool | None = None,
                         route_probes: int = 1,
                         distinct_partners: bool | None = None) -> DataFrame:
    """Probe-only SemDeDup of a NEW ingest batch against a persisted cell
    index (`ivf_cell_index` output) — the continuous-ingestion pattern for
    EMBEDDING near-dups, mirroring dedup.incremental_dedup's contract: the
    corpus is never re-assigned or re-compared, only its index is probed.

    Per new row: n_index_hits = indexed rows in its cell within tau;
    n_batch_hits = smaller-id same-batch rows in its cell within tau.
    `survives` = both zero (the index is canonical — a new row never
    evicts an indexed one, matching the band-index bucket-min-id rule).
    Returns (id, n_index_hits, n_batch_hits, survives) for the new batch.

    Scale shape: the batch is assigned with the SAME codebook (BLAS
    argmin, map-only), the index is PRUNED to the batch's touched cells
    with a broadcast semi-join (the touched-cell set is at most
    batch-sized — the broadcastable side by construction; untouched cells
    cannot contribute pairs, so the result is identical), then ONE shuffle
    on cell co-locates the batch with the touched index slice and the
    cross gram kernel computes only new×index and the new×new triangle —
    never index×index (gram.gram_group_pairs_cross). Ingest cost is
    therefore one index SCAN (a map-only broadcast-hash filter; store the
    index sorted/partitioned by cell and parquet min/max pruning skips
    untouched files) plus O(|batch| · cell_occupancy) scoring —
    previously the whole index rode the cell shuffle every ingest.

    ``prune_index`` gates that semi-join the way ``kernel="auto"`` gates
    the gram kernel: None (default) prunes only when Catalyst's size
    estimate for the index is at least PRUNE_MIN_INDEX_BYTES — the prune
    is a measured ~0.4-0.8 s constant (extra distinct + broadcast job)
    that a small index never pays back (the round-7 always-prune default
    cost sf0.1 ~+0.5 s/probe while its sf10 win stood). True/False force
    either face.

    The batch assignment subtree feeds both the touched-cell probe and the
    union and is recomputed per consumer by default (same purity rule as
    incremental_dedup's ``banded``); a pipeline that owns the lifecycle
    can pass ``assigned`` — a persisted ``ivf_cell_index(new_df, ...)``
    output — to assign once (worth it when the codebook is large: the
    argmin is O(|batch| · cells · dim)).

    HIERARCHICAL codebooks (the past-broadcast regime): when the cell
    space is two-level — index built with ``ivf_cell_index_hier`` against
    a persisted ``hier_codebook`` — pass that same codebook as ``subs``
    and ``centroids`` = the COARSE level only. The batch is then assigned
    with the two-level route (BLAS coarse argmin over K1, broadcast-prune
    the codebook to the batch's touched routes, one mapInPandas sub-argmin
    over ≤|batch| routes' cb arrays), so per-batch assignment cost is
    O(|batch|·(K1 + k2)·dim) — independent of the total cell count K1·k2.
    The flat driver-list face ships the ENTIRE codebook in the task
    closure and scores every cell per row (measured 0.96→15.16 s for a
    fixed 5k batch at 1k→100k cells, SCALING.json
    semdedup_incremental_scale; the hier regime measured 14.6× at 1M
    cells, semdedup_hier_bigbook). ``subs`` MUST be the codebook the
    index was built with — a codebook re-derived from any other frame has
    different sub-centroids and silently incompatible cell ids.

    ``route_probes`` > 1 probes each BATCH row's p nearest cells (flat
    regime: top-p cells via _np_routed; hier regime: its p nearest
    routes' cells) so boundary-straddling neighbors are found — the
    probe-side half of the multi-probe recall fix (SCALING.json
    hier_multiprobe_r10). Hit counts then become DISTINCT-partner counts
    (a partner shared by two probed cells counts once); ``survives`` is
    unaffected (zero is zero either way). ``distinct_partners`` can also
    be forced True when probing a store built with
    ``ivf_cell_index_hier(route_probes>1)`` (a multi-probe INDEX can
    hold the same partner in two cells)."""
    from .gram import gram_group_pairs_cross

    if distinct_partners is None:
        distinct_partners = route_probes > 1
    elif route_probes > 1 and not distinct_partners:
        raise ValueError("route_probes > 1 requires distinct_partners "
                         "(a multi-probed batch id would otherwise "
                         "multiply every pair by its probe count)")
    if assigned is None:
        if subs is not None:
            assigned = (_np_assign_with_subs(new_df, vec_col, id_col,
                                             centroids, subs,
                                             prune_subs=True,
                                             route_probes=route_probes)
                        .select(F.col(id_col), "v", "cell"))
        elif route_probes > 1:
            # flat regime: the coarse codebook IS the cell space, so the
            # top-p routes are the top-p cells
            assigned = (_np_routed(new_df, vec_col, id_col, centroids,
                                   route_probes)
                        .select(F.col(id_col), "v",
                                F.col("route").alias("cell")))
        else:
            assigned = _np_assigned(new_df, vec_col, id_col, centroids)
        # MEASURED BOUNDARY of the shared-subtree law (r14): the
        # self-derived assignment is still consumed twice below (the
        # touched-cell probe and the union branch), but materializing it
        # — localCheckpoint AND persist both — strips the lineage whose
        # selective predicate Spark's DynamicPartitionPruning rule
        # requires, silently turning the partitioned store probe into a
        # FULL index scan (pinned in tests/test_gram.py::
        # test_cell_index_store_probe_uses_partition_pruning). One spare
        # batch-sized BLAS pass is noise next to DPP on a 100 TB store;
        # callers that own the lifecycle still pass ``assigned``.
    assigned = assigned.withColumn("_new", F.lit(True))
    if prune_index is None:
        # unknown size prunes: a bounded constant, never a wrong answer
        est = plan_bytes(index)
        prune_index = est is None or est >= PRUNE_MIN_INDEX_BYTES
    if prune_index:
        touched = assigned.select("cell").distinct()
        pruned = index.join(F.broadcast(touched), "cell", "left_semi")
    else:
        pruned = index
    both = assigned.unionByName(
        pruned.select(F.col(id_col), F.col("v"), F.col("cell"))
              .withColumn("_new", F.lit(False)))
    both = _with_sub(both, id_col, max_cell)
    # the cross kernel emits each pair's endpoint flags (new_a/new_b)
    # directly — the r13 shape joined the pair list back onto `both`
    # twice to recover them, re-evaluating the pruned-index subtree (an
    # index scan!) per flags join (shared-subtree law, r14 auditor
    # finding on o63/o64/o74).
    pairs = gram_group_pairs_cross(both, ["cell", "_sub"], id_col, "v",
                                   "_new", tau)
    if distinct_partners:
        # multi-probe: the same partner pair can co-occur in several
        # probed cells — reduce so hits count DISTINCT partners (the
        # flags ride along: identical for every duplicate of a pair)
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    tagged = pairs.withColumnRenamed("new_a", "_new_a") \
                  .withColumnRenamed("new_b", "_new_b")
    one = F.lit(1).cast("long")
    per_new = (tagged.select(
        F.explode(F.array(
            F.struct(F.col("id_a").alias("nid"),
                     F.when(F.col("_new_a") & ~F.col("_new_b"), one)
                      .otherwise(F.lit(0).cast("long")).alias("ih"),
                     F.lit(0).cast("long").alias("bh")),
            F.struct(F.col("id_b").alias("nid"),
                     F.when(F.col("_new_b") & ~F.col("_new_a"), one)
                      .otherwise(F.lit(0).cast("long")).alias("ih"),
                     F.when(F.col("_new_a") & F.col("_new_b"), one)
                      .otherwise(F.lit(0).cast("long")).alias("bh"))
        )).alias("s"))
        .select(F.col("s.nid").alias(id_col), F.col("s.ih"), F.col("s.bh"))
        .groupBy(id_col)
        .agg(F.sum("ih").alias("n_index_hits"),
             F.sum("bh").alias("n_batch_hits")))
    zero = F.lit(0).cast("long")
    return (new_df.select(id_col)
            .join(per_new, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_index_hits", zero).alias("n_index_hits"),
                    F.coalesce("n_batch_hits", zero).alias("n_batch_hits"))
            .withColumn("survives", (F.col("n_index_hits") == 0)
                                    & (F.col("n_batch_hits") == 0)))


def write_cell_index(index: DataFrame, path: str,
                     partition_col: str = "cell",
                     mode: str = "overwrite",
                     sort_within: tuple[str, ...] = ()) -> None:
    """Persist an ``ivf_cell_index``/``_hier`` output PARTITIONED BY its
    cell — the on-disk form of the continuous-ingest contract. Against a
    store written this way, ``semdedup_incremental``'s touched-cell
    broadcast semi-join compiles to DYNAMIC PARTITION PRUNING on the
    scan (verified in tests/test_gram.py: the executed plan carries a
    dynamicpruning partition filter), so an ingest batch physically
    reads only its touched cells' files — the index scan cost is
    O(touched cells), not O(corpus), no matter how large the store
    grows. Partition directories scale with the cell count: partition
    the FLAT regime by cell; in the hierarchical million-cell regime
    partition by a route column instead (K1 directories, cells pruned
    by parquet min/max within each route's files).

    ``mode="append"`` is the continuous-ingest write: each batch adds
    its rows to the touched cells' directories. Appends accumulate one
    small file per (batch, touched cell) — run ``compact_cell_index``
    when per-cell file counts grow past a threshold, or DPP-pruned reads
    degrade with ingest count.

    ``sort_within`` is the hier-store layout lever: for a ROUTE-
    partitioned store (``pq_cell_index_hier``), pass ``("cell",)`` to
    hash-cluster each route into its own tasks and sort rows by cell
    within them — parquet row groups then cover narrow cell ranges, so
    ``pq_topk_index_hier``'s pushed `cell IN (...)` predicate prunes
    row groups via min/max instead of scanning every row of the probed
    routes (measured in SCALING.json pq_hier_store_r11). One extra
    shuffle at index-build time; pointless for the flat store, where the
    partition directory IS the cell."""
    if sort_within:
        index = (index.repartition(F.col(partition_col))
                 .sortWithinPartitions(partition_col, *sort_within))
    index.write.mode(mode).partitionBy(partition_col).parquet(path)


def cell_store_file_stats(spark, path: str,
                          partition_col: str = "cell") -> dict:
    """{partition value (str): (n_files, n_bytes)} for a cell store —
    driver-side Hadoop FileSystem listing, the same metadata walk every
    scan of the store performs (two listStatus levels, no data read).
    Underscore/dot entries (_SUCCESS, .crc) are ignored."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    out: dict = {}
    for st in fs.listStatus(hpath):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        if not name.startswith(partition_col + "="):
            continue
        n, b = 0, 0
        for f in fs.listStatus(st.getPath()):
            fname = f.getPath().getName()
            if f.isFile() and not fname.startswith(("_", ".")):
                n += 1
                b += f.getLen()
        out[name.split("=", 1)[1]] = (n, b)
    return out


def compact_cell_index(spark, path: str, partition_col: str = "cell",
                       max_files_per_cell: int = 4,
                       target_file_bytes: int = 128 << 20) -> dict:
    """Cell-store maintenance under continuous ingest: rewrite ONLY the
    cell partitions whose file count exceeds ``max_files_per_cell``,
    leaving every other partition's files untouched (dynamic partition
    overwrite), so DPP-pruned probe reads stay O(touched cells) FILES —
    not O(touched cells x ingest batches) — no matter how many
    ``write_cell_index(mode="append")`` batches have landed.

    Shape: one driver-side listing (the same metadata walk a scan does)
    finds the over-cap cells; their rows are read back with a static
    partition filter (only those directories are scanned), snapshot via
    localCheckpoint (Spark refuses to overwrite a path it is reading
    from), and rewritten hash-clustered on (cell, salt) where salt splits
    a cell into ceil(bytes/target_file_bytes) output files — one file per
    small cell, target-sized files for jumbo cells (compact_write's
    sizing logic applied per partition). Untouched cells cost nothing;
    the rewrite is proportional to the over-cap data only.

    Returns {"cells_total", "compacted_cells", "files_before",
    "files_after"}.

    Concurrent readers (round-10 verdict ask #7, behavior pinned in
    tests/test_gram.py::test_probe_during_compaction_semantics): the
    dynamic partition overwrite DELETES the over-cap cells' old files,
    and `spark.read.parquet` captures the store's file listing in the
    plan's InMemoryFileIndex at BUILD time — so ANY reader created
    before the compaction (acted on or not) fails its next action over a
    compacted cell with `SparkException [FAILED_READ_FILE.FILE_NOT_
    EXIST]`. It does NOT silently return stale or partial rows, and
    `spark.catalog.refreshByPath` does not revive it (that refreshes
    catalog-cached tables, not a path-read plan). The recovery recipe is
    to re-create the reader: `read_cell_index(spark, path)` lists fresh
    and sees the compacted store. Long-running probes should therefore
    either finish before maintenance windows or catch FAILED_READ_FILE
    and retry with a fresh reader."""
    if max_files_per_cell < 1:
        raise ValueError("max_files_per_cell must be >= 1")
    stats = cell_store_file_stats(spark, path, partition_col)
    files_before = sum(n for n, _ in stats.values())
    over = {v: b for v, (n, b) in stats.items() if n > max_files_per_cell}
    if not over:
        return {"cells_total": len(stats), "compacted_cells": 0,
                "files_before": files_before, "files_after": files_before}
    df = spark.read.parquet(path)
    ptype = df.schema[partition_col].dataType.simpleString()
    vals = ([int(v) for v in over] if ptype in
            ("int", "bigint", "smallint", "tinyint") else list(over))
    sel = df.where(F.col(partition_col).isin(vals))
    ks = [(v, max(1, -(-b // target_file_bytes)))
          for v, b in zip(vals, over.values())]
    kdf = spark.createDataFrame(ks, f"{partition_col} {ptype}, _k int")
    data_cols = [c for c in df.columns if c != partition_col]
    salted = (sel.join(F.broadcast(kdf), partition_col)
              .withColumn("_salt",
                          F.pmod(F.xxhash64(*data_cols), F.col("_k"))))
    # snapshot executor-side so the overwrite below doesn't read `path`
    snap = (salted.repartition(F.col(partition_col), F.col("_salt"))
            .drop("_k", "_salt")
            .localCheckpoint(eager=True))
    conf = spark.conf
    prev = conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        snap.write.mode("overwrite").partitionBy(partition_col) \
            .parquet(path)
    finally:
        conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    after = cell_store_file_stats(spark, path, partition_col)
    return {"cells_total": len(after), "compacted_cells": len(over),
            "files_before": files_before,
            "files_after": sum(n for n, _ in after.values())}


def read_cell_index(spark, path: str,
                    partition_col: str = "cell") -> DataFrame:
    """Read a ``write_cell_index`` store back into the probe-ready
    (id, v, cell) shape. Partition-column values come back via directory
    inference — cast to long so downstream unions/joins line up with
    the in-memory index's LongType cells."""
    df = spark.read.parquet(path)
    return df.withColumn(partition_col,
                         F.col(partition_col).cast("long"))


def _is_stale_listing_error(e: Exception) -> bool:
    """True iff ``e`` is the documented mid-compaction stale-listing
    failure (``FAILED_READ_FILE.FILE_NOT_EXIST``).

    Match order (ADVICE r13): the exception's captured errorClass when
    PySpark surfaces one (authoritative — survives message re-wrapping),
    else the ``FILE_NOT_EXIST`` class substring in the stringified
    exception — bare, not requiring the ``FAILED_READ_FILE`` prefix,
    because a task failure re-wrapped by an outer layer can keep only the
    inner error class. A mistyped store path still does NOT retry — it
    raises PATH_NOT_FOUND / "does not exist" with neither marker
    (ADVICE r12), pinned in tests/test_gram.py."""
    cls = None
    get_cls = getattr(e, "getErrorClass", None)
    if callable(get_cls):
        try:
            cls = get_cls()
        except Exception:  # noqa: BLE001 - fall through to substrings
            cls = None
    if cls:
        return "FILE_NOT_EXIST" in cls or cls.startswith("FAILED_READ_FILE")
    msg = str(e)
    return "FILE_NOT_EXIST" in msg


def probe_cell_store(spark, path: str, probe,
                     partition_col: str = "cell",
                     index: DataFrame | None = None) -> list:
    """Run ``probe`` (reader DataFrame -> result DataFrame) against a
    cell store and return its collected rows, recovering ONCE from the
    documented mid-compaction failure mode — the recovery RECIPE from
    ``compact_cell_index``'s docstring as code (round-11 verdict ask #6).

    A reader planned before a ``compact_cell_index`` partition swap holds
    the old file listing and fails its next action with
    ``FAILED_READ_FILE.FILE_NOT_EXIST`` (loudly — never silently stale,
    pinned in tests/test_gram.py::test_probe_during_compaction_semantics).
    This wrapper catches exactly that error class, re-creates the reader
    (a fresh ``read_cell_index`` lists fresh), and re-runs the probe; any
    other failure — and a second listing failure, which would mean
    compaction is running CONTINUOUSLY against this store — propagates.

    ``index`` seeds the first attempt with an existing reader (the
    long-running-probe shape: plan once, act much later); omitted, the
    first attempt also lists fresh and the retry only fires if a
    compaction lands between the wrapper's own plan and action."""
    df = index if index is not None else read_cell_index(spark, path,
                                                         partition_col)
    try:
        return probe(df).collect()
    except Exception as e:
        if not _is_stale_listing_error(e):
            raise
        try:
            fresh = read_cell_index(spark, path, partition_col)
            return probe(fresh).collect()
        except Exception as retry_err:
            # a second listing failure means compaction is running
            # CONTINUOUSLY against this store; surface the ORIGINAL
            # stale-listing error as the cause, not just the retry's
            raise retry_err from e


def semdedup_collision_stream(stream: DataFrame, index: DataFrame,
                              vec_col: str, id_col: str,
                              centroids: list[tuple[int, list[float]]],
                              tau: float, ts_col: str = "ts",
                              watermark: str = "10 minutes") -> DataFrame:
    """Streaming face of the SemDeDup cell index: (id, ts) of streamed
    embeddings with a within-tau cosine neighbor in their cell of the
    persisted ``ivf_cell_index`` — the EMBEDDING twin of
    dedup.index_collision_stream (the MinHash quarantine stream). Every
    stage is stream-legal: the cell assignment is the map-only literal
    argmin (the expression face — a broadcastable codebook rides the
    plan; the BLAS kernel drops the event-time column, and a join-back
    would be a stream-stream join), the probe is a stream-static
    equi-join on cell, the cosine gate a row-local expression, and the
    one-flag-per-document rule a watermarked dedup on the id.

    Full batch-exact semantics (n_index_hits / n_batch_hits / survivors)
    belong in foreachBatch + ``semdedup_incremental`` — per micro-batch
    that IS the batch operator. On a batch frame this function runs the
    SAME plan with a groupBy-min in place of the watermark dedup, which
    is how tests/test_streaming.py pins stream == batch.

    Parity caveat (ADVICE r9): the guarantee is over the flagged ID SET,
    not (id, ts) pairs. If the same id streams more than once with
    different timestamps, the streaming face keeps the FIRST-ARRIVING
    row's ts (dropDuplicatesWithinWatermark) while the batch face
    returns min(ts) — equal only when arrival order is timestamp order.
    tests/test_streaming.py pins exact equality for unique ids and
    id-set equality for repeated ids."""
    assigned = (stream.select(F.col(id_col), F.col(ts_col),
                              _as_double(vec_col).alias("v"))
                .withColumn("cell",
                            F.element_at(_dist_structs("v", centroids),
                                         1)["cell"]))
    idx = index.select(F.col(id_col).alias("_iid"),
                       F.col("v").alias("_iv"), F.col("cell"))
    cos = _dot(F.col("v"), F.col("_iv")) / (_norm(F.col("v"))
                                            * _norm(F.col("_iv")))
    hits = (assigned.join(idx, "cell")
            .where(F.col(id_col) != F.col("_iid"))
            .where(cos >= F.lit(float(tau)))
            .select(id_col, ts_col))
    if hits.isStreaming:
        return (hits.withWatermark(ts_col, watermark)
                    .dropDuplicatesWithinWatermark([id_col]))
    return hits.groupBy(id_col).agg(F.min(ts_col).alias(ts_col))
