"""End-to-end pipelines. They add no semantics — every stage is an
already oracle-verified operator — they pin the COMPOSITION.

``decompose``: the paper's deliverable (Kenig et al., SIGMOD 2020) — mine
a relation's minimal-separator JDs, enumerate acyclic schemas, count their
spurious tuples, keep one and write it, all over one entropy engine. o69
checks it against its DuckDB twin.

``curate_corpus``: the operators composed the way a training-data pipeline
actually runs them — exact dedup -> near-dup (MinHash-LSH + connected
components) -> quality gates (heuristic score, Gopher-style repetition,
optional unigram-LM cross-entropy band) -> benchmark decontamination ->
mixture rebalance -> sequence packing. Everything stays one lazy DataFrame
program per stage (no collects, no Python in hot paths); the funnel report
is itself a DataFrame (a union of single-row count aggregates), so
evaluating it is one Spark job and the curated output can be written
without ever materializing intermediates. tests/test_pipeline.py pins the
ids surviving each stage on a planted fixture.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, functions as F

from .engine.decompose import (DecompositionValidator,
                               write_decomposition_bucketed)
from .engine.measures import MeasureEngine
from .mining.jd_miner import JDMiner
from .operators.corpus import (decontaminate, quality_repetition_profile,
                               unigram_xent_score)
from .operators.dedup import (apply_dedup, connected_components,
                              exact_dedup, lsh_candidate_pairs)
from .operators.sampling import rebalance_to_mixture
from .operators.text import pack_sequences
from .schema.acyclic import (AcyclicSchemaEnumerator,
                             validate_schemas_concurrent)

# a decomposition validates the first CANDIDATES schemas enumerated
CANDIDATES = 3


def candidate_schemas(v: DecompositionValidator) -> tuple[list, list]:
    """Mine exact (epsilon = 0) minimal-separator JDs on the validator's
    engine, enumerate the first CANDIDATES acyclic schemas and validate
    them in one call; returns (schemas, infos)."""
    miner = JDMiner(MeasureEngine(v.eng), epsilon=0.0)
    miner.mine_all_min_seps()
    schemas = list(itertools.islice(AcyclicSchemaEnumerator(
        v.schema_cols, sorted(miner.mined_jds, key=str)), CANDIDATES))
    return schemas, validate_schemas_concurrent(v, schemas)


def choose_schema(schemas: list, infos: list) -> int:
    """Index of the schema to keep: fewest spurious tuples, then more
    clusters, then the first enumerated (o69's contract, twinned in
    DuckDB by oracles_mining.oracle_decompose_summary)."""
    return min(range(len(schemas)), key=lambda i: (
        infos[i].spurious_tuples, -len(schemas[i].clusters), i))


def decompose(df: DataFrame, join_key: str, table_prefix: str
              ) -> tuple[list, list, int, list[str]]:
    """Mine, enumerate, validate and choose a schema for ``df``, and write
    it bucketed on ``join_key``. Returns the candidate schemas and their
    DecompositionInfos in enumeration order, the index of the one written,
    and its tables, which the caller owns. Every cache the call makes is
    released before it returns or raises."""
    v = DecompositionValidator(df)
    try:
        schemas, infos = candidate_schemas(v)
        best = choose_schema(schemas, infos)
        tables = write_decomposition_bucketed(df, schemas[best].clusters,
                                              join_key, table_prefix)
    finally:
        v.close()
    return schemas, infos, best, tables


def curate_corpus(docs: DataFrame, text_col: str, id_col: str, *,
                  source_col: str | None = None,
                  mixture: dict[str, float] | None = None,
                  benchmark: DataFrame | None = None,
                  quality_min: float = 0.25,
                  xent_max: float | None = None,
                  lsh_min_est: float = 0.7,
                  max_bucket: int | None = None,
                  pack_target: int = 2048,
                  pack_shards: int = 64,
                  persist_stages: bool = False,
                  persisted_out: list | None = None
                  ) -> tuple[DataFrame, DataFrame]:
    """Returns (packed, funnel):

    - packed: `pack_sequences` output over the surviving documents —
      (id, shard, tokens, bin_id, bin_offset), ready to drive shard
      writes.
    - funnel: (stage, n_docs) one row per stage in order — the curation
      report. Lazy; each row recomputes its stage prefix when evaluated,
      so evaluate it once (or persist the final survivors first) when the
      corpus is large.

    Optional stages engage only when their inputs are given: `benchmark`
    (n-gram-overlap decontamination), `source_col`+`mixture` (rebalance),
    `xent_max` (drop high-cross-entropy outliers; token-less docs pass).
    `max_bucket` forwards the LSH hot-bucket guard for boilerplate-heavy
    corpora.

    `persist_stages=True` persists each stage's SURVIVOR-ID frame (not
    the full-text frame) so that evaluating the funnel AND the packed
    output computes every stage once instead of re-deriving each stage's
    prefix per funnel row (the lazy default re-evaluates a 6-stage prefix
    chain ~quadratically: measured 25 s -> ~10 s at sf0.1). Downstream
    stages reconstruct their input as base-scan ⋈ ids — every stage is a
    row-subset of `docs` with unchanged schema, so the join-back is
    exact. Why ids, not frames (round-11 A/B at sf10): caching three
    full-text stage copies measured 61 s with ±20% run-to-run swings
    (text churning through the block store) vs 45 s ± 0.4 s for
    id-persist; and at 100 TB caching the corpus text is infeasible
    anyway — survivor ids are the stage state that scales, the text
    column always comes from the columnar scan. The caller owns the
    storage: pass `persisted_out` (a list; every persisted id frame is
    appended) and unpersist them after the outputs are materialized, or
    call `df.sparkSession.catalog.clearCache()` if nothing else in the
    session is cached."""
    def _keep(frame: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(reconstructed stage, count frame): persist the survivor ids,
        return docs ⋈ ids for downstream stages and the tiny id frame for
        the funnel count."""
        if not persist_stages:
            return frame, frame
        ids = frame.select(id_col).persist()
        if persisted_out is not None:
            persisted_out.append(ids)
        return docs.join(ids, id_col), ids

    stages: list[tuple[str, DataFrame]] = [("input", docs)]
    cur = docs

    survivors = (exact_dedup(cur, [text_col], id_col)
                 .select(F.col("keep_id").alias(id_col)))
    cur, cnt = _keep(cur.join(survivors, id_col))
    stages.append(("exact_dedup", cnt))

    pairs = lsh_candidate_pairs(cur, text_col, id_col,
                                min_est=lsh_min_est,
                                max_bucket=max_bucket, skew_mode="split")
    cur, cnt = _keep(apply_dedup(cur, connected_components(pairs), id_col))
    stages.append(("near_dedup", cnt))

    # ONE fused scan for both per-document gates (r12 verdict ask #4):
    # quality (codegen expression) and repetition (Arrow kernel) ride a
    # single projection, so the gate pass reads the survivor text once
    # instead of twice and joins ONE id frame instead of two; the AND of
    # the two predicates is exactly the former keep_q ⋈ keep_r
    # intersection (both were unique-id row subsets).
    keep_qr = (quality_repetition_profile(cur, text_col, id_col)
               .where((F.col("quality") >= quality_min)
                      & (F.col("repetitive") == 0)).select(id_col))
    if persist_stages:
        # intra-stage id persist: the xent gate below and the stage's
        # final survivor persist each re-evaluate keep_qr's subtree
        # otherwise (Spark has no automatic subtree reuse) — same
        # ids-not-frames law as _keep
        keep_qr = keep_qr.persist()
        if persisted_out is not None:
            persisted_out.append(keep_qr)
    cur = cur.join(keep_qr, id_col)
    if xent_max is not None:
        keep_x = (unigram_xent_score(cur, text_col, id_col)
                  .where(F.col("xent").isNull()
                         | (F.col("xent") <= xent_max)).select(id_col))
        cur = cur.join(keep_x, id_col)
    cur, cnt = _keep(cur)
    stages.append(("quality", cnt))

    if benchmark is not None:
        clean = (decontaminate(cur, text_col, id_col, benchmark)
                 .where(F.col("contaminated") == 0).select(id_col))
        cur, cnt = _keep(cur.join(clean, id_col))
        stages.append(("decontaminated", cnt))

    if source_col is not None and mixture:
        cur, cnt = _keep(rebalance_to_mixture(cur, id_col, source_col,
                                              mixture))
        stages.append(("rebalanced", cnt))

    packed = pack_sequences(cur, text_col, id_col, pack_target, pack_shards)

    funnel = None
    for name, frame in stages:
        row = frame.agg(F.count(F.lit(1)).alias("n_docs")) \
                   .select(F.lit(name).alias("stage"), "n_docs")
        funnel = row if funnel is None else funnel.unionByName(row)
    return packed, funnel
