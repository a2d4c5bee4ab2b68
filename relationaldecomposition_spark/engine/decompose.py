"""Decomposition validation: spurious-tuple counting + normalized output.

Re-expresses the reference's SQLite-based validators Spark-first:

- A12 cluster projection: ``SELECT DISTINCT cols, CAST(1 AS BIGINT) cnt``
  (`entropy/NewSmallDBInMemory.java:481-502`) → ``df.select(*cols)
  .distinct()`` + a literal count column.
- A13 Yannakakis-style pairwise fold with count aggregation
  (`entropy/NewSmallDBInMemory.java:354-452` proccessDecomposition): join
  the running relation with the next cluster projection on their shared
  attributes, keep SUM(cnt1*cnt2) grouped by exactly the attributes still
  needed by the remaining clusters. The final SUM(cnt) is the size of the
  full natural join; spurious = that − |distinct base|.
- A14 join-tree ordering (`entropy/SmallDBInMemory.java:496-681`): same
  fold, ordered leaf→root — here, a greedy max-shared-attributes order that
  avoids cartesian intermediates (the result is order-invariant; only the
  plan changes).
- A15 naive multi-way join + DISTINCT count
  (`entropy/SmallDBInMemory.java:207-334` testDecomposition): kept as a
  test oracle.
- A16 distinct base count (`entropy/NewSmallDBInMemory.java:271-281`).
- A21 DecompositionInfo metrics (`entropy/NewSmallDBInMemory.java:547-576`).

Duplicate rows change no number validation reads, so the base is not
deduplicated first (the reference validates ``SELECT DISTINCT *`` copies,
`NewSmallDBInMemory.java:180-187`): projection sizes are group counts
|π_X(R)|, |base| is the full column set's group count, and both folds join
distinct projections.

Scale notes (100 TB):
- Projection sizes (A12) and the base count (A16) come from the entropy
  kernel over the relation as given; pipeline.decompose mines on the same
  engine, so the relation is persisted, sized and collected once.
- The kernel's sizing count() of N rows picks the face of both the pricing
  and the count fold. At most BROADCAST_MAX_ROWS rows, the kernel collects
  the relation once as Arrow and encodes it; pricing and every fold then
  run on the driver in numpy over its distinct code rows, with no further
  Spark job — the reference's single-node in-memory validation. Concurrent
  validations on one validator share that one collect. A fold step that
  would hold more rows than that bound, or a larger relation (duplicates
  counted), takes the Spark face, after one pricing job per validate call.
- On the Spark face projections are not persisted; each is one
  column-pruned shuffle inside its fold. Columns are referenced backquoted
  and the count columns are named apart from the base's, so any column
  name folds. Join strategy and skew are left to AQE. It collects nothing
  but one final scalar per set.
- The group-by after every join keeps intermediates at most as wide as the
  union of remaining separators — the Yannakakis guarantee that
  intermediate size is bounded by output size for acyclic decompositions.
- Both faces compute in exact int64 and raise ARITHMETIC_OVERFLOW (ANSI)
  rather than wrap.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

import numpy as np
from pyspark.errors import ArithmeticException
from pyspark.sql import DataFrame, functions as F

from ..core.attrset import attrset, sorted_cols
from .entropy import (BROADCAST_MAX_ROWS, SparkEntropyEngine, _col, _fresh,
                      _group_ids)
from .fanout import fanout


class DecompositionCanceled(RuntimeError):
    """Raised when a should_stop callable interrupts a validation run."""


@dataclass
class DecompositionInfo:
    """Mirror of `entropy/NewSmallDBInMemory.java:547-576`."""

    smallest_relation: int = -1
    largest_relation: int = -1
    total_tuples: int = 0
    total_cells: int = 0
    spurious_tuples: int = 0
    cluster_sizes: dict = field(default_factory=dict)

    def add(self, cluster: frozenset[str], count: int) -> None:
        if self.smallest_relation < 0 or count < self.smallest_relation:
            self.smallest_relation = count
        if count > self.largest_relation:
            self.largest_relation = count
        self.total_tuples += count
        self.total_cells += count * len(cluster)
        self.cluster_sizes[tuple(sorted(cluster))] = count


def project_cluster(base: DataFrame, cluster, schema_cols=None,
                    cnt: str | None = "cnt") -> DataFrame:
    """A12: distinct projection of one cluster, with the literal count
    column ``cnt`` the count-fold multiplies through (none when None)."""
    cols = sorted_cols(attrset(cluster), schema_cols or base.columns)
    proj = base.select(*map(_col, cols)).distinct()
    if cnt is not None:
        proj = proj.withColumn(cnt, F.lit(1).cast("bigint"))
    return proj


def _greedy_order(clusters: list[frozenset[str]]) -> list[frozenset[str]]:
    """Order clusters so each join shares attributes with the accumulated
    set when possible (message-passing order for connected join trees);
    falls back to the largest-overlap-first heuristic on ties."""
    remaining = list(clusters)
    if not remaining:
        return []
    # start with the largest cluster
    start = max(remaining, key=len)
    remaining.remove(start)
    order = [start]
    acc = set(start)
    while remaining:
        best = max(remaining, key=lambda c: (len(acc & c), -len(c)))
        remaining.remove(best)
        order.append(best)
        acc |= best
    return order


def _checked_sums(gid: np.ndarray, k: int, w: np.ndarray) -> np.ndarray:
    """Exact int64 sums of the positive counts ``w`` per group; raises
    ARITHMETIC_OVERFLOW where Spark's ANSI sum would, instead of wrapping."""
    sums = np.zeros(k, np.int64)
    np.add.at(sums, gid, w)
    # over at most BROADCAST_MAX_ROWS terms a float sum is within a relative
    # 1e-9 of exact, so every group that could pass 2^63 reads above 2^62;
    # only those are re-summed exactly
    approx = np.bincount(gid, weights=w, minlength=k)
    for g in np.flatnonzero(approx >= 2.0 ** 62):
        if sum(map(int, w[gid == g])) > np.iinfo(np.int64).max:
            raise ArithmeticException(
                "[ARITHMETIC_OVERFLOW] long overflow in the join-size fold")
    return sums


def _driver_fold_total(codes: dict, n: int, cl, schema_cols) -> int | None:
    """A13 on the driver: the fold of _fold_total_frame over the n encoded
    base rows, in the same greedy order, joining on shared columns (a null
    key never matches) and summing counts per still-needed group. Returns
    |⋈ projections|, or None when a step's join would hold more than
    BROADCAST_MAX_ROWS rows, a size read off the two sides' key histograms
    before the step is materialized."""
    def project(c):
        cols = sorted_cols(c, schema_cols)
        first = _group_ids([codes[x] for x in cols], n)[1]
        return {x: codes[x][first] for x in cols}, len(first)

    acc, m = project(cl[0])
    acc_attrs, cnt = cl[0], np.ones(m, np.int64)
    for i in range(1, len(cl)):
        p2, r = project(cl[i])  # distinct: every right-side count is 1
        keys = [np.concatenate([acc[x], p2[x]])
                for x in sorted_cols(acc_attrs & cl[i], schema_cols)]
        ids = _group_ids(keys, m + r)[0]  # no shared column: all one key
        for key in keys:
            ids[key < 0] = -1
        lid, rid = ids[:m], ids[m:]
        rows = np.flatnonzero(rid >= 0)
        # the extra last slot stays 0, so a null key (-1) finds no partner
        hist = np.bincount(rid[rows], minlength=int(ids.max(initial=-1)) + 2)
        per = hist[lid]
        size = int(per.sum())
        if size > BROADCAST_MAX_ROWS:
            return None
        # left row li[j] meets the right rows of its key, stored contiguously
        li = np.repeat(np.arange(m), per)
        run = np.arange(size) - np.repeat(np.cumsum(per) - per, per)
        by_key = rows[np.argsort(rid[rows], kind="stable")]
        ri = by_key[(np.cumsum(hist) - hist)[lid[li]] + run]
        acc_attrs = acc_attrs | cl[i]
        needed = frozenset().union(*cl[i + 1:])
        group = sorted_cols(needed & acc_attrs, schema_cols)
        vals = [acc[x][li] if x in acc else p2[x][ri] for x in group]
        gid, first = _group_ids(vals, size)
        acc, m = {x: v[first] for x, v in zip(group, vals)}, len(first)
        cnt = _checked_sums(gid, m, cnt[li])
    # the last step groups by nothing: cnt is one checked sum, or all 1s
    return int(cnt.sum())


class DecompositionValidator:
    """Spurious-tuple counting for a set of clusters over one relation."""

    def __init__(self, df: DataFrame):
        self.schema_cols = tuple(df.columns)
        # the one counter: cluster projection sizes are the kernel's group
        # counts over the relation, and the full column set's is |base|
        self.eng = SparkEntropyEngine(df)
        self.base = self.eng.df

    @property
    def num_tuples(self) -> int:
        """A16: |SELECT DISTINCT * FROM base|."""
        return self.eng.num_distinct

    # -- A13/A14 count fold ---------------------------------------------------

    def process_decomposition(self, clusters,
                              should_stop=None) -> DecompositionInfo:
        """Join-size counting fold (proccessDecomposition) of one cluster
        set; see validate."""
        return self.validate([clusters], should_stop)[0]

    def validate(self, cluster_sets,
                 should_stop=None) -> list[DecompositionInfo]:
        """Validate several cluster sets (e.g. candidate schemas); returns
        one DecompositionInfo per set, in input order, with spurious_tuples
        = |⋈ projections| − |base|. The joins are natural joins, so a null
        in a join column matches nothing and the spurious count can be
        negative when a join column holds nulls.

        The entropy kernel prices every distinct projection across all
        sets, and the full column set, whose group count is |base|, in one
        call (a repeat call finds them priced). The count folds then take
        the kernel's face, chosen by its sizing count of the relation's N
        rows:

        - N <= BROADCAST_MAX_ROWS: every set folds on the driver
          (_driver_fold_total) over the distinct code rows of the kernel's
          one Arrow collect, which priced the projections too. A set whose
          fold would hold more than BROADCAST_MAX_ROWS rows at any step
          falls to the Spark face.
        - otherwise, and for those sets: one kernel job prices the
          projections, and the Spark fold runs 4 sets at a time, since a
          single fold is a chain of short jobs whose cost is per-action
          scheduling latency.

        ``should_stop``: optional callable polled before the pricing job and
        before each set's fold (on the Spark face, before its final
        aggregate) — cancelJobGroup only kills in-flight jobs, so without
        this check a canceled run would still launch the remaining ones."""
        stop = should_stop or (lambda: False)
        orders = [_greedy_order([attrset(c) for c in cs])
                  for cs in cluster_sets]
        if stop():
            raise DecompositionCanceled("canceled before projection pricing")
        full = frozenset(self.schema_cols)
        counts = self.eng.group_counts(
            [full, *(c for cl in orders for c in cl)])
        infos = [DecompositionInfo() for _ in orders]
        for info, cl in zip(infos, orders):
            for c in cl:
                info.add(c, counts[c])
        todo = [i for i, cl in enumerate(orders) if cl]
        table = self.eng.driver_table() if todo else None
        if table is not None:
            spark_todo = []
            for i in todo:
                if stop():
                    raise DecompositionCanceled("canceled before a fold")
                total = _driver_fold_total(table.codes, table.rows, orders[i],
                                           self.schema_cols)
                if total is None:
                    spark_todo.append(i)
                else:
                    infos[i].spurious_tuples = total - counts[full]
            todo = spark_todo

        def fold(i):
            if stop():
                raise DecompositionCanceled("canceled before final aggregate")
            total = self._fold_total_frame(orders[i]).first()["total"]
            infos[i].spurious_tuples = int(total or 0) - counts[full]

        fanout(self.base.sparkSession, fold, todo, 4)
        return infos

    def _fold_total_frame(self, cl) -> DataFrame:
        """The lazy join-size fold of a greedy-ordered cluster list: a
        single-row DataFrame whose column ``total`` = |⋈ projections|."""
        cnt = _fresh("cnt", self.schema_cols)
        cnt_r = _fresh("cnt_r", self.schema_cols)
        acc_attrs = cl[0]
        acc = project_cluster(self.base, cl[0], self.schema_cols, cnt)
        for i in range(1, len(cl)):
            c2 = cl[i]
            p2 = project_cluster(self.base, c2, self.schema_cols, cnt_r)
            join_cols = sorted_cols(acc_attrs & c2, self.schema_cols)
            acc_attrs = acc_attrs | c2
            # attributes still needed: anything a remaining cluster mentions
            needed = frozenset().union(*cl[i + 1:])
            group_cols = sorted_cols(needed & acc_attrs, self.schema_cols)
            joined = (acc.join(p2, on=join_cols) if join_cols
                      else acc.crossJoin(p2))
            prod = F.sum(F.col(cnt) * F.col(cnt_r)).alias(cnt)
            if group_cols:
                acc = joined.groupBy(*map(_col, group_cols)).agg(prod)
            else:
                acc = joined.agg(prod)
        return acc.agg(F.sum(F.col(cnt)).alias("total"))

    # -- A15 naive oracle -----------------------------------------------------

    def naive_join_spurious(self, clusters) -> int:
        """Test oracle: natural-join all projections, DISTINCT, count, minus
        base count (testDecomposition)."""
        cl = [attrset(c) for c in clusters]
        cl = _greedy_order(cl)
        dfs = [project_cluster(self.base, c, self.schema_cols, cnt=None)
               for c in cl]

        def nat_join(a, b):
            shared = sorted_cols(set(a.columns) & set(b.columns), self.schema_cols)
            return a.join(b, on=shared) if shared else a.crossJoin(b)

        joined = reduce(nat_join, dfs)
        return joined.distinct().count() - self.num_tuples

    def close(self) -> None:
        self.eng.unpersist()


def _remove_orphan_table_location(spark, name: str) -> None:
    """Delete a local warehouse directory for `name` that no catalog entry
    owns (leftover from another session). file:-scheme paths only. `name`
    derives from a caller-supplied table prefix, so it is validated as a
    plain identifier and the resolved path is required to stay inside the
    warehouse dir — a prefix containing '/' or '..' must never escape."""
    import os
    import re
    import shutil
    from urllib.parse import urlparse

    if not re.fullmatch(r"[A-Za-z0-9_]+", name):
        return
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    if wh.scheme not in ("", "file") or not wh.path:
        return
    root = os.path.realpath(wh.path)
    loc = os.path.realpath(os.path.join(root, name.lower()))
    if os.path.dirname(loc) == root and os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)


def write_decomposition_bucketed(df: DataFrame, clusters, join_key: str,
                                 table_prefix: str, num_buckets: int = 32) -> list[str]:
    """Scale variant of the ETL writer: materialize each cluster projection
    as a bucketed+sorted table on the join key, so downstream rejoins of the
    normalized tables are co-located — sort-merge join with NO exchange on
    either side (pinned by tests/test_plans.py). This is the 100 TB answer
    to 'the decomposition will be re-joined constantly': pay the shuffle
    once at write time.

    Only clusters containing ``join_key`` are bucketed; others are written
    unbucketed. Returns the created table names (input order).

    The per-cluster writes run CONCURRENTLY (round-8): each is an
    independent distinct+shuffle+write over the shared persisted base
    whose wall-clock is dominated by job scheduling and the write
    barrier, not executor saturation — three sf0.1 cluster writes
    measure ~5 s sequential vs ~2 s overlapped. Table names are disjoint
    per worker, so the DROP/orphan-cleanup prologue never races on the
    same location. The first failure cancels every not-yet-started write
    and is re-raised."""
    base = df.distinct().persist()
    spark = df.sparkSession

    def write_one(item):
        i, cluster = item
        cols = sorted_cols(attrset(cluster), df.columns)
        name = f"{table_prefix}_cluster_{i:03d}"
        # mode("overwrite") only replaces tables THIS catalog knows;
        # a managed-table directory left by a previous session (local
        # in-memory catalog, surviving warehouse dir) fails CTAS with
        # LOCATION_ALREADY_EXISTS — drop the entry and any orphaned
        # local location first. Real metastores never orphan.
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        _remove_orphan_table_location(spark, name)
        writer = base.select(*map(_col, cols)).distinct().write.mode("overwrite")
        if join_key in cols:
            writer = writer.bucketBy(num_buckets, join_key).sortBy(join_key)
        writer.saveAsTable(name)
        return name

    try:
        return fanout(spark, write_one, enumerate(clusters), 4)
    finally:
        base.unpersist()
