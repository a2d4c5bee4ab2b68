"""SparkEntropyEngine: Shannon entropies of column subsets of a DataFrame.

Replaces the reference's three entropy backends — full-scan counting
(`entropy/ExternalFileDataSet.java:44-166`), H2 inverted-index SQL
(`entropy/CompressedDB.java`), and column-range-partitioned k-way joins
(`entropy/MasterCompressedDB.java`) — with one rule: count on the driver
when the relation is small, on Spark otherwise. Both faces compute

  H(X) = log2(N) - (1/N) * sum over groups g of X of (c_g * log2(c_g))

Sizing. The engine's first kernel action is a count() of its persisted
input: N, which the lazy mining path (H(R)) and the validator (|base|)
need anyway. It scans the cache and shuffles nothing.

Driver face. When N <= BROADCAST_MAX_ROWS and no column is nested, the raw
rows are collected ONCE as Arrow, every column is dictionary-encoded (A3,
``_encode``), and repeated rows fold into D distinct rows with their
multiplicities. From then on every request is answered in numpy with no
Spark job: group ids, weighted ``bincount``, then H and the group count.
This is the reference's single-node design (`entropy/CompressedDB.java`:
encode once into in-memory H2, memoize every entropy); at this size a
Spark job is planning and scheduling latency, not work.

Spark face (larger N, or a nested column): ``df.groupBy(*X).count()`` + a
scalar aggregate: one shuffle of exactly the columns in X (Catalyst prunes
the scan to X), partial map-side aggregation, and a collect of one row per
set. The reference's inverted indexes (A4), tid joins (A6), and
HAVING-singleton correction (`entropy/CompressedDB.java:275-284,330-340`)
exist to make a single-node SQL engine do this cheaply; on Spark they are
subsumed by the shuffle-based hash aggregate.

Batching (A8, `ExternalFileDataSet.computeEntropies:111-166` — one scan
feeding many count maps) maps to ``DataFrame.groupingSets``: one scan +
one shuffle computes every subset's histogram, with ``grouping()`` flags
separating subsets. Beside sum(c*log2(c)) the job returns each set's group
count |π_X(R)| and N = sum(c): it is the one place the paper pipeline
counts groups, so projection sizes (A12) and distinct counts (A16) never
run a job of their own. Each grouping set replicates every input row once
into the shuffle, so batch width is capped (default 32 sets/job, at most
16 of them wide and without a cached estimate — the analogue of
MasterCompressedDB's RangeSize bound) and large requests are chunked. The
A11 lattice (``GROUP BY CUBE``) is the same grouping-sets job over every
subset.

Cache ownership. Spark keys cache entries by logical plan, so unpersisting
a DataFrame uncaches every DataFrame with an equal plan. An engine persists
its input only when Spark reports it uncached, and ``unpersist()`` releases
only a cache that engine made: engines over one relation share one entry,
and none uncaches another's input or the caller's own ``persist()``.

Scale notes (100 TB):
- Entropy is algebraic: sum(c*log2(c)) over a group-by — partial aggregation
  means shuffled bytes are O(#distinct groups), not O(rows).
- High-cardinality subsets (worst case: near-key column sets) shuffle one
  row per group; AQE coalescing keeps partition counts sane. The Spark face
  collects one row per grouping set.
- The driver face holds at most BROADCAST_MAX_ROWS rows as int64 codes
  (8 bytes per cell) for the engine's lifetime. Above the bound the only
  cost it adds is the count() per engine, a scan of the cached input.
- The driver-side cache (A9) is the real optimizer: lattice searches re-ask
  the same subsets constantly; the reference relies on the same memoization
  (`entropy/ExternalFileDataSet.java:15,44-48`).
"""

from __future__ import annotations

import math
import threading
import time
from collections.abc import Callable, Iterable, Sequence
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

from ..core.attrset import attrset, sorted_cols


class MiningCancelled(RuntimeError):
    """Raised between entropy chunk jobs when the engine's stop_check flips
    (B18 cooperative cancellation — see SparkEntropyEngine.stop_check)."""

# Cap on grouping sets per job: each set replicates the scan's rows into
# partial aggregation, so width w multiplies ONE job's expand input by w —
# but the TOTAL expand work over a request is width-invariant (sum over sets
# of N rows, however they are chunked), so the cap trades per-job size
# against the NUMBER of chunk jobs, each of which re-scans the input. The
# r14 per-chunk profile at sf10 (SCALING.json entropy_chunk_profile_r14,
# tools/profile_entropy_chunks.py) measured batch32 wall 17.8 s -> ~16 s
# (jobs 5 -> 4) raising 16 -> 32, and neutral at sf0.1 (same 4-job
# packing either way); at 100 TB fewer chunks = fewer corpus scans, which
# dominates once the input outgrows cache. Shuffle OUTPUT stays guarded by
# the group-mass budget (GROUP_BUDGET_ROWS), not by this cap; the original
# 16 matched the reference's RangeSize envelope (5-16,
# `search/MinimalJDGenerator.java:1142-1162`). Residual caveat: a COLD
# chunk (no cached estimates) is budget-blind, so a wider cap doubles the
# worst-case per-job partial-agg working set — in practice the
# singles-first seeding chunk populates estimates before any wide chunk
# runs.
DEFAULT_MAX_GROUPING_SETS = 32

# Chunk shuffle-output budget, as a multiple of N: a batch of grouping sets
# whose cache-estimated group counts sum past this is split, so near-key
# subsets don't amplify one job's shuffle 16x.
GROUP_BUDGET_ROWS = 4.0


def _powerset(cols: Sequence[str]):
    import itertools
    for r in range(len(cols) + 1):
        yield from itertools.combinations(cols, r)


def _col(name: str) -> Column:
    """A column by its exact name: backquoted, so "a.b" is not read as a
    struct field."""
    return F.col("`" + name.replace("`", "``") + "`")


def _fresh(name: str, taken) -> str:
    """``name``, prefixed with underscores until no column of ``taken``
    has it (Spark resolves names case-insensitively)."""
    low = {c.lower() for c in taken}
    while name.lower() in low:
        name = "_" + name
    return name


# The driver faces' bound: a relation of at most this many rows is collected
# and counted on the driver, and no driver fold step holds more rows than
# this. ~1M narrow rows ≈ tens of MB of int64 codes.
BROADCAST_MAX_ROWS = 1_000_000


# ----- dictionary codes: the driver faces' one in-memory form ---------------


@dataclass(frozen=True)
class CodeTable:
    """A relation's D distinct rows as codes: column -> int64 codes (null is
    -1), and each row's multiplicity (None when every row occurs once).
    The entropy kernel's driver face counts group sizes on it, and the
    validator's count fold joins on it."""

    codes: dict[str, np.ndarray]
    weights: np.ndarray | None
    rows: int


def _encode(col: pa.ChunkedArray) -> np.ndarray:
    """int64 codes of one collected column, equal exactly where Spark's
    grouping and join keys are equal; null is -1. Arrow keys floats by
    their bits, so floats are first normalized as Spark normalizes its
    grouping keys: -0.0 becomes 0.0 and every NaN one NaN."""
    arr = col.combine_chunks()
    if pa.types.is_floating(arr.type):
        arr = pc.if_else(pc.is_nan(arr), pa.scalar(float("nan"), arr.type),
                         pc.add(arr, pa.scalar(0.0, arr.type)))
    idx = pc.dictionary_encode(arr).indices.fill_null(-1)
    return idx.to_numpy(zero_copy_only=False).astype(np.int64)


def _refine(ids: np.ndarray, codes: np.ndarray) -> tuple[np.ndarray, int]:
    """Group ids 0..k-1 of the rows keyed by (ids, codes), and k: rows with
    equal ids and equal codes share an id, null codes group together."""
    # ids < rows and codes < rows, so the packed key stays far below 2^63
    key = ids * (int(codes.max(initial=-1)) + 2) + (codes + 1)
    uniq, inv = np.unique(key, return_inverse=True)
    return inv, len(uniq)


def _group_ids(cols: list[np.ndarray], n: int) -> tuple[np.ndarray, np.ndarray]:
    """Group ids 0..k-1 of n rows of code columns (equal codes, equal id;
    null codes group together) and the first row of each group."""
    ids = np.zeros(n, np.int64)
    for c in cols:
        ids = _refine(ids, c)[0]
    return ids, np.unique(ids, return_index=True)[1]


def entropy_from_counts(counts: Iterable[int], num_rows: int) -> float:
    """Driver-side oracle: H from a histogram (AbstractDataset.java:187-201)."""
    if num_rows <= 0:
        return 0.0
    s = sum(c * math.log2(c) for c in counts if c > 1)
    return math.log2(num_rows) - s / num_rows


class SparkEntropyEngine:
    """Entropy measure engine over a single DataFrame (IDataset analogue,
    `entropy/IDataset.java:9-20`).

    Duplicate-row semantics follow the reference's entropy path: duplicates
    count as probability mass (§1.1 of SURVEY.md). ``group_counts`` and
    ``num_distinct`` expose the deduplicated counts the decomposition-
    validation path uses.
    """

    def __init__(self, df: DataFrame, cache_input: bool = True):
        self.df = df
        self.schema_cols: tuple[str, ...] = tuple(df.columns)
        self._cache: dict[frozenset[str], float] = {}
        # group count |π_X(R)| of every subset the kernel computed
        self._groups: dict[frozenset[str], int] = {}
        self._lock = threading.Lock()
        # cooperative cancellation (B18): when set, polled between chunk
        # jobs — a timed-out miner stops launching NEW Spark jobs with at
        # most one chunk of latency (cancelJobGroup only kills in-flight
        # ones). Raising (not returning partial results) keeps measure
        # semantics intact; the runner's worker thread dies on it.
        self.stop_check: Callable[[], bool] | None = None
        # in-flight dedup: subset -> Event set when its batch (or lattice)
        # job lands in the cache; concurrent threads wait instead of
        # recomputing
        self._inflight: dict[frozenset[str], threading.Event] = {}
        # N: recorded by the first kernel job from its own sum(cnt)
        self._num_rows: int | None = None
        # the driver face's input, built once by sizing under _size_lock;
        # None after sizing means the Spark face
        self._table: CodeTable | None = None
        self._sized = False
        self._size_lock = threading.Lock()
        # Stats mirroring the reference's scan instrumentation
        # (entropy/IDataset.java:18-19 getNumDBScans/getTotalScanTime;
        # MasterCompressedDB totalNumQueriesIsuues/totalTimeSpentQuerying/
        # numOfTuplesProcessedDuringEntropyComputation): Spark jobs
        # launched, entropies produced, wall seconds inside Spark actions,
        # and input tuples fed into entropy jobs (rows x grouping-set
        # width). Guarded by _stats_lock — jobs can finish concurrently.
        self.jobs_run = 0
        self.entropies_computed = 0
        self.scan_seconds = 0.0
        self.tuples_processed = 0
        # grouping-sets pre-aggregation gate observability (round-7 ask:
        # "how often does the gate fire?") — chunks that aggregated once on
        # the union before the grouping sets vs chunks that ran direct
        self.pre_agg_chunks = 0
        self.direct_chunks = 0
        self._stats_lock = threading.Lock()
        # Mining re-scans the relation constantly: persisting it is the
        # reference ingesting into H2 once (CompressedDB.init). An input
        # cached already is left to its owner (see Cache ownership).
        self._owns_cache = (cache_input
                            and df.storageLevel == StorageLevel.NONE)
        if self._owns_cache:
            self.df.persist()

    # ----- cardinalities ---------------------------------------------------

    @property
    def num_rows(self) -> int:
        """N. Sizing counts it, and every kernel job records it as its
        sum(cnt); with no sizing (a nested column) a read before the first
        job costs a count() of its own."""
        if self._num_rows is None:
            self.driver_table()
        if self._num_rows is None:
            self._num_rows = self.df.count()
        return self._num_rows

    @property
    def num_distinct(self) -> int:
        """COUNT(*) of SELECT DISTINCT * (A16,
        `entropy/NewSmallDBInMemory.java:271-281`): the group count of the
        full column set."""
        full = frozenset(self.schema_cols)
        return self.group_counts([full])[full]

    def group_counts(self, subsets: Iterable[Iterable[str]]) -> dict[frozenset[str], int]:
        """|π_X(R)| = the number of groups of grouping set X, for many
        subsets. Uncounted ones run in ONE kernel job, bypassing
        ``_next_chunk`` as the lattice does."""
        wanted = [attrset(s) for s in subsets]
        self._claim_and_run(wanted, self._batch_grouping_sets, self._groups)
        return {x: self._groups[x] if x else min(self.num_rows, 1)
                for x in wanted}

    # ----- single-subset entropy ------------------------------------------

    def entropy(self, cols: Iterable[str] | str) -> float:
        """H(X), cached. Degenerate cases short-circuit without a scan:
        H(∅) = 0 (`ExternalFileDataSet.java:91-96`). Unlike the reference we
        do NOT assume H(R) = log2(N) for the full column set — that only
        holds for duplicate-free inputs; we compute it honestly and let the
        cache absorb the cost."""
        x = attrset(cols)
        hit = self._cache.get(x)
        if hit is not None:
            return hit
        if not x:
            return 0.0
        return self.entropies([x])[x]

    def _note_job(self, seconds: float, tuples: int, entropies: int,
                  jobs: int = 1) -> None:
        with self._stats_lock:
            self.jobs_run += jobs
            self.entropies_computed += entropies
            self.scan_seconds += seconds
            self.tuples_processed += tuples

    # ----- batched entropies (A8) -------------------------------------------

    def entropies(self, subsets: Iterable[Iterable[str]]) -> dict[frozenset[str], float]:
        """Compute H(X) for many subsets; returns {frozenset: H}.

        Uncached subsets are computed in chunks of <= DEFAULT_MAX_GROUPING_SETS
        subsets per Spark job via GROUP BY GROUPING SETS — one scan + one
        shuffle per chunk regardless of subset count.
        """
        wanted = [attrset(s) for s in subsets]
        self._claim_and_run(wanted, self._run_chunked, self._cache)
        return {x: (0.0 if not x else self._cache[x]) for x in wanted}

    def _claim_and_run(self, subsets: Iterable[frozenset[str]],
                       run: Callable[[list[frozenset[str]]], None],
                       done: dict) -> None:
        """Bring every non-empty subset into ``done`` (the H or the group
        count cache): claim the ones that are neither there nor in flight,
        compute them with ``run(claimed)`` (a kernel run, which fills both
        caches), and wait on the threads computing the rest. Claims are
        released even on failure or cancel; waiters then re-check and claim
        whatever is still missing."""
        pending = [x for x in dict.fromkeys(subsets) if x]
        while pending:
            todo: list[frozenset[str]] = []
            waits: list[threading.Event] = []
            with self._lock:
                for x in pending:
                    if x in done:
                        continue
                    ev = self._inflight.get(x)
                    if ev is not None:
                        waits.append(ev)  # another thread is computing it
                    else:
                        todo.append(x)
                if todo:
                    batch_ev = threading.Event()
                    for x in todo:
                        self._inflight[x] = batch_ev
            if todo:
                try:
                    run(todo)
                finally:
                    with self._lock:
                        for x in todo:
                            self._inflight.pop(x, None)
                    batch_ev.set()
            for ev in waits:
                ev.wait()
            with self._lock:
                pending = [x for x in pending if x not in done]
            if pending and not todo and not waits:  # pragma: no cover
                raise RuntimeError("entropy batch made no progress")

    def _run_chunked(self, todo: list[frozenset[str]]) -> None:
        # smallest subsets first: the singles chunk runs before wider sets,
        # so its entropies seed the perplexity estimates that unlock
        # pre-aggregation and cost-budgeting for every later chunk (chunks
        # are planned LAZILY against the live cache)
        remaining = sorted(todo, key=len)
        while remaining:
            if self.stop_check is not None and self.stop_check():
                raise MiningCancelled("entropy batch cancelled by stop flag")
            # the driver face answers any batch in numpy: nothing to chunk
            chunk = (remaining if self.driver_table() is not None
                     else self._next_chunk(remaining))
            taken = set(chunk)  # subsequence, not prefix
            remaining = [x for x in remaining if x not in taken]
            self._batch_grouping_sets(chunk)

    def _est_log2_groups(self, x: frozenset[str]) -> float | None:
        """Cache-derived upper bound on log2(#groups of X), or None when the
        cache can't say: subadditivity gives H(X) <= sum H(c) over X's
        singletons, and #distinct groups >= 2^H only in the uniform limit —
        but as a *budgeting* signal 2^H is the effective (perplexity) group
        count, which is what sizes the shuffle. Optimistic on cold caches by
        design: unknown subsets cost nothing toward the budget, so cold
        batches keep the full width. Never forces a count of N."""
        total = 0.0
        with self._lock:
            for c in x:
                h = self._cache.get(frozenset((c,)))
                if h is None:
                    return None
                total += h
        n = self._num_rows
        return min(total, math.log2(n)) if n else total

    def _next_chunk(self, todo: list[frozenset[str]]) -> list[frozenset[str]]:
        """Width-capped, cost-aware chunking (VERDICT r2 'what's wrong' #3),
        planned ONE chunk at a time so each chunk's estimates see every
        entropy the previous chunks just cached: each grouping set
        replicates every input row into the shuffle, so a chunk's shuffle
        OUTPUT is ~ sum of its subsets' group counts. Cap chunks at
        DEFAULT_MAX_GROUPING_SETS AND at a group budget of ``GROUP_BUDGET_ROWS
        x num_rows`` using cache-derived estimates, so 16 near-key subsets
        don't ride in one job shuffling 16x the distinct rows. Estimates
        are optimistic when unknown — cold-cache behavior is exactly the
        old fixed-width chunking.

        Returns a SUBSEQUENCE of todo, seeded by its head (r7 rework; was
        a strict prefix): when the chunk-so-far qualifies for the
        pre-aggregation gate (union perplexity <= N/8, see
        _batch_grouping_sets), subsets that would push the union over the
        threshold are SKIPPED — not chunk-terminating — so compact-union
        chunks pack fully and every wide (high-perplexity) subset
        congregates into its own later chunk instead of dragging each
        compact chunk onto the direct path. Measured at sf10 batch32:
        prefix chunking fired the gate on 1 of 4 chunks, subsequence
        chunking on 3 of 4 (the 4th is the cold singleton seeding chunk),
        116 s -> ~80 s."""
        n = self._num_rows or 0  # unknown before the first job: no budget
        budget = GROUP_BUDGET_ROWS * n
        # pre-agg qualification threshold in bits (see _batch_grouping_sets:
        # chunks whose UNION-column perplexity is <= N/8 aggregate once on
        # the union before the grouping sets)
        thresh_bits = math.log2(n / 8.0) if n >= 8 else None
        if not todo:
            return []
        head = todo[0]
        cur: list[frozenset[str]] = [head]
        est0 = self._est_log2_groups(head)
        cur_mass = (2.0 ** est0) if est0 is not None else 0.0
        cur_union: set[str] = set(head)
        # Cold-wide clamp: a WIDE set with no cached estimate
        # is budget-blind (it costs 0 toward the group budget), so the r14
        # width raise 16 -> 32 would double the worst-case partial-agg
        # working set exactly where the budget can't see. A chunk admits
        # at most 16 such sets — the reference's RangeSize ceiling —
        # whether or not its head is warm. Batches with singletons are
        # unaffected (singles seed estimates first, so every later chunk
        # is warm and keeps the full width).
        cold_wide = int(est0 is None and len(head) > 1)

        def union_compact() -> bool:
            if thresh_bits is None:
                return False
            e = self._est_log2_groups(frozenset(cur_union))
            return e is not None and e <= thresh_bits

        for x in todo[1:]:
            if len(cur) >= DEFAULT_MAX_GROUPING_SETS:
                break
            est = self._est_log2_groups(x)
            cold = est is None and len(x) > 1
            if cold and cold_wide >= 16:
                continue
            # singletons never share a chunk with wider unknown-estimate
            # sets: running them alone first costs |cols| x N replication
            # instead of width x N, and their entropies are exactly what
            # unlocks pre-aggregation for every later chunk
            if len(cur[0]) == 1 and len(x) > 1 and est is None:
                continue
            # union-compactness: if the chunk as built qualifies for
            # pre-aggregation, skip a set that would push the union's
            # estimate over the threshold — it lands in a later chunk with
            # its fellow wide sets; two compact pre-agged chunks beat one
            # wide chunk that replicates N rows per set
            if union_compact():
                new_est = self._est_log2_groups(frozenset(cur_union | x))
                if new_est is not None and new_est > thresh_bits:
                    continue
            mass = (2.0 ** est) if est is not None else 0.0
            if budget > 0 and cur_mass + mass > budget:
                break
            cur.append(x)
            cur_mass += mass
            cur_union |= x
            cold_wide += cold
        return cur

    def _batch_grouping_sets(self, subsets: list[frozenset[str]]) -> None:
        """H(X) and the group count |π_X(R)| for every X in ``subsets``,
        stored in the caches: in numpy on the driver face, else in one
        Spark job."""
        table = self.driver_table()
        if table is not None:
            self._driver_batch(table, subsets)
        else:
            self._spark_batch(subsets)

    # ----- driver face --------------------------------------------------------

    def driver_table(self) -> CodeTable | None:
        """The driver face's codes, or None for the Spark face. The first
        call sizes the input (``_collect_table``); concurrent callers wait
        for it, so the input is counted and collected at most once per
        engine."""
        if not self._sized:
            with self._size_lock:
                if not self._sized:
                    self._table = self._collect_table()
                    self._sized = True
        return self._table

    def _collect_table(self) -> CodeTable | None:
        """Sizing, then the driver face's one Arrow collect. N is a count()
        of the persisted input (a scan of the cache, no shuffle). When N <=
        BROADCAST_MAX_ROWS the raw rows are collected, every column is
        encoded, and repeated rows fold into one row with its multiplicity,
        so every later set costs O(D). None, with no job, when a column is
        nested (the encoder cannot key it); None after the count when N is
        above the bound."""
        nested = (ArrayType, MapType, StructType)
        if any(isinstance(f.dataType, nested) for f in self.df.schema.fields):
            return None
        n = self._num_rows = self.df.count()
        if n > BROADCAST_MAX_ROWS:
            return None
        t0 = time.monotonic()
        tbl = self.df.select(*map(_col, self.schema_cols)).toArrow()
        self._note_job(time.monotonic() - t0, n, 0)
        cols = [_encode(c) for c in tbl.columns]
        ids, first = _group_ids(cols, n)
        weights = None
        if len(first) < n:
            weights = np.bincount(ids, minlength=len(first))
            cols = [c[first] for c in cols]
        return CodeTable(dict(zip(self.schema_cols, cols)), weights, len(first))

    def _driver_batch(self, table: CodeTable, subsets: list[frozenset[str]]) -> None:
        """The numpy kernel: group ids of each set, weighted group sizes,
        then H and the group count. Sets are visited in schema-lexicographic
        order so each one refines the ids of its longest visited prefix (a
        stack of at most one id array per column). ``stop_check`` is polled
        between sets; the sets done by then are kept."""
        pos = {c: i for i, c in enumerate(self.schema_cols)}
        keyed = sorted(((tuple(sorted_cols(x, self.schema_cols)), x)
                        for x in subsets),
                       key=lambda t: [pos[c] for c in t[0]])
        n, rows = self._num_rows, table.rows
        root = (np.zeros(rows, np.int64), min(rows, 1))
        stack: list[tuple[str, np.ndarray, int]] = []
        h: dict[frozenset[str], float] = {}
        groups: dict[frozenset[str], int] = {}
        try:
            for cols, x in keyed:
                if self.stop_check is not None and self.stop_check():
                    raise MiningCancelled("entropy batch cancelled by stop flag")
                keep = 0
                while (keep < min(len(stack), len(cols))
                       and stack[keep][0] == cols[keep]):
                    keep += 1
                del stack[keep:]
                for c in cols[keep:]:
                    prev = stack[-1][1] if stack else root[0]
                    stack.append((c, *_refine(prev, table.codes[c])))
                ids, k = stack[-1][1:] if stack else root
                # sorted, so the sum cannot depend on the collect's row order
                cnt = np.sort(np.bincount(ids, table.weights, k))
                clogc = float(np.sum(cnt * np.log2(cnt))) if k else 0.0
                h[x] = math.log2(n) - clogc / n if n else 0.0
                groups[x] = k
        finally:
            with self._lock:
                self._cache.update(h)
                self._groups.update(groups)
            self._note_job(0.0, rows * len(h), len(h), jobs=0)

    # ----- Spark face ---------------------------------------------------------

    def _spark_batch(self, subsets: list[frozenset[str]]) -> None:
        """The one entropy job: H(X) and the group count |π_X(R)| for every
        X in ``subsets`` from one scan and one grouping-sets shuffle, stored
        in the caches; the job's sum(cnt) records N. Runs outside the lock:
        concurrent threads must not serialize behind a blocking job (they
        only need the lock for the cache store). No temp view: dropping one
        uncaches the persisted plan it names, which is this engine's input."""
        union_cols: list[str] = []
        seen_cols: set[str] = set()
        for x in subsets:
            for c in sorted_cols(x, self.schema_cols):
                if c not in seen_cols:
                    seen_cols.add(c)
                    union_cols.append(c)
        if len(union_cols) > 62 and len(subsets) > 1:
            # gid arithmetic below needs one bigint bit per union column;
            # beyond 62 split the batch rather than overflow (one set needs
            # no gid bits, so a single wide set never splits)
            mid = len(subsets) // 2
            self._spark_batch(subsets[:mid])
            self._spark_batch(subsets[mid:])
            return
        col = {c: _col(c) for c in union_cols}
        # bit i (MSB-first over union_cols) is 1 when that column is
        # aggregated away (absent from the set)
        def gid_of(x: frozenset[str]) -> int:
            g = 0
            for c in union_cols:
                g = (g << 1) | (0 if c in x else 1)
            return g

        gid_to_set = {gid_of(x): x for x in subsets}
        sets = [[col[c] for c in sorted_cols(x, self.schema_cols)]
                for x in subsets]
        # build gid from explicit grouping(col) flags with OUR bit
        # assignment — never from bare grouping_id(), whose bit positions
        # follow Spark's internal expression ordering and could silently
        # reassign same-size subsets if that ordering ever changes
        nbits = len(union_cols)
        if len(subsets) == 1:
            # one set is a plain GROUP BY at gid 0: no grouping() flags, and
            # no grouping-id width limit on how many columns it may hold
            gid = F.lit(0).cast("bigint")
        else:
            gid = sum((F.grouping(col[c]).cast("bigint") * (1 << (nbits - 1 - i))
                       for i, c in enumerate(union_cols)),
                      F.lit(0).cast("bigint"))
        # Pre-aggregation gate: GROUPING SETS replicates every INPUT row
        # once per set (a 16-set chunk pushes 16N rows into partial
        # aggregation). When the cached perplexity estimate says the union
        # columns' effective group count G is far below N, aggregate ONCE
        # on the union (N -> ~G rows) and run the grouping sets over the
        # compressed counts — sum(cnt) per set is identical to count(1) on
        # the raw rows, and the number of groups per set is unchanged (null
        # column values group the same way; the grouping() flags that build
        # gid are unaffected). Conservative by construction: cold caches or
        # wide unions (est ~ log2 N) keep the direct path, and a wrong
        # estimate costs one extra aggregation, never correctness. Gate
        # factor 8 = require est G <= N/8. A single set replicates nothing,
        # so it never pre-aggregates.
        n = self._num_rows
        est_union = self._est_log2_groups(frozenset(union_cols))
        pre_agg = (len(subsets) > 1 and est_union is not None and bool(n)
                   and (2.0 ** est_union) * 8.0 <= n)
        with self._stats_lock:
            if pre_agg:
                self.pre_agg_chunks += 1
            else:
                self.direct_chunks += 1
        keys = list(col.values())
        # the kernel's own columns are named apart from the input's
        gid_c, cnt_c, base_c = (_fresh(c, self.schema_cols)
                                for c in ("__gid", "__cnt", "__base_cnt"))
        if pre_agg:
            src = self.df.groupBy(*keys).agg(
                F.count(F.lit(1)).alias(base_c))
            cnt = F.sum(base_c)
        else:
            src, cnt = self.df, F.count(F.lit(1))
        grouped = (src.groupBy(*sets[0]) if len(subsets) == 1
                   else src.groupingSets(sets, *keys))
        per_group = grouped.agg(gid.alias(gid_c), cnt.alias(cnt_c))
        per_set = per_group.groupBy(gid_c).agg(
            F.sum(F.col(cnt_c) * F.log2(cnt_c)).alias("clogc"),
            F.count(F.lit(1)).alias("groups"),
            F.sum(cnt_c).alias("n"))
        t0 = time.monotonic()
        rows = per_set.collect()
        # every set's sum(cnt) is N; a grouping set over an empty relation
        # yields no row, so no row means N = 0
        n = rows[0]["n"] if rows else 0
        self._note_job(time.monotonic() - t0, n * len(subsets), len(subsets))
        h = dict.fromkeys(subsets, 0.0)
        groups = dict.fromkeys(subsets, 0)
        for r in rows:
            x = gid_to_set.get(r[gid_c])
            if x is None:
                continue  # duplicate-set gid collision impossible; ignore strays
            h[x] = math.log2(n) - (r["clogc"] or 0.0) / n
            groups[x] = r["groups"]
        with self._lock:
            if self._num_rows is None:
                self._num_rows = n
            self._cache.update(h)
            self._groups.update(groups)

    def key_columns(self, cols: Iterable[str]) -> frozenset[str]:
        """Columns whose single-column entropy equals log2(N) EXACTLY — i.e.
        unique keys (every group size 1). Exact in floating point: a key's
        correction term sum(c*log2(c)) is identically 0.0, so H is the very
        float ``math.log2(n)``; a non-key has clogc >= 2.0, and 2/N stays
        above one ulp of log2(N) for any N below ~3e14 rows (and beyond that
        the difference is sub-ulp, so calling it a key is within 1 ulp of
        correct anyway). Computes the singletons (one chunked job) if not
        already cached, before reading N, so that job records N."""
        cols = list(cols)
        self.entropies([frozenset((c,)) for c in cols])
        n = self.num_rows
        if n <= 0:
            return frozenset()
        logn = math.log2(n)
        with self._lock:
            return frozenset(c for c in cols
                             if self._cache[frozenset((c,))] == logn)

    def all_entropies(self, cols: Iterable[str] | None = None) -> dict[frozenset[str], float]:
        """A11: eagerly materialize H(X) for EVERY subset of `cols` — the
        analogue of the reference's level-wise computeAllEntropies
        (`entropy/CompressedDB.java:392-431`), which builds every subset
        table bottom-up in H2.

        Key-column shortcut: H(S) = log2(N) exactly for any S containing a
        unique-key column (all groups stay size 1 under refinement), so the
        singletons are computed first (one cheap chunked job), key columns
        detected by exact float equality (see ``key_columns``), and the
        lattice job covers only the non-key columns. Every key-containing
        subset is filled algebraically. For a relation with k key columns
        this cuts the job's row replication from 2^n to 2^(n-k) per input
        row AND removes precisely the grouping sets whose group count
        equals N (the ones hash aggregation cannot reduce) from the shuffle
        — measured 4x on the sf1 denorm, where half the lattice contains
        c_custkey/c_name.

        The lattice job is ONE ``_batch_grouping_sets`` call over every
        subset of the non-key columns, the empty set included: that is
        what ``GROUP BY CUBE`` expands to, and Catalyst plans both as the
        same Expand + aggregate. It bypasses ``_next_chunk`` — the group
        budget would split it into many jobs. The whole lattice is claimed
        in ``_inflight`` first, so a concurrent ``entropies()`` caller
        waits on the running job instead of recomputing, and a second call
        finds everything cached and runs nothing.

        Scale: row replication is 2^(n-k) per input row — only sane for
        n-k <= ~12 low-cardinality columns (the reference's use case:
        UCI-style categorical tables). For wider relations use lazy
        entropies()."""
        cols = list(cols) if cols is not None else list(self.schema_cols)
        if len(cols) > 20:
            raise ValueError(f"cube over {len(cols)} columns would replicate "
                             f"rows 2^{len(cols)}x; use entropies() instead")
        # key detection runs before the claim: it computes the singles via
        # entropies(), which would otherwise wait on this thread's own claim
        keycols = self.key_columns(cols)
        rest = [c for c in cols if c not in keycols]
        lattice = [frozenset(s) for s in _powerset(cols)]

        def run(_claimed):
            if rest:
                self._batch_grouping_sets(
                    [frozenset(s) for s in _powerset(rest)])
            if keycols:
                # every key-containing subset has N groups of size 1
                n = self.num_rows
                filled = {x: math.log2(n) for x in lattice if x & keycols}
                with self._lock:
                    self._cache.update(filled)
                    self._groups.update(dict.fromkeys(filled, n))
                with self._stats_lock:
                    self.entropies_computed += len(filled)

        self._claim_and_run(lattice, run, self._cache)
        with self._lock:
            return {x: (0.0 if not x else self._cache[x]) for x in lattice}

    # ----- cache management -------------------------------------------------

    @property
    def cache_size(self) -> int:
        return len(self._cache)

    def preload(self, values: dict[frozenset[str], float]) -> None:
        with self._lock:
            self._cache.update(values)

    def unpersist(self) -> None:
        """Release the input's cache if this engine made it."""
        if self._owns_cache:
            self._owns_cache = False
            self.df.unpersist()
