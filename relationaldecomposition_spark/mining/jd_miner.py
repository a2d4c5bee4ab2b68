"""Minimal-separator + join-dependency mining (the SIGMOD'20 pipeline).

Driver-plane re-implementation of `search/MinimalJDGenerator.java` (B6-B12)
and `search/JDGeneratorGivenLHS.java`'s consistent-reduction idea (B7). All
entropies flow through SparkEntropyEngine's cache; the Spark cluster only
ever sees batched group-by jobs.

Pieces and their reference counterparts:
- pairwise component I-measure  (calcuateIMeasure, :244-267)
- elemental MVD measure         (calculateElementalMVD, :219-233)
- most-specific JD              (mostSpecificJD, :269-298)
- consistent-JD reduction       (getConsistentJDCandidate + mergeIfNeeded,
                                 :498-600): repeatedly merge component pairs
                                 with I > eps; fail if X,Y land together or
                                 one component remains
- mine JDs with given lhs       (mineAllJDsWithLHSBFS, :395-449):
                                 search over component merges for JDs with
                                 measure <= eps, pruning via the
                                 (k-2)*eps bound, X,Y never merged
- minimal-separator reduction   (reduceToMinJDReturnJD, :604-647)
- seed min-seps per pair        (initSetOfMinSeps, :657-698)
- enumerate ALL minimal (X,Y)-separators via minimal hypergraph
  transversals                  (mineAllMinSeps, :726-790)
- mine all full MVDs            (mineAllFullMVDs, :853-875)

Tolerance semantics kept verbatim: measure comparisons use
ACCURACY = 1e-5 (`isGreaterThanEpsilon`, :213-217).
"""

from __future__ import annotations

import itertools
import threading
from collections import deque

from ..core.deps import JD, MEASURE_ACCURACY
from ..engine.fanout import fanout
from ..engine.measures import MeasureEngine


# eager all-entropies budget: when rows * 2^(n-k) <= EAGER_CELLS, ONE lattice
# job (A11, the reference's computeAllEntropies) materializes every subset
# entropy and the whole search runs from cache
EAGER_CELLS = 100_000_000
# attribute pairs mined concurrently by init_min_seps and mine_all_min_seps
PAIR_WIDTH = 8


def is_greater_than_eps(measure: float, alpha: float) -> bool:
    return (measure - alpha) > MEASURE_ACCURACY


class JDMiner:
    """Attribute pairs are mined concurrently, ``PAIR_WIDTH`` at a time (the
    FAIR scheduler overlaps their small Spark jobs — the mining is
    job-latency-bound, not data-bound). Per-pair results are independent
    and merged deterministically, so the mined set is identical to a
    sequential run (pinned by test)."""

    def __init__(self, meng: MeasureEngine, epsilon: float, stop_flag=None):
        self.meng = meng
        self.eng = meng.engine
        self.epsilon = epsilon
        self.schema = list(meng.schema_cols)
        self.full = frozenset(self.schema)
        # results
        self.min_pairwise_seps: dict[tuple[str, str], set[frozenset[str]]] = {}
        self.mined_min_seps: set[frozenset[str]] = set()
        self.mined_jds: set[JD] = set()
        self.full_mvds: set[JD] = set()
        self._mined_lock = threading.Lock()
        # cooperative cancellation (B18): callable returning True to stop
        self._stop = stop_flag or (lambda: False)
        if stop_flag is not None:
            # engine hook: long chunked entropy batches stop mid-batch too
            self.eng.stop_check = stop_flag

    # -- measures ------------------------------------------------------------

    def imeasure(self, first, second, lhs) -> float:
        """I(A;B|X) = H(XA) + H(XB) - H(X) - H(XAB)."""
        a, b, x = frozenset(first), frozenset(second), frozenset(lhs)
        got = self.eng.entropies([x | a, x | b, x, x | a | b])
        return got[x | a] + got[x | b] - got[x] - got[x | a | b]

    def elemental_mvd(self, ax: str, ay: str) -> float:
        """I(ax; ay | R - {ax,ay})."""
        return self.imeasure({ax}, {ay}, self.full - {ax, ay})

    def jd_measure(self, jd: JD) -> float:
        m = self.meng.jd_measure(jd.lhs, jd.components)
        jd.measure.update_upper(m)
        jd.measure.update_lower(m)
        return m

    # -- B7: consistent-JD reduction ------------------------------------------

    def consistent_jd_candidate(self, lhs, start: JD, x: str | None = None,
                                y: str | None = None) -> JD | None:
        """Merge component pairs whose pairwise I-measure > eps until stable.
        Returns None if X and Y end up merged, or only one component
        remains. Entropies for each round are fetched in one batched job."""
        lhs = frozenset(lhs)
        if x is not None and y is not None:
            # quick refutation: can X and Y even be separated given lhs?
            basic = self.imeasure({x}, {y}, lhs)
            if is_greater_than_eps(basic, self.epsilon):
                return None
        comps = [frozenset(c) for c in start.components]
        while True:
            # batch every entropy this round can need: H(lhs ∪ Ci) and
            # H(lhs ∪ Ci ∪ Cj)
            subsets = [lhs] + [lhs | c for c in comps] + \
                [lhs | a | b for a, b in itertools.combinations(comps, 2)]
            got = self.eng.entropies(subsets)
            h_lhs = got[lhs]
            merged = None
            for i, j in itertools.combinations(range(len(comps)), 2):
                a, b = comps[i], comps[j]
                im = got[lhs | a] + got[lhs | b] - got[lhs | a | b] - h_lhs
                if is_greater_than_eps(im, self.epsilon):
                    merged = (i, j)
                    break
            if merged is None:
                break
            i, j = merged
            new_comp = comps[i] | comps[j]
            if x is not None and y is not None and x in new_comp and y in new_comp:
                return None
            comps = [c for k, c in enumerate(comps) if k not in (i, j)]
            comps.append(new_comp)
        if len(comps) <= 1:
            return None
        return JD(lhs, frozenset(comps))

    # -- B8: mine all JDs with a given lhs -------------------------------------

    def mine_jds_with_lhs(self, lhs, limit: int = 0, x: str | None = None,
                          y: str | None = None,
                          start: JD | None = None) -> set[JD]:
        """B8, queue order (`search/MinimalJDGenerator.java:395-449`): search
        over component merges of the consistent starting JD for JDs with
        measure <= eps. X,Y (when given) are never merged into one
        component. limit=0 means unlimited."""
        lhs = frozenset(lhs)
        if start is None:
            start = self.consistent_jd_candidate(
                lhs, JD.most_specific(lhs, self.schema), x, y)
        if start is None:
            return set()
        # abort bound: each merge can reduce the measure by at most eps
        m0 = self.jd_measure(start)
        if is_greater_than_eps(m0, (len(start.components) - 1) * self.epsilon):
            return set()

        found: set[JD] = set()
        visited: set[frozenset[frozenset[str]]] = {start.components}
        queue: deque[JD] = deque([start])
        while queue and not self._stop():
            jd = queue.popleft()
            m = self.jd_measure(jd)
            if not is_greater_than_eps(m, self.epsilon):
                found.add(jd)
                if limit > 0 and len(found) >= limit:
                    break
                continue
            comps = sorted(jd.components, key=sorted)
            if len(comps) <= 2:
                continue  # merging to one component can't be a JD
            for i, j in itertools.combinations(range(len(comps)), 2):
                a, b = comps[i], comps[j]
                if x is not None and y is not None:
                    ab = a | b
                    if x in ab and y in ab:
                        continue  # never merge X's and Y's components
                merged = jd.merge_components(a, b)
                cand = self.consistent_jd_candidate(lhs, merged, x, y)
                if cand is None or cand.components in visited:
                    continue
                mc = self.jd_measure(cand)
                if is_greater_than_eps(mc, (len(cand.components) - 2) * self.epsilon):
                    continue
                visited.add(cand.components)
                queue.append(cand)
        return found

    # -- B9: minimal-separator reduction ----------------------------------------

    def reduce_to_min_jd(self, x: str, y: str, lhs) -> JD | None:
        """Greedily drop lhs attributes while an (x,y)-separating JD with
        measure <= eps survives (reduceToMinJDReturnJD)."""
        cur = frozenset(lhs)
        start = self.consistent_jd_candidate(
            cur, JD.most_specific(cur, self.schema), x, y)
        if start is None:
            return None
        jds = self.mine_jds_with_lhs(cur, limit=1, x=x, y=y, start=start)
        if not jds:
            return None
        best = next(iter(jds))
        for attr in [c for c in self.schema if c in cur]:
            cand_lhs = cur - {attr}
            start = self.consistent_jd_candidate(
                cand_lhs, JD.most_specific(cand_lhs, self.schema), x, y)
            if start is None:
                continue
            jds = self.mine_jds_with_lhs(cand_lhs, limit=1, x=x, y=y, start=start)
            if jds:
                cur = cand_lhs
                best = next(iter(jds))
        return best

    # -- B10: seed minimal separators per pair ------------------------------------

    def _warm_entropies(self) -> None:
        """Entropy warm-up, sized to the relation (the mining workload is
        job-latency-bound, not data-bound — fewer, fatter Spark jobs win):

        - Small relation (rows * 2^(n-k) within ``EAGER_CELLS``, k = number
          of unique-key columns detected from the singleton entropies —
          key-containing subsets are filled algebraically, see
          SparkEntropyEngine.all_entropies): one singles job + ONE CUBE job
          over the key-free columns compute EVERY subset entropy (A11 eager
          all-entropies, the Spark analogue of
          `entropy/CompressedDB.computeAllEntropies:392-431`, which the
          reference's miners lean on for exactly this reason); the entire
          separator search then runs from cache with zero further Spark
          jobs.
        - Large relation: lazy path — prefetch only the always-needed
          families: all subsets of co-size <= 3 (H(R), H(R-{i}), H(R-{i,j}),
          H(R-{i,j,k})), which feed the elemental-MVD screen and the
          quick-refutation I(x;y|R-{x,y,a}) of every single-attribute
          removal. Deeper families stay lazy: eager prefetch there
          measurably loses to early refutation.
        """
        n = len(self.schema)
        if n <= 16:
            # singleton entropies are needed by every downstream path; the
            # key count they reveal shrinks the effective CUBE width
            keycols = self.eng.key_columns(self.schema)
            if self.eng.num_rows * (1 << (n - len(keycols))) <= EAGER_CELLS:
                self.eng.all_entropies()
                return
        n1 = [self.full - {a} for a in self.schema]
        n2 = [self.full - {a, b}
              for a, b in itertools.combinations(self.schema, 2)]
        n3 = [self.full - set(t)
              for t in itertools.combinations(self.schema, 3)]
        self.eng.entropies([self.full] + n1 + n2 + n3)

    def init_min_seps(self) -> None:
        self._warm_entropies()
        todo = []
        for i, ax in enumerate(self.schema):
            for ay in self.schema[i + 1:]:
                pair = (ax, ay)
                if pair in self.min_pairwise_seps:
                    continue
                if is_greater_than_eps(self.elemental_mvd(ax, ay), self.epsilon):
                    continue  # not separable even by the largest lhs
                todo.append(pair)

        def reduce_pair(pair):
            if self._stop():
                return None
            ax, ay = pair
            return self.reduce_to_min_jd(ax, ay, self.full - {ax, ay})

        jds = fanout(self.eng.df.sparkSession, reduce_pair, todo,
                     PAIR_WIDTH)
        for pair, jd in zip(todo, jds):
            if jd is None:
                continue
            self.min_pairwise_seps[pair] = {jd.lhs}
            self.mined_min_seps.add(jd.lhs)
            self.mined_jds.add(jd)

    # -- B11: all minimal separators via transversals -------------------------------

    def mine_all_min_seps_for_pair(self, ax: str, ay: str) -> None:
        from .transversals import Transversals

        pair = (ax, ay)
        # _mined_lock also guards min_pairwise_seps: worker threads insert
        # distinct keys, which happens to be atomic under the CPython GIL,
        # but that's an implementation detail — lock explicitly (cheap,
        # once per pair) instead of relying on it
        with self._mined_lock:
            if pair not in self.min_pairwise_seps:
                self.min_pairwise_seps[pair] = set()
                return
            seps = self.min_pairwise_seps[pair]
        first = next(iter(seps))
        if len(seps) == 1 and len(first) == len(self.schema) - 2:
            return  # the only possible separator is R-{x,y}
        tr = Transversals(seps)
        while not self._stop():
            ctr_jd = None
            while tr.has_next():
                t = next(tr)
                # candidate lhs = complement of the transversal minus {x,y}
                cand_lhs = self.full - t - {ax, ay}
                start = self.consistent_jd_candidate(
                    cand_lhs, JD.most_specific(cand_lhs, self.schema), ax, ay)
                if start is None:
                    continue
                jds = self.mine_jds_with_lhs(cand_lhs, limit=1, x=ax, y=ay,
                                             start=start)
                if jds:
                    ctr_jd = next(iter(jds))
                    break
            if ctr_jd is None:
                return
            new_jd = self.reduce_to_min_jd(ax, ay, ctr_jd.lhs)
            if new_jd is None:
                return
            with self._mined_lock:
                self.mined_min_seps.add(new_jd.lhs)
                self.mined_jds.add(new_jd)
            seps.add(new_jd.lhs)
            tr.add_hyperedge(new_jd.lhs)

    def mine_all_min_seps(self) -> set[frozenset[str]]:
        """B10+B11+B12 driver: seed, then enumerate all minimal separators
        for every attribute pair. Pairs run concurrently (each transversal
        loop touches only its own pair's separator set; the global mined
        sets are guarded by a lock and order-insensitive)."""
        self.init_min_seps()
        pairs = [(ax, ay) for i, ax in enumerate(self.schema)
                 for ay in self.schema[i + 1:]]

        def mine_pair(pair):
            if not self._stop():
                self.mine_all_min_seps_for_pair(*pair)

        fanout(self.eng.df.sparkSession, mine_pair, pairs,
               PAIR_WIDTH)
        out: set[frozenset[str]] = set()
        for seps in self.min_pairwise_seps.values():
            out |= seps
        return out

    # -- B12: all full MVDs (JDs) of mined minimal separators ----------------------

    def mine_all_full_mvds(self) -> set[JD]:
        self.full_mvds |= self.mined_jds
        for (ax, ay), seps in self.min_pairwise_seps.items():
            if self._stop():
                break
            for sep in seps:
                start = self.consistent_jd_candidate(
                    sep, JD.most_specific(sep, self.schema), ax, ay)
                if start is None:
                    continue
                self.full_mvds |= self.mine_jds_with_lhs(
                    sep, limit=0, x=ax, y=ay, start=start)
        return self.full_mvds
