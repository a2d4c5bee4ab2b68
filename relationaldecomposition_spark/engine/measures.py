"""Information-theoretic dependency measures from cached entropies.

Mirrors `entropy/AbstractDataset.java:95-277` (computeMeasures, computeMVD,
computeJD) and the elemental forms in `search/MinimalJDGenerator.java:
219-267`. All arithmetic is driver-side; every entropy flows through
SparkEntropyEngine's cache, so a measure costs at most a handful of Spark
jobs and usually zero.

Reference semantics kept verbatim:
- measures within ±1e-7 of zero clamp to exactly zero
  (`entropy/AbstractDataset.java:20` THRESHOLD; `:224-226`, `:249-252`).
- H(R) ("total entropy") in the reference is log2(num_rows)
  (`AbstractDataset.getTotalEntropy:203-207`) — correct only for
  duplicate-free relations; on duplicated rows it overstates H(R) and MVD/JD
  measures go negative (violating I(Y;Z|X) >= 0). We compute H(R) by
  group-by over all columns, which equals the reference's value exactly on
  duplicate-free inputs and is the mathematically correct generalization
  otherwise.
- MVD with X ∪ Y = R degenerates to H(R) - H(X)
  (`AbstractDataset.computeMVD:222-228`).
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

from ..core.attrset import attrset
from ..core.deps import FD, JD, MVD, MEASURE_CLAMP, Dependency
from .entropy import SparkEntropyEngine


def _clamp(x: float) -> float:
    return 0.0 if -MEASURE_CLAMP <= x <= MEASURE_CLAMP else x


class MeasureEngine:
    """FD/MVD/JD measures over one relation (the IDataset measure surface)."""

    def __init__(self, engine: SparkEntropyEngine):
        self.engine = engine
        self.schema_cols = engine.schema_cols
        self._total: float | None = None

    # -- H(R) ---------------------------------------------------------------

    @property
    def total_entropy(self) -> float:
        if self._total is None:
            self._total = self.engine.entropy(self.schema_cols)
        return self._total

    # -- measures (A18-A20) ---------------------------------------------------

    def fd_measure(self, lhs: Iterable[str], rhs: Iterable[str]) -> float:
        """mu(X -> Y) = H(XY) - H(X), >= 0; 0 iff FD holds exactly."""
        x, y = attrset(lhs), attrset(rhs)
        got = self.engine.entropies([x | y, x])
        return _clamp(got[x | y] - got[x])

    def mvd_measure(self, lhs: Iterable[str], rhs: Iterable[str]) -> float:
        """mu(X ->> Y) = H(XY) + H(R-Y) - H(X) - H(R) = I(Y ; R-XY | X)."""
        x, y = attrset(lhs), attrset(rhs)
        xy = x | y
        if len(xy) == len(self.schema_cols):
            # degenerate: Z = R-XY empty (AbstractDataset.computeMVD:222-228)
            return _clamp(self.total_entropy - self.engine.entropy(x))
        r_minus_y = frozenset(self.schema_cols) - y
        got = self.engine.entropies([xy, r_minus_y, x])
        return _clamp(got[xy] + got[r_minus_y] - got[x] - self.total_entropy)

    def jd_measure(self, lhs: Iterable[str], components: Iterable[Iterable[str]]) -> float:
        """mu(⋈[X | C1..Ck]) = sum H(X ∪ Ci) - (k-1) H(X) - H(R), floored at 0
        (AbstractDataset.computeJD:244-277). The component sum is
        correctly rounded (``math.fsum``), so the measure does not depend on
        the order the components come in (a frozenset's order follows the
        process's string hash seed)."""
        x = attrset(lhs)
        comps = [attrset(c) for c in components]
        subsets = [x | c for c in comps] + [x]
        got = self.engine.entropies(subsets)
        comp_part = math.fsum(got[x | c] for c in comps)
        m = _clamp(comp_part - (len(comps) - 1) * got[x] - self.total_entropy)
        return m if m > 0.0 else 0.0

    # -- batch application to dependency objects ------------------------------

    def measure_all(self, deps: Iterable[Dependency | JD]) -> None:
        """Batch-measure: collect every entropy subset the dependencies need,
        fetch them in one chunked grouping-sets pass (A8), then set each
        dependency's measure — the Spark-side analogue of
        AbstractDataset.computeMeasures + computeEntropies."""
        deps = list(deps)
        needed: set[frozenset[str]] = set()
        full = frozenset(self.schema_cols)
        for d in deps:
            if isinstance(d, JD):
                needed.add(d.lhs)
                needed.update(d.lhs | c for c in d.components)
            elif isinstance(d, MVD):
                xy = d.lhs | d.rhs
                needed.add(d.lhs)
                if len(xy) < len(full):
                    needed.add(xy)
                    needed.add(full - d.rhs)
            else:  # FD
                needed.add(d.lhs)
                needed.add(d.lhs | d.rhs)
        self.engine.entropies(needed)  # warm cache in batched jobs
        for d in deps:
            if isinstance(d, JD):
                m = self.jd_measure(d.lhs, d.components)
            elif isinstance(d, MVD):
                m = self.mvd_measure(d.lhs, d.rhs)
            else:
                m = self.fd_measure(d.lhs, d.rhs)
            d.measure.set_value(m)
