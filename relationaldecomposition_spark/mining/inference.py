"""Logical inference over discovered dependencies (B13).

Python re-implementation of the reference's inference modules:
- `inference/DependencyBasis.java:15-166` — Beeri's dependency-basis
  fixpoint for a fixed lhs X, with error-bound propagation: each basis piece
  carries an upper bound on the measure cost of deriving it; a dependency
  X ->> Y whose rhs is exactly a union of basis pieces inherits the summed
  bound.
- `inference/BeeriAlgorithmInference.java:14-75` — per-dependency wrapper.
- (The weaker lattice-order bound lives in mining/lattice.py.)

Pure driver-side Python; never touches Spark. Used by the search to skip
data scans for dependencies whose measures are already bounded under alpha.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from ..core.deps import Dependency, DependencySet, Status


class DependencyBasis:
    """Dependency basis of lhs X over a set of (approximately) discovered
    MVDs, with bound propagation."""

    def __init__(self, schema: Sequence[str], lhs: frozenset[str]):
        self.schema = list(schema)
        self.lhs = frozenset(lhs)
        full = frozenset(schema)
        self.basis: set[frozenset[str]] = set()
        self.bounds: dict[frozenset[str], float] = {}
        self._add(self.lhs, 0.0)
        self._add(full - self.lhs, 0.0)

    def _add(self, piece: frozenset[str], bound: float) -> None:
        if not piece:
            return
        prev = self.bounds.get(piece)
        self.bounds[piece] = bound if prev is None else min(prev, bound)
        self.basis.add(piece)

    def compute(self, discovered: Iterable[Dependency]) -> None:
        """Fixpoint refinement (DependencyBasis.compute:50-135): while some
        piece b can be split by a discovered S ->> T with S ∩ b = ∅, replace
        b with {T∩b, T−b, b−T}, each bounded by bound(b) + upper(S->>T)."""
        deps = list(discovered)
        converged = False
        while not converged:
            split = False
            add_set: dict[frozenset[str], float] = {}
            remove_set: set[frozenset[str]] = set()
            for b in list(self.basis):
                for dep in deps:
                    s, t = dep.lhs, dep.rhs
                    if s & b:
                        continue
                    t_int_b = t & b
                    t_minus_b = t - b
                    b_minus_t = b - t
                    if not (t_int_b or t_minus_b or b_minus_t):
                        continue
                    value = dep.measure.upper + self.bounds[b]
                    for piece in (t_int_b, t_minus_b, b_minus_t):
                        if piece and piece not in self.basis:
                            split = True
                            remove_set.add(b)
                            prev = add_set.get(piece)
                            add_set[piece] = value if prev is None else min(prev, value)
            if not split:
                converged = True
            else:
                self.basis -= remove_set
                for piece, bound in add_set.items():
                    self._add(piece, bound)

    def infer(self, dep: Dependency) -> None:
        """If dep.rhs is exactly a union of basis pieces, set its measure
        upper bound to the sum of their bounds (DependencyBasis.infer)."""
        union: frozenset[str] = frozenset()
        value = 0.0
        for b in self.basis:
            if b <= dep.rhs:
                union |= b
                value += self.bounds[b]
        if union == dep.rhs:
            dep.measure.update_upper(value)


class BeeriInference:
    """Per-dependency inference using a fresh dependency basis
    (BeeriAlgorithmInference)."""

    def __init__(self, discovered: DependencySet, schema: Sequence[str],
                 alpha: float):
        self.discovered = discovered
        self.schema = list(schema)
        self.alpha = alpha

    def infer(self, dep: Dependency) -> None:
        basis = DependencyBasis(self.schema, dep.lhs)
        basis.compute(self.discovered)
        basis.infer(dep)

    def implies(self, dep: Dependency) -> bool:
        self.infer(dep)
        return dep.measure.is_less_than(self.alpha) is Status.TRUE
