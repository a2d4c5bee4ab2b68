"""Dependency model: Measure intervals, FDs, MVDs, JDs.

Driver-side dataclasses mirroring the reference's in-memory model
(`common/Measure.java:4-107`, `common/Status.java`,
`common/dependency/FunctionalDependency.java:12-204`,
`common/dependency/MultivaluedDependency.java:13-251`,
`common/dependency/JoinDependency.java:17-288`). Attribute sets are
``frozenset[str]`` of column names (see core/attrset.py); everything in this
module is pure Python — Spark never sees these objects.
"""

from __future__ import annotations

import enum
from collections.abc import Iterable, Sequence
from dataclasses import dataclass, field

# Tolerance used when setting an exact value against existing bounds
# (reference: Measure.error = 1e-6, `common/Measure.java:6`).
MEASURE_ERROR = 1e-6
# Measures within this of zero are clamped to zero
# (reference: `entropy/AbstractDataset.java:20` THRESHOLD = 1e-7).
MEASURE_CLAMP = 1e-7
# Equality tolerance for comparing two measured values
# (reference: `search/MinimalJDGenerator.java:213` ACCURACY = 1e-5).
MEASURE_ACCURACY = 1e-5

INF = float("inf")


class Status(enum.Enum):
    TRUE = "TRUE"
    FALSE = "FALSE"
    UNKNOWN = "UNKNOWN"


class Measure:
    """Interval [lower, upper] with three-valued threshold comparisons.

    Semantics match `common/Measure.java`: bounds only tighten; setting an
    exact value outside the bounds (beyond MEASURE_ERROR slack) is an error;
    comparisons return UNKNOWN while the interval straddles the threshold.
    """

    __slots__ = ("lower", "upper")

    def __init__(self, lower: float = 0.0, upper: float = INF):
        self.lower = lower
        self.upper = upper

    def update_lower(self, value: float) -> None:
        self.lower = max(self.lower, value)

    def update_upper(self, value: float) -> None:
        self.upper = min(self.upper, value)

    def set_value(self, value: float) -> None:
        above = value >= self.lower or (self.lower - value) <= MEASURE_ERROR
        below = value <= self.upper or (value - self.upper) <= MEASURE_ERROR
        if not (above and below):
            raise ValueError(
                f"value {value} outside bounds [{self.lower}, {self.upper}]")
        # Reference floors the stored value at `error` (Measure.java:42);
        # combined with the 1e-7 clamp upstream this makes exact-holds read
        # as a tiny positive value. We keep true zeros instead (cleaner and
        # only affects printing, not threshold tests at alpha >= 1e-6).
        value = max(value, 0.0)
        self.lower = value
        self.upper = value

    @property
    def is_exact(self) -> bool:
        return self.lower == self.upper

    @property
    def value(self) -> float:
        if not self.is_exact:
            raise ValueError("exact value not available")
        return self.lower

    def is_less_than(self, alpha: float) -> Status:
        if self.upper <= alpha:
            return Status.TRUE
        if self.lower > alpha:
            return Status.FALSE
        return Status.UNKNOWN

    def is_greater_than(self, alpha: float) -> Status:
        if self.lower >= alpha:
            return Status.TRUE
        if self.upper < alpha:
            return Status.FALSE
        return Status.UNKNOWN

    def __repr__(self) -> str:
        if self.is_exact:
            return f"{self.lower:.6g}"
        return f"[{self.lower:.6g}, {self.upper:.6g}]"


@dataclass
class Dependency:
    """Base for FD/MVD: lhs/rhs attribute sets + a measure interval."""

    lhs: frozenset[str]
    rhs: frozenset[str]
    measure: Measure = field(default_factory=Measure)

    def key(self) -> tuple[frozenset[str], frozenset[str]]:
        return (self.lhs, self.rhs)

    def __hash__(self):  # identity by (type, lhs, rhs); measure is mutable state
        return hash((type(self).__name__, self.lhs, self.rhs))

    def __eq__(self, other):
        return (type(self) is type(other) and self.lhs == other.lhs
                and self.rhs == other.rhs)


@dataclass(eq=False)
class FD(Dependency):
    """X -> Y with measure H(XY) - H(X) (conditional entropy)."""

    def specializations(self, schema: Sequence[str]) -> list["FD"]:
        """X -> A  =>  XB -> A for every B not in X, B not in A
        (FunctionalDependency.addSpecializations)."""
        out = []
        for b in schema:
            if b not in self.lhs and b not in self.rhs:
                out.append(FD(self.lhs | {b}, self.rhs))
        return out

    def generalizations(self, schema: Sequence[str]) -> list["FD"]:
        """X -> Y  =>  X-B -> Y for every B in X
        (FunctionalDependency.addGeneralizations)."""
        return [FD(self.lhs - {b}, self.rhs) for b in self.lhs]

    @staticmethod
    def most_general(schema: Sequence[str]) -> list["FD"]:
        """All {} -> A."""
        return [FD(frozenset(), frozenset((a,))) for a in schema]

    @staticmethod
    def most_specific(schema: Sequence[str]) -> list["FD"]:
        """All R-A -> A."""
        full = frozenset(schema)
        return [FD(full - {a}, frozenset((a,))) for a in schema]

    def __str__(self):
        return f"{sorted(self.lhs)} -> {sorted(self.rhs)} : {self.measure}"


@dataclass(eq=False)
class MVD(Dependency):
    """X ->> Y with measure I(Y ; R-XY | X) (conditional mutual information)."""

    def specializations(self, schema: Sequence[str]) -> list["MVD"]:
        """X ->> Y  =>  XB ->> Y-B for every B not in X, skipping empty RHS
        (MultivaluedDependency.addSpecializations)."""
        out = []
        for b in schema:
            if b not in self.lhs:
                new_rhs = self.rhs - {b}
                if new_rhs:
                    out.append(MVD(self.lhs | {b}, new_rhs))
        return out

    def generalizations(self, schema: Sequence[str]) -> list["MVD"]:
        """X ->> Y  =>  {X-B ->> Y, X-B ->> YB} for every B in X
        (MultivaluedDependency.addGeneralizations)."""
        out = []
        for b in self.lhs:
            new_lhs = self.lhs - {b}
            out.append(MVD(new_lhs, self.rhs))
            out.append(MVD(new_lhs, self.rhs | {b}))
        return out

    @staticmethod
    def most_general(schema: Sequence[str]) -> list["MVD"]:
        """All {} ->> Y for non-empty Y with |Y| <= |R|/2 (the complement
        half is implied), enumerated as in addRHSSupersets."""
        out: list[MVD] = []
        n = len(schema)

        def rec(rhs: frozenset[str], start: int) -> None:
            if len(rhs) > n / 2:
                return
            for i in range(start, n):
                a = schema[i]
                nxt = rhs | {a}
                out.append(MVD(frozenset(), nxt))
                rec(nxt, i + 1)

        # Reference recursion visits supersets without ordering; using index
        # order generates each RHS once (set-dedup does the rest there). The
        # size guard sits before extension, exactly as addRHSSupersets does,
        # so RHS sizes up to floor(n/2)+1 appear — matching the reference.
        rec(frozenset(), 0)
        return out

    @staticmethod
    def most_specific(schema: Sequence[str]) -> list["MVD"]:
        """All R-AB ->> A for unordered pairs A<B
        (MultivaluedDependency.addMostSpecificDependencies: only ->> A is
        kept since R-AB ->> B is implied)."""
        full = frozenset(schema)
        out = []
        for i, a in enumerate(schema):
            for b in schema[i + 1:]:
                out.append(MVD(full - {a, b}, frozenset((a,))))
        return out

    def __str__(self):
        return f"{sorted(self.lhs)} ->> {sorted(self.rhs)} : {self.measure}"


@dataclass(eq=False)
class JD:
    """Join dependency ⋈[X | C1, ..., Ck]: lhs (separator) + pairwise-disjoint
    components (each disjoint from lhs). Mirrors
    `common/dependency/JoinDependency.java:17-288`."""

    lhs: frozenset[str]
    components: frozenset[frozenset[str]]
    measure: Measure = field(default_factory=Measure)

    def __hash__(self):
        return hash((self.lhs, self.components))

    def __eq__(self, other):
        return (isinstance(other, JD) and self.lhs == other.lhs
                and self.components == other.components)

    @property
    def clusters(self) -> list[frozenset[str]]:
        """Decomposition clusters: X ∪ Ci for each component."""
        return [self.lhs | c for c in self.components]

    def attributes(self) -> frozenset[str]:
        out = self.lhs
        for c in self.components:
            out |= c
        return out

    def merge_components(self, c1: frozenset[str], c2: frozenset[str]) -> "JD":
        """New JD with c1, c2 merged (JoinDependency.mergeComponents)."""
        comps = set(self.components)
        comps.discard(c1)
        comps.discard(c2)
        comps.add(c1 | c2)
        return JD(self.lhs, frozenset(comps))

    def to_mvds(self) -> list[MVD]:
        """Every MVD X ->> (union of a proper nonempty subset of components)
        implied by this JD (JoinDependency.translateToMVDs enumerates the
        single-component ones; the full set is implied — we emit the
        single-component form to match)."""
        return [MVD(self.lhs, frozenset(c)) for c in self.components]

    @staticmethod
    def most_specific(lhs: frozenset[str], schema: Sequence[str]) -> "JD":
        """⋈[X | {a} for each a not in X]
        (MinimalJDGenerator.generateMostSpecificJD, :269-298)."""
        comps = frozenset(frozenset((a,)) for a in schema if a not in lhs)
        return JD(frozenset(lhs), comps)

    def __str__(self):
        comps = ", ".join("{" + ",".join(sorted(c)) + "}"
                          for c in sorted(self.components, key=sorted))
        return f"JD[{sorted(self.lhs)} | {comps}] : {self.measure}"


class DependencySet:
    """Collection of dependencies indexed by lhs and rhs
    (`common/sets/DependencySet.java:8-203`)."""

    def __init__(self, deps: Iterable[Dependency] = ()):
        self._by_key: dict[tuple, Dependency] = {}
        self._by_lhs: dict[frozenset, set[Dependency]] = {}
        self._by_rhs: dict[frozenset, set[Dependency]] = {}
        for d in deps:
            self.add(d)

    def add(self, dep: Dependency) -> None:
        k = (type(dep).__name__, dep.lhs, dep.rhs)
        if k in self._by_key:
            return
        self._by_key[k] = dep
        self._by_lhs.setdefault(dep.lhs, set()).add(dep)
        self._by_rhs.setdefault(dep.rhs, set()).add(dep)

    def __contains__(self, dep: Dependency) -> bool:
        return (type(dep).__name__, dep.lhs, dep.rhs) in self._by_key

    def get(self, dep: Dependency) -> Dependency | None:
        return self._by_key.get((type(dep).__name__, dep.lhs, dep.rhs))

    def contains_lr(self, lhs: frozenset[str], rhs: frozenset[str]) -> bool:
        """Membership by (lhs, rhs) only, ignoring dependency type —
        DependencySet.contains(lhs, rhs) in the reference."""
        for d in self._by_lhs.get(lhs, ()):
            if d.rhs == rhs:
                return True
        return False

    def with_rhs(self, rhs: frozenset[str]) -> set[Dependency]:
        return self._by_rhs.get(rhs, set())

    def __iter__(self):
        return iter(list(self._by_key.values()))

    def __len__(self):
        return len(self._by_key)

    def __bool__(self):
        return bool(self._by_key)


def print_lattice(schema: Sequence[str], dep_cls=FD, out=None) -> None:
    """Level-wise dump of the candidate lattice, most-general first — the
    reference's debug surface (`Main.printLattice` ->
    `FunctionalDependency.printLattice`,
    common/dependency/FunctionalDependency.java:183-201): print each
    level, expand every dependency's specializations, repeat until a
    level is empty. Dedup per level matches the reference's DependencySet
    add-once semantics."""
    import sys

    out = out or sys.stdout
    level, deps = 1, list(dict.fromkeys(dep_cls.most_general(schema)))
    while deps:
        out.write(f"Level : {level}\n")
        nxt: dict = {}
        for d in deps:
            out.write(f"{d}\n")
            for s in d.specializations(schema):
                nxt.setdefault(s, None)
        deps = list(nxt)
        level += 1
