"""Acyclic schemas: JD compatibility, join trees, schema enumeration
(B14-B16).

Driver-plane re-implementation of
`common/dependency/AcyclicSchema.java:15-326` (conflict-free pairing per
Beeri et al.'s characterization, join-tree construction, schema metrics),
`common/BitSetMatrixGraph.java:8-51` (independent-set extension over the
JD-incompatibility graph) and `search/AcyclicSchemaEnumerator.java:40-133`
(BFS enumeration of maximal independent sets = acyclic schemas).

The data-plane validation of an enumerated schema (spurious-tuple count over
its join-tree clusters) is ``DecompositionValidator.validate`` in
engine/decompose.py; ``validate_schema`` and ``validate_schemas_concurrent``
here just bridge the two.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass, field

from ..core.deps import JD


# ---------------------------------------------------------------------------
# B14: conflict-free (compatible) JD pairs
# ---------------------------------------------------------------------------

def split_by(jd1: JD, jd2: JD) -> tuple[bool, bool]:
    """Beeri-style split test (AcyclicSchema.splitBy:31-84).

    Returns (jd1_splits_jd2, jd2_separates_component_of_jd1). jd1 "splits"
    jd2 when jd2's separator straddles jd1's partition — the pair can never
    sit in one join tree. The second flag records that jd2's separator lies
    inside one block of jd1 AND actually separates that block.
    """
    if jd1.lhs == jd2.lhs:
        return True, False
    if jd2.lhs <= jd1.lhs:
        return False, False
    for component in sorted(jd1.components, key=sorted):
        if component & jd2.lhs:
            block = jd1.lhs | component
            if jd2.lhs <= block:
                n_intersecting = sum(1 for c2 in jd2.components if block & c2)
                return False, n_intersecting >= 2
            return True, False  # jd2.lhs straddles two blocks of jd1
    return True, False  # jd2.lhs ⊆ jd1.lhs handled above; no component hit


def is_compatible(jd1: JD, jd2: JD) -> bool:
    """AcyclicSchema.isCompatible:86-101: compatible iff neither splits the
    other and each separates a block of the other."""
    splits12, sep12 = split_by(jd1, jd2)
    if splits12:
        return False
    splits21, sep21 = split_by(jd2, jd1)
    if splits21:
        return False
    return sep12 and sep21


# ---------------------------------------------------------------------------
# B16: join tree from a compatible JD set
# ---------------------------------------------------------------------------

@dataclass
class JTNode:
    """Join-tree node (AcyclicSchema.JTNode): internal nodes are separators,
    leaves are clusters."""

    members: frozenset[str]
    children: list["JTNode"] = field(default_factory=list)
    parent: "JTNode | None" = None
    level: int = 0

    def add_child(self, child: "JTNode") -> None:
        self.children.append(child)
        child.parent = self
        child.level = self.level + 1

    @property
    def is_leaf(self) -> bool:
        return not self.children


class AcyclicSchema:
    """A set of pairwise-compatible JDs + its join-tree representation."""

    def __init__(self, schema_cols, jds=()):
        self.schema_cols = list(schema_cols)
        self.jds: list[JD] = []
        self.root: JTNode | None = None
        self.clusters: set[frozenset[str]] = set()
        for jd in jds:
            self.add_jd(jd)

    def add_jd(self, jd: JD) -> bool:
        if jd in self.jds:
            return False
        if any(not is_compatible(jd, cur) for cur in self.jds):
            return False
        self.jds.append(jd)
        return True

    def build_join_tree(self) -> JTNode:
        """getTreeClusters (AcyclicSchema.java:195-243): separators sorted by
        size; recursively split the full attribute set; leaves = clusters."""
        seps = sorted(self.jds, key=lambda j: (len(j.lhs), sorted(j.lhs)))
        processed = [False] * len(seps)
        root = JTNode(frozenset(self.schema_cols))
        queue: deque[JTNode] = deque([root])
        self.clusters = set()
        while queue:
            node = queue.popleft()
            separated = False
            for i, jd in enumerate(seps):
                if processed[i] or not (jd.lhs <= node.members):
                    continue
                sep_node = JTNode(jd.lhs)
                sep_node.parent = node.parent
                if node.parent is None:
                    root = sep_node
                else:
                    sep_node.level = node.parent.level + 1
                    node.parent.children.remove(node)
                    node.parent.children.append(sep_node)
                for comp in sorted(jd.components, key=sorted):
                    new_members = (comp | jd.lhs) & node.members
                    if len(new_members) > len(jd.lhs):
                        child = JTNode(new_members)
                        sep_node.add_child(child)
                        queue.append(child)
                separated = True
                processed[i] = True
                break
            if not separated:
                self.clusters.add(node.members)
        self.root = root
        return root

    # -- metrics (AcyclicSchema.java:278-311) ---------------------------------

    def separators(self) -> set[frozenset[str]]:
        return {jd.lhs for jd in self.jds}

    @property
    def max_cluster(self) -> int:
        return max((len(c) for c in self.clusters), default=0)

    @property
    def max_separator(self) -> int:
        return max((len(jd.lhs) for jd in self.jds), default=0)

    @property
    def estimated_measure(self) -> float:
        return sum(jd.measure.upper for jd in self.jds)

    def __repr__(self):
        cl = sorted(sorted(c) for c in self.clusters)
        return f"AcyclicSchema({len(self.jds)} JDs, clusters={cl})"


# ---------------------------------------------------------------------------
# B15: enumerate acyclic schemas = maximal independent sets of the
# incompatibility graph
# ---------------------------------------------------------------------------

class AcyclicSchemaEnumerator:
    """BFS over maximal independent sets
    (AcyclicSchemaEnumerator.java:53-133 over BitSetMatrixGraph)."""

    def __init__(self, schema_cols, jds: list[JD]):
        self.schema_cols = list(schema_cols)
        self.jds = list(jds)
        n = len(self.jds)
        self.nbrs: list[set[int]] = [set() for _ in range(n)]
        for i in range(n):
            for j in range(i + 1, n):
                if not is_compatible(self.jds[i], self.jds[j]):
                    self.nbrs[i].add(j)
                    self.nbrs[j].add(i)
        first = self._extend(frozenset())
        self._queue: deque[frozenset[int]] = deque([first])
        self._in_q: set[frozenset[int]] = {first}
        self._done: set[frozenset[int]] = set()

    def _extend(self, ind: frozenset[int]) -> frozenset[int]:
        """Greedy extension to a maximal independent set (index order —
        BitSetMatrixGraph.extendToMaxIndependentSet)."""
        out = set(ind)
        for i in range(len(self.jds)):
            if i not in out and not (self.nbrs[i] & out):
                out.add(i)
        return frozenset(out)

    def __iter__(self):
        return self

    def __next__(self) -> AcyclicSchema:
        if not self._queue:
            raise StopIteration
        cur = self._queue.popleft()
        self._in_q.discard(cur)
        self._done.add(cur)
        for i in range(len(self.jds)):
            if i in cur:
                continue
            ext = self._extend(frozenset((cur - self.nbrs[i]) | {i}))
            if ext not in self._done and ext not in self._in_q:
                self._queue.append(ext)
                self._in_q.add(ext)
        schema = AcyclicSchema(self.schema_cols, (self.jds[i] for i in cur))
        schema.build_join_tree()
        return schema


def validate_schema(validator, schema: AcyclicSchema):
    """Bridge to the data plane: spurious-tuple count for the schema's
    join-tree clusters (the per-schema SQLite job of
    `search/AcyclicSchemaEnumerator.java:309-552` step 5, on Spark)."""
    return validate_schemas_concurrent(validator, [schema])[0]


def validate_schemas_concurrent(validator, schemas) -> list:
    """validate_schema over several CANDIDATE schemas in one
    ``DecompositionValidator.validate`` call, which prices the clusters
    they share once and then folds every schema; returns the
    DecompositionInfo list in input order."""
    schemas = list(schemas)
    for s in schemas:
        if not s.clusters:
            s.build_join_tree()
    return validator.validate([s.clusters for s in schemas])
