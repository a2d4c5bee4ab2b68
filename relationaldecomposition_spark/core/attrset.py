"""Attribute sets over named DataFrame columns.

The reference models attribute sets as bitsets over positional integer
attributes (`common/sets/AttributeSet.java:10-247`,
`common/sets/IAttributeSet.java:7-40`). Our relations are Spark DataFrames
with *named* columns, and the schemas the miner sees are small (n <~ 30
columns), so a ``frozenset[str]`` carries the same semantics with none of
the bit bookkeeping. This module holds the few helpers that the Java class
provided beyond plain set algebra.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

AttrSet = frozenset  # alias used throughout: frozenset[str]


def attrset(cols: Iterable[str] | str) -> frozenset[str]:
    """Normalize a column, iterable of columns, or frozenset into an AttrSet."""
    if isinstance(cols, str):
        return frozenset((cols,))
    return frozenset(cols)


def sorted_cols(s: Iterable[str], schema: Sequence[str] | None = None) -> list[str]:
    """Deterministic column ordering: schema order if given, else lexicographic.

    The reference iterates bitsets in ascending attribute index
    (`common/sets/AttributeSet.java`, nextSetBit loops); schema order is the
    named-column equivalent and keeps generated SQL/plans stable.
    """
    if schema is not None:
        pos = {c: i for i, c in enumerate(schema)}
        unknown = [c for c in s if c not in pos]
        if unknown:
            raise ValueError(
                f"unknown column(s) {unknown}; relation has {list(schema)}")
        return sorted(s, key=lambda c: pos[c])
    return sorted(s)


def complement(s: Iterable[str], schema: Sequence[str]) -> frozenset[str]:
    """R - S for the relation schema (AttributeSet.complement)."""
    return frozenset(schema) - frozenset(s)
