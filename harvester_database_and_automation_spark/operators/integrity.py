"""Referential-integrity check.

Spark enforces no FOREIGN KEY constraints, so the reference's declarative
guarantee becomes a procedural check (SURVEY.md §1.2): FKs with cascade
(init.sql:258-259, :341-342) → anti-join orphan scans.

``orphans`` returns the VIOLATING rows (not booleans) so callers can
quarantine, alert, or hard-stop with evidence — the reference's pattern of
emailing the offending sample list — in one left-anti hash join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def orphans(
    child: DataFrame,
    parent: DataFrame,
    fk: Sequence[str] | dict[str, str],
    ignore_null_fk: bool = True,
) -> DataFrame:
    """Child rows whose foreign key has no matching parent row — the
    FK-constraint scan. ``fk`` is a column list (same names both sides) or
    a {child_col: parent_col} mapping. SQL FK semantics ignore NULL keys;
    pass ``ignore_null_fk=False`` to report them instead."""
    mapping = {c: c for c in fk} if not isinstance(fk, dict) else dict(fk)
    cond = [child[c] == parent[p] for c, p in mapping.items()]
    out = child.join(parent, cond, "left_anti")
    if ignore_null_fk:
        for c in mapping:
            out = out.filter(child[c].isNotNull())
    return out
