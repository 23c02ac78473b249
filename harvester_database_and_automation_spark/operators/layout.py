"""Table layout for scale: clustering replaces indexes.

The reference leans on ~90 PostgreSQL b-tree indexes
(database/init.sql:196-238, 1095-1109). Spark tables get the same read
selectivity from physical layout instead (SURVEY.md §4): sorting a write
tightens parquet row-group min/max stats so scans skip pages for
clustered predicates — the moral equivalent of a composite index like
``(position, mutation)`` on the mutation tables. ``zorder_value`` is the
multi-column form; ``zorder_cell_stats`` certifies it against DuckDB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import functions as F


def zorder_value(cols: Sequence[str], bits: int = 16) -> F.Column:
    """Morton (Z-order) value interleaving the low ``bits`` of each column's
    non-negative integer rank. Sorting a write by this single value clusters
    rows along EVERY interleaved dimension at once, so parquet row-group
    min/max statistics prune scans filtered on any of them — multi-column
    b-tree index replacement, the layout trick behind Delta's OPTIMIZE
    ZORDER BY.

    Callers map each raw column to a bounded non-negative int rank first
    (e.g. days since epoch, bucketed price). Two or three dims are the
    sweet spot; beyond that each dim's clustering dilutes geometrically.
    """
    z = F.lit(0).cast("long")
    n = len(cols)
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(F.col(c).cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z
