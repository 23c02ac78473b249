"""P6 — row-content validation with quarantine (SURVEY.md §2.2).

The reference enforces enum domains, required columns, uniqueness, and
date-range sanity at import time (database/R/utility.R:755-814, 933-955;
database/python/viollier/parser.py:84-131), rejecting offending rows.

Spark-first: each check is a named boolean Column; one pass annotates every
row with the array of failed check names, then the stream splits into a
clean DataFrame and a quarantine DataFrame carrying the reasons — no UDFs,
single scan, fully pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FAILED_COL = "_failed_checks"


def validate(df: DataFrame, checks: dict[str, Column]) -> tuple[DataFrame, DataFrame]:
    """Split ``df`` into (good, quarantined) by the given named checks.

    ``checks`` maps check-name -> Column predicate that is True when the row
    PASSES. Null predicate results count as failures (e.g. ``col.rlike``
    on a null column). The quarantine output carries ``_failed_checks``:
    an array of the names that failed, for routing/reporting.
    """
    failed = F.array_compact(
        F.array(
            *[
                F.when(~F.coalesce(cond.cast("boolean"), F.lit(False)), F.lit(name))
                for name, cond in checks.items()
            ]
        )
    )
    annotated = df.withColumn(FAILED_COL, failed)
    good = annotated.filter(F.size(FAILED_COL) == 0).drop(FAILED_COL)
    quarantined = annotated.filter(F.size(FAILED_COL) > 0)
    return good, quarantined


def not_null(col: str) -> Column:
    return F.col(col).isNotNull()
