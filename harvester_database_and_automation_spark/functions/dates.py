"""Date helper (SURVEY.md §2.8 date family): ``trunc_ntz`` is the
NTZ-preserving ``date_trunc`` the plans and the rollup cascade bucket by.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def trunc_ntz(unit: str, col: Column | str) -> Column:
    """date_trunc that stays NTZ. Spark's date_trunc promotes NTZ input to
    LTZ via the session zone; casting back through the same zone restores
    the wall-clock value and the NTZ type."""
    return F.date_trunc(unit, col).cast("timestamp_ntz")
