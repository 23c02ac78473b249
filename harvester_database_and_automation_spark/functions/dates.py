"""Date cleansing helpers (SURVEY.md §2.8 date family).

The reference repairs imprecise GISAID dates ('2021-03-XX' -> first of
month, auto_import_gisaid.R:108-113), normalizes dd.mm.yyyy
(viollier/parser.py:133-139), and rejects out-of-range dates
(utility.R:933-955). All pure expressions — no UDFs. ``trunc_ntz`` is
the NTZ-preserving ``date_trunc`` the plans and the rollup cascade
bucket by.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def repair_imprecise_date(col: Column | str) -> Column:
    """'2021-03-XX' -> 2021-03-01, '2021-XX-XX' -> 2021-01-01, full dates
    parse as-is; anything else -> null. Returns DateType."""
    c = F.col(col) if isinstance(col, str) else col
    repaired = F.regexp_replace(
        F.regexp_replace(c, r"^(\d{4})-(\d{2})-XX$", r"$1-$2-01"),
        r"^(\d{4})-XX-XX$",
        r"$1-01-01",
    )
    return F.try_to_timestamp(repaired, F.lit("yyyy-MM-dd")).cast("date")


def parse_multi_format_date(col: Column | str, formats: tuple[str, ...] = ("yyyy-MM-dd", "dd.MM.yyyy", "MM/dd/yyyy")) -> Column:
    """First format that parses wins (the multi-source normalization
    contract). Returns DateType, null when nothing matches."""
    c = F.col(col) if isinstance(col, str) else col
    parsed = [F.try_to_timestamp(c, F.lit(fmt)).cast("date") for fmt in formats]
    return F.coalesce(*parsed)


def clamp_date_range(col: Column | str, lo: str, hi: Column | None = None) -> Column:
    """Out-of-range dates -> null (utility.R:941-954: [2020-02-24, today])."""
    c = F.col(col) if isinstance(col, str) else col
    upper = hi if hi is not None else F.current_date()
    return F.when((c >= F.lit(lo).cast("date")) & (c <= upper), c)


def trunc_ntz(unit: str, col: Column | str) -> Column:
    """date_trunc that stays NTZ. Spark's date_trunc promotes NTZ input to
    LTZ via the session zone; casting back through the same zone restores
    the wall-clock value and the NTZ type."""
    return F.date_trunc(unit, col).cast("timestamp_ntz")
