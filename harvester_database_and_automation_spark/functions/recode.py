"""Recode/lookup helpers (SURVEY.md §2.8 lookup family, §2.2 P4).

Age-group binning (init.sql:787-867 dashboard view). Enum code->label
maps (import_bag_meldeformular.R:26-92) and the R coalesce_join
(utility.R:324-357) are certified as the ``null_safe_recode_join``
query (plans/relational.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def age_group(col: Column | str, width: int = 10, top: int = 80) -> Column:
    """Bin an age into '0-9', '10-19', ..., '80+' (the dashboard binning).
    Null ages -> 'Unknown'."""
    c = F.col(col) if isinstance(col, str) else col
    lo = (F.floor(c / width) * width).cast("int")
    return (
        F.when(c.isNull(), "Unknown")
        .when(c >= top, f"{top}+")
        .otherwise(F.concat(lo.cast("string"), F.lit("-"), (lo + width - 1).cast("string")))
    )
