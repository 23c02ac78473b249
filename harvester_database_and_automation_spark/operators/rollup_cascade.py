"""Hypertable-style cascade rollup — multi-resolution time-bucketed
aggregates where each coarser level re-aggregates a finer level, not the
raw fact table.

TimescaleDB's continuous aggregates (and every time-series store's rollup
tree) keep minute/hour/day materializations of the same measures. The
Spark-scale property this module encodes: only the FINEST level scans the
events; every coarser level aggregates an (already tiny) finer rollup, so
a day-level refresh over a year of data touches ~525k minute rows instead
of the raw 100 TB. That requires the measures to be decomposable —
sum/count/min/max re-aggregate exactly; avg is carried as (sum, count) and
finalized at read time.

Fold-source correctness: a level may only re-aggregate a finer level whose
buckets NEST inside its own. minute ⊂ hour ⊂ day holds, and day ⊂ week and
day ⊂ month hold — but week ⊄ month (an ISO week spans two months at every
month boundary), so a month level must fold from day (or finer), never
from week. Each level therefore folds from the NEAREST preceding level
that nests inside it, falling back to the finest; asking for
['week', 'month'] without a nesting finer level is rejected rather than
silently mis-bucketed.

Incremental maintenance composes with ``operators/publish.py``: each level
is a derived table partitioned by its bucket, and a late-arriving batch
dirties only the buckets it touches at each level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from harvester_database_and_automation_spark.functions.dates import trunc_ntz

_UNITS = ["minute", "hour", "day", "week", "month"]

# inner unit -> coarser units whose buckets it tiles exactly.
_NESTS_IN = {
    "minute": {"hour", "day", "week", "month"},
    "hour": {"day", "week", "month"},
    "day": {"week", "month"},
    "week": set(),  # ISO weeks cross month boundaries
    "month": set(),
}


def cascade_rollup(
    events: DataFrame,
    ts_col: str,
    keys: list[str],
    value_col: str,
    levels: list[str],
) -> dict[str, DataFrame]:
    """Return {level_unit: rollup DataFrame} for ascending ``levels`` (each
    coarser than the last, drawn from minute/hour/day/week/month).

    Every level has schema (bucket, *keys, n_events, value_sum, value_min,
    value_max) — decomposable measures only. Each coarser level is an
    exact re-aggregation of the nearest preceding level that NESTS inside
    it (week→month would misassign cross-month weeks, so month folds from
    day even when week sits between them in ``levels``)."""
    order = [u for u in _UNITS if u in levels]
    if order != levels or not levels:
        raise ValueError(f"levels must be ascending from {_UNITS}, got {levels}")

    out: dict[str, DataFrame] = {}
    finest = levels[0]
    base = events.groupBy(
        trunc_ntz(finest, ts_col).alias("bucket"), *[F.col(k) for k in keys]
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(value_col).alias("value_sum"),
        F.min(value_col).alias("value_min"),
        F.max(value_col).alias("value_max"),
    )
    out[finest] = base

    for unit in levels[1:]:
        sources = [u for u in levels if u in _NESTS_IN and unit in _NESTS_IN[u] and u in out]
        if not sources:
            raise ValueError(
                f"no finer level in {levels} nests inside {unit!r} "
                f"(ISO weeks cross month boundaries; fold {unit!r} from day or finer)"
            )
        src = out[sources[-1]]  # nearest (coarsest) nesting level
        out[unit] = src.groupBy(
            trunc_ntz(unit, "bucket").alias("bucket"), *[F.col(k) for k in keys]
        ).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_sum").alias("value_sum"),
            F.min("value_min").alias("value_min"),
            F.max("value_max").alias("value_max"),
        )
    return out
