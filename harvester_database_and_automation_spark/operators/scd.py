"""SCD Type-2 historization — keep every version of a dimension row with
``valid_from``/``valid_to``/``is_current`` instead of overwriting.

The reference keeps history implicitly (``old_sample`` flags and partial
unique indexes, refactoring_v3_schema.sql:50-51; date-stamped re-imports);
warehouses that need "what did this row look like when the model trained"
make that explicit as SCD2. This module is the M-family companion to
``operators/merge.py``: same staging-frame inputs, but matched-and-changed
rows CLOSE the current version (valid_to = batch ts) and append a new open
one, unchanged rows pass through untouched, and new keys open their first
version.

Scale shape: one xxhash64 change fingerprint per side (no field-by-field
Java), one join on the business key between the *current slice only* and
the batch — closed history never enters the shuffle — then a unionByName
of three narrow branches. With the history table partitioned on
``is_current``, the scan prunes to the open slice, so batch cost tracks
the dimension's live size, not its full history.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from harvester_database_and_automation_spark.operators.merge import content_hash

VALID_FROM = "valid_from"
VALID_TO = "valid_to"
IS_CURRENT = "is_current"
_SCD_COLS = (VALID_FROM, VALID_TO, IS_CURRENT)


def scd2_init(snapshot: DataFrame, batch_ts) -> DataFrame:
    """Open a first version for every snapshot row."""
    return snapshot.select(
        "*",
        F.lit(batch_ts).cast("timestamp_ntz").alias(VALID_FROM),
        F.lit(None).cast("timestamp_ntz").alias(VALID_TO),
        F.lit(True).alias(IS_CURRENT),
    )


def scd2_merge(
    history: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    batch_ts,
) -> DataFrame:
    """Apply ``updates`` (one row per key: the new attribute values as of
    ``batch_ts``) to an SCD2 ``history`` table; returns the new history.

    - changed key: current version closed (valid_to = batch_ts,
      is_current = false) + a new open version appended
    - new key: first open version appended
    - unchanged key / key absent from the batch: untouched
    """
    attr_cols = [c for c in updates.columns if c not in keys]
    expected = set(updates.columns) | set(_SCD_COLS)
    if set(history.columns) != expected:
        raise ValueError(
            f"history schema mismatch: got {sorted(history.columns)}, want {sorted(expected)}"
        )
    ts = F.lit(batch_ts).cast("timestamp_ntz")

    closed = history.filter(~F.col(IS_CURRENT))
    current = history.filter(F.col(IS_CURRENT))

    cur = current.withColumn("_fp", content_hash(attr_cols)).alias("cur")
    upd = updates.withColumn("_fp_new", content_hash(attr_cols)).alias("upd")
    j = cur.join(upd, on=list(keys), how="full_outer")

    matched_new = F.col("upd._fp_new").isNotNull()
    matched_cur = F.col("cur._fp").isNotNull()
    changed = matched_new & matched_cur & (F.col("cur._fp") != F.col("upd._fp_new"))

    # current versions carried forward: unchanged stay open, changed close
    carried = j.filter(matched_cur).select(
        *[F.col(k) for k in keys],
        *[F.col(f"cur.{c}").alias(c) for c in attr_cols],
        F.col(f"cur.{VALID_FROM}").alias(VALID_FROM),
        F.when(changed, ts).otherwise(F.col(f"cur.{VALID_TO}")).alias(VALID_TO),
        F.when(changed, F.lit(False)).otherwise(F.col(f"cur.{IS_CURRENT}")).alias(IS_CURRENT),
    )
    # new open versions: changed keys + brand-new keys
    opened = j.filter(matched_new & (changed | ~matched_cur)).select(
        *[F.col(k) for k in keys],
        *[F.col(f"upd.{c}").alias(c) for c in attr_cols],
        ts.alias(VALID_FROM),
        F.lit(None).cast("timestamp_ntz").alias(VALID_TO),
        F.lit(True).alias(IS_CURRENT),
    )
    return closed.unionByName(carried).unionByName(opened)
