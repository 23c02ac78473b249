"""W1 at scale — global sequential id assignment without a
single-partition sort.

The reference assigns new ETHIDs as ``<first free id> + row_number()``
over the whole table (database/sql/viollier_test.sql:34-47). A plain
``row_number() OVER (ORDER BY ...)`` forces every row through one
partition; this helper keeps the sort distributed:

1. range-repartition + sort within partitions by the order columns
   (a total order across partition boundaries),
2. first pass counts rows per partition (cheap: no data movement),
3. second pass adds ``offset[partition] + local_index``.

Ids are identical to the window formulation for any deterministic total
order (include a unique tie-break column).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def assign_global_ids(
    df: DataFrame,
    order_cols: list[Column | str],
    start: int = 1,
    id_col: str = "assigned_id",
) -> DataFrame:
    """Add ``id_col`` = start, start+1, ... in the total order given by
    ``order_cols`` — distributed (no single-partition window): the
    running total of a literal-1 weight, shifted by ``start``."""
    ones = df.withColumn("_assign_one", F.lit(1))
    ranked = add_running_total(ones, order_cols, "_assign_one", id_col)
    return ranked.select(*df.columns, (F.col(id_col) + F.lit(start)).alias(id_col))


def add_running_total(
    df: DataFrame,
    order_cols: list[Column | str],
    value_col: str,
    out_col: str = "running_before",
) -> DataFrame:
    """Add ``out_col`` = exclusive prefix sum of ``value_col`` in the total
    order given by ``order_cols`` — two passes over the range-sorted,
    pinned partitions (per-partition totals, then offset + local running
    sum); :func:`assign_global_ids` is its unit-weight case. Equivalent to
    ``sum(value) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING AND 1
    PRECEDING)`` but distributed: no single-partition window at any scale.

    The prefix sum is order-exact regardless of where the range partitioner
    places its boundaries, so results are deterministic for any
    deterministic total order (include a unique tie-break column)."""
    sorted_df = df.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)
    # Pin the sorted partitions so a nondeterministic upstream expression
    # cannot re-evaluate between the two passes; MEMORY_AND_DISK because
    # an evicted partition would be recomputed, possibly with different
    # content. Spark's ContextCleaner reclaims the blocks once the
    # returned frame is unreferenced.
    rdd = sorted_df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    # NULL values contribute 0 (SQL sum semantics); the output type follows
    # the value column (long stays long, fractional widens to double).
    sums = rdd.mapPartitions(
        lambda it: [sum(r[value_col] for r in it if r[value_col] is not None)]
    ).collect()
    # Seed the prefix with the value type's own zero: float for
    # double/float columns, Decimal for decimal columns (float + Decimal
    # raises TypeError), int otherwise.
    vtype = df.schema[value_col].dataType
    if isinstance(vtype, (T.DoubleType, T.FloatType)):
        zero = 0.0
    elif isinstance(vtype, T.DecimalType):
        from decimal import Decimal

        zero = Decimal(0)
    else:
        zero = 0
    offsets: list = [zero]
    for s in sums[:-1]:
        offsets.append(offsets[-1] + s)

    def add_running(idx: int, it):
        if idx >= len(offsets):
            raise RuntimeError(
                f"partition {idx} appeared after the sum pass saw {len(offsets)} "
                "partitions — upstream nondeterminism; offsets would be wrong"
            )
        run = offsets[idx]
        for row in it:
            yield (*row, run)
            if row[value_col] is not None:
                run += row[value_col]

    # Output type follows the value column: double/float -> double,
    # decimal -> a wider decimal (sums need headroom), integral -> long.
    if isinstance(vtype, (T.DoubleType, T.FloatType)):
        out_type: T.DataType = T.DoubleType()
    elif isinstance(vtype, T.DecimalType):
        out_type = T.DecimalType(min(38, vtype.precision + 10), vtype.scale)
    else:
        out_type = T.LongType()
    schema = T.StructType(sorted_df.schema.fields + [T.StructField(out_col, out_type, False)])
    return sorted_df.sparkSession.createDataFrame(rdd.mapPartitionsWithIndex(add_running), schema)
