"""Helpers shared by the plan modules: scratch directories for replay
queries, split-aware fan-out, the portable sampling hash, and exact
grouped quantiles.

Intermediates that several queries consume (the mutation triple table,
the shingle table, signature and index frames) are not cached here: they
are derived tables (``pipelines/derived.py``), published once per corpus
content and package code and read by every consumer with
``read_derived``. That mirrors the reference, where those intermediates
are tables (``consensus_sequence_mutation_nucleotide``, populated once
and queried by every downstream report — init.sql:403-410).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCRATCH_DIRS: list[str] = []


def scratch_dir(prefix: str) -> str:
    """A temp dir for a query's spool/publish fixtures, removed at process
    exit (and eagerly by harnesses via :func:`cleanup_scratch`).

    Replay queries RETURN a lazy DataFrame over files they wrote here, so
    the dir must outlive the function — the caller (driver / bench /
    check harness) materializes the result, then the process-exit hook or
    an explicit ``cleanup_scratch()`` reclaims the space. Without this,
    repeated certification runs accumulate corpus-sized spools in /tmp.
    """
    path = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(path)
    return path


def cleanup_scratch() -> None:
    """Remove every scratch dir created so far. Call ONLY after all
    previously returned DataFrames have been fully materialized."""
    while _SCRATCH_DIRS:
        shutil.rmtree(_SCRATCH_DIRS.pop(), ignore_errors=True)


atexit.register(cleanup_scratch)


def fanout(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's shuffle parallelism, but
    ONLY when the scan is under-split (the local test corpus is one parquet
    file per table, so heavy per-row map work would otherwise run as a
    single task). A real 100 TB corpus already scans as thousands of splits
    — repartitioning there would ship every payload through a pure-waste
    shuffle, so it is skipped.

    Split detection estimates the scan's partition count from its input
    files' on-disk sizes (sum of ceil(size / maxPartitionBytes), with the
    byte value the session itself parsed from the setting, so "64m" is
    64 MiB) — the same arithmetic FilePartition uses, at the cost of a
    file listing.
    The previous probe, ``df.rdd.getNumPartitions()``, forced a full
    plan-to-RDD conversion worth 0.1-1s of driver time PER QUERY; the
    listing is ~10x cheaper and warm-cached by the session catalog.
    Frames with no file inputs (in-memory ranges, streaming) fall back to
    the RDD probe."""
    import os

    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    files = df.inputFiles()
    if files:
        max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        splits = 0
        for f in files:
            path = f.removeprefix("file://").removeprefix("file:")
            try:
                size = os.path.getsize(path)
            except OSError:
                return df  # non-local storage: trust the scan's own splitting
            splits += -(-size // max_bytes)
        if splits >= n:
            return df
        return df.repartition(n)
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


# Portable multiplicative hash (Knuth constant, mod a prime): identical
# 64-bit integer arithmetic on both engines, no overflow for any id
# (operands stay below 1e9 * 2.7e9 < 2^63). Used to draw FIXED-SIZE
# pseudo-random samples — an `id % m` sample is corpus-PROPORTIONAL,
# which turns any per-query linear scan into O(N^2) and any driver-side
# query block into O(N) driver memory.
QHASH_SQL = "((({id}) % 1000000007) * 2654435761) % 1000000007"


def qhash(col):
    return ((col % F.lit(1_000_000_007)) * F.lit(2_654_435_761)) % F.lit(1_000_000_007)


def group_quantiles_exact(df: DataFrame, group_cols: list, value_col: str, qs: list):
    """EXACT continuous quantiles per group without holistic buffers.

    ``percentile(col, q)`` buffers every value of a group in one
    aggregation buffer — an executor-memory bomb on large groups (the
    lesson of `lineitem_column_profile`, SCALING.json's former worst
    entry). Instead: aggregate the VALUE DISTRIBUTION (groupBy value —
    map-side combinable, the shuffle carries NDV rows), running-total it
    per group, and read the two ranks bracketing each continuous
    position p = q·(n−1) with conditional aggregates, interpolating
    v_lo + frac·(v_hi − v_lo) exactly as quantile_cont defines. Nulls
    are dropped first (quantile semantics). Returns one row per group
    with columns q0..q{len(qs)-1}; memory is bounded by the spillable
    hash agg and a sort window over pre-aggregated rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    dist = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, value_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy(*group_cols)
    cumf = dist.withColumn("cum", F.sum("cnt").over(w.orderBy(value_col))).withColumn(
        "n_val", F.max("cum").over(w)
    )
    aggs = [F.max("n_val").alias("_n_val")]
    for i, q in enumerate(qs):
        p = F.lit(q) * (F.col("n_val") - 1)
        lo_in = (F.floor(p) >= F.col("cum") - F.col("cnt")) & (F.floor(p) <= F.col("cum") - 1)
        hi_in = (F.ceil(p) >= F.col("cum") - F.col("cnt")) & (F.ceil(p) <= F.col("cum") - 1)
        aggs += [
            F.max(F.when(lo_in, F.col(value_col))).alias(f"_vlo{i}"),
            F.max(F.when(hi_in, F.col(value_col))).alias(f"_vhi{i}"),
        ]
    prof = cumf.groupBy(*group_cols).agg(*aggs)
    out = []
    for i, q in enumerate(qs):
        p = F.lit(q) * (F.col("_n_val") - 1)
        frac = p - F.floor(p)
        out.append(
            (F.col(f"_vlo{i}") + frac * (F.col(f"_vhi{i}") - F.col(f"_vlo{i}"))).alias(f"q{i}")
        )
    return prof.select(*group_cols, *out)


def distribution_quantiles_binned(
    dist: DataFrame,
    group_cols: list,
    value_col: str,
    cnt_col: str,
    qs: list,
    bins_per_octave: int = 32,
    materialize: bool = True,
) -> DataFrame:
    """EXACT continuous quantiles from a (group, value, cnt) distribution
    frame via a TWO-LEVEL prefix sum — the unbounded-NDV companion to
    `group_quantiles_exact`.

    The single-level form runs ONE cumulative-window task per group over
    its full NDV rows: fine while value domains are grids (NDV plateaus),
    superlinear the moment one column's NDV grows with the data —
    SCALING.json measured a 3.85x step on exactly that plan. Here the
    per-group window shrinks to (a) a BUCKET-level prefix sum over a few
    hundred rows per group and (b) a value-level window over ONLY the
    buckets that contain a requested rank (≤ 2·len(qs) buckets per
    group), so no task ever sorts more than one bucket's slice of the
    distribution regardless of NDV.

    Values bin by a monotone sign·floor(b·log2(1+|v|)) key — bucket
    BOUNDARIES are floating-point and engine-internal (they never leave
    the plan); only monotonicity matters, because ranks are recomposed as
    bucket-prefix + within-bucket offsets and the returned values are
    exact data values interpolated by exact integer ranks, bit-identical
    to quantile_cont. Null values may stay in ``dist``: their bucket key
    is null, contributes zero to every prefix, and can never become a
    target bucket. Groups whose values are ALL null produce no output
    row (join them back from a stats frame if they must appear).

    100 TB shape: the only full-size data structure is the NDV-row
    distribution the caller already built; everything after it is
    bucket-sized (hundreds of rows per group) or target-bucket-sized.
    The distribution has MULTIPLE consumers (bucket aggregation, the
    target-bucket probe, the rank lookup) and inferred join-key null
    filters make their subtrees differ, so ReuseExchange does NOT
    deduplicate them — ``materialize=True`` (default) therefore
    ``localCheckpoint``s the binned distribution so it is computed once
    and every branch reads cached executor partitions (the
    pushdown-barrier pattern the derived-frame queries use). Pass
    ``materialize=False`` when ``dist`` is already materialized. On a
    real cluster a long-lived profile would instead publish the
    distribution as a derived table (`operators/publish.py`); the
    checkpoint is the single-session analogue."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    v = F.col(value_col)
    sign = F.when(v < 0, F.lit(-1)).otherwise(F.lit(1))
    bucket = (
        sign * F.floor(F.lit(float(bins_per_octave)) * F.log2(F.abs(v) + F.lit(1.0)))
    ).cast("long")
    db = dist.withColumn("_qb", bucket)
    if materialize:
        db = db.localCheckpoint(eager=True)
    live = F.when(v.isNotNull(), F.col(cnt_col)).otherwise(F.lit(0))
    bstats = db.groupBy(*group_cols, "_qb").agg(F.sum(live).alias("_bcnt"))
    wb = Window.partitionBy(*group_cols)
    bann = bstats.withColumn(
        "_bend", F.sum("_bcnt").over(wb.orderBy(F.col("_qb").asc_nulls_first()))
    ).withColumn("_n_val", F.max("_bend").over(wb))
    # Target (bucket, rank) pairs fall out of the bucket frame directly:
    # every bucket row explodes the 2·len(qs) candidate ranks (computed
    # from the windowed n_val) and keeps the ones its [bstart, bend) span
    # covers — each rank lands in exactly one bucket, no join needed.
    rank_exprs = []
    for q in qs:
        p = F.lit(q) * (F.col("_n_val") - 1)
        rank_exprs += [F.floor(p).cast("long"), F.ceil(p).cast("long")]
    bstart = F.col("_bend") - F.col("_bcnt")
    targets = (
        bann.select(
            *group_cols,
            "_qb",
            bstart.alias("_bstart"),
            "_bend",
            "_n_val",
            F.explode(F.array_distinct(F.array(*rank_exprs))).alias("_rk"),
        )
        .filter((F.col("_rk") >= F.col("_bstart")) & (F.col("_rk") < F.col("_bend")))
        .select(*group_cols, "_qb", "_bstart", "_n_val", "_rk")
    )
    # Level 2: only rows inside a target bucket are ever sorted; their
    # global rank span is bucket-prefix + within-bucket running count.
    # ONE broadcast of the bounded target frame (≤ 2·len(qs) rows per
    # group) serves both the bucket probe and the rank lookup: the join
    # replicates a bucket's rows per requested rank (at most 2·len(qs)
    # copies) and the running count windows per (group, bucket, rank),
    # so the big side never re-shuffles and never joins twice.
    l2 = db.join(F.broadcast(targets), [*group_cols, "_qb"])
    w2 = Window.partitionBy(*group_cols, "_qb", "_rk")
    l2c = l2.withColumn("_cumw", F.sum(cnt_col).over(w2.orderBy(value_col)))
    # Exactly ONE row's span covers each target rank, so the covering
    # rows ARE the rank values — no per-rank aggregation needed before
    # the per-group map assembly.
    rv = l2c.filter(
        (F.col("_rk") >= F.col("_bstart") + F.col("_cumw") - F.col(cnt_col))
        & (F.col("_rk") <= F.col("_bstart") + F.col("_cumw") - 1)
    ).select(*group_cols, "_rk", F.col(value_col).alias("_rv"), "_n_val")
    out = rv.groupBy(*group_cols).agg(
        F.map_from_entries(F.collect_list(F.struct("_rk", "_rv"))).alias("_rvm"),
        F.max("_n_val").alias("_n_val"),
    )
    out_cols = []
    for i, q in enumerate(qs):
        p = F.lit(q) * (F.col("_n_val") - 1)
        frac = p - F.floor(p)
        vlo = F.element_at(F.col("_rvm"), F.floor(p).cast("long"))
        vhi = F.element_at(F.col("_rvm"), F.ceil(p).cast("long"))
        out_cols.append((vlo + frac * (vhi - vlo)).alias(f"q{i}"))
    return out.select(*group_cols, *out_cols)


def group_quantiles_binned(
    df: DataFrame, group_cols: list, value_col: str, qs: list, bins_per_octave: int = 32
) -> DataFrame:
    """EXACT continuous quantiles per group, NDV-robust: build the value
    distribution (the one full-size, map-side-combinable shuffle) and
    hand it to `distribution_quantiles_binned`. Same answers as
    `group_quantiles_exact`, but the per-group cumulative window is
    replaced by the two-level bucket scheme, so a group whose NDV grows
    with the corpus no longer concentrates into a single task. Nulls are
    dropped first (quantile semantics); returns q0..q{len(qs)-1}."""
    from pyspark.sql import functions as F

    dist = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, value_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return distribution_quantiles_binned(
        dist, group_cols, value_col, "cnt", qs, bins_per_octave=bins_per_octave
    )

