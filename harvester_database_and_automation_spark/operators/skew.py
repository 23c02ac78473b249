"""Skew mitigation: salted joins and two-phase aggregation.

The reference never needed these — Postgres on one node has no shuffle —
but at the 100 TB design point a handful of hot keys (a dominant lineage
in the mutation tables, one country holding half the sequences) turn a
shuffle join or groupBy into a single straggler task. AQE's skew-join
splitting covers sort-merge joins when statistics surface the skew; these
helpers are the explicit, deterministic fallback for the cases AQE cannot
rewrite (e.g. the build side must be replicated, or the skew appears in an
aggregation rather than a join).

Semantics contract: each helper provably returns the same rows as its
naive counterpart — tests assert equality against the unsalted plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    *,
    how: str = "inner",
    num_salts: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Equi-join where ``skewed``'s join keys are hot.

    Each skewed row gets a random salt in [0, num_salts); ``other`` is
    replicated once per salt value (explode of a literal range — a
    num_salts× blowup of the SMALL side only). The join key becomes
    (keys..., salt), so a hot key's rows spread across ``num_salts``
    shuffle partitions instead of one straggler.

    ``how`` may be 'inner' or 'left' (left = keep unmatched skewed rows;
    replicating the other side never duplicates matches because each
    skewed row carries exactly one salt value).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    if SALT_COL in skewed.columns or SALT_COL in other.columns:
        raise ValueError(f"{SALT_COL} column already present")
    salted = skewed.withColumn(SALT_COL, (F.rand(seed) * num_salts).cast("int"))
    replicated = other.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    )
    return salted.join(replicated, [*on, SALT_COL], how).drop(SALT_COL)


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    partial: dict[str, Column],
    final: dict[str, Column],
    *,
    num_salts: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Two-phase groupBy for algebraic aggregates on skewed keys.

    Phase 1 groups by (keys..., salt) — hot keys split across tasks;
    phase 2 re-aggregates the ≤ num_salts partial rows per key. ``partial``
    maps intermediate column names to phase-1 expressions over ``df``'s
    columns; ``final`` maps output names to phase-2 expressions over the
    intermediate names, e.g.::

        partial={"s": F.sum("x"), "c": F.count(F.lit(1))},
        final={"total": F.sum("s"), "n": F.sum("c")}

    Spark's own hash aggregate already does map-side partial aggregation,
    so this helper matters when the *reduce* side is the bottleneck —
    non-trivially-combinable states (collect_list/set on hot keys) or when
    the per-key state is large enough that one reducer spills.
    """
    if SALT_COL in df.columns:
        raise ValueError(f"{SALT_COL} column already present")
    phase1 = (
        df.withColumn(SALT_COL, (F.rand(seed) * num_salts).cast("int"))
        .groupBy(*keys, SALT_COL)
        .agg(*[expr.alias(name) for name, expr in partial.items()])
    )
    return phase1.groupBy(*keys).agg(
        *[expr.alias(name) for name, expr in final.items()]
    )


# ---------------------------------------------------------------------------
# Self-join pair salting: a banded candidate join is a SELF-join on a
# bucket key, and a hot bucket's quadratic pair product lands in one task
# no matter how AQE splits the input rows. The triangular block
# decomposition below spreads one key's pair work across
# n_salt_k*(n_salt_k+1)/2 independent join groups, with n_salt_k derived
# PER KEY from its frequency; results are salt-invariant (each unordered
# pair appears exactly once), so oracles state the plain a.id < b.id
# self-join.
# ---------------------------------------------------------------------------
def salted_self_pairs(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    hot_threshold: int = 1000,
    max_salt: int = 64,
) -> DataFrame:
    """Enumerate all unordered within-key row pairs of ``df`` exactly
    once, decomposing hot keys into per-key salt groups so no join task
    ever works a hot key's full pair product. Returns one row per pair
    with the left row's columns suffixed ``_a`` and the right row's
    ``_b`` (key columns unsuffixed), ordered so that ``id_a < id_b``.

    The salt count ADAPTS to each key's frequency:
    ``n_salt_k = min(max_salt, ceil(kn / hot_threshold))``, so a key's
    expected block size stays <= ``hot_threshold`` and the per-task pair
    product stays ~``hot_threshold**2`` NO MATTER how hot the key grows
    (a fixed salt count would leave tasks quadratic in the hot key's
    size: ceil(kn/8)**2 grows with kn). The bound is expected-case up to
    hash-uniformity slack — rows land in blocks by ``xxhash64(id) %
    n_salt_k``, which Chernoff-concentrates block sizes tightly around
    kn/n_salt_k for the thousands-of-rows keys the operator targets —
    and degrades gracefully to ceil(kn/max_salt)**2 once a key exceeds
    ``hot_threshold * max_salt`` rows (raise ``max_salt`` for hotter
    profiles; the cap bounds the replication factor, which averages
    (n_salt_k+1)/2 per side).

    The hot-key set is a key-frequency aggregate — bounded by the number
    of HOT keys, which is small by definition — and broadcasts."""
    if max_salt < 2:
        raise ValueError("max_salt must be >= 2")
    if hot_threshold < 1:
        raise ValueError("hot_threshold must be >= 1")
    payload = [c for c in df.columns if c not in key_cols]
    if id_col not in payload:
        raise ValueError(f"id_col {id_col!r} must be a non-key column of df")
    freq = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_kn"))
    hot = freq.filter(F.col("_kn") > hot_threshold).select(
        *key_cols,
        F.least(
            F.lit(max_salt), F.ceil(F.col("_kn") / F.lit(hot_threshold))
        ).cast("int").alias("_ns"),
    )
    d = (
        df.join(F.broadcast(hot), key_cols, "left")
        .withColumn("_ns", F.coalesce(F.col("_ns"), F.lit(1)))
        .withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.col("_ns")).cast("int"))
    )
    a = d.select(
        *key_cols,
        *[F.col(c).alias(f"{c}_a") for c in payload],
        F.col("_salt").alias("_bi"),
        F.explode(F.sequence(F.col("_salt"), F.col("_ns") - 1)).alias("_bj"),
    )
    b = d.select(
        *key_cols,
        *[F.col(c).alias(f"{c}_b") for c in payload],
        F.explode(F.sequence(F.lit(0), F.col("_salt"))).alias("_bi"),
        F.col("_salt").alias("_bj"),
    )
    ia, ib = F.col(f"{id_col}_a"), F.col(f"{id_col}_b")
    pairs = a.join(b, [*key_cols, "_bi", "_bj"]).filter(
        (F.col("_bi") < F.col("_bj")) | (ia < ib)
    )
    # Canonicalize cross-block pairs (salt order is not id order).
    out_cols = [*key_cols]
    for c in payload:
        out_cols.append(
            F.when(ia < ib, F.col(f"{c}_a")).otherwise(F.col(f"{c}_b")).alias(f"{c}_a")
        )
        out_cols.append(
            F.when(ia < ib, F.col(f"{c}_b")).otherwise(F.col(f"{c}_a")).alias(f"{c}_b")
        )
    return pairs.select(*out_cols)
