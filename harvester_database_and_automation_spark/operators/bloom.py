"""Bloom-filter semi-join reduction — the classic 100 TB pre-filter.

The reference's app-side membership checks (``HashSet`` anti-joins in
``gisaid/GisaidApiImporter.java:230-239`` and the key-set planning in
``database/R/utility.R:524-530``) assume the key set fits in one process.
At cluster scale the idiomatic replacement is a Bloom filter built from
the small side and broadcast to every scan task of the big side: probe
rows that miss the filter never enter the join/shuffle at all, and the
filter is thousands of times smaller than the key set it summarizes
(m bits for n keys at fp ≈ (1-e^{-kn/m})^k).

Everything here is deterministic pure-SQL expression work (no UDFs, no
driver round-trip): double hashing h_i = (h1 + i*h2) mod m derives k
probe positions from two 60-bit md5 halves — the same split-md5 trick as
``operators/sketches.py`` — so a DuckDB oracle can rebuild the exact same
bitset and certify candidate sets bit-for-bit. Spark's built-in
``bloom_filter_agg``/``might_contain`` pair plays the same role in a
pure-Spark deployment but hashes with xxhash64 internals that no other
engine replays; this formulation trades a few expression ops for
cross-engine verifiability.

Guarantee (certified by the ``bloom_decontamination`` query gate): NO
false negatives — the exact match set is always a subset of the Bloom
candidate set; false positives are bounded by the m/k sizing and only
cost wasted join work, never wrong answers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 4096 bits (64 longs) / 4 hashes ≈ 1.2 KB — sized for the synthetic eval
# set; production sizing is m ≈ -n·ln(p)/ln(2)² bits for n keys at target
# fp rate p, still KBs-to-MBs for millions of keys (broadcast-trivial).
DEFAULT_M_BITS = 4096
DEFAULT_K = 4

_WORD = 32  # bits per bitset word: 32-bit words in BIGINT slots so the
# test-bit shift never reaches bit 63, which DuckDB rejects as signed
# overflow — cross-engine certification constrains the word width


def bloom_position_sql(expr: str, i: int, m_bits: int = DEFAULT_M_BITS) -> str:
    """SQL for the i-th bit position of key expression ``expr``:
    (h1 + i*h2) mod m from the two md5 halves, h2 forced odd so the
    stride never collapses the probes onto one slot. h1,h2 < 2^60, so
    h1 + i*h2 stays under 2^63 only for i ≤ 7 — hash counts above 8
    (k/depth) are rejected up front rather than overflowing under ANSI
    mode; widen the filter/grid (m_bits/width) instead, which is the
    better accuracy lever anyway."""
    if not 0 <= i <= 7:
        raise ValueError("hash index must be in [0, 7] (k/depth <= 8): widen m_bits instead")
    h1 = f"cast(conv(substr(md5({expr}), 1, 15), 16, 10) as bigint)"
    h2 = f"(cast(conv(substr(md5({expr}), 17, 15), 16, 10) as bigint) | cast(1 as bigint))"
    return f"pmod({h1} + cast({i} as bigint) * {h2}, cast({m_bits} as bigint))"


def bloom_positions(expr: str, m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K) -> list[Column]:
    """The k bit-position Columns of key SQL-expression ``expr``."""
    return [F.expr(bloom_position_sql(expr, i, m_bits)) for i in range(k)]


def build_bloom(
    keys: DataFrame, col: str, m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K
) -> DataFrame:
    """Aggregate a key column into a 1-row DataFrame with a dense
    ``bits array<bigint>`` bitset (length m_bits/32).

    Fully distributed: positions explode map-side, dedupe in a partial
    aggregate, OR into ≤ m/64 words, and only the word list (KBs) passes
    through the final 1-row assembly — the key set itself never leaves
    its partitions."""
    if m_bits % _WORD != 0:
        raise ValueError("m_bits must be a multiple of 32")
    # NULL keys are dropped, matching left_semi semantics (a null never
    # joins); without the filter md5(NULL) propagates a null position and
    # the word-map assembly throws NULL_MAP_KEY.
    # No dedup before the OR: bit_or is idempotent, so duplicate positions
    # cost nothing and skipping distinct saves a full shuffle of the
    # position stream — the partial aggregate absorbs repeats map-side.
    pos = keys.filter(F.col(col).isNotNull()).select(
        F.explode(F.array(*bloom_positions(col, m_bits, k))).alias("p")
    )
    words = pos.groupBy(F.shiftright("p", 5).alias("w")).agg(
        F.expr("bit_or(shiftleft(cast(1 as bigint), cast(p % 32 as int)))").alias("bits")
    )
    n_words = m_bits // _WORD
    return (
        words.agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("w").cast("int").alias("k"), F.col("bits")))
            ).alias("wmap")
        )
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda i: F.coalesce(F.element_at("wmap", i), F.lit(0).cast("bigint")),
            ).alias("bits")
        )
    )


def bloom_might_contain(
    bits: Column, expr: str, m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K
) -> Column:
    """Membership predicate against a ``bits`` array column (crossJoin the
    1-row ``build_bloom`` frame onto the probe side — Spark broadcasts it).
    Pure codegen: k AND-ed test-bit terms, no UDF."""
    out: Column | None = None
    for i in range(k):
        p = bloom_position_sql(expr, i, m_bits)
        word = F.element_at(bits, F.expr(f"cast(({p}) div 32 as int)") + F.lit(1))
        mask = F.expr(f"shiftleft(cast(1 as bigint), cast(({p}) % 32 as int))")
        term = word.bitwiseAND(mask) != 0
        out = term if out is None else out & term
    assert out is not None
    return out
