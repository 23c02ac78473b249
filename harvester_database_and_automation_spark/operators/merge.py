"""M1/M2/M3 — upsert, change classification, tombstone deletes.

The reference upserts via staging tables + two SQL statements
(database/R/utility.R:574-644), classifies incoming GISAID rows into
unchanged / metadata-changed / sequence-changed by field-wise comparison
(gisaid/BatchProcessingWorker.java:214-297), and deletes ids that
disappeared from the feed (gisaid/GisaidApiImporter.java:374-381).

Spark-first: content hashing with xxhash64 over column structs replaces
field-by-field comparison (one pass, no row-wise Java), the upsert is an
anti-join of the touched keys plus a union (the MERGE equivalent without a
transactional table format), deletes are an anti-join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CHANGE_COL = "change_type"

BROADCAST_MAX_ROWS = 1_000_000
BROADCAST_MAX_BYTES = 64 * 1024 * 1024


def key_bytes(cols: Sequence[str]) -> Column:
    """Per-row width estimate of ``cols``: each value's string octet
    length (NULL counts as 0) plus 16 B of UnsafeRow field and offset
    overhead per column. Summed over a delta, it feeds :func:`fits_broadcast`."""
    return sum(
        (F.coalesce(F.octet_length(F.col(c).cast("string")), F.lit(0)) + F.lit(16)) for c in cols
    )


def fits_broadcast(n_rows: int, n_bytes: int) -> bool:
    """The plan-time broadcast rule for a MEASURED delta (merge_delta's
    ``broadcast_touched``): rows AND estimated bytes (:func:`key_bytes`)
    within bounds. ``F.broadcast`` bypasses autoBroadcastJoinThreshold and
    AQE's size check, so a row cap alone would broadcast hundreds of MB of
    wide composite keys on exactly the large-delta days it exists for."""
    return n_rows <= BROADCAST_MAX_ROWS and n_bytes <= BROADCAST_MAX_BYTES


def merge_delta(
    current: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    delete_keys: DataFrame | None = None,
    broadcast_touched: bool = False,
) -> DataFrame:
    """M1 at 100 TB — upsert ``updates`` and drop ``delete_keys`` WITHOUT
    shuffling ``current``.

    A full-outer upsert join cannot broadcast (Spark has no broadcast
    full-outer), so it shuffles BOTH sides on the key — for a
    daily feed against a 100 TB published table that moves every stored
    payload through an exchange every cycle, which is exactly the shuffle
    the reference's risk register forbids (SURVEY §7: never shuffle
    genome payloads with metadata). When update keys are UNIQUE (one row
    per key — every feed after upstream dedup), the same result is one
    anti-join plus a union:

        kept   = current ANTI JOIN (update_keys ∪ delete_keys)
        result = kept ∪ updates

    The touched-key frame is delta-sized, so the anti-join broadcasts it
    and ``current`` streams map-side — zero exchanges of stored rows; the
    bulk-load first run (everything is an update) degrades to one sorted
    shuffle, same as the full-outer join, never worse.

    ``broadcast_touched``: AQE decides broadcast-vs-shuffle from runtime
    shuffle statistics — which means the BIG side's map stage has already
    written its (payload-carrying) shuffle output by the time the plan
    flips to broadcast (measured: the wide-row audit's cycle-2 shuffle
    tracked payload width through exactly this stage). Callers that KNOW
    the delta cardinality (run_feed_import collects it for the report
    anyway) pass True to hint the broadcast at plan time, and the stored
    rows never touch shuffle storage at all. Never pass True on an
    unmeasured, potentially corpus-linear delta (SURVEY §2.12: hints are
    for provably bounded frames).

    Matched rows take every column from ``updates``; unmatched current
    rows survive verbatim; unmatched update rows insert; ``delete_keys``
    rows vanish (tombstones, M3). **Deletes win over updates**: a key
    present in BOTH ``updates`` and ``delete_keys`` is removed, matching
    an upsert followed by :func:`apply_deletes` (deletes run last there,
    so they win; the updates side is anti-joined against the tombstones
    to preserve that precedence). Duplicate update keys would silently
    double rows here (a full-outer upsert multiplies them just as
    silently) — callers own key uniqueness.
    """
    if set(current.columns) != set(updates.columns):
        raise ValueError(
            f"schema mismatch: current={sorted(current.columns)} updates={sorted(updates.columns)}"
        )
    touched = updates.select(*keys)
    if delete_keys is not None:
        tombs = delete_keys.select(*keys).distinct()
        touched = touched.unionByName(tombs)
        # Delete precedence: without this anti-join, a key in both sets
        # would be dropped from `current` but re-inserted by the union —
        # the update would silently win, the opposite of the classic
        # upsert-then-apply_deletes ordering. The tombstone frame is the
        # same delta-sized set the anti-join below broadcasts.
        updates = updates.join(
            F.broadcast(tombs) if broadcast_touched else tombs,
            on=list(keys), how="left_anti",
        )
    touched = touched.distinct()
    if broadcast_touched:
        touched = F.broadcast(touched)
    kept = current.join(touched, on=list(keys), how="left_anti")
    return kept.unionByName(updates.select(*current.columns))


def content_hash(cols: Sequence[str]) -> Column:
    """xxhash64 over ``cols`` with an explicit null flag per column
    instead of a sentinel string: a real value equal to any sentinel would
    collide with NULL, and xxhash64 hashes the flag and the value as
    separate inputs so (NULL) and ('\\0') hash differently. Values are
    only meaningful compared within one plan."""
    parts: list = []
    for c in cols:
        parts.append(F.isnull(c).cast("int"))
        parts.append(F.col(c).cast("string"))
    return F.xxhash64(*parts)


def classify_changes(
    current: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str],
    metadata_cols: Sequence[str],
    payload_cols: Sequence[str],
) -> DataFrame:
    """M2 — route incoming rows by what changed against current.

    Returns the incoming rows' ``keys + metadata_cols`` (current keys
    absent from the feed appended as deletes) with a ``change_type``
    column:

    - ``insert``: key not present in current
    - ``unchanged``: metadata hash and payload hash both equal
    - ``metadata_changed``: only the metadata hash differs (cheap update)
    - ``payload_changed``: payload hash differs (full reprocess — the
      reference re-runs alignment/nextclade only for these)
    - ``delete``: key present in current but absent from incoming

    Hashing the two column groups separately is what lets a 100TB feed
    skip reprocessing: the 30KB genome string hashes once per side and
    never needs a field-wise diff.

    The payload columns are dropped from the incoming side BEFORE the
    classification join (they are hashed map-side and only the hash
    travels), so the classification exchange moves ~tens of bytes per
    row regardless of payload width; the caller re-attaches payloads to
    the (delta-sized) rows that need processing with a semi-join the
    optimizer can run map-side. This is the 100 TB wide-row shape —
    WIDE_ROW_BYTES.json measures it.
    """
    meta_hash = content_hash(metadata_cols)
    pay_hash = content_hash(payload_cols)

    cur = current.select(
        *keys, meta_hash.alias("_cur_meta"), pay_hash.alias("_cur_pay")
    )
    inc = incoming.select(
        *keys, *metadata_cols, meta_hash.alias("_inc_meta"), pay_hash.alias("_inc_pay")
    )

    joined = inc.join(cur, on=list(keys), how="left")
    change = (
        F.when(F.col("_cur_meta").isNull(), "insert")
        .when(F.col("_inc_pay") != F.col("_cur_pay"), "payload_changed")
        .when(F.col("_inc_meta") != F.col("_cur_meta"), "metadata_changed")
        .otherwise("unchanged")
    )
    classified = joined.withColumn(CHANGE_COL, change).drop(
        "_cur_meta", "_cur_pay", "_inc_meta", "_inc_pay"
    )
    deletes = (
        current.join(incoming.select(*keys), on=list(keys), how="left_anti")
        .select(*keys)
        .withColumn(CHANGE_COL, F.lit("delete"))
    )
    return classified.unionByName(deletes, allowMissingColumns=True)


def update_from(
    current: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    set_cols: Sequence[str],
) -> DataFrame:
    """M5 — SQL ``UPDATE current SET col = source.col FROM source WHERE
    keys match`` (the reference flips flags from an inline VALUES frame,
    database/sql/viollier_test.sql:98-112).

    Unlike :func:`merge_delta`: unmatched SOURCE rows are dropped (an
    UPDATE never inserts), unmatched current rows are untouched, and only
    ``set_cols`` change — every other column survives verbatim. Source
    keys must be unique (SQL UPDATE..FROM semantics are undefined on
    duplicate matches; we enforce instead of silently duplicating rows).

    Scale shape: the updates frame is typically tiny (an inline VALUES
    list / a day's worth of corrections), so the join broadcasts and the
    big table never shuffles.
    """
    missing = [c for c in set_cols if c not in source.columns]
    if missing:
        raise ValueError(f"set_cols absent from source: {missing}")
    dups = source.groupBy(*keys).count().filter(F.col("count") > 1)
    if dups.take(1):
        raise ValueError(f"update_from source has duplicate keys: {dups.take(3)}")
    src = source.select(*keys, *set_cols).withColumn("_upd", F.lit(True)).alias("upd")
    cur = current.alias("cur")
    joined = cur.join(F.broadcast(src), on=list(keys), how="left")
    take_upd = F.col("upd._upd").isNotNull()
    return joined.select(
        *[F.col(k) for k in keys],
        *[
            F.when(take_upd, F.col(f"upd.{c}")).otherwise(F.col(f"cur.{c}")).alias(c)
            if c in set_cols
            else F.col(f"cur.{c}").alias(c)
            for c in current.columns
            if c not in keys
        ],
    )


def apply_deletes(current: DataFrame, tombstones: DataFrame, keys: Sequence[str]) -> DataFrame:
    """M3 — drop rows whose keys appear in ``tombstones`` (anti-join)."""
    return current.join(tombstones.select(*keys).distinct(), on=list(keys), how="left_anti")


def erase_columns(current: DataFrame, cols: Sequence[str], condition) -> DataFrame:
    """M3b — column-level erasure for data retention (the reference nulls
    selected BAG columns, database/sql/'2022-03-31 Delete some BAG
    data.sql'): null ``cols`` where ``condition`` holds, keep other rows
    untouched."""
    return current.select(
        *[
            F.when(condition, F.lit(None)).otherwise(F.col(c)).alias(c)
            if c in cols
            else F.col(c)
            for c in current.columns
        ]
    )
