"""Streaming deduplication with bounded state.

The batch engine dedupes with hash-groupBy / argmin windows
(plans/text.py); the streaming face of the same
requirement is ``dropDuplicatesWithinWatermark``: duplicates arriving
within the watermark horizon are suppressed, and state for keys older
than the horizon is evicted — so state size tracks the duplicate-arrival
window, not the stream's lifetime. This is the continuous version of the
reference's keep-first file-reimport semantics
(import_bag_meldeformular.R:207-212 keeps last per re-read file; a stream
keeps first per horizon — both are "one row per key per load").
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def dedup_within_watermark(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep the first row per key within the watermark horizon.

    On a streaming DataFrame this uses watermark-bounded state; on a batch
    DataFrame it degrades to plain dropDuplicates on the keys (same
    output contract for a single load, which keeps it oracle-testable).
    """
    if df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(keys))
    return df.dropDuplicates(list(keys))
