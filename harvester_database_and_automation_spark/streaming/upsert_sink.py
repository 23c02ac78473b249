"""Streaming upsert sink: micro-batches merged into a published table.

The reference's importers are poll loops that upsert each newly arrived
file into the warehouse (staging-table upsert at database/R/utility.R:
574-644 driven from the poll loops of automation_base.R:15-25). The
Structured Streaming shape for that contract is ``foreachBatch``: the file
source provides the processed-file ledger (checkpoint), and every
micro-batch runs the SAME batch delta merge used everywhere else, then
republishes atomically — so streaming and batch ingest share one write
path, one conflict rule (last-write-wins per key within a batch is the
caller's dedup), and one publish protocol.

Works under ``Trigger.AvailableNow`` (one poll iteration, like the
reference's cron cadence) or a continuous trigger unchanged.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from harvester_database_and_automation_spark.operators.merge import (
    fits_broadcast,
    key_bytes,
    merge_delta,
)
from harvester_database_and_automation_spark.operators.publish import (
    current_version,
    publish_versioned,
    read_published,
)


def stream_upsert_into_published(
    spark: SparkSession,
    src_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    table_dir: str,
    keys: Sequence[str],
    fmt: str = "csv",
    reader_options: dict[str, str] | None = None,
) -> None:
    """One poll iteration: merge every unseen file under ``src_dir`` into
    the published table at ``table_dir`` (insert new keys, overwrite
    matched ones), as one atomic new version per micro-batch.

    The merge's anti-join is broadcast-HINTED at plan time from the
    micro-batch's MEASURED row count and key bytes (the batch is persisted
    for the duration, so the count costs one cached scan): AQE's own
    broadcast flip comes only after the published side's map stage has
    already written its shuffle output (operators/merge.py doctrine). An
    availableNow first poll over a bulk backlog can exceed the bound — the
    gate leaves that batch to AQE instead of force-broadcasting it."""
    reader = spark.readStream.format(fmt).schema(schema)
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)
    stream = reader.load(src_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if current_version(table_dir) is None:
            merged = batch_df
        else:
            # merge_delta: the published table anti-joins the measured,
            # plan-time-broadcast key set map-side — no full-outer
            # exchange of the accumulated table per batch.
            batch_df.persist()
            stats = batch_df.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(key_bytes(keys)), F.lit(0)).alias("key_bytes"),
            ).collect()[0]
            hint = fits_broadcast(stats["n"], stats["key_bytes"])
            merged = merge_delta(
                read_published(spark, table_dir), batch_df, keys, broadcast_touched=hint
            )
        try:
            publish_versioned(merged, table_dir)
        finally:
            batch_df.unpersist()

    (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
