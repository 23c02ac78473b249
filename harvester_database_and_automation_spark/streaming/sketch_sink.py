"""Streaming sketch maintenance: a published Count-Min grid kept current
by micro-batch merges.

The mergeable-summary algebra (cells ADD — gated by
``tests/test_count_min.py``) is what makes frequency monitoring free at
ingest time: each micro-batch sketches ONLY its own rows (a fixed-size
aggregate), and the published grid is prior ⊕ delta — no rescan of the
accumulated corpus, ever. This is the streaming analogue of the
per-segment sketch maintenance the 100 TB sizing table describes, and the
frequency-side sibling of ``stream_upsert_into_published``.

Exactly-once: ``foreachBatch`` replays a batch if the job dies between
the publish and the checkpoint commit, so the merge is made idempotent
the standard way — the (checkpoint id, batch id) that produced a version
is published ATOMICALLY with it (inside the version dir, carried by the
same pointer swap — ``publish_versioned(metadata=...)``), and a replayed
batch id is skipped instead of double-added. A table fed from a
DIFFERENT checkpoint (deleted/relocated checkpoint dir, or a second
stream) is rejected up front: batch ids would restart at 0 and silently
skip-merge, so the caller must either keep the checkpoint or reset the
table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from harvester_database_and_automation_spark.operators.publish import (
    current_version,
    publish_versioned,
    published_metadata,
    read_published,
)
from harvester_database_and_automation_spark.operators.sketches import count_min_cells


def stream_cms_into_published(
    spark: SparkSession,
    src_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    table_dir: str,
    col: str,
    width: int = 1024,
    depth: int = 4,
    fmt: str = "csv",
    reader_options: dict[str, str] | None = None,
) -> None:
    """One ``Trigger.AvailableNow`` poll: sketch every newly arrived file's
    ``col`` values and merge the delta grid into the published table at
    ``table_dir`` (versioned, atomic pointer swap). The file-source
    checkpoint is the processed-file ledger."""
    reader = spark.readStream.format(fmt).schema(schema)
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)
    stream = reader.load(src_dir)

    prior_meta = published_metadata(table_dir)
    if prior_meta and prior_meta.get("checkpoint") != checkpoint_dir:
        raise ValueError(
            f"{table_dir} was built from checkpoint {prior_meta.get('checkpoint')!r}; "
            f"feeding it from {checkpoint_dir!r} would restart batch ids and "
            "corrupt idempotence — reuse the original checkpoint or reset the table"
        )
    # Grid geometry (and the sketched column) must also match: cells are
    # position-addressed, so summing a width-2048 delta into a width-1024
    # grid silently destroys the no-undercount guarantee.
    if prior_meta:
        for key, val in (("width", width), ("depth", depth), ("col", col)):
            stored = prior_meta.get(key)
            if stored is not None and stored != val:
                raise ValueError(
                    f"{table_dir} holds a {key}={stored!r} sketch; merging "
                    f"{key}={val!r} deltas would corrupt the counts"
                )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        meta = published_metadata(table_dir)
        if meta and batch_id <= meta.get("batch_id", -1):
            return  # replay after a publish/checkpoint race — already merged
        # A micro-batch of one small file arrives as ONE input partition,
        # which would serialize the whole sketch map work in a single
        # task (the single-file-scan gotcha). Production batches arrive
        # as many files and skip this; a narrow batch pays one fan-out
        # shuffle of its raw keys to buy full-parallel sketching.
        par = batch_df.sparkSession.sparkContext.defaultParallelism
        if batch_df.rdd.getNumPartitions() < min(4, par):
            batch_df = batch_df.repartition(par)
        delta = count_min_cells(batch_df, col, width, depth)
        if current_version(table_dir) is not None:
            prior = read_published(batch_df.sparkSession, table_dir)
            merged = (
                prior.unionByName(delta)
                .groupBy("j", "pos")
                .agg(F.sum("c").alias("c"))
            )
        else:
            merged = delta
        publish_versioned(
            merged,
            table_dir,
            metadata={
                "batch_id": batch_id,
                "checkpoint": checkpoint_dir,
                "width": width,
                "depth": depth,
                "col": col,
            },
        )

    (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
