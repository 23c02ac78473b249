"""File-arrival spool for the streaming replays.

The reference's importers poll a directory, keep a processed-file ledger in
``automation_state``, and re-run on an interval
(database/python/viollier/database_connector.py:79-118,
database/R/import_bag_meldeformular.R:104-113, poll loops at
database/R/automation/automation_base.R:15-25 and core/Looper.java:12-27).

Structured Streaming's file source IS that contract: the checkpoint
records which files were seen, ``Trigger.AvailableNow`` processes exactly
the backlog and stops, and restarts resume from the ledger.
``spool_batches`` lays down the arriving files, one per micro-batch, that
the replays in ``plans/streaming_replay.py`` stream through that source.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spool_batches(feed_dir: str, batches: Sequence[DataFrame]) -> None:
    """Write each batch DataFrame as ONE json file under ``feed_dir`` with
    ascending mtimes (FileStreamSource processes oldest first), via ONE
    Spark write + rename — no driver-side row collection. Files are
    numbered, and their mtimes set, after the files already in
    ``feed_dir``, so a second call appends the next poll's arrivals.

    Every batch is tagged with its file number and all of them land in
    one write partitioned by that tag, so batches that filter one shared
    frame (e.g. a row_number window over the full events table) share its
    exchange inside the one plan: the upstream shuffle runs once with no
    cache. An empty batch writes no partition and gets an empty file, so
    each batch stays one micro-batch."""
    os.makedirs(feed_dir, exist_ok=True)
    first = len(os.listdir(feed_dir))
    stage = f"{feed_dir}_stage"
    tag = "spool_batch"
    tagged = [df.withColumn(tag, F.lit(i)) for i, df in enumerate(batches, start=first)]
    # repartition(tag), not coalesce: coalesce collapses the whole
    # upstream scan+derivation into the writer tasks (measured 3.6x on
    # the 100x step for the CMS sink); repartition computes upstream at
    # full parallelism and hash-ships each batch's rows to ONE writer
    # task, so each batch is still one file. Row order within the file is
    # immaterial — every replay's state contract is order-independent
    # within a batch.
    reduce(DataFrame.unionByName, tagged).repartition(tag).write.partitionBy(tag).json(stage)
    for i in range(first, first + len(batches)):
        dst = os.path.join(feed_dir, f"batch_{i}.json")
        parts = glob.glob(os.path.join(stage, f"{tag}={i}", "part-*"))
        if parts:
            shutil.move(parts[0], dst)
        else:
            open(dst, "w").close()
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    shutil.rmtree(stage)
