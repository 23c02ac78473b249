"""Structured Streaming skin over the reference's polling microservices
(SURVEY.md §2.11)."""

from harvester_database_and_automation_spark.streaming.changefeed import (
    streaming_change_router,
)
from harvester_database_and_automation_spark.streaming.dedup import dedup_within_watermark
from harvester_database_and_automation_spark.streaming.ingest import spool_batches
from harvester_database_and_automation_spark.streaming.sketch_sink import (
    stream_cms_into_published,
)
from harvester_database_and_automation_spark.streaming.stateful import running_dedup_counts
from harvester_database_and_automation_spark.streaming.upsert_sink import (
    stream_upsert_into_published,
)
from harvester_database_and_automation_spark.streaming.windows import (
    session_windowed_counts,
    windowed_event_counts,
)

__all__ = [
    "streaming_change_router",
    "spool_batches",
    "session_windowed_counts",
    "windowed_event_counts",
    "running_dedup_counts",
    "dedup_within_watermark",
    "stream_upsert_into_published",
    "stream_cms_into_published",
]
