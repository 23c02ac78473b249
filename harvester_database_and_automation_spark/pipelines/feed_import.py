"""The feed-import DAG — the Spark re-design of the reference's largest
pipeline (GISAID API daily import, SURVEY.md §3.1; gisaid/
GisaidApiImporter.java:44-60 and BatchProcessingWorker.java:80-205).

One declarative DAG replaces the worker/queue machinery:

1. schema-drift check on the feed head (abort when required fields vanish)
2. schema-on-read with corrupt-line quarantine
3. row validation -> clean / quarantined
4. change classification vs the current published table (content hashes)
5. expensive annotation ONLY for inserted/payload-changed rows — the
   skip-reprocessing contract that makes daily 100TB feeds tractable
6. delta merge (anti-join + union — stored payloads never shuffle) +
   tombstone deletes
7. atomic versioned publish + run report
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from harvester_database_and_automation_spark.operators.external import (
    TOOL_ERROR_COL,
    TOOL_INPUT_NAME_COL,
)
from harvester_database_and_automation_spark.operators.merge import (
    CHANGE_COL,
    classify_changes,
    fits_broadcast,
    key_bytes,
    merge_delta,
)
from harvester_database_and_automation_spark.operators.publish import (
    current_version,
    publish_versioned,
    read_published,
)
from harvester_database_and_automation_spark.sources.jsonl import (
    CORRUPT_COL,
    check_field_drift,
    read_jsonl,
)
from harvester_database_and_automation_spark.sources.quarantine import FAILED_COL, validate


@dataclass
class FeedImportReport:
    version: int
    n_corrupt: int
    n_quarantined: int
    n_insert: int
    n_metadata_changed: int
    n_payload_changed: int
    n_unchanged: int
    n_delete: int
    n_annotated: int
    # Rows whose external-tool annotation batch failed (S8 quarantine
    # mode, operators/external.py) — kept out of the publish; the stored
    # version survives for payload-changed rows, the reference retries
    # them next run.
    n_tool_failed: int = 0

    @property
    def ok(self) -> bool:
        """The reference fails the run when >=5% of rows failed —
        quarantined, corrupt, or tool-failed batches all count
        (GisaidApiImporter.java:389-410, gate at :392-393)."""
        total = (
            self.n_insert
            + self.n_metadata_changed
            + self.n_payload_changed
            + self.n_unchanged
            + self.n_quarantined
            + self.n_corrupt
        )
        bad = self.n_quarantined + self.n_corrupt + self.n_tool_failed
        return total == 0 or bad / total < 0.05


def run_feed_import(
    spark: SparkSession,
    feed_path: str,
    table_dir: str,
    schema: T.StructType,
    keys: list[str],
    metadata_cols: list[str],
    payload_cols: list[str],
    checks: dict[str, Column],
    annotate: Callable[[DataFrame], DataFrame] | None = None,
    required_fields: set[str] | None = None,
) -> FeedImportReport:
    """Run one import cycle of ``feed_path`` into ``table_dir``.

    ``annotate`` (if given) maps a DataFrame of to-be-processed rows to the
    same schema plus derived columns already present in ``schema`` — it is
    invoked ONLY on insert/payload_changed rows; unchanged and
    metadata-changed rows keep their stored annotation untouched.

    Broadcast gating is on MEASURED rows AND estimated bytes
    (``operators.merge.fits_broadcast``, round-9 ADVICE), both summed in
    the classification rollup that feeds the run report — no extra action.
    Every Spark action runs in program order on the caller's thread, and
    every cache the cycle fills is released in one ``finally``, error
    paths included.
    """
    if required_fields:
        drift = check_field_drift(spark, feed_path, required=required_fields)
        if not drift.ok:
            raise ValueError(f"feed schema drift: missing required {sorted(drift.missing_required)}")

    scan = read_jsonl(spark, feed_path, schema)
    classified = annotated = None
    try:
        # An unparseable line is a row failing the "parse" check, so one
        # aggregation over the quarantine counts both kinds of bad row.
        clean, quarantined = validate(
            scan.parsed, {"parse": F.col(CORRUPT_COL).isNull(), **checks}
        )
        clean = clean.drop(CORRUPT_COL)
        unparsed = F.array_contains(FAILED_COL, "parse")
        n_corrupt, n_quarantined = quarantined.agg(
            F.count(F.when(unparsed, 1)), F.count(F.when(~unparsed, 1))
        ).first()

        first_run = current_version(table_dir) is None
        if first_run:
            current = spark.createDataFrame([], schema)
        else:
            current = read_published(spark, table_dir).select(*[f.name for f in schema.fields])

        # PAYLOAD-SKINNY classification (the wide-row discipline, SURVEY §7
        # risk register): the 30KB payload is hashed map-side and only the
        # hash enters the classification exchange — the join that decides
        # every row's fate moves ~tens of bytes per row however wide the
        # genome column is (measured: WIDE_ROW_BYTES.json).
        classified = classify_changes(current, clean, keys, metadata_cols, payload_cols).cache()
        rollup = (
            classified.groupBy(CHANGE_COL)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(key_bytes(keys)).alias("key_bytes"),
                F.sum(key_bytes([*keys, *metadata_cols])).alias("row_bytes"),
            )
            .collect()
        )
        by_type = {r[CHANGE_COL]: r["n"] for r in rollup}
        key_size = {r[CHANGE_COL]: r["key_bytes"] or 0 for r in rollup}
        row_size = {r[CHANGE_COL]: r["row_bytes"] or 0 for r in rollup}

        # Re-attach payloads ONLY to the delta that needs processing. The
        # delta cardinality is ALREADY MEASURED (by_type above feeds the run
        # report), so when it is bounded the key set is broadcast-HINTED at
        # plan time: AQE's own broadcast decision comes from runtime shuffle
        # stats, i.e. after the payload side's map stage has already written
        # its shuffle output — the hint is what keeps 30 KB payload rows off
        # shuffle storage entirely (WIDE_ROW_BYTES.json measures both).
        # First run: everything is an insert — no join needed at all.
        n_process = by_type.get("insert", 0) + by_type.get("payload_changed", 0)
        n_meta = by_type.get("metadata_changed", 0)
        n_delete = by_type.get("delete", 0)

        process_key_bytes = key_size.get("insert", 0) + key_size.get("payload_changed", 0)
        if first_run:
            to_process = clean
        else:
            process_keys = classified.filter(
                F.col(CHANGE_COL).isin("insert", "payload_changed")
            ).select(*keys)
            if fits_broadcast(n_process, process_key_bytes):
                process_keys = F.broadcast(process_keys)
            to_process = clean.join(process_keys, on=list(keys), how="left_semi")
        failed = F.lit(False)
        if annotate is not None:
            # Cached because operators.merge.merge_delta reads `updates` twice
            # (its touched-key set, then the union): with a join-shaped
            # annotate such as run_fasta_tool's, the uncached publish plan
            # runs the external tool twice. (Keep the handle: unpersisting a
            # FILTERED child later would be a CacheManager no-op and leak.)
            annotated = annotate(to_process).cache()
            to_process = annotated
            # S8 quarantine contract (operators/external.py): an annotate
            # stage built on run_fasta_tool(on_error="quarantine") marks rows
            # whose tool batch failed with a non-null _tool_error column.
            # Failed rows stay OUT of the publish — a failed payload-change
            # keeps its stored version (its key never enters the merge's
            # touched set), a failed insert simply waits for the next run —
            # and they count against the reference's <5% abort gate
            # (FeedImportReport.ok).
            if TOOL_ERROR_COL in annotated.columns:
                failed = F.col(TOOL_ERROR_COL).isNotNull()
        n_annotated, n_tool_failed = to_process.agg(
            F.count(F.when(~failed, 1)), F.count(F.when(failed, 1))
        ).first()
        if TOOL_ERROR_COL in to_process.columns:
            to_process = to_process.filter(~failed).drop(TOOL_ERROR_COL, TOOL_INPUT_NAME_COL)

        # Metadata-only changes take metadata from the feed but KEEP the stored
        # payload-derived columns (the feed carries them as nulls; recomputing
        # them is exactly what this route exists to avoid). The skinny
        # classified frame carries the feed metadata already; stored payloads
        # join map-side against the delta-sized metadata_changed set.
        kept_cols = [c for c in current.columns if c not in keys and c not in metadata_cols]
        meta_side = classified.filter(F.col(CHANGE_COL) == "metadata_changed").select(
            *keys, *metadata_cols
        )
        if fits_broadcast(n_meta, row_size.get("metadata_changed", 0)):
            meta_side = F.broadcast(meta_side)
        meta_updates = meta_side.join(current.select(*keys, *kept_cols), list(keys)).select(
            *current.columns
        )
        updates = to_process.unionByName(meta_updates)
        deletes = classified.filter(F.col(CHANGE_COL) == "delete").select(*keys)

        # Delta merge instead of full-outer upsert: stored payloads are never
        # exchanged — `current` anti-joins the touched-key set map-side
        # (plan-time broadcast when the measured delta is bounded) and the
        # delta unions on (operators/merge.merge_delta).
        touched_key_bytes = (
            process_key_bytes + key_size.get("metadata_changed", 0) + key_size.get("delete", 0)
        )
        final = merge_delta(
            current, updates, keys, delete_keys=deletes,
            broadcast_touched=fits_broadcast(n_process + n_meta + n_delete, touched_key_bytes),
        )
        version = publish_versioned(final, table_dir)
    finally:
        for frame in (classified, annotated):
            if frame is not None:
                frame.unpersist()
        scan.release()  # drops the cached PARENT parse frame (unpersisting
        # the filtered `good` view would be a CacheManager no-op and leak
        # one full-feed cache per import cycle)

    return FeedImportReport(
        version=version,
        n_corrupt=n_corrupt,
        n_quarantined=n_quarantined,
        n_insert=by_type.get("insert", 0),
        n_metadata_changed=by_type.get("metadata_changed", 0),
        n_payload_changed=by_type.get("payload_changed", 0),
        n_unchanged=by_type.get("unchanged", 0),
        n_delete=by_type.get("delete", 0),
        n_annotated=n_annotated,
        n_tool_failed=n_tool_failed,
    )
