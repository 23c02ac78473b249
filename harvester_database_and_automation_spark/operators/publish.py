"""M4 — atomic publish by versioned directories.

The reference publishes with staging tables renamed over live ones
(database/R/automation/auto_import_gisaid.R:59-67, materialized-view swap
at database/sql/spectrum/sequences_gisaid_api_based.sql:506-521).

Without a transactional table format, the Spark equivalent is: write the
new snapshot to ``<table>/v<n+1>/`` and then atomically repoint a tiny
``_CURRENT`` marker file. Readers resolve the marker first, so they see
either the old or the new version, never a half-written directory. The
marker swap is the commit point, the role the reference's transactional
import gives its COMMIT (database/R/utility.R's dbWithTransaction).

Each version directory also carries ``_schema.json``, the schema a
parquet read of it produces, written before the marker swap. Readers
pass it to ``spark.read.schema``, so resolving a version is a file
listing and never a footer-inference job; Spark skips ``_``-files when
it lists a table.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_MARKER = "_CURRENT"
_SCHEMA = "_schema.json"


def current_version(table_dir: str) -> int | None:
    marker = os.path.join(table_dir, _MARKER)
    if not os.path.exists(marker):
        return None
    with open(marker, encoding="utf-8") as fh:
        return int(fh.read().strip())


def _on_disk_versions(table_dir: str) -> list[int]:
    try:
        return sorted(
            int(d[1:]) for d in os.listdir(table_dir) if d.startswith("v") and d[1:].isdigit()
        )
    except FileNotFoundError:
        return []


def _next_version(table_dir: str) -> int:
    """One past the max of (marker, any v-directory on disk) — a crashed
    earlier attempt leaves an orphan v-dir above the marker, and naively
    reusing marker+1 would collide with it forever (`errorifexists`).
    Orphans are skipped here and reclaimed by ``vacuum(drop_failed=True)``."""
    versions = _on_disk_versions(table_dir)
    return max(current_version(table_dir) or 0, versions[-1] if versions else 0) + 1


def _nullable(t):
    """A ``DataType.jsonValue()`` with every struct field, array element
    and map value nullable."""
    if not isinstance(t, dict):
        return t
    if t["type"] == "struct":
        fields = [{**f, "nullable": True, "type": _nullable(f["type"])} for f in t["fields"]]
        return {**t, "fields": fields}
    if t["type"] == "array":
        return {**t, "containsNull": True, "elementType": _nullable(t["elementType"])}
    if t["type"] == "map":
        return {
            **t,
            "valueContainsNull": True,
            "keyType": _nullable(t["keyType"]),
            "valueType": _nullable(t["valueType"]),
        }
    return t


def parquet_schema(schema: StructType, partition_by: Iterable[str] = ()) -> StructType:
    """The schema a parquet read produces for a frame of ``schema`` written
    partitioned by ``partition_by``: the data columns in order, then the
    partition columns in their written types (not the types path
    inference would guess), everything nullable."""
    pcols = list(partition_by)
    by_name = {f.name: f for f in schema.fields}
    fields = [f for f in schema.fields if f.name not in pcols] + [by_name[c] for c in pcols]
    return StructType.fromJson(_nullable(StructType(fields).jsonValue()))


def _write_schema(df: DataFrame, vdir: str, partition_by: list[str] | None) -> None:
    """Store the schema a parquet read of ``vdir`` produces inside it.
    Called after the write and before the marker swap, so a published
    version always carries its schema."""
    with open(os.path.join(vdir, _SCHEMA), "w", encoding="utf-8") as fh:
        json.dump(parquet_schema(df.schema, partition_by or ()).jsonValue(), fh)


def publish_versioned(
    df: DataFrame,
    table_dir: str,
    partition_by: list[str] | None = None,
    metadata: dict | None = None,
) -> int:
    """Write ``df`` as the next version of ``table_dir`` and repoint the
    marker atomically (os.replace). Returns the new version number.
    Old versions remain for time-travel/rollback until vacuumed.

    A failure before the marker swap leaves the table on its previous
    version with an orphan version directory, which
    ``vacuum(drop_failed=True)`` reclaims."""
    os.makedirs(table_dir, exist_ok=True)
    version = _next_version(table_dir)
    writer = df.write.mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(os.path.join(table_dir, f"v{version}"))
    _write_schema(df, os.path.join(table_dir, f"v{version}"), partition_by)
    if metadata is not None:
        # Written INSIDE the version dir before the marker swap, so the
        # atomic pointer move carries data + metadata together — a crash
        # can never publish one without the other (the streaming sketch
        # sink's batch-id idempotence depends on this).
        with open(
            os.path.join(table_dir, f"v{version}", "_meta.json"), "w", encoding="utf-8"
        ) as fh:
            json.dump(metadata, fh)
    _swap_marker(table_dir, version)
    return version


def published_metadata(table_dir: str) -> dict:
    """The metadata dict published with the CURRENT version; {} when the
    version was published WITHOUT metadata. A present-but-unreadable
    _meta.json raises: consumers (the sketch sink's checkpoint and
    batch-id guards) rely on metadata to prevent double-merges, and
    treating corruption as absence would silently disable exactly those
    guards."""
    version = current_version(table_dir)
    if version is None:
        return {}
    path = os.path.join(table_dir, f"v{version}", "_meta.json")
    try:
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    except FileNotFoundError:
        # no metadata published (or the version was vacuumed between the
        # marker read and here) — absence, not corruption
        return {}
    except (OSError, ValueError) as exc:
        raise ValueError(f"unreadable metadata at {path}: {exc}") from exc


def _swap_marker(table_dir: str, version: int) -> None:
    fd, tmp = tempfile.mkstemp(dir=table_dir, prefix=".marker-")
    with os.fdopen(fd, "w", encoding="utf-8") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(table_dir, _MARKER))


def _leaf_partition_dirs(version_dir: str, depth: int) -> list[str]:
    """Relative paths of the leaf partition directories (``lang=de`` or
    ``a=1/b=2``) under a partitioned parquet version directory."""
    leaves: list[str] = []

    def walk(cur: str, rel: str, levels_left: int) -> None:
        for entry in os.listdir(cur):
            path = os.path.join(cur, entry)
            if os.path.isdir(path) and "=" in entry:
                sub = os.path.join(rel, entry) if rel else entry
                if levels_left == 1:
                    leaves.append(sub)
                else:
                    walk(path, sub, levels_left - 1)

    walk(version_dir, "", depth)
    return leaves


_ESCAPE_CHARS = set("\"#%'*/:=?\\\x7f{[]^")


def _escape_path_value(v) -> str:
    """Partition value → hive-style directory fragment, matching Spark's
    path escaping closely enough for string/int/bool keys (the corpus'
    partition columns). Null maps to the hive default-partition name."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        return "true" if v else "false"
    s = str(v)
    return "".join(
        f"%{ord(ch):02X}" if ch in _ESCAPE_CHARS or ord(ch) < 32 else ch for ch in s
    )


def partition_leaves(keys: Iterable[tuple], partition_by: list[str]) -> list[str]:
    """Leaf directory names (``k=a``, ``k=a/d=2``) for partition-key
    tuples already collected by the caller, in ``partition_by`` order —
    the same hive-style layout the writers produce, so the result can
    feed ``publish_incremental(drop_partitions=...)``."""
    return sorted(
        "/".join(f"{c}={_escape_path_value(v)}" for c, v in zip(partition_by, key)) for key in keys
    )


def publish_incremental(
    df_partial: DataFrame,
    table_dir: str,
    partition_by: list[str],
    drop_partitions: list[str] | None = None,
) -> int:
    """Partition-overwrite publish: ``df_partial`` holds ONLY the rows of
    the partitions being replaced. The next version directory gets those
    partitions written fresh, and every other partition HARD-LINKED from
    the previous version — write (and storage) cost is proportional to the
    churn, not the table, while the atomic marker swap and old-version
    rollback of ``publish_versioned`` are preserved.

    This is the custom work SURVEY.md §4 flags for 100 TB derived tables:
    the reference refreshes its materialized views wholesale per ingest
    (database/sql/spectrum/refreshes.sql:3-36); keyed partition overwrite
    keeps the per-ingest cost at O(changed keys). On an object store the
    hard link becomes a manifest entry pointing at the prior version's
    objects; the version/marker protocol is unchanged.

    ``drop_partitions`` lists relative partition paths (``lang=de``) that
    must NOT carry over — partitions whose keys vanished from the source.
    """
    prev = current_version(table_dir)
    if prev is None:
        return publish_versioned(df_partial, table_dir, partition_by=partition_by)
    version = _next_version(table_dir)
    new_dir = os.path.join(table_dir, f"v{version}")
    df_partial.write.mode("errorifexists").partitionBy(*partition_by).parquet(new_dir)

    skip = set(_leaf_partition_dirs(new_dir, len(partition_by))) | set(drop_partitions or ())
    old_dir = os.path.join(table_dir, f"v{prev}")
    for leaf in _leaf_partition_dirs(old_dir, len(partition_by)):
        if leaf in skip:
            continue
        src = os.path.join(old_dir, leaf)
        dst = os.path.join(new_dir, leaf)
        os.makedirs(dst, exist_ok=True)
        for fname in os.listdir(src):
            spath = os.path.join(src, fname)
            if os.path.isfile(spath) and not fname.startswith(("_", ".")):
                os.link(spath, os.path.join(dst, fname))
    _write_schema(df_partial, new_dir, partition_by)
    _swap_marker(table_dir, version)
    return version


def read_published(spark: SparkSession, table_dir: str) -> DataFrame:
    """Read the current version with the schema stored at publish time, so
    no footer-inference job runs. A version published before versions
    carried a schema is inferred."""
    version = current_version(table_dir)
    if version is None:
        raise FileNotFoundError(f"no published version in {table_dir}")
    vdir = os.path.join(table_dir, f"v{version}")
    try:
        with open(os.path.join(vdir, _SCHEMA), encoding="utf-8") as fh:
            reader = spark.read.schema(StructType.fromJson(json.load(fh)))
    except FileNotFoundError:
        reader = spark.read
    return reader.parquet(vdir)


def vacuum(table_dir: str, keep: int = 2, drop_failed: bool = False) -> list[int]:
    """Delete all but the newest ``keep`` published versions (never the
    current one). With ``drop_failed`` also remove v-directories NEWER
    than the current marker — the debris of crashed publish attempts
    (safe under the protocol's single-writer assumption; leave False if
    another writer may be mid-publish). Returns the versions removed."""
    import shutil

    cur = current_version(table_dir)
    versions = _on_disk_versions(table_dir)
    # No marker => NOTHING is published: every directory is a potential
    # in-flight first write and must be protected by the default.
    published = [] if cur is None else [v for v in versions if v <= cur]
    orphans = versions if cur is None else [v for v in versions if v > cur]
    to_drop = [v for v in published[:-keep] if v != cur] if keep else [v for v in published if v != cur]
    if drop_failed:
        to_drop += orphans
    for v in to_drop:
        shutil.rmtree(os.path.join(table_dir, f"v{v}"))
    return to_drop


def rollback(table_dir: str) -> int:
    """Repoint the marker at the previous version (one marker write —
    the whole point of the versioned-directory protocol). Raises if no
    earlier version exists on disk."""
    cur = current_version(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no published version in {table_dir}")
    older = [v for v in _on_disk_versions(table_dir) if v < cur]
    if not older:
        raise ValueError(f"version {cur} has no predecessor to roll back to")
    _swap_marker(table_dir, older[-1])
    return older[-1]
